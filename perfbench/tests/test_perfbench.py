"""Tests of the benchmark's own parts: the seeded generator, the replay
oracle against the package, and the failed-op accounting."""

from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import gen, workloads
from perfbench.run import Stats, mix_p50_ms, run_op
from perfbench.trace import Tracer

# 120 rows per (day, tenant) from 400 items: ~90 distinct against 40
# counters, so every group's prune fires.
SMALL = gen.Spec(rows=1_200, days=5, tenants=2, universe=400, zipf_s=1.0, counters=40)
SMALL_T2 = gen.Spec(rows=3_000, days=1, tenants=3, universe=5_000, zipf_s=0.7, counters=10)


def fake_ctx(tmp_path, seed=3):
    return SimpleNamespace(spark=None, tracer=Tracer(False), work=str(tmp_path), seed=seed)


@pytest.mark.parametrize("spec", [SMALL, SMALL_T2])
def test_generator_is_deterministic_per_seed(spec):
    a, b, c = gen.generate(spec, 7), gen.generate(spec, 7), gen.generate(spec, 8)
    for field in ("day", "tenant", "item", "names"):
        assert np.array_equal(getattr(a, field), getattr(b, field))
    assert not np.array_equal(a.names[a.item], c.names[c.item])
    assert len(a.item) == spec.rows
    assert set(a.tenant.tolist()) == set(range(spec.tenants))


def test_prune_fires_in_every_group():
    replay = gen.Replay(gen.generate(SMALL, 1))
    assert len(replay.exact) == SMALL.days * SMALL.tenants
    assert all(len(c) > SMALL.counters for c in replay.exact.values())


def test_replay_agrees_with_package(spark, tmp_path):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from postgresql_topn_spark.functions.aggregates import (
        topn_add_agg,
        topn_union_agg,
        topn_union_agg_global,
        topn_union_over_window,
    )
    from postgresql_topn_spark.functions.sketch import explode_topn

    data = gen.generate(SMALL, 5)
    data.write_parquet(str(tmp_path / "raw"))
    replay = gen.Replay(data)
    c = SMALL.counters
    raw = spark.read.parquet(str(tmp_path / "raw"))
    sk = topn_add_agg(raw, ["day", "tenant"], "item", counters=c).cache()

    got = {(r["day"], r["tenant"]): dict(r["topn"]) for r in sk.collect()}
    assert got == replay.pruned

    def rows(df):
        return [(r["item"], r["frequency"]) for r in df.collect()]

    sel = sk.where((F.col("tenant") == 1) & F.col("day").between(1, 3))
    u = topn_union_agg(sel, ["tenant"], "topn", counters=c)
    assert rows(explode_topn(u, "topn", 10, counters=c)) == replay.topk([1], 1, 3, 10)

    g = topn_union_agg_global(sk.where(F.col("day") <= 2), "topn", counters=c)
    assert rows(explode_topn(g, "topn", 10, counters=c)) == replay.topk([0, 1], 0, 2, 10)

    w = Window.partitionBy("tenant").orderBy("day").rowsBetween(-2, 0)
    framed = sk.where(F.col("tenant") == 0).select(
        "day", topn_union_over_window("topn", w, counters=c).alias("topn")
    )
    ex = explode_topn(framed.where(F.col("day") >= 1), "topn", 10, keep=["day"], counters=c)
    by_day = {}
    for r in ex.collect():
        by_day.setdefault(r["day"], []).append((r["item"], r["frequency"]))
    assert by_day == replay.window(0, 1, SMALL.days - 1, 10, 2)


def test_corrupted_dashboard_result_is_a_failed_op(tmp_path):
    wl = workloads.Dashboard(fake_ctx(tmp_path))
    wl.spec = SMALL
    wl.data = gen.generate(SMALL, 2)
    wl.build_oracle()
    want = wl.replay.topk([1], 0, 3, workloads.TOP_K)
    corrupt = [want[1], want[0], *want[2:]]  # tie order matters too
    corrupt2 = [(want[0][0], want[0][1] + 1), *want[1:]]

    stats, tracer = Stats(), Tracer(False)
    for result in (want, corrupt, corrupt2):
        op = wl._op("interval_topk", (1, 0, 3))
        op.run = lambda result=result: result
        run_op(stats, op, "op", wl.name, tracer, None, [])
    assert (stats.attempted, stats.failed) == (3, 2)
    assert len(stats.seconds["interval_topk"]) == 1


def test_failing_call_is_a_failed_op(tmp_path):
    wl = workloads.Dashboard(fake_ctx(tmp_path))
    wl.spec = SMALL
    wl.data = gen.generate(SMALL, 2)
    wl.build_oracle()
    op = wl._op("global_topk", (0, 1, 4))
    op.run = lambda: 1 / 0
    stats = Stats()
    run_op(stats, op, "op", wl.name, Tracer(False), None, [])
    assert (stats.attempted, stats.failed, stats.seconds) == (1, 1, {})


def test_mix_p50_moves_with_every_kind():
    mix = workloads.Dashboard.mix
    stats = Stats(seconds={
        "interval_topk": [1.0] * 6, "global_topk": [1.0] * 2, "window_7d": [1.0], "sql_interval": [1.0],
    })
    assert mix_p50_ms(stats, mix) == pytest.approx(1000.0)
    # a kind above the overall median: the median of all ops would not move
    stats.seconds["window_7d"] = [3.0]
    assert mix_p50_ms(stats, mix) == pytest.approx(1000.0 + 0.1 * 2000.0)


def test_tier2_check_flags_broken_bounds(tmp_path):
    wl = workloads.Tier2HighCard(fake_ctx(tmp_path))
    wl.spec = SMALL_T2
    wl.data = gen.generate(SMALL_T2, 4)
    wl.build_oracle()
    good = {t: dict(gen.top_entries(c, SMALL_T2.counters)) for t, c in wl.exact.items()}
    assert wl._check(good) == 1.0

    over = {t: dict(s) for t, s in good.items()}
    item = next(iter(over[0]))
    over[0][item] += 1  # above the exact count
    unseen = {t: dict(s) for t, s in good.items()}
    unseen[1].pop(next(iter(unseen[1])))
    unseen[1]["never-drawn"] = 1
    short = {t: dict(list(s.items())[:-1]) for t, s in good.items()}
    for bad in (over, unseen, short):
        assert wl._check(bad) is None
    assert wl.violations == 1 + 1 + SMALL_T2.tenants


def test_trace_self_time_subtracts_children():
    tr = Tracer(True)
    tr.op = "op1"
    with tr.span("dashboard.interval_topk"):
        with tr.span("rollup.read_topn_rollup"):
            pass
        with tr.span("spark.collect"):
            pass
    top, read, collect = tr.spans
    assert read.parent == top.id and collect.parent == top.id
    own = tr.self_seconds()
    assert own[top.id] == pytest.approx(top.seconds - read.seconds - collect.seconds)
    assert {s.op for s in tr.spans} == {"op1"}
