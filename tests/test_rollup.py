"""Rollup-table pattern: partitioned persistence, partition pruning on
interval reads, append-incremental equivalence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from postgresql_topn_spark.functions.aggregates import topn_add_agg
from postgresql_topn_spark.sources.rollup import (
    query_topn_rollup,
    read_topn_rollup,
    write_topn_rollup,
)
from postgresql_topn_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
C = 1_000_000


def _expected_week(spark, lo, hi):
    ev = load_table(spark, SF_DIR, "events").where(
        F.to_date("ts").between(F.lit(lo), F.lit(hi))
    )
    sk = topn_add_agg(ev, [F.lit(1).alias("g")], "event_type", counters=C)
    return {k: v for r in sk.collect() for k, v in r["topn"].items()}


def test_rollup_roundtrip_and_interval_query(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "rollup")
    write_topn_rollup(
        ev, path, F.to_date("ts"), "event_type", bucket_name="day", counters=C
    )
    rollup = read_topn_rollup(spark, path, bucket_name="day")
    lo, hi = "2024-01-08", "2024-01-14"
    week = rollup.where(F.col("day").between(F.lit(lo), F.lit(hi)))
    merged = query_topn_rollup(
        week.withColumn("g", F.lit(1)), ["g"], counters=C
    )
    got = {k: v for r in merged.collect() for k, v in r["topn"].items()}
    assert got == _expected_week(spark, lo, hi)
    # the day filter must prune partitions, not scan + filter
    plan = week._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day#" in plan.split("PartitionFilters")[1][:200]


def test_rollup_append_equivalence(spark, tmp_path):
    """Appending per-half sketch rows then merging == aggregating all at
    once (associativity of sketch deltas, no eviction)."""
    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "rollup_inc")
    first = ev.where(F.dayofmonth("ts") <= 15)
    second = ev.where(F.dayofmonth("ts") > 15)
    write_topn_rollup(
        first, path, F.to_date("ts"), "event_type", bucket_name="day", counters=C
    )
    write_topn_rollup(
        second, path, F.to_date("ts"), "event_type", bucket_name="day",
        counters=C, mode="append",
    )
    rollup = read_topn_rollup(spark, path, bucket_name="day")
    merged = query_topn_rollup(
        rollup.withColumn("g", F.lit(1)), ["g"], counters=C
    )
    got = {k: v for r in merged.collect() for k, v in r["topn"].items()}
    full = topn_add_agg(ev, [F.lit(1).alias("g")], "event_type", counters=C)
    want = {k: v for r in full.collect() for k, v in r["topn"].items()}
    assert got == want


def test_rollup_custom_bucket_name(spark, tmp_path):
    """bucket_name round-trips: write with a non-default name, read it
    back by the same name; a wrong name fails at load with a clear
    error."""
    import pytest

    from postgresql_topn_spark.sources.rollup import (
        read_topn_rollup,
        write_topn_rollup,
    )

    df = spark.createDataFrame(
        [("2024-01-01", "a"), ("2024-01-01", "b"), ("2024-01-02", "a")],
        "d string, item string",
    )
    path = str(tmp_path / "ru")
    write_topn_rollup(df, path, "d", "item", bucket_name="review_date")
    back = read_topn_rollup(spark, path, bucket_name="review_date")
    assert "review_date" in back.columns
    # partition-column inference types the bucket (date here) — key by str
    got = {str(r["review_date"]): r["topn"] for r in back.collect()}
    assert got["2024-01-01"] == {"a": 1, "b": 1}
    assert got["2024-01-02"] == {"a": 1}
    with pytest.raises(ValueError, match="no bucket column"):
        read_topn_rollup(spark, path, bucket_name="bucket")


def test_generic_sketch_rollup_kmv_pruned_interval_reads(spark, sf_dir, tmp_path):
    """KMV rollup rows written partitioned by month: an interval read
    plans PartitionFilters (only the interval's files are touched) and
    the interval merge equals a direct build over the interval's raw
    rows (the KMV merge law)."""
    from pyspark.sql import functions as F

    from postgresql_topn_spark.functions.kmv import kmv_add_agg, kmv_union_rollup
    from postgresql_topn_spark.sources.rollup import (
        read_sketch_rollup,
        write_sketch_rollup,
    )
    from postgresql_topn_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    monthly = kmv_add_agg(
        ev,
        [F.date_format("ts", "yyyy-MM").alias("mon"), "event_type"],
        F.col("user_id").cast("string"),
        k=32,
    )
    path = str(tmp_path / "kmv_rollup")
    write_sketch_rollup(monthly, path, ["mon"])

    rollup = read_sketch_rollup(spark, path, ["mon"])
    interval = rollup.where(F.col("mon") <= "2024-03")
    plan = interval._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "mon" in plan.split("PartitionFilters", 1)[1][:120]

    merged = kmv_union_rollup(interval, ["event_type"], "kmv", k=32)
    direct = kmv_add_agg(
        ev.where(F.date_format("ts", "yyyy-MM") <= "2024-03"),
        ["event_type"],
        F.col("user_id").cast("string"),
        k=32,
    )
    got = {r["event_type"]: list(r["kmv"]) for r in merged.collect()}
    want = {r["event_type"]: list(r["kmv"]) for r in direct.collect()}
    assert got == want and len(got) > 0


def test_generic_sketch_rollup_validates_grain(spark, tmp_path):
    import pytest as _pytest

    from postgresql_topn_spark.sources.rollup import (
        read_sketch_rollup,
        write_sketch_rollup,
    )

    df = spark.createDataFrame([(1, "a", [1, 2])], "day int, g string, kmv array<bigint>")
    path = str(tmp_path / "r")
    write_sketch_rollup(df, path, ["day"])
    with _pytest.raises(ValueError, match="lacks partition columns"):
        read_sketch_rollup(spark, path, ["week"])
    with _pytest.raises(ValueError):
        write_sketch_rollup(df, path, [])


# --- relation reuse: one leaf-file glob per read, fresh after any write ---

DAY_ROWS = "d string, item string"
BASE_DAYS = [("2024-01-01", "a"), ("2024-01-02", "b")]


def _write_days(spark, path, rows, mode="overwrite"):
    df = spark.createDataFrame(rows, DAY_ROWS)
    write_topn_rollup(df, path, "d", "item", bucket_name="day", mode=mode)


def _day_state(spark, path):
    """Merged sketch per day, as the next reader sees it."""
    r = read_topn_rollup(spark, path, bucket_name="day")
    m = query_topn_rollup(r, ["day"], counters=C)
    return {str(x["day"]): dict(x["topn"]) for x in m.collect()}


def _jobs_launched(spark, fn):
    """(fn(), number of Spark jobs it started), counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"rollup-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status store is fed by the listener bus, which runs behind
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_rollup_reread_launches_no_spark_job(spark, tmp_path):
    """A second read of an unchanged rollup is the first read's relation
    and starts no job: no partition listing, no footer read."""
    path = str(tmp_path / "ru")
    _write_days(spark, path, BASE_DAYS)
    first, jobs_first = _jobs_launched(
        spark, lambda: read_topn_rollup(spark, path, bucket_name="day")
    )
    again, jobs_again = _jobs_launched(
        spark, lambda: read_topn_rollup(spark, path, bucket_name="day")
    )
    assert jobs_first > 0  # resolving reads a footer: the counter sees it
    assert jobs_again == 0
    assert again is first


@pytest.mark.parametrize(
    "rows, mode, want",
    [
        pytest.param(
            [("2024-01-01", "a"), ("2024-01-01", "c")], "append",
            {"2024-01-01": {"a": 2, "c": 1}, "2024-01-02": {"b": 1}},
            id="append_into_existing_day",
        ),
        pytest.param(
            [("2024-01-03", "c")], "append",
            {"2024-01-01": {"a": 1}, "2024-01-02": {"b": 1}, "2024-01-03": {"c": 1}},
            id="new_day_partition",
        ),
        pytest.param(
            [("2024-01-01", "z")], "overwrite", {"2024-01-01": {"z": 1}},
            id="overwrite",
        ),
    ],
)
def test_rollup_read_fresh_after_write(spark, tmp_path, rows, mode, want):
    """A read after a write sees the write, though the read before it
    kept the relation."""
    path = str(tmp_path / "ru")
    _write_days(spark, path, BASE_DAYS)
    assert _day_state(spark, path) == {"2024-01-01": {"a": 1}, "2024-01-02": {"b": 1}}
    _write_days(spark, path, rows, mode=mode)
    assert _day_state(spark, path) == want


def test_rollup_read_fresh_after_compaction(spark, tmp_path):
    from postgresql_topn_spark.sources.maintenance import compact_topn_rollup

    path = str(tmp_path / "ru")
    rows = [("2024-01-01", "a"), ("2024-01-01", "b"), ("2024-01-02", "a")]
    _write_days(spark, path, rows)
    _write_days(spark, path, rows, mode="append")
    before = _day_state(spark, path)
    assert read_topn_rollup(spark, path, bucket_name="day").count() == 4
    assert compact_topn_rollup(spark, path, bucket_name="day", counters=C) == 2
    assert read_topn_rollup(spark, path, bucket_name="day").count() == 2
    assert _day_state(spark, path) == before == {
        "2024-01-01": {"a": 2, "b": 2},
        "2024-01-02": {"a": 2},
    }


def test_rollup_read_failures_are_not_kept(spark, tmp_path):
    """A missing path or a wrong bucket name raises on every read, and
    neither leaves an entry behind; the right name still reuses."""
    from pyspark.errors import AnalysisException

    from postgresql_topn_spark.sources import rollup as rollup_mod

    path = str(tmp_path / "ru")
    for _ in range(2):
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            read_topn_rollup(spark, path, bucket_name="day")
    _write_days(spark, path, [("2024-01-01", "a")])
    good = read_topn_rollup(spark, path, bucket_name="day")
    for _ in range(2):
        with pytest.raises(ValueError, match="no bucket column"):
            read_topn_rollup(spark, path, bucket_name="bucket")
    assert [k[2:] for k in rollup_mod._resolved if k[2] == path] == [(path, ("day",))]
    assert read_topn_rollup(spark, path, bucket_name="day") is good


def test_rollup_reuse_is_per_session(spark, tmp_path):
    """Another session (as a restarted one: a new JVM session object)
    resolves its own relation, bound to itself."""
    path = str(tmp_path / "ru")
    _write_days(spark, path, [("2024-01-01", "a")])
    mine = read_topn_rollup(spark, path, bucket_name="day")
    other_session = spark.newSession()
    other = read_topn_rollup(other_session, path, bucket_name="day")
    assert other is not mine
    assert other.sparkSession is other_session and mine.sparkSession is spark
    assert read_topn_rollup(other_session, path, bucket_name="day") is other
    assert read_topn_rollup(spark, path, bucket_name="day") is mine


def test_rollup_reuse_is_bounded_lru(spark, tmp_path):
    """Only the most recently read rollups are kept: reading one more
    than the bound evicts the least recently read."""
    from postgresql_topn_spark.sources import rollup as rollup_mod

    paths = [str(tmp_path / f"ru{i}") for i in range(rollup_mod._MAX_REUSED_ROLLUPS + 1)]
    for i, p in enumerate(paths):
        _write_days(spark, p, [("2024-01-01", f"item{i}")])
    first = [read_topn_rollup(spark, p, bucket_name="day") for p in paths]
    assert len(rollup_mod._resolved) <= rollup_mod._MAX_REUSED_ROLLUPS
    assert read_topn_rollup(spark, paths[-1], bucket_name="day") is first[-1]
    assert read_topn_rollup(spark, paths[0], bucket_name="day") is not first[0]


def test_rollup_reuse_threads_get_their_own_rollup(spark, tmp_path):
    """Many threads reading more rollups than the bound, with a short
    switch interval: every read returns the relation of the path asked
    for, and the bound holds."""
    import random
    import sys
    import threading

    from postgresql_topn_spark.sources import rollup as rollup_mod
    from postgresql_topn_spark.sources.rollup import read_sketch_rollup

    n = rollup_mod._MAX_REUSED_ROLLUPS + 2
    paths = [str(tmp_path / f"r{i}") for i in range(n)]
    for i, p in enumerate(paths):
        # a column named after the rollup identifies the relation cheaply
        spark.createDataFrame([(1, 1)], f"day int, c{i} int").write.partitionBy("day").parquet(p)
    wrong: list[tuple[int, list[str]]] = []

    def reader(seed):
        rng = random.Random(seed)
        for _ in range(6):
            i = rng.randrange(n)
            cols = read_sketch_rollup(spark, paths[i], ["day"]).columns
            if f"c{i}" not in cols:
                wrong.append((i, cols))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(s,)) for s in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert len(rollup_mod._resolved) <= rollup_mod._MAX_REUSED_ROLLUPS


def test_rollup_self_join_through_aliases(spark, tmp_path):
    """Two reads of an unchanged rollup are one relation (as with a
    catalog table); a self-join through aliases still resolves each
    side and pairs the right rows."""
    path = str(tmp_path / "ru")
    _write_days(
        spark, path, [("2024-01-01", "a"), ("2024-01-02", "b"), ("2024-01-03", "c")]
    )
    left = read_topn_rollup(spark, path, bucket_name="day")
    right = read_topn_rollup(spark, path, bucket_name="day")
    assert right is left
    pairs = left.alias("a").join(
        right.alias("b"), F.date_add(F.col("a.day"), 1) == F.col("b.day")
    ).select(
        F.col("a.day").cast("string").alias("prev"),
        F.col("b.day").cast("string").alias("next"),
        F.map_keys("a.topn")[0].alias("prev_item"),
        F.map_keys("b.topn")[0].alias("next_item"),
    )
    assert sorted(tuple(r) for r in pairs.collect()) == [
        ("2024-01-01", "2024-01-02", "a", "b"),
        ("2024-01-02", "2024-01-03", "b", "c"),
    ]


def test_sketch_rollup_fresh_below_its_grain_and_at_root(spark, tmp_path):
    """read_sketch_rollup globs len(partition_names) levels: a layout
    deeper than the names given (files below the glob) is not reused,
    and root-level files (no partition level) count as leaves."""
    from postgresql_topn_spark.sources.rollup import read_sketch_rollup

    deep = str(tmp_path / "deep")
    df = spark.createDataFrame([(1, 1, 5)], "day int, tenant int, v int")
    df.write.partitionBy("day", "tenant").parquet(deep)
    assert read_sketch_rollup(spark, deep, ["day"]).count() == 1
    df.write.mode("append").partitionBy("day", "tenant").parquet(deep)
    assert read_sketch_rollup(spark, deep, ["day"]).count() == 2

    flat = str(tmp_path / "flat")
    spark.range(3).write.parquet(flat)
    first = read_sketch_rollup(spark, flat, [])
    assert first.count() == 3 and read_sketch_rollup(spark, flat, []) is first
    spark.range(2).write.mode("append").parquet(flat)
    assert read_sketch_rollup(spark, flat, []).count() == 5
