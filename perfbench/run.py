"""Seeded benchmark of the topn rollup surface.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

One process drives the package as a closed loop with one client: the next
op starts when the previous one has returned and been checked against the
replay oracle.  Human-readable lines go to stdout first; the last line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
if ROOT not in sys.path:  # run as a script: make the checkout importable
    sys.path.insert(0, ROOT)

from perfbench.trace import SPARK_COUNTERS  # noqa: E402
TRACED_PREFIX = "traced-op"
# Set-up's load step (generate, write parquet, count) runs this often and
# setup_s takes the median: the one part of set-up one process can repeat.
LOAD_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "op_mix_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "recall_at_10": "ratio",
}
LAYERS = ("bench", "rollup", "maintenance", "aggregates", "sketch", "sql_api", "sketch_state", "spark")
CALLS = (
    "rollup.read_topn_rollup",
    "rollup.write_topn_rollup",
    "maintenance.compact_topn_rollup",
    "aggregates.topn_union_agg",
    "aggregates.topn_union_agg_global",
    "aggregates.topn_union_over_window",
    "sketch.explode_topn",
    "sql_api.topn_sql",
    "sketch_state.topn_add_agg_sketch",
)
QUERY_KINDS = ("interval_topk", "global_topk", "window_7d", "sql_interval")
PER_LAYER = {
    **{f"{c}.s": "s" for c in CALLS},
    "query.plan_s": "s",
    "query.exec_s": "s",
    **{f"query.{k}.p50_ms": "ms" for k in QUERY_KINDS},
    "query.p90_ms": "ms",
    "query.samples": "count",
    "aggregates.topn_add_agg.s": "s",
    "sketch.sketch_to_json.s": "s",
    "rollup.files_per_query": "count",
    "rollup.rows_per_bucket": "count",
    "rollup.bytes_written": "bytes",
    "rollup.stored_bytes_per_row": "bytes",
    "sketch_state.violations": "count",
    **{f"spark.{c}_per_op": u for c, u in SPARK_COUNTERS.items() if c != "failed_tasks"},
    "spark.failed_tasks": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "setup.peak_rss_mb": "MB",
    "trace.overhead_ms": "ms",
    "trace.overhead_pct": "%",
}


@dataclass
class Stats:
    attempted: int = 0
    failed: int = 0
    seconds: dict[str, list[float]] = field(default_factory=dict)  # by op kind
    rows: int = 0
    recalls: list[float] = field(default_factory=list)

    def all_seconds(self) -> list[float]:
        return [s for v in self.seconds.values() for s in v]


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int


def run_op(stats: Stats, op, op_id: str, workload: str, tracer, counters, samples: list) -> None:
    """Time one op and check its result.  An exception or a wrong result
    counts as a failed op and its time is not recorded."""
    stats.attempted += 1
    tracer.op = op_id
    if counters:
        counters.begin(op_id)
    t0 = time.perf_counter()
    try:
        with tracer.span(f"{workload}.{op.kind}"):
            result = op.run()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        result, ok = None, False
    else:
        ok = True
    elapsed = time.perf_counter() - t0
    if counters:
        samples.append(counters.end(op_id))
    tracer.op = None
    recall = None
    if ok:
        try:
            recall = op.check(result)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        if recall is None:
            print(f"wrong result from {op.kind} op {op_id}", file=sys.stderr)
    if recall is None:
        stats.failed += 1
        return
    stats.seconds.setdefault(op.kind, []).append(elapsed)
    stats.rows += op.rows
    stats.recalls.append(recall)


def closed_loop(wl, seconds: float, tracer, counters=None) -> tuple[Stats, Stats, list]:
    """One client: start the next op when the previous one is done, until
    *seconds* have passed and the workload's mix is at the end of a block.

    With *counters*, every second block of the mix is traced and the
    others are not, so drift during the run (JIT warm-up, caches) falls on
    both alike, and a traced block holds every op kind; the difference of
    their medians is the tracing overhead.  Returns the untraced stats,
    the traced stats and the traced ops' Spark counters."""
    plain, traced, samples = Stats(), Stats(), []
    deadline = time.perf_counter() + seconds
    n, on = 0, False
    while True:
        n += 1
        tracer.enabled = on
        run_op(
            traced if on else plain, wl.next_op(), f"{TRACED_PREFIX if on else 'op'}{n}",
            wl.name, tracer, counters if on else None, samples,
        )
        if not wl.at_block_end():
            continue
        if time.perf_counter() >= deadline and (counters is None or traced.attempted):
            tracer.enabled = counters is not None
            return plain, traced, samples
        on = counters is not None and not on


def mix_p50_ms(stats: Stats, mix: dict[str, float]) -> float:
    """Each op kind's median latency weighted by its share of the mix.
    Unlike the median over all ops, every kind moves it, also one whose
    ops all sit above or below the others'."""
    kinds = [k for k in mix if stats.seconds.get(k)]
    total = sum(mix[k] * statistics.median(stats.seconds[k]) for k in kinds)
    return total / sum(mix[k] for k in kinds) * 1e3


def end_to_end(stats: Stats, mix: dict[str, float], setup_s: float, peak_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_mix_p50_ms": mix_p50_ms(stats, mix),
        "peak_rss_mb": peak_mb,
        "recall_at_10": statistics.fmean(stats.recalls),
    }


def per_layer(wl, tracer, traced: Stats, untraced: Stats, samples: list) -> dict[str, float]:
    out = dict.fromkeys(PER_LAYER, 0.0)
    spans = tracer.spans
    ops = {s.op for s in spans if s.op and s.op.startswith(TRACED_PREFIX)}
    n_ops = max(1, len(ops))

    def mean_of(name: str) -> float:
        d = [s.seconds for s in spans if s.name == name]
        return statistics.fmean(d) if d else 0.0

    for c in CALLS:
        out[f"{c}.s"] = mean_of(c)
    own = tracer.self_seconds()
    for layer in LAYERS:
        total = sum(
            own[s.id] for s in spans
            if s.op in ops and (s.layer == layer or (layer == "bench" and s.parent is None))
        )
        out[f"{layer}.self_s"] = total / n_ops
    queries = {k: v for k, v in traced.seconds.items() if k in QUERY_KINDS}
    if queries:
        plan = [s for s in spans if s.op in ops and (
            s.name.startswith("aggregates.topn_union") or s.name in ("sketch.explode_topn", "sql_api.topn_sql"))]
        execs = [s for s in spans if s.op in ops and s.name == "spark.collect"]
        nq = sum(len(v) for v in queries.values())
        out["query.plan_s"] = sum(s.seconds for s in plan) / nq
        out["query.exec_s"] = sum(s.seconds for s in execs) / nq
        for k, v in queries.items():
            out[f"query.{k}.p50_ms"] = statistics.median(v) * 1e3
        all_q = [x for v in queries.values() for x in v]
        out["query.p90_ms"] = float(np.percentile(all_q, 90)) * 1e3
        out["query.samples"] = float(nq)
    no_json, with_json = mean_of("spark.noop_add_agg"), mean_of("spark.noop_to_json")
    if no_json:
        out["aggregates.topn_add_agg.s"] = no_json
        out["sketch.sketch_to_json.s"] = with_json - no_json
    if samples:
        for c in SPARK_COUNTERS:
            if c != "failed_tasks":
                out[f"spark.{c}_per_op"] = statistics.fmean(s[c] for s in samples)
        out["spark.failed_tasks"] = sum(s["failed_tasks"] for s in samples)
    if untraced.all_seconds() and traced.all_seconds():
        base = mix_p50_ms(untraced, wl.mix)
        over = mix_p50_ms(traced, wl.mix) - base
        out["trace.overhead_ms"] = over
        out["trace.overhead_pct"] = 100 * over / base
    out.update(wl.layer_values())
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import postgresql_topn_spark
        from perfbench import harness, workloads
        from perfbench.trace import SparkCounters, Tracer
    except ImportError as e:
        print(f"cannot import the package under {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(postgresql_topn_spark.__file__).startswith(ROOT + os.sep):
        print(f"postgresql_topn_spark is not the copy under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = harness.scratch_dir(BENCH_DIR)
    tracer = Tracer(enabled=bool(args.trace))
    try:
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = harness.start_spark(ROOT, work)
            spark.range(1).collect()
            session_s = time.perf_counter() - t0
            ctx = Ctx(spark, tracer, work, args.seed)
            wl = workloads.WORKLOADS[args.workload](ctx)
            loads = []
            for _ in range(LOAD_REPEATS):
                t0 = time.perf_counter()
                wl.load()
                loads.append(time.perf_counter() - t0)
            wl.build_oracle()
            tracer.op = f"{args.workload}.setup"
            t0 = time.perf_counter()
            wl.prepare()
            prepare_s = time.perf_counter() - t0
            tracer.op = None
            setup_s = session_s + statistics.median(loads) + prepare_s
            setup_peak_mb = rss.take_peak_mb()

            counters = SparkCounters(spark) if args.trace else None
            untraced, stats, samples = closed_loop(wl, args.seconds, tracer, counters)
            peak_mb = rss.take_peak_mb()
            if args.trace:
                tracer.op = f"{args.workload}.probe"
                probe_checks = wl.probe()
                tracer.op = None
            else:
                stats = untraced
    finally:
        try:
            harness.stop_spark()
        finally:
            harness.remove(work)

    spec = wl.spec.as_dict()
    print(f"workload {args.workload} seed {args.seed} spec {json.dumps(spec)}")
    print(f"setup: session {session_s:.3f} s, load {' '.join(f'{x:.3f}' for x in loads)} s "
          f"(median {statistics.median(loads):.3f}), prepare {prepare_s:.3f} s")
    if args.trace:
        attempted = untraced.attempted + stats.attempted + probe_checks[0]
        failed = untraced.failed + stats.failed + probe_checks[1]
        metrics, units = per_layer(wl, tracer, stats, untraced, samples), PER_LAYER
        metrics["setup.peak_rss_mb"] = setup_peak_mb
        out_dir = os.path.join(BENCH_DIR, ".out")
        os.makedirs(out_dir, exist_ok=True)
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.write(spans_path)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(spans_path, ROOT)}")
    else:
        attempted, failed = stats.attempted, stats.failed
        if not stats.all_seconds():
            print("no op succeeded", file=sys.stderr)
            return 1
        metrics, units = end_to_end(stats, wl.mix, setup_s, peak_mb), END_TO_END
        for kind, secs in sorted(stats.seconds.items()):
            print(f"op {kind}: n={len(secs)} p50={statistics.median(secs) * 1e3:.1f} ms")
        print(f"input rows per second of op time: {stats.rows / sum(stats.all_seconds())}")
    print(f"attempted {attempted} failed {failed} error_rate {failed / max(1, attempted)}")
    for name, value in metrics.items():
        print(f"{name} = {value} {units[name]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
