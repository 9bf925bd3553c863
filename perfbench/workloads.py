"""The benchmark's workloads.  Each one prepares its inputs and any initial
rollup, then hands out ops that the closed loop in ``run.py`` times one at
a time.  An op is a thunk that calls the package and returns plain Python
values, plus a check against the replay oracle; an exception or a failed
check makes the op a failed op."""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from perfbench import gen

TOP_K = 10
WINDOW_FRAME = 6  # ROWS 6 PRECEDING: a 7-day window over daily sketches
WARMUP_QUERIES = 20  # dashboard warm-up, part of set-up
TIER2_WARMUP_OPS = 5  # tier2_highcard warm-up, part of set-up


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], float | None]  # recall@10 if correct, else None
    rows: int  # input rows the op consumes


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def read_rollup_sketches(path: str) -> dict[tuple[int, int], dict[str, int]]:
    """A written rollup, read with pyarrow (not through the package): one
    merged sketch per (day, tenant)."""
    out: dict[tuple[int, int], dict[str, int]] = {}
    t = pq.read_table(path, columns=["day", "tenant", "topn"]).to_pydict()
    for day, tenant, sk in zip(t["day"], t["tenant"], t["topn"]):
        acc = out.setdefault((int(day), int(tenant)), {})
        for item, freq in json.loads(sk).items():
            acc[item] = acc.get(item, 0) + freq
    return out


class Workload:
    name = ""
    spec: gen.Spec
    mix: dict[str, float]  # op kind -> its share of the ops

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.span = ctx.tracer.span
        self.raw_path = os.path.join(ctx.work, "raw")
        self.data: gen.Data | None = None

    def load(self) -> None:
        """Generate the inputs, write them as parquet and load them into
        Spark: the repeated part of set-up."""
        self.data = gen.generate(self.spec, self.ctx.seed)
        self.data.write_parquet(self.raw_path)
        self.raw = self.spark.read.parquet(self.raw_path)
        if self.raw.count() != self.spec.rows:
            raise RuntimeError("raw input row count mismatch")

    def build_oracle(self) -> None:
        """Exact answers; not part of set-up time."""

    def prepare(self) -> None:
        """Initial state and warm-up, run once after ``load``."""

    def next_op(self) -> Op:
        raise NotImplementedError

    def at_block_end(self) -> bool:
        """Whether the ops handed out so far hold each kind in its share."""
        return True

    def probe(self) -> tuple[int, int]:
        """Extra traced executions for per-layer metrics (trace runs).
        Returns the checks it attempted and the ones that failed."""
        return 0, 0

    def layer_values(self) -> dict[str, float]:
        return {}


# The dashboard mix, as queries per block of 10.  Each block holds exactly
# these counts in seeded order, and a run ends at the end of a block, so
# every run sees the same proportions.
QUERY_MIX = (("interval_topk", 6), ("global_topk", 2), ("window_7d", 1), ("sql_interval", 1))


class Dashboard(Workload):
    """Read-only dashboard traffic over the daily rollup built in set-up."""

    name = "dashboard"
    spec = gen.ROLLUP_SPEC
    mix = {k: n / sum(n for _, n in QUERY_MIX) for k, n in QUERY_MIX}

    def __init__(self, ctx):
        super().__init__(ctx)
        self.path = os.path.join(ctx.work, "rollup")
        self.rng = np.random.default_rng([ctx.seed, 1])
        self.block: list[str] = []
        self.files_per_query: list[int] = []

    def build_oracle(self) -> None:
        self.replay = gen.Replay(self.data)

    def prepare(self) -> None:
        from postgresql_topn_spark.sources.rollup import write_topn_rollup

        with self.span("rollup.write_topn_rollup"):
            write_topn_rollup(
                self.raw, self.path, "day", "item", bucket_name="day",
                extra_group_cols=["tenant"], counters=self.spec.counters,
                mode="overwrite",
            )
        self.bytes_written = parquet_bytes(self.path)
        rows = pq.read_table(self.path, columns=["day"]).num_rows
        self.rows_per_bucket = rows / (self.spec.days * self.spec.tenants)
        if read_rollup_sketches(self.path) != self.replay.pruned:
            raise RuntimeError("built rollup differs from the replay")
        # Warm-up: one query of each kind, then the mix up to WARMUP_QUERIES.
        # CPU per query keeps falling for ~20 queries while the JVM compiles
        # the planner's hot paths; a count, not a time, leaves every run at
        # the same point of that curve however fast the machine is.  The
        # warm-up draws from its own stream, so the timed sequence of a
        # seed is the same whatever the warm-up did.
        warm, block = np.random.default_rng([self.ctx.seed, 2]), []
        tracer = self.ctx.tracer
        enabled, tracer.enabled = tracer.enabled, False
        try:
            for kind, _ in QUERY_MIX:
                self._warm(self._op(kind, self._draw(warm, [kind])[1]))
            for _ in range(WARMUP_QUERIES - len(QUERY_MIX)):
                self._warm(self._op(*self._draw(warm, block)))
        finally:
            tracer.enabled = enabled

    @staticmethod
    def _warm(op: Op) -> None:
        if op.check(op.run()) is None:
            raise RuntimeError(f"warm-up {op.kind} differs from the replay")

    def _draw(self, rng, block: list[str]) -> tuple[str, tuple[int, int, int]]:
        """The next query kind of the mix and its (tenant, first day, last
        day); *block* holds the kinds left in the current block."""
        if not block:
            block.extend(rng.permutation([k for k, n in QUERY_MIX for _ in range(n)]).tolist())
        kind = block.pop()
        length = int(rng.integers(7, 31))
        lo = int(rng.integers(0, self.spec.days - length + 1))
        return kind, (int(rng.integers(0, self.spec.tenants)), lo, lo + length - 1)

    def next_op(self) -> Op:
        return self._op(*self._draw(self.rng, self.block))

    def at_block_end(self) -> bool:
        return not self.block

    def _op(self, kind: str, interval: tuple[int, int, int]) -> Op:
        tenant, lo, hi = interval
        if kind == "window_7d":
            return self._window_op(tenant, lo, hi)
        tenants = range(self.spec.tenants) if kind == "global_topk" else [tenant]
        want = self.replay.topk(tenants, lo, hi, TOP_K)
        truth = self.replay.exact_topk(tenants, lo, hi, TOP_K)

        def check(got) -> float | None:
            # only a result equal to the replay passes, so the recall is the
            # replay's own: fixed by the seed, not moved by the package
            return gen.recall(got, truth) if got == want else None

        run = {
            "interval_topk": lambda: self._interval_topk(tenant, lo, hi),
            "global_topk": lambda: self._global_topk(lo, hi),
            "sql_interval": lambda: self._sql_interval(tenant, lo, hi),
        }[kind]
        self._count_files(lo, hi)
        return Op(kind, run, check, len(tenants) * (hi - lo + 1))

    def _count_files(self, lo: int, hi: int) -> None:
        """Files under the day partitions a query reads (trace runs only)."""
        if self.ctx.tracer.enabled:
            self.files_per_query.append(sum(
                len([f for f in os.listdir(os.path.join(self.path, f"day={d}")) if f.endswith(".parquet")])
                for d in range(lo, hi + 1)
            ))

    def _read(self):
        from postgresql_topn_spark.sources.rollup import read_topn_rollup

        with self.span("rollup.read_topn_rollup"):
            return read_topn_rollup(self.spark, self.path, bucket_name="day")

    def _collect(self, df) -> list[tuple[str, int]]:
        with self.span("spark.collect"):
            rows = df.collect()
        return [(r["item"], r["frequency"]) for r in rows]

    def _explode(self, df, keep=None):
        from postgresql_topn_spark.functions.sketch import explode_topn

        with self.span("sketch.explode_topn"):
            return explode_topn(df, "topn", TOP_K, keep=keep, counters=self.spec.counters)

    def _interval_topk(self, tenant: int, lo: int, hi: int):
        from postgresql_topn_spark.functions.aggregates import topn_union_agg

        r = self._read()
        sel = r.where((F.col("tenant") == tenant) & F.col("day").between(lo, hi))
        with self.span("aggregates.topn_union_agg"):
            u = topn_union_agg(sel, ["tenant"], "topn", counters=self.spec.counters)
        return self._collect(self._explode(u))

    def _global_topk(self, lo: int, hi: int):
        from postgresql_topn_spark.functions.aggregates import topn_union_agg_global

        r = self._read()
        sel = r.where(F.col("day").between(lo, hi))
        with self.span("aggregates.topn_union_agg_global"):
            u = topn_union_agg_global(sel, "topn", counters=self.spec.counters)
        return self._collect(self._explode(u))

    def _sql_interval(self, tenant: int, lo: int, hi: int):
        from postgresql_topn_spark.functions.sql_api import topn_sql

        self._read().createOrReplaceTempView("dash_rollup")
        with self.span("sql_api.topn_sql"):
            u = topn_sql(
                self.spark,
                "SELECT tenant, topn_union_agg(topn) AS topn FROM dash_rollup "
                f"WHERE tenant = {tenant} AND day BETWEEN {lo} AND {hi} GROUP BY tenant",
                counters=self.spec.counters,
            )
        return self._collect(self._explode(u))

    def _window_op(self, tenant: int, lo: int, hi: int) -> Op:
        from postgresql_topn_spark.functions.aggregates import topn_union_over_window

        first = max(0, lo - WINDOW_FRAME)
        want = self.replay.window(tenant, lo, hi, TOP_K, WINDOW_FRAME)
        truth = {
            d: self.replay.exact_topk([tenant], max(first, d - WINDOW_FRAME), d, TOP_K)
            for d in range(lo, hi + 1)
        }

        def run():
            r = self._read()
            sel = r.where((F.col("tenant") == tenant) & F.col("day").between(first, hi))
            w = Window.partitionBy("tenant").orderBy("day").rowsBetween(-WINDOW_FRAME, 0)
            with self.span("aggregates.topn_union_over_window"):
                merged = topn_union_over_window("topn", w, counters=self.spec.counters)
            framed = sel.select("day", merged.alias("topn")).where(F.col("day") >= lo)
            ex = self._explode(framed, keep=["day"])
            with self.span("spark.collect"):
                rows = ex.collect()
            out: dict[int, list[tuple[str, int]]] = {}
            for r in rows:
                out.setdefault(r["day"], []).append((r["item"], r["frequency"]))
            return out

        def check(got) -> float | None:
            if got != want:
                return None
            return float(np.mean([gen.recall(got[d], truth[d]) for d in want]))

        self._count_files(first, hi)
        return Op("window_7d", run, check, hi - first + 1)

    def probe(self) -> tuple[int, int]:
        """Time topn_add_agg alone and with sketch_to_json into a noop
        sink; the difference is the JSON rendering's share of a build.  One
        untimed run warms the noop path, then the order A B B A cancels a
        steady drift between the two.  Then compact the served rollup to
        one file per day (after the loop, so it does not change what the
        loop read) and check it against the replay."""
        from postgresql_topn_spark.functions.aggregates import topn_add_agg
        from postgresql_topn_spark.functions.sketch import sketch_to_json
        from postgresql_topn_spark.sources.maintenance import compact_topn_rollup

        for name in ("warm", "noop_add_agg", "noop_to_json", "noop_to_json", "noop_add_agg"):
            with self.span(f"{self.name}.probe"):
                sk = topn_add_agg(self.raw, ["day", "tenant"], "item", counters=self.spec.counters)
                if name == "noop_to_json":
                    sk = sk.withColumn("topn", sketch_to_json(F.col("topn")))
                with self.span(f"spark.{name}"):
                    sk.write.format("noop").mode("overwrite").save()
        with self.span("maintenance.compact_topn_rollup"):
            compact_topn_rollup(
                self.spark, self.path, bucket_name="day",
                extra_group_names=("tenant",), counters=self.spec.counters,
            )
        return 1, int(read_rollup_sketches(self.path) != self.replay.pruned)

    def layer_values(self) -> dict[str, float]:
        return {
            "rollup.bytes_written": float(self.bytes_written),
            "rollup.stored_bytes_per_row": self.bytes_written / self.spec.rows,
            "rollup.rows_per_bucket": self.rows_per_bucket,
            "rollup.files_per_query": (
                float(np.mean(self.files_per_query)) if self.files_per_query else 0.0
            ),
        }


class Tier2HighCard(Workload):
    """Bounded-memory Tier-2 sketch per tenant over a high-cardinality
    stream: distinct items per tenant exceed the 3 x counters state more
    than a hundredfold."""

    name = "tier2_highcard"
    spec = gen.TIER2_SPEC
    mix = {"sketch": 1.0}

    def __init__(self, ctx):
        super().__init__(ctx)
        self.violations = 0

    def build_oracle(self) -> None:
        self.exact = gen.tier2_exact(self.data)
        self.truth = {t: gen.top_entries(c, TOP_K) for t, c in self.exact.items()}

    def _run(self) -> dict[int, dict[str, int]]:
        from postgresql_topn_spark.operators.sketch_state import topn_add_agg_sketch

        with self.span("sketch_state.topn_add_agg_sketch"):
            df = topn_add_agg_sketch(self.raw, ["tenant"], "item", counters=self.spec.counters)
        with self.span("spark.collect"):
            rows = df.collect()
        return {r["tenant"]: dict(r["topn"]) for r in rows}

    def _violations(self, got: dict[int, dict[str, int]]) -> int:
        """Entries above their exact count or never seen, plus tenants
        missing or not holding exactly min(counters, distinct) entries."""
        bad = 0
        for t, exact in self.exact.items():
            sk = got.get(t)
            if sk is None or len(sk) != min(self.spec.counters, len(exact)):
                bad += 1
                continue
            bad += sum(1 for it, f in sk.items() if f > exact.get(it, 0))
        return bad + len(set(got) - set(self.exact))

    def _check(self, got) -> float | None:
        bad = self._violations(got)
        self.violations += bad
        if bad:
            return None
        return float(np.mean([
            gen.recall(gen.top_entries(got[t], TOP_K), self.truth[t]) for t in self.exact
        ]))

    def prepare(self) -> None:
        # Warm-up: the first sketch starts the Python workers, and the next
        # few still run ~15-30% slower than the rest of a run.
        for _ in range(TIER2_WARMUP_OPS):
            if self._violations(self._run()):
                raise RuntimeError("warm-up sketch breaks the Tier-2 bounds")

    def next_op(self) -> Op:
        return Op("sketch", self._run, self._check, self.spec.rows)

    def layer_values(self) -> dict[str, float]:
        return {"sketch_state.violations": float(self.violations)}


WORKLOADS = {w.name: w for w in (Dashboard, Tier2HighCard)}
