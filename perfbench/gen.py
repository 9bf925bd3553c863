"""Seeded input generation and the exact replay oracle.

Inputs are Zipf-skewed string items.  The Tier-1 spec spreads rows evenly
over (day, tenant) groups; the Tier-2 spec draws each row's tenant at
random.  Every generation parameter lives in a ``Spec`` and is printed
with the results, so a run can be reproduced from its output alone.

The oracle never touches Spark: exact counts come from numpy, and the
replay applies the reference's semantics by hand -- prune each
(day, tenant) sketch to its top ``counters`` entries (frequency DESC,
item ASC), sum the pruned sketches over the queried rows, take the top k
in the same order.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RAW_FILES = 8  # raw parquet is written as this many files


@dataclass(frozen=True)
class Spec:
    rows: int
    days: int
    tenants: int
    universe: int
    zipf_s: float
    counters: int

    def as_dict(self) -> dict:
        return asdict(self)


# Tier-1 rollup data: ~255 distinct items per (day, tenant) against 200
# counters, so the rank-prune fires in every group.
ROLLUP_SPEC = Spec(
    rows=240_000, days=60, tenants=8, universe=3_000, zipf_s=1.0, counters=200
)
# Tier-2 data: ~42k distinct items per tenant against a 3 x 100 entry
# state, so eviction runs constantly.
TIER2_SPEC = Spec(
    rows=400_000, days=1, tenants=8, universe=1_000_000, zipf_s=0.7, counters=100
)


@dataclass
class Data:
    """Generated rows: day, tenant and item per row.  ``item`` indexes
    ``names``, which holds only the items that were drawn."""

    spec: Spec
    day: np.ndarray
    tenant: np.ndarray
    item: np.ndarray
    names: np.ndarray

    def write_parquet(self, path: str) -> None:
        """Write the rows as ``RAW_FILES`` parquet files under *path*."""
        os.makedirs(path, exist_ok=True)
        table = pa.table(
            {
                "day": pa.array(self.day, pa.int32()),
                "tenant": pa.array(self.tenant, pa.int32()),
                "item": pa.array(self.names[self.item], pa.string()),
            }
        )
        step = -(-len(self.day) // RAW_FILES)
        for i in range(RAW_FILES):
            pq.write_table(
                table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
            )


def zipf_probabilities(universe: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, universe + 1, dtype=np.float64) ** s
    return p / p.sum()


def generate(spec: Spec, seed: int) -> Data:
    """Draw the rows of *spec* from *seed*; the same seed gives the same
    rows.  An item's name is a seeded permutation of its Zipf rank, so name
    order says nothing about frequency and tie-breaks by name matter."""
    rng = np.random.default_rng(seed)
    label = rng.permutation(spec.universe)
    rank = rng.choice(spec.universe, size=spec.rows, p=zipf_probabilities(spec.universe, spec.zipf_s))
    drawn, item = np.unique(rank, return_inverse=True)
    names = np.array([f"it{i:07d}" for i in label[drawn].tolist()], dtype=object)
    if spec.days > 1:
        groups = spec.days * spec.tenants
        per = spec.rows // groups
        if per * groups != spec.rows:
            raise ValueError("rows must divide evenly over days x tenants")
        g = np.repeat(np.arange(groups), per)
        day, tenant = g // spec.tenants, g % spec.tenants
    else:
        day = np.zeros(spec.rows, dtype=np.int64)
        tenant = rng.integers(0, spec.tenants, size=spec.rows)
    return Data(spec, day.astype(np.int32), tenant.astype(np.int32), item, names)


def entry_order(entry: tuple[str, int]) -> tuple[int, str]:
    """The sketch order: frequency DESC, item ASC."""
    return (-entry[1], entry[0])


def top_entries(counts: dict[str, int], n: int) -> list[tuple[str, int]]:
    return sorted(counts.items(), key=entry_order)[:n]


def exact_counts(data: Data) -> dict[tuple[int, int], dict[str, int]]:
    """Exact item counts per (day, tenant)."""
    spec = data.spec
    n = len(data.names)
    key = (data.day.astype(np.int64) * spec.tenants + data.tenant) * n + data.item
    uniq, cnt = np.unique(key, return_counts=True)
    group, item = np.divmod(uniq, n)
    out: dict[tuple[int, int], dict[str, int]] = {}
    for g, it, c in zip(group.tolist(), item.tolist(), cnt.tolist()):
        day, tenant = divmod(g, spec.tenants)
        out.setdefault((day, tenant), {})[data.names[it]] = c
    return out


class Replay:
    """Exact replay of the Tier-1 rollup: per-(day, tenant) pruned sketches
    and the interval, global and sliding-window queries over them."""

    def __init__(self, data: Data):
        self.spec = data.spec
        self.exact = exact_counts(data)
        self.pruned = {
            g: dict(top_entries(c, self.spec.counters)) for g, c in self.exact.items()
        }

    def _sum(self, groups, source) -> Counter:
        acc: Counter = Counter()
        for g in groups:
            acc.update(source.get(g, {}))
        return acc

    def topk(self, tenants, lo: int, hi: int, k: int) -> list[tuple[str, int]]:
        """Top k of the union of the pruned sketches of *tenants* over days
        lo..hi; the union's own prune keeps the same leading entries."""
        groups = [(d, t) for d in range(lo, hi + 1) for t in tenants]
        return top_entries(self._sum(groups, self.pruned), k)

    def exact_topk(self, tenants, lo: int, hi: int, k: int) -> list[tuple[str, int]]:
        """Top k of the unpruned counts, for recall."""
        groups = [(d, t) for d in range(lo, hi + 1) for t in tenants]
        return top_entries(self._sum(groups, self.exact), k)

    def window(self, tenant: int, lo: int, hi: int, k: int, frame: int):
        """Per day in lo..hi, the top k of the union over that day and the
        *frame* preceding days, reading only days from lo - frame on."""
        first = max(0, lo - frame)
        return {
            d: self.topk([tenant], max(first, d - frame), d, k) for d in range(lo, hi + 1)
        }


def tier2_exact(data: Data) -> dict[int, dict[str, int]]:
    """Exact item counts per tenant."""
    return {t: c for (_, t), c in exact_counts(data).items()}


def recall(got: list[tuple[str, int]], truth: list[tuple[str, int]]) -> float:
    want = {it for it, _ in truth}
    return len(want & {it for it, _ in got}) / len(want) if want else 1.0
