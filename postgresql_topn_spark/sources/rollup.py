"""Materialized rollup tables — the reference's core usage pattern
(README.md:73-116: ``popular_products(review_date date UNIQUE, agg_data
jsonb)``): pre-aggregate sketches per time bucket, persist them, answer
dashboard top-n by merging only the requested interval's rows.

Spark-first materialization: a parquet table **partitioned by the time
bucket**, sketch stored as JSON text (engine-portable, like the
reference's at-rest JSONB). Interval queries prune to the matching
partitions before any row is read — at 100 TB of history the read cost
is proportional to the interval, not the history.

Resolve once, like a catalog table: ``spark.read.parquet`` lists every
partition dir (a parallel listing job past Spark's discovery threshold
of 32 dirs) and reads a footer for the schema on EVERY call, which is
most of an interactive dashboard query's latency. The readers here keep
the resolved relation per (live session, path, partition grain) and
return it while the rollup's leaf-file set is unchanged. The check is
one Hadoop ``globStatus`` down to the partition depth per read,
compared with the kept leaf set on the JVM side: no Spark job, O(1)
py4j calls. Any append, overwrite, new partition or compaction swap
adds or removes a file name, so the next read resolves afresh. The
reused relation is the one every reader gets (alias the sides of a
self-join, as with a catalog table). Assumption: part files are
immutable — Spark's writers never rewrite a file under the same name,
and Spark's own file index assumes the same; a file rewritten in place
under its old name is NOT detected. No session conf is changed:
raising the discovery threshold would only make every listing serial,
for every read in the session, while a reused relation lists nothing
at all. At most ``_MAX_REUSED_ROLLUPS`` relations are kept, LRU,
since each holds its rollup's file index.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from postgresql_topn_spark.functions.aggregates import topn_add_agg, topn_union_agg
from postgresql_topn_spark.functions.sketch import sketch_to_json

# A reused relation holds its rollup's whole file index (large at 100 TB
# of history), so only the few most recently read rollups are kept.
_MAX_REUSED_ROLLUPS = 8


class _Resolved(NamedTuple):
    jsession: object  # the live JVM session the relation belongs to
    leaves: object  # JVM Path[] from _leaf_paths, read before loading
    df: DataFrame


_resolved: OrderedDict[tuple, _Resolved] = OrderedDict()
_resolved_lock = threading.Lock()


def _leaf_paths(spark: SparkSession, path: str, depth: int):
    """Every path under *path* down to *depth* partition levels plus the
    files below them (root-level files included), as a JVM ``Path[]``
    sorted by the glob; None when *path* does not exist. One
    ``globStatus``: O(1) py4j calls, and the array stays in the JVM
    (a py4j reply above ~8 KB stalls ~40 ms on TCP acknowledgements).
    Paths only: a ``FileStatus`` also carries the access time, which
    plain reads move."""
    jvm = spark._jvm
    levels = ",".join("/".join("*" * k) for k in range(1, depth + 2))
    pattern = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{{{levels}}}")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    found = fs.globStatus(pattern)
    return None if found is None else jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(found)


def _partition_depth(df: DataFrame) -> int:
    """Partition columns of the file relation under *df*."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.collectLeaves().head().relation().partitionSchema().length()


def _resolve_once(
    spark: SparkSession,
    path: str,
    partition_names: tuple[str, ...],
    load: Callable[[SparkSession, str, tuple[str, ...]], DataFrame],
) -> DataFrame:
    """``load(spark, path, partition_names)``, reused while the rollup's
    leaf paths equal those globbed when it was loaded. The glob runs
    BEFORE the load, so a write racing the load makes the kept leaves
    stale and the next read resolves again. A load that raises, a path
    that did not exist, or a layout deeper than *partition_names* (whose
    files the glob would not see) is never kept."""
    jsession = spark._jsparkSession
    key = (id(jsession), load, path, partition_names)
    leaves = _leaf_paths(spark, path, len(partition_names))
    with _resolved_lock:
        hit = _resolved.pop(key, None)
        if (
            hit is not None
            and hit.jsession is jsession
            and leaves is not None
            and spark._jvm.java.util.Objects.deepEquals(hit.leaves, leaves)
        ):
            _resolved[key] = hit
            return hit.df
    df = load(spark, path, partition_names)
    if leaves is not None and _partition_depth(df) == len(partition_names):
        with _resolved_lock:
            _resolved[key] = _Resolved(jsession, leaves, df)
            while len(_resolved) > _MAX_REUSED_ROLLUPS:
                _resolved.popitem(last=False)
    return df


def write_topn_rollup(
    df: DataFrame,
    path: str,
    bucket: Column | str,
    item: Column | str,
    *,
    bucket_name: str = "bucket",
    extra_group_cols: Sequence[Column | str] = (),
    counters: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Build per-bucket sketches and persist them partitioned by bucket.

    ``mode="append"`` adds new buckets incrementally (sketch deltas are
    associative — merging at read time makes appended same-bucket rows
    equivalent to one big aggregation, the reference's incremental
    rollup contract)."""
    b = bucket if isinstance(bucket, Column) else F.col(bucket)
    sk = topn_add_agg(
        df,
        [b.alias(bucket_name), *extra_group_cols],
        item,
        counters=counters,
    )
    sk.withColumn("topn", sketch_to_json(F.col("topn"))).write.mode(
        mode
    ).partitionBy(bucket_name).parquet(path)


def _load_topn_rollup(
    spark: SparkSession, path: str, partition_names: tuple[str, ...]
) -> DataFrame:
    (bucket_name,) = partition_names
    df = spark.read.parquet(path)
    if bucket_name not in df.columns:
        raise ValueError(
            f"rollup at {path} has no bucket column {bucket_name!r}; "
            f"found columns {df.columns}"
        )
    return df.withColumn("topn", F.from_json("topn", "map<string,bigint>"))


def read_topn_rollup(
    spark: SparkSession,
    path: str,
    *,
    bucket_name: str = "bucket",
) -> DataFrame:
    """Load a rollup table with the sketch column re-typed. Filters on
    the bucket column prune partitions (verify with .explain:
    PartitionFilters).

    ``bucket_name`` must match the name the rollup was written with —
    it is validated against the on-disk partition column so a mismatch
    fails here, at load, instead of as a missing-column error in the
    first downstream interval filter.

    The resolved relation is reused (module docstring): a read of an
    unchanged rollup costs one leaf-file glob and launches no Spark
    job, and any write that adds or removes a file resolves afresh.
    Two reads of an unchanged rollup therefore return the SAME
    relation, as two reads of a catalog table do in Spark; a self-join
    must alias its sides (``r.alias("a").join(r.alias("b"), ...)`` with
    ``"a.col"`` / ``"b.col"`` references)."""
    return _resolve_once(spark, path, (bucket_name,), _load_topn_rollup)


def query_topn_rollup(
    rollup: DataFrame,
    group_cols: Sequence[Column | str],
    *,
    counters: int | None = None,
) -> DataFrame:
    """Merge rollup rows per *group_cols* (e.g. month from daily buckets,
    or a constant for a grand total) — the read-side topn_union_agg."""
    return topn_union_agg(rollup, list(group_cols), "topn", counters=counters)


def write_sketch_rollup(
    df: DataFrame,
    path: str,
    partition_names: Sequence[str],
    *,
    mode: str = "overwrite",
) -> None:
    """Persist ANY mergeable-family rollup (KMV/CMS/Bloom array<bigint>
    rows, HLL/KLL binary rows, topn JSON rows) partitioned by its time/
    shard grain — the same layout contract as write_topn_rollup:
    appends add delta rows (each family's merge law makes them
    equivalent to one big build), interval reads prune partitions, and
    sources/maintenance-style compaction folds deltas back down."""
    if not partition_names:
        raise ValueError("partition_names must be non-empty")
    df.write.mode(mode).partitionBy(*list(partition_names)).parquet(path)


def _load_sketch_rollup(
    spark: SparkSession, path: str, partition_names: tuple[str, ...]
) -> DataFrame:
    df = spark.read.parquet(path)
    missing = [c for c in partition_names if c not in df.columns]
    if missing:
        raise ValueError(
            f"rollup at {path} lacks partition columns {missing}; "
            f"found {df.columns}"
        )
    return df


def read_sketch_rollup(
    spark: SparkSession,
    path: str,
    partition_names: Sequence[str],
) -> DataFrame:
    """Load a sketch rollup; validates the partition grain so a
    mismatch fails at load, not in the first downstream filter.
    Filters on the partition columns prune to the interval's files
    (PartitionFilters — asserted in tests/test_rollup.py).

    Reused like :func:`read_topn_rollup` (same relation while the leaf
    files under the ``len(partition_names)`` partition levels are
    unchanged; alias the sides of a self-join)."""
    return _resolve_once(spark, path, tuple(partition_names), _load_sketch_rollup)
