"""Column-statistics operator: the engine's stats collection (reference
O13, ``stats.go`` + ``chunk_writer.go:283-290``) exposed as a DataFrame
op. ``table_column_stats`` computes per-column (num_rows, null_count,
n_distinct) the way the manifest does at scale: every partition emits a
partial — additive counts plus a mergeable KMV distinct sketch
(``kernels/kmv.py``) — and one tiny groupBy(col_name) merges them.

No stage ever funnels the table through a single task: the partial pass
runs over the scan's natural partitioning (num_partitions tasks, each
touching only its own rows), the merge shuffles ONE ROW PER
(partition, column), and a two-level salted tree bounds every merge
task's fan-in — level 1 groups at most ``_MERGE_FANOUT`` partition
sketches (salt = pid // fanout), level 2 folds those group ids
through a mixing hash into ``fanout`` buckets so the final readout holds at most ``_MERGE_FANOUT``
sketches. Max fan-in anywhere is ``max(fanout, P / fanout^2)`` — at
P = 1M input partitions that is ~244 bounded sketch blobs in the
widest level-2 task, never the data. Distinct counts are exact iff the column's
distinct count is <= k (k = 2^18 distinct hashes — every sf0.01 oracle
table sits far below it, so `COUNT(DISTINCT c)` rows stay bit-exact)
and switch to the KMV estimator (~0.2% error) beyond. The boundary is
LAYOUT-INDEPENDENT: every merge level re-bounds its union at k, and a
KMV union's k smallest hashes are the same k smallest of the whole
stream no matter how rows were partitioned or how the tree groups
them, so the same data gives the same n_distinct at any parallelism.
That is the only sound distinct semantics across chunks: per-chunk
exact counts do not sum (``stats.go:9-225`` records them per chunk for
exactly that reason).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.columns import ColumnData, from_arrow
from ..kernels.kmv import (
    KMV_K_DEFAULT,
    hash_column_values,
    kmv_count,
    kmv_deserialize,
    kmv_from_hashes,
    kmv_merge,
    kmv_serialize,
)

__all__ = ["table_column_stats", "table_numeric_minmax", "table_stats_from_manifest"]

_PARTIAL_SCHEMA = "col_name string, num_rows long, null_count long, sketch binary"
# intermediate tree levels carry the next level's bucket id
_PARTIAL_SALT_SCHEMA = _PARTIAL_SCHEMA + ", salt long"
# max sketches any single merge task may hold (tree fan-in)
_MERGE_FANOUT = 64
_STATS_SCHEMA = "col_name string, num_rows long, null_count long, n_distinct long"
_MM_SCHEMA = "col_name string, min_v double, max_v double"
# has_vals keeps None (empty partition) distinguishable from NaN after
# the Spark->pandas hop, where both land as NaN in a float64 column
_MM_PARTIAL_SCHEMA = _MM_SCHEMA + ", has_vals boolean"


def _fold_salt(group_id) -> int:
    """Map a level-1 group id to a level-2 bucket in [0, fanout).

    Fibonacci-mix then take HIGH bits: group ids may share all their
    low bits (monotonically_increasing_id blocks are pid<<27-strided
    when partitions are small), so a plain ``% fanout`` would collapse
    every group into bucket 0 and rebuild the funnel the tree exists
    to prevent."""
    mixed = (int(group_id) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    return int((mixed >> 32) % _MERGE_FANOUT)


def _bounded_merge(blobs, k: int) -> tuple[np.ndarray, bool]:
    """Deserialize + union partial sketches, re-bounding the result at k
    hashes: an exact union past k degrades to a truncated sketch HERE,
    so (a) every merge task's state stays O(k) bytes regardless of
    fan-in, and (b) exactness is a property of the data (distinct <= k),
    never of the partition layout or tree shape. One helper for every
    combine/merge level (r5 review: the cap rule had two divergeable
    copies)."""
    states, flags = [], []
    for blob in blobs:
        s, t = kmv_deserialize(bytes(blob))
        states.append(s)
        flags.append(t)
    state, trunc = kmv_merge(states, flags, k)
    if len(state) > k:
        state, trunc = state[:k], True
    return state, trunc


def table_column_stats(
    df: DataFrame, columns: list[str] | None = None, k: int = KMV_K_DEFAULT
) -> DataFrame:
    cols = columns or df.columns

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # fold per Arrow batch: holding the whole partition (a concat of
        # every batch) defeats streaming and costs O(partition) memory;
        # the fold keeps O(k) per column, and re-bounding the KMV union
        # at k per batch is result-identical (the k smallest hashes of a
        # stream don't depend on how it was batched). mapInArrow, not
        # mapInPandas: the pandas hop boxes every string/binary value
        # into a Python object both ways — the kernels read the Arrow
        # buffers directly.
        acc: dict[str, list] = {
            name: [0, 0, np.empty(0, np.uint64), False] for name in cols
        }
        seen = False
        for b in batches:
            seen = True
            for name in cols:
                arr = b.column(b.schema.get_field_index(name))
                cd = from_arrow(arr)
                a = acc[name]
                a[0] += len(arr)
                nulls = arr.null_count
                # NaN-as-null (the op's documented semantics, pinned):
                # the pre-Arrow pandas hop used to fold NaN into null as
                # a side effect; mapInArrow keeps NaN a value, so fold
                # explicitly — counts and the distinct sketch both
                # exclude it
                if cd.ptype in ("float", "double") and cd.num_values:
                    nan = np.isnan(cd.values)
                    if nan.any():
                        nulls += int(nan.sum())
                        cd = ColumnData(
                            cd.ptype,
                            np.ones(int(len(cd.values) - nan.sum()), bool),
                            values=cd.values[~nan],
                            logical=cd.logical,
                        )
                a[1] += nulls
                if cd.num_values:
                    state, trunc = kmv_from_hashes(hash_column_values(cd), k)
                    merged, mt = kmv_merge([a[2], state], [a[3], trunc], k)
                    if len(merged) > k:
                        merged, mt = merged[:k], True
                    a[2], a[3] = merged, mt
        if not seen:
            return
        names = list(acc)
        yield pa.RecordBatch.from_pydict(
            {
                "col_name": pa.array(names, pa.string()),
                "num_rows": pa.array([acc[n][0] for n in names], pa.int64()),
                "null_count": pa.array([acc[n][1] for n in names], pa.int64()),
                "sketch": pa.array(
                    [kmv_serialize(acc[n][2], acc[n][3]) for n in names], pa.binary()
                ),
            }
        )

    def combine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        state, trunc = _bounded_merge(pdf["sketch"], k)
        return pd.DataFrame(
            [
                {
                    "col_name": key[0],
                    "num_rows": int(pdf["num_rows"].sum()),
                    "null_count": int(pdf["null_count"].sum()),
                    "sketch": kmv_serialize(state, trunc),
                    # fold this group's id into the next level's bucket
                    "salt": _fold_salt(key[1]),
                }
            ]
        )

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        state, trunc = _bounded_merge(pdf["sketch"], k)
        return pd.DataFrame(
            [
                {
                    "col_name": key[0],
                    "num_rows": int(pdf["num_rows"].sum()),
                    "null_count": int(pdf["null_count"].sum()),
                    "n_distinct": kmv_count(state, trunc, k),
                }
            ]
        )

    # Tree merge, UNCONDITIONAL and bounded at EVERY level: the final
    # per-column task must never hold one sketch per input partition
    # (P x up-to-2MiB exact sketches is an OOM at 100 TB), and neither
    # may any intermediate task — salt = pid % fanout would hand each
    # combine task P/fanout sketches, the same funnel one level down
    # (r5 review batch 8). Level 1 salts pid // fanout (<= fanout
    # consecutive partitions per group), level 2 folds those group ids
    # into fanout buckets (<= ceil(P/fanout^2) rows per group, mixed so
    # strided ids spread), the readout holds
    # <= fanout rows. On small inputs the extra exchanges move a
    # handful of sketch rows (~ms). Always-on keeps ONE plan shape at
    # every P — gating on df.rdd.getNumPartitions() cost a full
    # physical-planning pass per call and read the pre-AQE count
    # (r5 review finding).
    partial = df.mapInArrow(partials, schema=_PARTIAL_SCHEMA)
    level1 = (
        partial.withColumn(
            "salt", (F.spark_partition_id() / F.lit(_MERGE_FANOUT)).cast("long")
        )
        .groupBy("col_name", "salt")
        .applyInPandas(combine, schema=_PARTIAL_SALT_SCHEMA)
    )
    level2 = level1.groupBy("col_name", "salt").applyInPandas(
        combine, schema=_PARTIAL_SALT_SCHEMA
    )
    return level2.groupBy("col_name").applyInPandas(merge, schema=_STATS_SCHEMA)


def table_numeric_minmax(df: DataFrame, columns: list[str]) -> DataFrame:
    """Per-column min/max (as double) via the encoder's stat path —
    per-partition partial extremes merged by a one-row-per-partition
    groupBy. Semantics identical to the pre-r5 single-chunk path: the
    Arrow conversion maps NaN to null before the extreme scan, so NaN
    never participates (pinned in test_stats_distributed.py)."""

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # per-batch fold (same streaming + no-pandas-boxing rationale as
        # table_column_stats)
        acc: dict[str, list] = {name: [None, None] for name in columns}
        seen = False
        for b in batches:
            seen = True
            for name in columns:
                v = from_arrow(b.column(b.schema.get_field_index(name))).values
                if np.issubdtype(v.dtype, np.floating):
                    # NaN-as-null, explicit (see table_column_stats)
                    v = v[~np.isnan(v)]
                if len(v):
                    a = acc[name]
                    mn, mx = float(v.min()), float(v.max())
                    a[0] = mn if a[0] is None else min(a[0], mn)
                    a[1] = mx if a[1] is None else max(a[1], mx)
        if not seen:
            return
        names = list(acc)
        yield pa.RecordBatch.from_pydict(
            {
                "col_name": pa.array(names, pa.string()),
                "min_v": pa.array([acc[n][0] for n in names], pa.float64()),
                "max_v": pa.array([acc[n][1] for n in names], pa.float64()),
                "has_vals": pa.array(
                    [acc[n][0] is not None for n in names], pa.bool_()
                ),
            }
        )

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        has = pdf["has_vals"].to_numpy(dtype=bool)
        mn = pdf["min_v"].to_numpy(dtype=np.float64)[has]
        mx = pdf["max_v"].to_numpy(dtype=np.float64)[has]
        return pd.DataFrame(
            [
                {
                    "col_name": key[0],
                    "min_v": float(np.min(mn)) if len(mn) else None,
                    "max_v": float(np.max(mx)) if len(mx) else None,
                }
            ]
        )

    partial = df.mapInArrow(partials, schema=_MM_PARTIAL_SCHEMA)
    return partial.groupBy("col_name").applyInPandas(merge, schema=_MM_SCHEMA)


def table_stats_from_manifest(
    spark, out_dir: str, k: int = 1 << 14, columns: list[str] | None = None
) -> DataFrame:
    """Table-level column stats from manifests ALONE — zero data pages
    read. Counts sum across chunk rows; ``n_distinct`` merges the
    per-chunk KMV sketches written by ``encode_table(kmv_columns=...)``
    (NULL when any chunk of the column lacks a sketch: a partial union
    would silently under-count). At 100 TB the input here is one tiny
    row per (partition, column) — the stats job never touches data.
    ``columns`` restricts the answer (and the merge work) to a subset,
    the same contract as ``table_column_stats``'s ``columns``.

    Counts reflect the base data files; MOR delete sidecars are not
    subtracted (same contract as the manifest's own num_rows)."""
    from ..spark import manifest as mf

    man = mf.read_manifest(spark, out_dir).select(
        "column", "num_rows", "null_count", "kmv"
    )
    if columns is not None:
        man = man.where(F.col("column").isin(list(columns)))

    def combine(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # intermediate tree level (same fan-in bound as table_column_stats):
        # a NULL output sketch means either "no valued chunks in this
        # group" (the final level excludes it via the count sums) or "a
        # valued chunk lacked a sketch" (poisons the final to NULL) — the
        # two are distinguishable downstream by num_rows - null_count.
        has_vals = (pdf["num_rows"] - pdf["null_count"]) > 0
        blobs = pdf["kmv"][has_vals]
        if blobs.isna().any() or not len(blobs):
            sk = None
        else:
            sk = kmv_serialize(*_bounded_merge(blobs, k))
        return pd.DataFrame(
            [
                {
                    "column": key[0],
                    "num_rows": int(pdf["num_rows"].sum()),
                    "null_count": int(pdf["null_count"].sum()),
                    "kmv": sk,
                    "salt": _fold_salt(key[1]),
                }
            ]
        )

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # zero-row chunks carry no values, hence legitimately no sketch
        has_vals = (pdf["num_rows"] - pdf["null_count"]) > 0
        blobs = pdf["kmv"][has_vals]
        if blobs.isna().any():
            nd = None
        elif not len(blobs):
            nd = 0
        else:
            nd = kmv_count(*_bounded_merge(blobs, k), k)
        return pd.DataFrame(
            [
                {
                    "col_name": key[0],
                    "num_rows": int(pdf["num_rows"].sum()),
                    "null_count": int(pdf["null_count"].sum()),
                    "n_distinct": nd,
                }
            ]
        )

    # manifest row counts per column are unbounded at scale (one per
    # chunk), so the same two-level bounded tree as table_column_stats:
    # monotonically_increasing_id() // fanout groups <= fanout
    # consecutive chunk rows, the group ids fold into fanout mixed
    # buckets, the readout
    # holds <= fanout rows — no level's fan-in grows with chunk count
    # faster than chunks/fanout^2
    salt_schema = "column string, num_rows long, null_count long, kmv binary, salt long"
    level1 = (
        man.withColumn(
            "salt",
            (F.monotonically_increasing_id() / F.lit(_MERGE_FANOUT)).cast("long"),
        )
        .groupBy("column", "salt")
        .applyInPandas(combine, schema=salt_schema)
    )
    level2 = level1.groupBy("column", "salt").applyInPandas(combine, schema=salt_schema)
    return level2.groupBy("column").applyInPandas(merge, schema=_STATS_SCHEMA)
