"""Distributed real-Parquet sink: the encode job writing genuine
``.parquet`` partition files through this engine's kernels, so the output
directory is directly readable by Spark, pyarrow, DuckDB, Trino — any
Parquet consumer — while keeping the manifest/commit/resume machinery.

Same dataflow as encode_job.py (scan -> salted repartition -> mapInArrow
-> atomic per-partition commit), different container: part-N.parquet via
compat.parquet_writer instead of the PGSF chunk file.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F

from ..compat.parquet_writer import write_parquet
from . import manifest as mf
from .session import freeze_task_heap

__all__ = ["encode_table_parquet"]


def encode_table_parquet(
    df: DataFrame,
    out_dir: str,
    key_col: str | None = None,
    partitions: int | None = None,
    compression: str = "none",
    encodings: dict[str, str] | None = None,
    salt: int = 0x5A17,
    resume: bool = True,
    page_index: bool = False,
    bloom_columns: list[str] | None = None,
    bloom_fpp: float = 0.01,
    max_row_group: int | None = None,
    kv_metadata: dict[str, str] | None = None,
    column_kv: dict[str, dict[str, str]] | None = None,
) -> DataFrame:
    """``page_index`` / ``bloom_columns`` / ``bloom_fpp`` /
    ``max_row_group`` / ``kv_metadata`` / ``column_kv`` pass straight
    through to :func:`compat.parquet_writer.write_parquet` per partition
    file, so the emitted table carries the spec pruning structures
    (PageIndex, BloomFilter, PageEncodingStats) any engine — including
    our own ``read_parquet_table`` — can prune on, plus the reference's
    file- and column-level key-value metadata (``WithMetaData``)."""
    spark = df.sparkSession
    cols = df.columns
    os.makedirs(out_dir, exist_ok=True)
    mf.write_table_schema(
        out_dir,
        [{"name": f.name, "ddl": f.dataType.simpleString()} for f in df.schema.fields],
    )
    partitions = partitions or max(spark.sparkContext.defaultParallelism * 2, 8)
    if key_col is not None:
        df = df.repartition(partitions, F.xxhash64(F.col(key_col), F.lit(salt)))
    else:
        df = df.repartition(partitions)

    def sink(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        freeze_task_heap()
        import zlib

        pid = TaskContext.get().partitionId()
        fpath = os.path.join(out_dir, f"part-{pid:05d}.parquet")
        if resume and os.path.exists(mf.part_manifest_path(out_dir, pid)) and os.path.exists(fpath):
            rows = mf.read_partition_manifest(out_dir, pid)
            for _ in batches:
                pass
            if rows:
                yield mf.manifest_batch(rows)
            return
        recs = list(batches)
        rows = []
        if recs:
            table = pa.Table.from_batches(recs)
            payload, metas = write_parquet(
                table,
                compression=compression,
                encodings=encodings,
                page_index=page_index,
                bloom_columns=bloom_columns,
                bloom_fpp=bloom_fpp,
                max_row_group=max_row_group,
                kv_metadata=kv_metadata,
                column_kv=column_kv,
                return_meta=True,
            )
            tmp = fpath + f".tmp.{os.getpid()}"
            with open(tmp, "wb") as f:
                f.write(payload)
            os.replace(tmp, fpath)
            crc = zlib.crc32(payload)
            for m in metas:
                rows.append(
                    {
                        "partition": pid,
                        "column": m["column"],
                        "ptype": m["ptype"],
                        "encoding": m["encoding"],
                        "compression": compression,
                        "num_rows": m["num_rows"],
                        "null_count": m["null_count"],
                        "distinct": -1,
                        "raw_bytes": m["raw_bytes"],
                        "encoded_bytes": m["encoded_bytes"],
                        "num_pages": -1,
                        "crc32": crc,
                        "min_str": None,
                        "max_str": None,
                        "file": fpath,
                        "offset": -1,
                        "length": m["encoded_bytes"],
                    }
                )
        mf.commit_partition(out_dir, pid, rows)
        if rows:
            yield mf.manifest_batch(rows)

    return df.mapInArrow(sink, schema=mf.MANIFEST_DDL)
