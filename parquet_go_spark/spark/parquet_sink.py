"""Distributed real-Parquet sink: genuine ``.parquet`` partition files
written by this engine's kernels, readable by Spark, pyarrow, DuckDB,
Trino — any Parquet consumer — with the manifest/commit/resume machinery.

``encode_table``'s write path (driver prep, salted repartition, the one
task body ``encode_job.write_task``, task-side commit at the id
``partitionId``) with ``container="parquet"``: ``part-N.parquet`` via
``compat.parquet_writer`` instead of the PGSF chunk file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..compat.parquet_writer import check_writable
from ..core import codecs
from .encode_job import manifest_job, prepare_write, reset_table

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
    file- and column-level key-value metadata (``WithMetaData``).
    ``encodings`` names Parquet encodings (``core.codecs.PARQUET_IDS``)
    and is checked on the driver before any file is written, as are the
    column types (no decimal or fixed-size binary columns)."""
    fields, arrow_schema = prepare_write(
        out_dir, df.schema, append=False, encodings=encodings, codec_ids=codecs.PARQUET_IDS
    )
    check_writable(arrow_schema)
    reset_table(out_dir, fields)
    partitions = partitions or max(df.sparkSession.sparkContext.defaultParallelism * 2, 8)
    if key_col is not None:
        df = df.repartition(partitions, F.xxhash64(F.col(key_col), F.lit(salt)))
    else:
        df = df.repartition(partitions)
    return manifest_job(
        df,
        out_dir,
        arrow_schema,
        resume=resume,
        container="parquet",
        compression=compression,
        encodings=encodings,
        page_index=page_index,
        bloom_columns=bloom_columns,
        bloom_fpp=bloom_fpp,
        max_row_group=max_row_group,
        kv_metadata=kv_metadata,
        column_kv=column_kv,
    )
