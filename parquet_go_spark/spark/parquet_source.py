"""Distributed real-Parquet source: scan a directory of ``.parquet``
files written by ANY implementation (pyarrow, Spark, DuckDB, the
reference Go writer) through this engine's decode kernels.

This is the reference's read side (``file_reader.go`` NextRow /
``SeekToRowGroup``) re-expressed at cluster scale: the driver plans from
footers alone (two tail preads per file, no data pages — the analogue of
``ReadFileMetaData``, ``file_meta.go:14-74``), and each Spark task
decodes ONE ROW GROUP columnar through ``compat.parquet_reader``
(hybrid / dict / delta / BSS kernels, V1+V2 pages, 4 codecs) over an
mmap of the file — column projection means unselected chunks are never
decoded and their pages never fault in (reference ``skipChunk``,
``file_reader.go:112-130``).

Scale shape: the scan unit is a ROW GROUP, packed by compressed bytes
into contiguous tasks under Spark's own split size
(``decode_job.scan_units``) — no shuffle, no driver data movement. One
multi-gigabyte file fans out over its row groups instead of pinning a
single executor, and many small row groups share a task instead of
each paying one. Row-group pruning plugs in ahead of the scan via the
footers' Statistics (``plan_scan_tasks`` below), the same conservative
min/max contract as the engine's own manifest pruning.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..compat.bloom_filter import bloom_probe_file
from ..compat.dict_filter import dict_values_file
from ..compat.page_index import page_prune_ranges
from ..compat.parquet_reader import (
    PHYSICAL_TYPES,
    field_arrow_type,
    file_meta,
    file_meta_path,
    read_table_arrow,
    schema_tree,
)
from ..core import prune as pz
from ..core.columns import one_chunk
from .decode_job import arrow_type_of_ddl, scan_units

__all__ = ["read_parquet_table", "parquet_scan_schema", "file_prunes"]


def _ddl_of_arrow(t: pa.DataType) -> str:
    """Arrow type -> Spark DDL. Unsigned ints widen to the next signed
    Spark type (Spark has no unsigned integers)."""
    if pa.types.is_list(t):
        return f"array<{_ddl_of_arrow(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{_ddl_of_arrow(t.key_type)},{_ddl_of_arrow(t.item_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{_ddl_of_arrow(f.type)}" for f in t)
        return f"struct<{inner}>"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    simple = {
        "string": "string",
        "binary": "binary",
        "bool": "boolean",
        "int8": "tinyint",
        "int16": "smallint",
        "int32": "int",
        "int64": "bigint",
        "uint8": "smallint",
        "uint16": "int",
        "uint32": "bigint",
        "uint64": "decimal(20,0)",
        "float": "float",
        "double": "double",
        "date32[day]": "date",
    }
    key = str(t)
    if key not in simple:
        raise ValueError(f"unsupported parquet leaf type for Spark scan: {t}")
    return simple[key]


def parquet_scan_schema(path: str) -> list[tuple[str, pa.DataType, str]]:
    """(field, arrow type, spark DDL) per top-level field of one file's
    footer, in schema order — every shape (scalar, list, struct, map,
    mixed), planned without touching data pages."""
    tree = schema_tree(file_meta_path(path))
    out = []
    for node in tree["children"]:
        at = field_arrow_type(node)
        out.append((node["name"], at, _ddl_of_arrow(at)))
    return out


def _list_files(path: str) -> list[str]:
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    else:
        files = sorted(glob.glob(path)) if any(c in path for c in "*?[") else [path]
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    return files


def file_prunes(files: list[str], prune: list[tuple]) -> list[str]:
    """Footer-statistics file pruning: drop files whose every row group's
    column Statistics (thrift field 12 of ColumnMetaData) provably
    exclude some predicate. Conservative — missing stats keep the file.
    Footer preads run through a thread pool (IO-bound; order kept)."""

    def survives(f: str) -> bool:
        meta = file_meta_path(f)
        rgs = meta.get(4) or []
        return not rgs or not all(_rg_excluded(rg, prune, schema=meta.get(2)) for rg in rgs)

    return [f for f, ok in zip(files, pz.fan_out(survives, files)) if ok]


def _rg_excluded(
    rg: dict, prune: list[tuple], path: str | None = None, schema: list | None = None
) -> bool:
    """One row group provably excluded by some predicate: the footer
    Statistics of every predicate column first, read under its
    ``schema`` element (``core.prune.footer_zone``); then, given the file
    ``path``, each ==/IN probe tries the chunk's parquet BloomFilter
    (BloomFilter.md; probabilistic, no false negatives) and — when
    encoding_stats prove full dictionary encoding — the dictionary page
    itself (parquet-mr DictionaryFilter semantics: the dict IS the exact
    distinct set). One bounded pread per probe, never a data page."""
    preds = [
        (cc[3], leaf, pz.footer_zone(cc[3], leaf), op, v)
        for c, op, v in prune
        if (cc := pz.footer_chunk(rg, c)) is not None
        for leaf in (pz.footer_leaf(schema, c),)
    ]
    if any(pz.excludes(z, op, v) for _, _, z, op, v in preds):
        return True
    return path is not None and any(
        pz.point_excluded(
            z,
            op,
            v,
            None if pz.unordered_leaf(leaf) else PHYSICAL_TYPES.get(md[1]),
            lambda k: bloom_probe_file(path, md, k),
            lambda: dict_values_file(path, md),
        )
        for md, leaf, z, op, v in preds
    )


class ScanTasks(list):
    """``(path, row_group)`` list; ``nbytes[i]`` is task i's compressed
    row-group bytes, from the footer the planner read."""

    nbytes: list[int]


def plan_scan_tasks(files: list[str], prune: list[tuple] | None) -> ScanTasks:
    """(path, row_group) task list from footers alone: the scan unit is
    a ROW GROUP, not a file, so one multi-gigabyte file fans out across
    executors instead of pinning one task (reference
    ``SeekToRowGroup``, ``file_reader.go:144-155``, distributed).
    Row groups the predicates provably exclude (``_rg_excluded``: footer
    Statistics, then bloom and dictionary probes) are never planned.
    Files plan through a thread pool; results keep the files' order, so
    the task list stays deterministic."""

    def plan_file(f: str) -> list[tuple[str, int, int]]:
        meta = file_meta_path(f)
        return [
            (f, i, rg.get(6) or sum(cc.get(3, {}).get(7, 0) for cc in rg.get(1) or ()))
            for i, rg in enumerate(meta.get(4) or [])
            if not (prune and _rg_excluded(rg, prune, f, meta.get(2)))
        ]

    planned = [t for group in pz.fan_out(plan_file, files) for t in group]
    tasks = ScanTasks((f, i) for f, i, _ in planned)
    tasks.nbytes = [n for _, _, n in planned]
    return tasks


def read_row_group(path: str, rg: int, schema: list[tuple], prune: list[tuple] | None) -> pa.Table:
    """One planned row group of ``schema`` ((name, arrow type, ddl)
    triples) cast to its Spark types. With ``prune`` the file's own
    PageIndex (ColumnIndex/OffsetIndex) first narrows the row group to
    surviving PAGES — excluded pages' bytes never decompress or fault
    in; a file without an index is read whole."""
    cols = [n for n, _, _ in schema]
    buf = pa.memory_map(path).read_buffer()
    meta = file_meta(buf)
    ranges = page_prune_ranges(buf, meta, rg, prune) if prune else None
    tbl = read_table_arrow(buf, columns=cols, row_groups=[rg], row_ranges=ranges, meta=meta)
    arrays = [one_chunk(tbl.column(n)).cast(arrow_type_of_ddl(ddl)) for n, _, ddl in schema]
    return pa.table(dict(zip(cols, arrays)))


def read_parquet_table(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    prune: list[tuple] | None = None,
) -> DataFrame:
    """Read a directory/glob/file of real Parquet into a DataFrame via
    this engine's kernels — planned row groups packed by compressed
    bytes into as few tasks as Spark's split size asks for
    (``decode_job.scan_units``; no shuffle, rows in ``(file, row
    group)`` order), projection inside the task (unselected column
    chunks never decoded; the mmap-backed buffer never faults their
    pages in), optional footer-stats row-group pruning (``prune`` uses
    the same ``[(col, op, value)]`` contract as ``decode_table``;
    conservative, re-apply the exact filter)."""
    files = _list_files(path)
    schema = parquet_scan_schema(files[0])
    if columns is not None:
        known = {n for n, _, _ in schema}
        missing = [c for c in columns if c not in known]
        if missing:
            raise KeyError(f"columns not in parquet schema: {missing}")
        schema = sorted(
            (s for s in schema if s[0] in set(columns)),
            key=lambda s: columns.index(s[0]),
        )
    out_ddl = ", ".join(f"`{n}` {ddl}" for n, _, ddl in schema)
    tasks = plan_scan_tasks(files, prune)

    def scan(task: tuple[str, int]) -> Iterator[pa.RecordBatch]:
        yield from read_row_group(*task, schema, prune).to_batches(max_chunksize=1 << 16)

    return scan_units(spark, tasks, tasks.nbytes, scan, out_ddl)
