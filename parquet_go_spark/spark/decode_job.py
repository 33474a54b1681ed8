"""Distributed decode job: read partition files -> Arrow batches.

Every reader of an encoded table — ``decode_table``, the ``pgs`` batch
and stream readers, and the maintenance scans — shares one plan and one
decode: ``plan_scan`` resolves the read on the driver (committed
partitions, snapshot pin, prune, delete sidecars, column types) and
``decode_partition`` turns one partition file into one Arrow batch.
``scan_units`` runs every engine scan, this module's and
``parquet_source``'s, as byte-packed tasks with no exchange.

Column projection mirrors the reference's read-side SELECT
(``file_reader.go:112-130`` / ``skipChunk``): unselected chunks are seeked
past in the partition file and never decoded.
"""

from __future__ import annotations

import os
import zlib
from collections.abc import Iterator
from dataclasses import dataclass, replace

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

import numpy as np

from ..core import prune as pz
from ..core.chunk import chunk_page_index, decode_chunk
from ..core.columns import one_chunk, to_arrow
from . import manifest as mf
from .encode_job import parse_partition_file, partition_file_epoch
from .session import freeze_task_heap


def _read_chunk_dict(enc_dir: str, pid: int, col: str) -> set | None:
    """The chunk's complete dictionary, via one bounded read: the
    partition file is memory-mapped so the header walk and the dict
    payload fault in a few pages while every data page stays untouched
    (the parquet side's bounded-pread bloom/dict probes, same idea)."""
    from ..core.chunk import chunk_dict_values

    try:
        blob = parse_partition_file(open_partition(enc_dir, pid), {col}).get(col)
        return chunk_dict_values(blob) if blob is not None else None
    except (OSError, ValueError):
        return None  # unreadable/forged: no proof, no prune


def surviving_partitions(
    enc_dir: str, prune: list[tuple], within: "set[int] | None" = None
) -> list[int]:
    """Committed partition ids the predicates cannot exclude. Each
    partition's manifest rows become zones (``core.prune``); min/max
    runs first for every predicate, then each ``==``/``in`` probe tries
    the per-chunk bloom filter (probabilistic) and — when the manifest
    shows the column ``rle_dict``-encoded — the chunk's dictionary page
    itself (EXACT: every non-null value is a dict member, so a missed
    probe excludes with zero false positives; parquet-mr DictionaryFilter
    semantics on the native container). Conservative: a partition is
    dropped only on proof of absence. ``within`` restricts the candidate
    set (time travel)."""
    from ..kernels.bloom import bloom_might_contain, hash_scalar

    dict_cache: dict[tuple[int, str], set | None] = {}

    def _bloom(r: dict):
        bits = r.get("bloom")
        if bits is None:
            return None
        return lambda k: (h := hash_scalar(k, r["ptype"])) is None or bloom_might_contain(bits, h)

    def _dictionary(pid: int, r: dict):
        if r.get("encoding") != "rle_dict":
            return None
        key = (pid, r["column"])

        def read() -> set | None:
            # one bounded read per (partition, column); each pid touches
            # only its own keys, so planning threads never share one
            if key not in dict_cache:
                dict_cache[key] = _read_chunk_dict(enc_dir, pid, r["column"])
            return dict_cache[key]

        return read

    def _pid_survives(pid: int) -> bool:
        rows = {r["column"]: r for r in mf.read_partition_manifest(enc_dir, pid)}
        preds = [
            (r, pz.pgsc_zone(r, r["null_count"], r["num_rows"]), op, v)
            for c, op, v in prune
            if (r := rows.get(c)) is not None
        ]
        if any(pz.excludes(z, op, v) for _, z, op, v in preds):
            return False
        return not any(
            pz.point_excluded(z, op, v, r["ptype"], _bloom(r), _dictionary(pid, r))
            for r, z, op, v in preds
        )

    pids = mf.committed_partitions(enc_dir)
    if within is not None:
        pids &= within
    ordered = sorted(pids)
    return [p for p, ok in zip(ordered, pz.fan_out(_pid_survives, ordered)) if ok]


def _surviving_ranges(prune: list[tuple], blobs: dict) -> tuple[list[tuple] | None, int]:
    """(global row ranges the predicates cannot exclude, chunk row count)
    from the page stats of each predicate column (``chunk_page_index``);
    ranges is None when no predicate column carries page stats (full
    decode)."""
    total = 0

    def pages_of(col: str):
        nonlocal total
        blob = blobs.get(col)
        pidx = chunk_page_index(blob) if blob is not None else None
        if pidx is None:
            return None
        total = max(total, pidx[-1]["row_hi"] if pidx else 0)
        return [
            (p["row_lo"], p["row_hi"], pz.pgsc_zone(p, p["nulls"], p["row_hi"] - p["row_lo"]))
            for p in pidx
        ]

    return pz.page_ranges(prune, pages_of), total


def missing_column_rows(enc_dir: str, pid: int, missing: set[str]) -> int:
    """Validate that the ``missing`` selected columns were never written
    to partition ``pid`` (schema evolution: the column was added after
    this partition committed, or the appended batch omitted it) rather
    than lost (corruption: the manifest has the row but the chunk is
    gone), and return the partition's row count for null-filling."""
    rows = mf.read_partition_manifest(enc_dir, pid)
    lost = missing & {r["column"] for r in rows}
    if lost:
        raise ValueError(
            f"column(s) {sorted(lost)} present in the manifest but missing "
            f"from partition file part-{pid:05d}.bin (corrupt or truncated file)"
        )
    return rows[0]["num_rows"] if rows else 0


def decode_blobs_to_batch(
    blobs: dict,
    cols: list[str],
    nested_cols: set[str],
    logicals: dict[str, str],
    prune: list[tuple] | None,
    arrow_types: "dict | None" = None,
    fallback_rows: int | None = None,
    delete_pos: "np.ndarray | None" = None,
    eq_deletes: "list[tuple] | None" = None,
) -> "pa.RecordBatch | None":
    """Decode one partition's column blobs into a row-aligned Arrow
    batch, applying page-level pruning (``_surviving_ranges``) when the
    predicates and page stats allow it. None when every row is pruned
    or the partition is empty. Selected columns absent from ``blobs``
    (schema evolution) are filled with typed nulls (``arrow_types``);
    ``fallback_rows`` supplies the row count when NO selected column is
    present in the partition. ``delete_pos`` (sorted int64 row ordinals
    within the partition, merge-on-read sidecars) drops those rows from
    the decoded batch — positions are partition-global, so they compose
    with page-seek decode via the surviving row ranges. ``eq_deletes``
    ([(column, values), ...], equality sidecars scoped to this
    partition) drops rows whose column value is in the set; the key
    column rides along in the decode even when unselected (same
    mechanism as predicate columns) and is trimmed from the result."""
    cols_in = list(cols)
    if eq_deletes:
        cols = cols_in + [c for c, _ in eq_deletes if c not in cols_in]
        # dedupe, order-stable
        cols = list(dict.fromkeys(cols))
    row_sel = None
    if prune:
        ranges, total = _surviving_ranges(prune, blobs)
        if ranges is not None:
            if not ranges:
                return None  # every page of some predicate excluded
            if ranges != [(0, total)]:  # partial ⇒ page-seek decode
                row_sel = ranges
    decoded = {}
    n_rows = None
    for c in cols:
        if c not in blobs:
            continue
        logical = logicals[c]
        if row_sel is not None and c in nested_cols:
            # nested containers can't seek pages; decode fully and
            # row-align with an Arrow-level take
            idx = np.concatenate([np.arange(lo, hi, dtype=np.int64) for lo, hi in row_sel])
            decoded[c] = decode_chunk(blobs[c], logical=logical).take(pa.array(idx))
            n_rows = len(idx)
        else:
            decoded[c] = to_arrow(decode_chunk(blobs[c], logical=logical, row_sel=row_sel))
            n_rows = len(decoded[c])
    if n_rows is None:  # projection selected only evolved-away columns
        if row_sel is not None:
            n_rows = sum(hi - lo for lo, hi in row_sel)
        else:
            n_rows = fallback_rows or 0
    if not n_rows:
        return None
    arrays = []
    for c in cols:
        a = decoded.get(c)
        if a is None:
            if arrow_types is None or c not in arrow_types:
                raise ValueError(f"column {c!r} missing and no arrow type to null-fill")
            a = pa.nulls(n_rows, arrow_types[c])
        arrays.append(one_chunk(a))
    batch = pa.RecordBatch.from_arrays(arrays, names=list(cols))
    if delete_pos is not None and len(delete_pos):
        if row_sel is not None:
            row_ids = np.concatenate(
                [np.arange(lo, hi, dtype=np.int64) for lo, hi in row_sel]
            )
        else:
            row_ids = np.arange(n_rows, dtype=np.int64)
        # delete_pos is sorted: membership via searchsorted, no hash set
        idx = np.searchsorted(delete_pos, row_ids)
        idx[idx == len(delete_pos)] = 0
        keep = delete_pos[idx] != row_ids
        if not keep.all():
            batch = batch.filter(pa.array(keep))
        if not batch.num_rows:
            return None
    if eq_deletes:
        import pyarrow.compute as pc

        for col, values in eq_deletes:
            if col not in batch.schema.names:
                continue  # column never written here (evolution): no match
            c = batch.column(col)
            try:
                vset = pa.array(values, type=c.type)
            except (pa.ArrowInvalid, pa.ArrowTypeError):
                vset = pa.array(values).cast(c.type)
            m = pc.is_in(c, value_set=vset)
            if m.null_count:
                m = pc.fill_null(m, False)  # null key never matches
            keep = pc.invert(m)
            if not pc.all(keep).as_py():
                batch = batch.filter(keep)
            if not batch.num_rows:
                return None
        if cols != cols_in:
            batch = batch.select(cols_in)
    return batch

_DDL_LOGICAL = {
    "string": "string",
    "binary": "binary",
    "timestamp": "timestamp[us]",
    "bigint": "int64",
    "int": "int32",
    "smallint": "int16",
    "tinyint": "int8",
    "double": "double",
    "float": "float",
    "boolean": "bool",
    "date": "date32[day]",
}


_DDL_ARROW = {
    "string": pa.string(),
    "binary": pa.binary(),
    "timestamp": pa.timestamp("us"),
    "timestamp_ntz": pa.timestamp("us"),
    "bigint": pa.int64(),
    "int": pa.int32(),
    "smallint": pa.int16(),
    "tinyint": pa.int8(),
    "double": pa.float64(),
    "float": pa.float32(),
    "boolean": pa.bool_(),
    "date": pa.date32(),
}


def _split_top(s: str) -> list[str]:
    """Split on commas at angle-bracket depth 0 (DDL type lists)."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(s[start:i])
            start = i + 1
    out.append(s[start:])
    return out


def arrow_type_of_ddl(ddl: str) -> "pa.DataType":
    """Spark DDL type string -> pyarrow type, without a JVM (the pyspark
    DDL parser needs an active session, which Python DataSource workers
    don't have). Used to null-fill evolved columns."""
    ddl = ddl.strip()
    if ddl.startswith("array<") and ddl.endswith(">"):
        return pa.list_(arrow_type_of_ddl(ddl[6:-1]))
    if ddl.startswith("map<") and ddl.endswith(">"):
        k, v = _split_top(ddl[4:-1])
        return pa.map_(arrow_type_of_ddl(k), arrow_type_of_ddl(v))
    if ddl.startswith("struct<") and ddl.endswith(">"):
        fields = []
        for part in _split_top(ddl[7:-1]):
            name, ftype = part.split(":", 1)
            fields.append(pa.field(name.strip(), arrow_type_of_ddl(ftype)))
        return pa.struct(fields)
    if ddl.startswith("decimal(") and ddl.endswith(")"):
        p, s = ddl[len("decimal(") : -1].split(",")
        return pa.decimal128(int(p), int(s))
    if ddl not in _DDL_ARROW:
        raise ValueError(f"unsupported DDL type for null fill: {ddl!r}")
    return _DDL_ARROW[ddl]


def logical_of_ddl(ddl: str) -> str:
    """Spark DDL type string -> the engine's logical-type tag."""
    ddl = ddl.strip()
    if ddl.startswith("array<") and ddl.endswith(">"):
        return f"list<{logical_of_ddl(ddl[6:-1])}>"
    if ddl.startswith("map<") and ddl.endswith(">"):
        return ddl  # only the map< prefix matters; entries self-describe
    if ddl.startswith("struct<"):
        return "struct"  # PGSS container stores field names + logicals
    if ddl.startswith("decimal(") and ddl.endswith(")"):
        return "decimal128(" + ddl[len("decimal(") :]
    return _DDL_LOGICAL.get(ddl, "binary")


@dataclass
class ScanPlan:
    """What every task of one read of a PGSC table needs, resolved once
    on the driver by ``plan_scan``; ``decode_partition`` consumes it."""

    pids: list[int]  # partitions to read, ascending
    ddl: str  # Spark DDL of the output columns
    cols: list[str]  # output columns, in order
    want: set[str]  # chunks to parse: ``cols`` plus predicate columns
    nested: set[str]
    logicals: dict[str, str]
    arrow_types: dict  # for null-filling evolved columns
    prune: list[tuple] | None
    deletes: dict[int, list[str]]  # pid -> positional sidecar names
    eq_deletes: dict[int, list[tuple]]  # pid -> [(column, values), ...]
    pinned: bool  # the sidecar sets are a time-travel snapshot's pin
    validate_crc: bool

    def only(self, pid: int) -> "ScanPlan":
        """This plan narrowed to partition ``pid``'s share."""
        return replace(
            self,
            pids=[pid],
            deletes={pid: self.deletes[pid]} if pid in self.deletes else {},
            eq_deletes={pid: self.eq_deletes[pid]} if pid in self.eq_deletes else {},
        )


def plan_scan(
    enc_dir: str,
    columns: list[str] | None = None,
    prune: list[tuple] | None = None,
    as_of: "int | str | None" = None,
    pids: "set[int] | list[int] | None" = None,
    validate_crc: bool = False,
) -> ScanPlan:
    """Plan one read on the driver: the committed partitions (listed
    from the manifests, so a data file whose manifest never committed
    is never read), narrowed by the ``as_of`` snapshot pin, by ``pids``
    and by ``surviving_partitions``; per partition, the positional and
    equality delete sidecars to apply — the snapshot's pinned sets
    under time travel, else every sidecar on disk now, so all tasks
    apply one consistent set; and the column type maps. Equality-delete
    key columns ride along in the type maps even when unselected, like
    predicate columns in ``want``."""
    if as_of is not None and not isinstance(as_of, int):
        as_of = mf.seq_as_of_timestamp(enc_dir, as_of)
    ddls = {f["name"]: f["ddl"] for f in mf.read_table_schema(enc_dir)}
    cols = list(columns or ddls)
    keep = mf.committed_partitions(enc_dir)
    if as_of is not None:
        keep &= mf.snapshot_partitions(enc_dir, as_of)
    if pids is not None:
        keep &= set(pids)
    ordered = surviving_partitions(enc_dir, prune, within=keep) if prune else sorted(keep)
    if as_of is None:
        del_names, eq_names = mf.list_delete_files(enc_dir), mf.list_eq_delete_files(enc_dir)
    else:
        del_names, eq_names = mf.snapshot_sidecars(enc_dir, as_of)
    deletes: dict[int, list[str]] = {}
    for name in del_names:
        deletes.setdefault(int(name[len("del-") : len("del-") + 5]), []).append(name)
    eq = mf.eq_deletes_by_pid(enc_dir, eq_names) if eq_names else {}
    deletes = {p: deletes[p] for p in ordered if p in deletes}
    eq = {p: eq[p] for p in ordered if p in eq}
    eq_cols = {c for specs in eq.values() for c, _ in specs if c in ddls}
    typed = list(dict.fromkeys(cols + sorted(eq_cols)))
    arrow_types = {}
    for c in typed:
        try:
            arrow_types[c] = arrow_type_of_ddl(ddls[c])
        except ValueError:
            # only matters if this column actually needs a null fill;
            # decode_blobs_to_batch errors then, not here
            continue
    return ScanPlan(
        pids=ordered,
        ddl=", ".join(f"`{c}` {ddls[c]}" for c in cols),
        cols=cols,
        # predicate columns ride along so their page stats are readable
        # even when not selected (their pages are never decompressed)
        want=set(cols) | {p[0] for p in prune or ()},
        nested={c for c in typed if ddls[c].strip().startswith(("array<", "map<", "struct<"))},
        logicals={c: logical_of_ddl(ddls[c]) for c in typed},
        arrow_types=arrow_types,
        prune=prune or None,
        deletes=deletes,
        eq_deletes=eq,
        pinned=as_of is not None,
        validate_crc=validate_crc,
    )


def decode_partition(enc_dir: str, pid: int, payload, plan: ScanPlan) -> "pa.RecordBatch | None":
    """Decode partition ``pid``'s file bytes (``payload``: bytes, mmap or
    ``pa.Buffer``) under ``plan`` -> one Arrow batch, or None when no
    row survives. Positional sidecars are judged against the epoch of
    THESE bytes: sidecars from before an in-place rewrite are skipped
    with proof, never applied to compacted rows — except under time
    travel, where an older-epoch pinned sidecar means the version is
    gone, and that raises. Selected columns never written here (schema
    evolution) are null-filled; a manifest row without its chunk
    (corruption) raises."""
    eq = plan.eq_deletes.get(pid)
    want = plan.want | {c for c, _ in eq} if eq else plan.want
    blobs = parse_partition_file(payload, want)
    missing = set(plan.cols) - set(blobs)
    if not blobs and not missing:
        return None
    dels = plan.deletes.get(pid)
    dpos = (
        mf.delete_positions(
            enc_dir, pid, files=dels, file_epoch=partition_file_epoch(payload), pinned=plan.pinned
        )
        if dels
        else None
    )
    if plan.validate_crc:
        # every decoded chunk validates — including eq-delete key columns
        # that ride along beyond the selection: a bit-flipped key chunk
        # would delete the wrong rows, the exact class this flag catches
        name = f"part-{pid:05d}.bin"
        crc_of = {r["column"]: r["crc32"] for r in mf.read_partition_manifest(enc_dir, pid)}
        for c in sorted(want & set(blobs)):
            if c not in crc_of:
                raise ValueError(
                    f"manifest for {name} has no CRC row for column {c}: "
                    "cannot validate (truncated or partial manifest)"
                )
            got = zlib.crc32(blobs[c])
            if got != crc_of[c]:
                raise ValueError(
                    f"crc mismatch for column {c} in {name}: "
                    f"{got:#x} != manifest {crc_of[c]:#x}"
                )
    return decode_blobs_to_batch(
        blobs,
        plan.cols,
        plan.nested,
        plan.logicals,
        plan.prune,
        arrow_types=plan.arrow_types,
        fallback_rows=missing_column_rows(enc_dir, pid, missing) if missing else None,
        delete_pos=dpos,
        eq_deletes=eq,
    )


def partition_path(enc_dir: str, pid: int) -> str:
    return os.path.join(enc_dir, f"part-{pid:05d}.bin")


def open_partition(enc_dir: str, pid: int) -> "pa.Buffer":
    """Partition ``pid``'s file as a memory-mapped ``pa.Buffer``: it owns
    the mapping, so a zero-copy chunk view outlives the task's yield."""
    return pa.memory_map(partition_path(enc_dir, pid)).read_buffer()


def pack_scan_units(
    sizes: list[int], max_partition_bytes: int, open_cost: int, parallelism: int
) -> list[range]:
    """Contiguous index ranges of scan units under Spark's own rule
    (``FilePartition.maxSplitBytes``/``getFilePartitions``): split size
    ``min(maxPartitionBytes, max(openCost, sum(size + openCost) /
    parallelism))``; a group closes before the unit that would pass it."""
    per_slot = sum(size + open_cost for size in sizes) // parallelism
    split = min(max_partition_bytes, max(open_cost, per_slot))
    groups, lo, cur = [], 0, 0
    for i, size in enumerate(sizes):
        if i > lo and cur + size > split:
            groups.append(range(lo, i))
            lo, cur = i, 0
        cur += size + open_cost
    return groups + [range(lo, len(sizes))] if sizes else groups


def scan_units(spark: SparkSession, units: list, sizes: list[int], run, ddl: str) -> DataFrame:
    """``run(unit)`` -> the Arrow batches of every planned unit, the
    units packed by ``sizes`` under the session's ``spark.sql.files.*``
    settings (``pack_scan_units``), one ``mapInArrow`` task per group
    over ``spark.range``. Rows come back in plan order."""
    if not units:
        return spark.createDataFrame([], schema=ddl)
    js = spark._jsparkSession
    conf = js.sessionState().conf()
    min_parts = conf.filesMinPartitionNum()
    n = min_parts.get() if min_parts.isDefined() else js.leafNodeDefaultParallelism()
    bounds = pack_scan_units(sizes, conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes(), n)
    groups = [units[g.start : g.stop] for g in bounds]

    def task(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        freeze_task_heap()
        for b in batches:
            for g in b.column(0).to_pylist():
                for unit in groups[g]:
                    yield from run(unit)

    return spark.range(0, len(groups), 1, len(groups)).mapInArrow(task, ddl)


def scan_partitions(spark, enc_dir: str, pids: list[int], run, ddl: str) -> DataFrame:
    """``scan_units`` over partition ids, each weighing its file's bytes."""
    sizes = [os.path.getsize(partition_path(enc_dir, p)) for p in pids]
    return scan_units(spark, pids, sizes, run, ddl)


def decode_table(
    spark: SparkSession,
    enc_dir: str,
    columns: list[str] | None = None,
    validate_crc: bool = False,
    prune: list[tuple] | None = None,
    as_of: "int | str | None" = None,
    pids: set[int] | None = None,
) -> DataFrame:
    """Decode an encoded table directory back into a DataFrame:
    ``plan_scan`` on the driver, then ``decode_partition`` on each
    planned partition file, memory-mapped by the task that reads it
    (``scan_partitions``: partitions packed by file bytes into as few
    tasks as Spark's split size asks for, no shuffle).

    ``as_of`` time-travels: read only the partitions pinned by snapshot
    ``seq`` (``manifest.snapshot_partitions``) — the table exactly as it
    stood when that snapshot was committed, regardless of appends since.
    A non-int ``as_of`` (ISO-8601 string, datetime, or epoch seconds as
    float) resolves to the snapshot current at that instant first —
    Iceberg ``TIMESTAMP AS OF`` (``manifest.seq_as_of_timestamp``).

    ``pids`` restricts the read to an explicit partition-id subset
    (intersected with the ``as_of`` pin when both are given) — the
    planner hook ``read_changes`` uses for incremental snapshot-diff
    scans. Delete sidecars still apply per the ``as_of`` version.

    ``validate_crc=True`` checks each selected chunk's CRC32 against the
    partition manifest before decoding (reference ``WithCRC32Validation``,
    ``file_reader.go:134-139`` / ``chunk_reader.go:173-177``).

    ``prune`` = [(column, op, value), ...] with op in {"==", "<", "<=",
    ">", ">=", "in", "notnull"} (``core.prune.OPS``; "in" takes a tuple of
    values and survives when any value might be present; "notnull" drops
    all-null chunks/pages):
    partitions whose manifest min/max provably exclude the predicate are
    never read (the stats-pruning the reference writes stats for but
    never uses, ``README.md:47`` — here the manifest makes it real).
    Equality probes additionally consult the per-chunk bloom filter when
    the table was encoded with ``bloom_columns`` — the point-lookup path
    for keys whose min/max spans every partition (urls). When the table
    was encoded with ``page_stats=True``, surviving partitions are
    further narrowed to the PAGES the predicates cannot exclude: the
    predicate column's page index (header walk, no decompression) yields
    the surviving row ranges, every selected column seeks past
    non-overlapping pages, and decoded pages are trimmed to the exact
    ranges so columns stay row-aligned. Pruning is conservative (min/max
    bounds + no-false-negative blooms); the caller still applies the
    exact filter."""
    plan = plan_scan(enc_dir, columns, prune, as_of, pids, validate_crc)

    def decode(pid: int) -> Iterator[pa.RecordBatch]:
        batch = decode_partition(enc_dir, pid, open_partition(enc_dir, pid), plan)
        if batch is not None:
            yield batch

    return scan_partitions(spark, enc_dir, plan.pids, decode, plan.ddl)


def read_changes(
    spark: SparkSession,
    enc_dir: str,
    from_seq: int,
    to_seq: int | None = None,
    columns: list[str] | None = None,
    prune: list[tuple] | None = None,
) -> DataFrame:
    """Incremental snapshot-diff read (Iceberg incremental append scan):
    the rows in partitions committed AFTER snapshot ``from_seq`` and AT
    OR BEFORE ``to_seq`` (default: the latest snapshot), as visible at
    ``to_seq`` — i.e. ``to_seq``'s positional/equality delete sidecars
    apply, so a row appended and then MOR-deleted inside the window is
    not reported. This is the batch complement of the ``pgs`` streaming
    source (which tails committed partitions): a downstream consumer
    polls ``read_changes(last_seen, latest)`` instead of rescanning.

    Append-only semantics: only ADDED rows are reported. Rows removed
    between the versions by in-place rewrites (COW delete / merge /
    rollback) tombstone the snapshots whose partitions they rewrote, so
    ``from_seq``/``to_seq`` raise 'invalidated' instead of silently
    misrepresenting the diff — the same contract as ``as_of``. One
    driver-side metadata op plans the scan; each fresh partition is one
    task (no data read outside the diff)."""
    snaps = mf.read_snapshots(enc_dir)
    if to_seq is None:
        if not snaps:
            raise ValueError(f"no snapshots at {enc_dir}: nothing to diff")
        to_seq = snaps[-1]["seq"]
    if from_seq > to_seq:
        raise ValueError(f"from_seq={from_seq} is after to_seq={to_seq}")
    new_pids = mf.snapshot_partitions(enc_dir, to_seq) - mf.snapshot_partitions(enc_dir, from_seq)
    return decode_table(
        spark, enc_dir, columns=columns, prune=prune, as_of=to_seq, pids=new_pids
    )
