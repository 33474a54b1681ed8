"""Distributed encode job: the engine's write path.

Dataflow (SURVEY.md §2.3): scan -> salted repartition on the key hash
(defuses domain skew; explicit per the north star) -> ``mapInArrow``
encode (vectorized kernels over Arrow batches, zero per-row Python) ->
one partition file per task -> manifest rows as the job output.

Every writer runs ``prepare_write`` on the driver, then the one task
body ``write_task``, then one of two commit modes: task-side at the
deterministic id ``pid_base + partitionId`` (``encode_table``,
``parquet_sink.encode_table_parquet``; resume replays committed ids), or
staged for a driver commit under a claimed id range (the
``format("pgs")`` writers, ``datasource._PGSStagedWriter``).

Partition file layout:
  magic "PGSF" | uvarint n_chunks
  | per chunk: uvarint name_len | name | uvarint blob_len | chunk blob
The per-chunk blob is the container from core/chunk.py. Column projection
on read seeks past unselected chunks without decoding (reference O7,
``chunk_reader.go:271-297``).
"""

from __future__ import annotations

import glob
import os
import zlib
from collections.abc import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F

from ..compat.parquet_writer import write_parquet
from ..core.chunk import ENCODINGS, encode_chunk
from ..core.columns import ColumnData, from_arrow
from ..kernels.varint import read_uvarint, uvarint
from . import manifest as mf
from .session import freeze_task_heap

FILE_MAGIC = b"PGSF"

# Reserved first entry carrying the partition file's rewrite EPOCH — the
# coordinate-system version positional-delete sidecars are stamped
# against. It lives INSIDE the data file so it changes atomically with
# the data bytes (one os.replace): a reader holding the file bytes can
# always tell which sidecars apply, with no window where a separately
# committed metadata file could disagree. Epoch 0 (a never-rewritten
# partition) writes no entry, keeping fresh files byte-stable.
EPOCH_KEY = "__pgs_epoch__"


def _write_atomic(path: str, parts) -> None:
    """Write the byte strings ``parts`` to ``path`` via tmp + os.replace."""
    tmp = path + f".tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        for part in parts:
            f.write(part)
    os.replace(tmp, path)


def write_partition_file(path: str, named_blobs: list[tuple[str, bytes]], epoch: int = 0):
    entries = list(named_blobs)
    if epoch:
        entries = [(EPOCH_KEY, bytes(uvarint(int(epoch))))] + entries

    def parts():
        yield FILE_MAGIC
        yield uvarint(len(entries))
        for name, blob in entries:
            nb = name.encode()
            yield from (uvarint(len(nb)), nb, uvarint(len(blob)), blob)

    _write_atomic(path, parts())


def parse_partition_file(buf, columns: set[str] | None = None) -> dict[str, memoryview]:
    """-> {column: chunk blob}; unselected chunks are seeked past.
    Reserved ``__pgs_*`` entries (the rewrite epoch) never surface as
    columns."""
    # cast to unsigned: pa.Buffer exposes format 'b' (SIGNED char), so
    # mv[pos] would return negative ints for bytes >= 0x80 and silently
    # break every varint/byte compare downstream; bytes/mmap are 'B'
    # already and the cast is a no-op view either way
    mv = memoryview(buf).cast("B")
    if bytes(mv[:4]) != FILE_MAGIC:
        raise ValueError("bad partition file magic")
    pos = 4
    n, pos = read_uvarint(mv, pos)
    out = {}
    for _ in range(n):
        nl, pos = read_uvarint(mv, pos)
        name = bytes(mv[pos : pos + nl]).decode()
        pos += nl
        bl, pos = read_uvarint(mv, pos)
        if (columns is None or name in columns) and not name.startswith("__pgs_"):
            out[name] = mv[pos : pos + bl]
        pos += bl
    return out


def partition_file_epoch(buf) -> int:
    """Rewrite epoch of a partition file's bytes (0 = never rewritten).
    Reads only the header + first entry name — O(few bytes)."""
    mv = memoryview(buf).cast("B")  # pa.Buffer views are SIGNED 'b'
    if len(mv) < 5 or bytes(mv[:4]) != FILE_MAGIC:
        return 0
    pos = 4
    n, pos = read_uvarint(mv, pos)
    if n == 0:
        return 0
    nl, pos = read_uvarint(mv, pos)
    name = bytes(mv[pos : pos + nl])
    pos += nl
    if name != EPOCH_KEY.encode():
        return 0
    bl, pos = read_uvarint(mv, pos)
    epoch, _ = read_uvarint(mv, pos)
    return int(epoch)


def partition_file_epoch_path(path: str) -> int:
    """``partition_file_epoch`` from a path — reads the first 64 bytes
    only (the reserved entry, when present, is always first)."""
    try:
        with open(path, "rb") as f:
            head = f.read(64)
    except OSError:
        return 0
    return partition_file_epoch(head)


def encode_columns_to_partition(
    table: pa.Table,
    cols: list[str],
    out_dir: str,
    pid: int,
    *,
    profile: str = "auto",
    compression: str = "none",
    page_crc: bool = False,
    page_stats: bool = False,
    max_page: int | None = None,
    encodings: dict[str, str] | None = None,
    bloom_columns: list[str] | None = None,
    bloom_bits: int = 16,
    bloom_cap: int = 1 << 17,
    kmv_columns: list[str] | None = None,
    kmv_k: int = 1 << 14,
    epoch: int = 0,
    stage_name: str | None = None,
) -> list[dict]:
    """Encode one partition's Arrow table into ``part-<pid>.bin`` +
    atomic manifest commit -> the manifest rows, one per column. The
    PGSF leg of ``write_task``; in-place REWRITES (delete
    materialization, COW deletes) call it directly with ``epoch`` = old
    epoch + 1, so positional sidecars stamped against the old row
    ordinals are provably stale the instant the new data file lands.
    ``stage_name``: write the file under this name and commit no
    manifest (unreadable until the driver's staged commit claims it)."""
    fpath = os.path.join(out_dir, stage_name or f"part-{pid:05d}.bin")
    # the __pgs_ prefix is reserved for in-file metadata entries (the
    # rewrite epoch): readers silently skip such names, and one landing
    # FIRST would even be parsed as the epoch — reject at write time
    # instead of writing a column no reader will ever serve
    bad = [c for c in cols if c.startswith("__pgs_")]
    if bad:
        raise ValueError(
            f"column names {bad} use the reserved '__pgs_' prefix "
            "(in-file metadata namespace); rename them before encoding"
        )
    named_blobs: list[tuple[str, bytes]] = []
    rows: list[dict] = []
    for name in cols:
        col = from_arrow(table.column(name))
        kw = {} if max_page is None else {"max_page": max_page}
        blob, meta = encode_chunk(
            col,
            profile=profile,
            compression=compression,
            page_crc=page_crc,
            page_stats=page_stats,
            encoding=(encodings or {}).get(name),
            **kw,
        )
        named_blobs.append((name, blob))
        bloom = None
        if bloom_columns and name in bloom_columns:
            from ..kernels.bloom import bloom_build, hash_column

            hashes = hash_column(col)
            if hashes is not None:
                d = meta.as_dict()["distinct"]
                ndv = d if d and d > 0 else len(hashes)
                bloom = bloom_build(hashes, ndv, bloom_bits, bloom_cap)
        kmv = None
        if (
            kmv_columns
            and name in kmv_columns
            and isinstance(col, ColumnData)  # flat leaves only
            and col.num_values
        ):
            # mergeable distinct sketch per chunk (stats.go:9-225
            # records exact per-chunk distinct, which cannot sum
            # across chunks; the KMV union can — ops/stats.py
            # table_stats_from_manifest answers table-level distinct
            # from manifests alone, no data scan)
            from ..kernels.kmv import hash_column_values, kmv_from_hashes, kmv_serialize

            kmv = kmv_serialize(*kmv_from_hashes(hash_column_values(col), kmv_k))
        rows.append(
            {
                "partition": pid,
                "column": name,
                **meta.as_dict(),
                "bloom": bloom,
                "kmv": kmv,
                "file": fpath,
                "offset": -1,
                "length": len(blob),
            }
        )
    write_partition_file(fpath, named_blobs, epoch=epoch)
    if stage_name is None:
        mf.commit_partition(out_dir, pid, rows)
    return rows


def write_task(
    batches: Iterator[pa.RecordBatch],
    out_dir: str,
    cols: list[str],
    arrow_schema: pa.Schema,
    *,
    pid_base: int = 0,
    stage_name: str | None = None,
    resume: bool = False,
    container: str = "pgsf",
    **opts,
) -> list[dict]:
    """The one task body of every writer -> the partition's manifest rows.

    Freezes the task heap; at id ``pid_base + partitionId`` a ``resume``
    replays a partition whose manifest and file both exist. Otherwise
    the partition (an empty one as ``arrow_schema``'s zero-row table) is
    encoded to ``container`` — ``"pgsf"`` or ``"parquet"``, ``opts``
    being their options — and written atomically, then its manifest
    commits at the id, or the file stays staged as ``stage_name``."""
    freeze_task_heap()
    pid = -1 if stage_name else pid_base + TaskContext.get().partitionId()
    ext = "parquet" if container == "parquet" else "bin"
    fpath = os.path.join(out_dir, stage_name or f"part-{pid:05d}.{ext}")
    committed = stage_name is None and os.path.exists(mf.part_manifest_path(out_dir, pid))
    if resume and committed and os.path.exists(fpath):
        for _ in batches:  # drain
            pass
        return mf.read_partition_manifest(out_dir, pid)
    recs = list(batches)
    table = pa.Table.from_batches(recs) if recs else arrow_schema.empty_table()
    del recs
    if container == "pgsf":
        return encode_columns_to_partition(table, cols, out_dir, pid, stage_name=stage_name, **opts)
    payload, metas = write_parquet(table, return_meta=True, **opts)
    _write_atomic(fpath, [payload])
    keep = ("column", "ptype", "encoding", "num_rows", "null_count", "raw_bytes", "encoded_bytes")
    shared = {
        "partition": pid,
        "compression": opts.get("compression", "none"),
        "distinct": -1,
        "num_pages": -1,
        "crc32": zlib.crc32(payload),
        "file": fpath,
        "offset": -1,
    }
    rows = [{**{k: m[k] for k in keep}, **shared, "length": m["encoded_bytes"]} for m in metas]
    if stage_name is None:
        mf.commit_partition(out_dir, pid, rows)
    return rows


def prepare_write(
    out_dir: str,
    schema,
    *,
    append: bool,
    evolve_schema: bool = False,
    create: bool = False,
    encodings: dict[str, str] | None = None,
    codec_ids=ENCODINGS,
) -> tuple[list[dict], pa.Schema]:
    """Every writer's driver prep, before any task runs or table file
    changes -> (table fields, the batch's Arrow schema). ``encodings``
    must name columns and ``codec_ids`` codecs; an append must match the
    table schema or, with ``evolve_schema``, merge into it, and raises on
    a missing table unless ``create``. A non-append write leaves the
    table to ``reset_table``, which a ``format("pgs")`` overwrite defers
    to its driver commit."""
    from pyspark.sql.pandas.types import to_arrow_schema

    fields = [{"name": f.name, "ddl": f.dataType.simpleString()} for f in schema.fields]
    if encodings:
        unknown = set(encodings) - {f["name"] for f in fields}
        bad = {e for e in encodings.values() if e not in codec_ids}
        if unknown or bad:
            raise ValueError(f"encodings: unknown columns {unknown or '{}'} / codecs {bad or '{}'}")
    os.makedirs(out_dir, exist_ok=True)
    if append and os.path.exists(os.path.join(out_dir, "_schema.json")):
        existing = mf.read_table_schema(out_dir)
        if evolve_schema:
            merged = mf.evolve_table_schema(existing, fields)
            if merged != existing:
                mf.write_table_schema(out_dir, merged)
        elif existing != fields:
            raise ValueError(
                f"append schema mismatch at {out_dir}: table has {existing}, appending "
                f'{fields} (evolve_schema=True / .option("evolve_schema", "true") adds columns)'
            )
    elif append and create:
        mf.write_table_schema(out_dir, fields)
    elif append:
        raise ValueError(f"append=True but {out_dir} has no table schema to append to")
    return fields, to_arrow_schema(schema)


def reset_table(out_dir: str, fields: list[dict], *, truncate: bool = False) -> None:
    """Start a fresh table with schema ``fields``: drop the old table's
    delete sidecars and append claims (its row ordinals and id space).
    ``truncate`` (overwrite) also drops its data files, manifests and
    snapshots, so ``as_of`` can never read new data under old ids;
    without it the manifests stay for ``encode_table``'s resume."""
    patterns = [
        os.path.join(mf.deletes_dir(out_dir), "*.parquet"),
        os.path.join(mf.claims_dir(out_dir), "claim-*.json"),
    ]
    if truncate:
        patterns += [
            os.path.join(out_dir, "part-*.bin"),
            os.path.join(mf.manifest_dir(out_dir), "part-*.parquet"),
            os.path.join(mf.snapshot_dir(out_dir), "snap-*.json"),
        ]
    for p in [p for pattern in patterns for p in glob.glob(pattern)]:
        os.remove(p)
    mf.write_table_schema(out_dir, fields)


def manifest_job(df: DataFrame, out_dir: str, arrow_schema: pa.Schema, **task_kw) -> DataFrame:
    """``write_task`` over every partition of ``df``, committing at
    deterministic ids -> the lazy manifest DataFrame."""
    cols = df.columns

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rows = write_task(batches, out_dir, cols, arrow_schema, **task_kw)
        if rows:
            yield mf.manifest_batch(rows)

    # mapInArrow, not mapInPandas: pandas conversion would box every
    # string/binary value into a Python object; Arrow batches feed the
    # numpy kernels zero-copy
    return df.mapInArrow(run, schema=mf.MANIFEST_DDL)


def _zorder_expr(df: DataFrame, keys: list[str]):
    """Bit-interleaved z-value over the key columns (Morton order), each
    scaled equi-width to ``[0, 2^bits)`` from one min/max pass (an eager
    aggregate — the only extra scan the layout costs). Equi-width rather
    than quantile scaling is enough here: the subsequent
    ``repartitionByRange`` samples the z-value distribution, so domain
    skew moves partition boundaries, not task sizes."""
    from pyspark.sql import types as T

    n = len(keys)
    bits = min(16, 60 // n)
    exprs = []
    for k in keys:
        dt = df.schema[k].dataType
        if not isinstance(
            dt,
            (T.NumericType, T.TimestampType, T.TimestampNTZType, T.DateType),
        ):
            raise ValueError(
                f"layout='zorder' key {k!r} must be numeric/timestamp/date, "
                f"got {dt.simpleString()}"
            )
        e = F.col(k)
        if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            # temporal types don't cast to double directly (Spark 4);
            # normalize to epoch seconds via TIMESTAMP -> LONG
            e = e.cast("timestamp").cast("long")
        exprs.append(e.cast("double"))
    # NaN-proof extremes: NaN sorts greatest in Spark, so a single NaN
    # key value would make max() (hence span) NaN and floor(NaN)=0 would
    # silently collapse the whole dimension to one z-slab — mask NaN out
    # of the extremes and let the NaN rows clamp into the top bucket
    def _finite(e):
        return F.when(~F.isnan(e), e)

    row = df.agg(
        *[F.min(_finite(e)).alias(f"mn{i}") for i, e in enumerate(exprs)],
        *[F.max(_finite(e)).alias(f"mx{i}") for i, e in enumerate(exprs)],
    ).first()
    z = F.lit(0).cast("long")
    for i, e in enumerate(exprs):
        mn, mx = row[f"mn{i}"], row[f"mx{i}"]
        if mn is None or mn != mn or mx != mx:
            continue  # all-null/all-NaN key contributes nothing
        span = float(mx) - float(mn) or 1.0
        s = F.floor((e - F.lit(float(mn))) / F.lit(span) * F.lit(float(1 << bits)))
        s = F.least(F.greatest(s, F.lit(0)), F.lit((1 << bits) - 1))
        s = F.coalesce(s, F.lit(0)).cast("long")  # nulls cluster at z start
        for b in range(bits):
            z = z + F.shiftleft(F.shiftright(s, b).bitwiseAND(F.lit(1)), b * n + i)
    return z


def encode_table(
    df: DataFrame,
    out_dir: str,
    key_col: str | list[str] | None = None,
    columns: list[str] | None = None,
    profile: str = "auto",
    compression: str = "none",
    partitions: int | None = None,
    salt: int = 0x5A17,
    layout: str = "hash",
    resume: bool = True,
    append: bool = False,
    job_id: str | None = None,
    evolve_schema: bool = False,
    sort_within: str | list[str] | None = None,
    page_crc: bool = False,
    page_stats: bool = False,
    max_page: int | None = None,
    encodings: dict[str, str] | None = None,
    bloom_columns: list[str] | None = None,
    bloom_bits: int = 16,
    bloom_cap: int = 1 << 17,
    kmv_columns: list[str] | None = None,
    kmv_k: int = 1 << 14,
    message_schema: str | None = None,
) -> DataFrame:
    """Encode ``df`` into ``out_dir``; returns the manifest DataFrame.

    ``message_schema`` accepts a textual Parquet ``message {}`` schema
    definition (the reference's schema language,
    ``parquetschema/schema_parser.go``): the DataFrame is projected and
    cast to exactly the declared columns/types before encoding, so a
    ``.schema`` file written for the reference drives this engine
    unchanged.

    ``layout`` chooses the partitioning strategy for ``key_col``:
    ``"hash"`` (default) salted-hash repartitions for uniform task sizes
    under domain skew — the write-optimized layout; ``"range"``
    range-partitions (sampled, skew-safe) and sorts within, giving each
    partition a disjoint key interval — the scan-optimized layout where
    manifest min/max alone excludes every partition outside a range
    predicate; ``"zorder"`` (``key_col`` = list of 2+ numeric/timestamp
    columns) clusters on the bit-interleaved z-value so partitions and
    pages hold small hyper-rectangles of the key space — min/max stats
    then prune on ANY key column, where ``"range"`` only serves its one
    leading key (Delta OPTIMIZE ZORDER analogue).

    ``encodings`` pins specific columns to a codec (the reference's
    per-column configured encoding, ``schema.go:519-558``); unlisted
    columns stay on the ``profile`` path.

    ``append=True`` adds new partitions to an EXISTING table (schemas
    must match exactly): partition ids start one past the latest
    snapshot's range (``manifest.next_partition_base``), so each
    ``commit_snapshot`` afterwards pins a readable table version for
    ``decode_table(as_of=seq)`` and ``maintenance.rollback_table``.
    With ``evolve_schema=True`` the batch may ADD columns or OMIT
    existing ones (decoded as nulls where absent); shared columns keep
    their type (``manifest.evolve_table_schema``).

    ``bloom_columns`` builds a split-block bloom filter per (partition,
    column) into the manifest (``kernels/bloom.py``) so equality probes
    (``decode_table(prune=[(col, "==", v)])``) can skip partitions that
    min/max can't exclude — the point-lookup path for high-cardinality
    keys like ``url``, where every partition spans the whole lex range.
    ``bloom_bits`` is bits per distinct value (16 ≈ 0.1% FPP);
    ``bloom_cap`` bounds the serialized filter bytes per chunk.

    ``page_stats`` writes prune-safe min/max bounds into every page
    header (flags bit3, the Parquet ColumnIndex analogue) so range/point
    predicates on ``decode_table(prune=...)`` skip pages, not just
    partitions — pair it with ``sort_within`` on the predicate column so
    page bounds are tight. Nested (array/map/struct) columns carry no
    page stats.

    The returned DataFrame is the job: nothing runs until it is acted on
    (``.count()`` / ``.write`` / ``collect``).
    """
    if layout not in ("hash", "range", "zorder"):
        raise ValueError(f"layout must be 'hash', 'range', or 'zorder', got {layout!r}")
    if job_id is not None and not append:
        raise ValueError("job_id is only meaningful with append=True")
    if message_schema is not None:
        from ..schematext import parse_message

        target = parse_message(message_schema).to_spark()
        missing = [f.name for f in target.fields if f.name not in df.columns]
        if missing:
            raise ValueError(f"message_schema declares columns absent from df: {missing}")
        df = df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.fields]
        )
    df = df.select(*(columns or df.columns))
    fields, arrow_schema = prepare_write(
        out_dir, df.schema, append=append, evolve_schema=evolve_schema, encodings=encodings
    )
    pid_base = 0
    if not append:
        reset_table(out_dir, fields)
    elif job_id is None:
        # the base comes from the latest snapshot (not the committed
        # set), so a crashed append resumes at the same base and replays
        # its committed partitions; a job_id instead claims its range
        # below, once the partition count is known
        pid_base = mf.next_partition_base(out_dir)
    sc_parallelism = df.sparkSession.sparkContext.defaultParallelism
    if layout == "zorder":
        # multi-dimensional clustering (Delta OPTIMIZE ZORDER analogue):
        # interleave the bits of each key column scaled to a fixed-width
        # integer, range-partition + sort on the z-value — partitions and
        # pages then hold small hyper-rectangles of the key space, so
        # min/max stats prune on ANY of the key columns, not just the
        # leading one (which is all a plain range layout can offer).
        keys = [key_col] if isinstance(key_col, str) else list(key_col or [])
        if len(keys) < 2:
            raise ValueError("layout='zorder' needs key_col=[two or more columns]")
        partitions = partitions or max(sc_parallelism * 2, 8)
        z = _zorder_expr(df, keys)
        df = (
            df.withColumn("__pgs_z", z)
            .repartitionByRange(partitions, F.col("__pgs_z"))
            .sortWithinPartitions("__pgs_z")
            .drop("__pgs_z")
        )
        # layout handled: neutralize both fallback branches below (a
        # plain .repartition here would shuffle the clustering away)
        key_col = None
        partitions = None
    if key_col is not None:
        partitions = partitions or max(sc_parallelism * 2, 8)
        if layout == "range":
            # scan-optimized layout: range-partition on the key (Spark
            # samples the distribution, so skewed keys still split
            # evenly) and sort within, giving each partition a disjoint
            # key interval — manifest min/max then excludes every
            # partition outside a range predicate, and page stats
            # narrow further inside the survivors. The write-optimized
            # default stays salted-hash (uniform task sizes under
            # domain skew; point lookups prune via blooms instead).
            df = df.repartitionByRange(partitions, F.col(key_col))
            if sort_within is None:
                sort_within = key_col
        else:
            # explicit salted repartition on the key hash: xxhash64(key, salt).
            # Pass the hash itself (not pmod) — Spark hash-partitions the
            # expression value, and pmod would collapse it to n distinct values
            # that clump under the second hash, leaving partitions empty.
            df = df.repartition(partitions, F.xxhash64(F.col(key_col), F.lit(salt)))
    elif partitions:
        df = df.repartition(partitions)
    # key_col=None and partitions=None/0: encode the source partitioning
    # as-is (no shuffle) — for inputs already bucketed at write time
    if append and job_id is not None:
        # output partition count is settled now: claim [base, base+n)
        # atomically so concurrent appenders never overlap
        n_out = partitions or df.rdd.getNumPartitions()
        pid_base = mf.claim_append_base(out_dir, job_id, n_out)
    if sort_within:
        # local sort only (no extra shuffle): clusters runs/prefixes so
        # RLE-dict, delta-BP, and DELTA_BYTE_ARRAY see longer runs
        cols_sw = [sort_within] if isinstance(sort_within, str) else list(sort_within)
        df = df.sortWithinPartitions(*cols_sw)
    return manifest_job(
        df,
        out_dir,
        arrow_schema,
        pid_base=pid_base,
        resume=resume,
        profile=profile,
        compression=compression,
        page_crc=page_crc,
        page_stats=page_stats,
        max_page=max_page,
        encodings=encodings,
        bloom_columns=bloom_columns,
        bloom_bits=bloom_bits,
        bloom_cap=bloom_cap,
        kmv_columns=kmv_columns,
        kmv_k=kmv_k,
    )
