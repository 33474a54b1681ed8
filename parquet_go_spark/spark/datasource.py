"""Python DataSource (Spark 4.x `pyspark.sql.datasource`) for encoded
tables: ``spark.read.format("pgs").load(dir)``.

This is the Catalyst-native front door to the same read path
``decode_table`` drives by hand: the table schema comes from the
directory's ``_schema.json``, one Spark input partition per committed
encode partition, and **filter pushdown** (``pushFilters``, Spark 4.1)
feeds equality/range predicates into the engine's three pruning tiers —
manifest min/max, manifest bloom filters, and per-page stats
(``chunk_page_index`` page-seek decode).  All pruning is conservative,
so every pushed filter is also returned to Spark for exact
re-evaluation (the zone-map contract; same division of labor as
Spark's parquet source with ``spark.sql.parquet.filterPushdown``).

Usage::

    spark.dataSource.register(PGSDataSource)
    df = spark.read.format("pgs").load("/path/to/enc")
    df.where(df.url == "https://a.example/1").collect()   # pruned scan

The reference has no Spark integration (it is a Go library); this module
is the idiomatic-Spark analogue of its ``FileReader`` + column projection
(``file_reader.go:112-130``) surfaced through the DataFrame API.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from dataclasses import dataclass

import datetime as _dt

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)

__all__ = ["PGSDataSource"]

_EPOCH_DATE = _dt.date(1970, 1, 1)
_COMPARISONS = {
    EqualTo: "==",
    LessThan: "<",
    LessThanOrEqual: "<=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
}


@dataclass
class _PGSPartition(InputPartition):
    # PySpark pickles the reader BEFORE it calls partitions(), so each
    # partition carries its own share of the scan plan
    pid: int
    plan: object = None  # decode_job.ScanPlan narrowed to ``pid``


def _split(plan) -> list[_PGSPartition]:
    return [_PGSPartition(pid, plan.only(pid)) for pid in plan.pids]


def _read_partition(enc_dir: str, part: _PGSPartition):
    """One planned partition -> its decoded batch (``decode_partition``
    over the memory-mapped file); shared by the batch and stream
    readers."""
    from .decode_job import decode_partition, open_partition
    from .session import freeze_task_heap

    freeze_task_heap()
    if part.pid < 0:
        return
    batch = decode_partition(enc_dir, part.pid, open_partition(enc_dir, part.pid), part.plan)
    if batch is not None:
        yield batch


def _pushdown_enabled() -> bool | None:
    """Is ``spark.sql.python.filterPushdown.enabled`` on for this read?

    Spark 4.x hard-fails any Python DataSource whose reader *defines*
    ``pushFilters`` while the conf is off, so the reader class must be
    chosen per-session.  Two probes, then "unknown":

    - documented surface first: the active session's runtime conf
      (available on the driver; planner workers have no session).
    - worker path (no session): with the conf ON, ``DataSource.reader()``
      is invoked by the dedicated pushdown planner worker
      (``pyspark/sql/worker/data_source_pushdown_filters.py``), whose
      very purpose is to call ``pushFilters``; with it OFF, it is
      invoked by ``plan_data_source_read.main``, which holds the conf as
      its ``enable_pushdown`` local (the same value it later uses for
      the hard check).  A short walk up the stack distinguishes the two
      — and the local is only trusted when its frame actually belongs to
      that pyspark worker module, so unrelated code defining an
      ``enable_pushdown`` variable can never misreport.  Probed against
      pyspark 4.1.x (pinned by ``test_datasource.py``'s vanilla-session
      matrix — a pyspark refactor that renames either surface degrades
      to the safe no-pushdown reader, and that test catches the lost
      pruning).

    Unknown ⇒ the caller must pick the no-pushdown reader: pruning is an
    optimization (Spark re-applies every filter), a crash is not.
    """
    import sys

    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            v = s.conf.get("spark.sql.python.filterPushdown.enabled", "false")
            return str(v).lower() == "true"
    except Exception:
        pass
    try:
        f = sys._getframe(1)
        while f is not None:
            fname = f.f_code.co_filename
            if fname.endswith("data_source_pushdown_filters.py"):
                return True
            if (
                fname.endswith("plan_data_source_read.py")
                and "enable_pushdown" in f.f_locals
            ):
                return bool(f.f_locals["enable_pushdown"])
            f = f.f_back
    except Exception:
        pass
    return None


def _choose_reader(opt: str | None, with_pushdown: type, without: type) -> type:
    if opt is not None:
        return with_pushdown if _flag(opt) else without
    enabled = _pushdown_enabled()
    return with_pushdown if enabled else without


def _prune_value(value):
    """Normalize a catalyst literal to the engine's stored representation;
    None when no safe mapping exists (pruning skipped for that filter).
    Timestamps are stored as int64 epoch micros, dates as int32 epoch
    days — exactly what the chunk stats compare against."""
    if isinstance(value, bool):
        return None  # bool chunks carry no comparable stats
    if isinstance(value, _dt.datetime):
        tz_off = value.utcoffset()
        if tz_off is not None:
            value = value.replace(tzinfo=None) - tz_off
        return (value - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if isinstance(value, _dt.date):
        return (value - _EPOCH_DATE).days
    if isinstance(value, (int, float, str, bytes)):
        return value
    return None  # decimal etc.: skip rather than risk a wrong exclusion


def _filter_to_prune(f: Filter) -> list[tuple]:
    """Translate a catalyst filter into (col, op, value) prune triples;
    [] when it isn't prunable (nested path, unsupported op/value).
    StartsWith pushes as a prefix range — pruning is conservative and
    Spark re-applies the exact predicate anyway."""
    if len(f.attribute) != 1:  # nested column paths carry no chunk stats
        return []
    col = f.attribute[0]
    if isinstance(f, IsNotNull):
        return [(col, "notnull", None)]
    if isinstance(f, In):
        vals = tuple(_prune_value(v) for v in f.value)
        if not vals or any(v is None for v in vals):
            return []
        return [(col, "in", vals)]
    if isinstance(f, StringStartsWith):
        from ..core.chunk import _increment_str

        p = f.value
        if not isinstance(p, str) or not p:
            return []
        # conservative upper bound (Parquet's truncate-and-increment);
        # all-maxed prefix -> no bound
        hi = _increment_str(p)
        return [(col, ">=", p)] + ([] if hi is None else [(col, "<=", hi)])
    op = _COMPARISONS.get(type(f))
    value = _prune_value(f.value) if op else None
    return [] if value is None else [(col, op, value)]


class _PGSReaderNoPushdown(DataSourceReader):
    """Reader without a ``pushFilters`` override: safe in sessions where
    ``spark.sql.python.filterPushdown.enabled`` is off (Spark refuses to
    plan a reader that defines the method there).  ``self.prune`` stays
    empty ⇒ full scan, Spark applies all filters after the scan.
    ``partitions()`` is ``decode_job.plan_scan``; ``read()`` is
    ``decode_job.decode_partition`` on one partition file."""

    def __init__(self, enc_dir: str, as_of: "int | str | None" = None):
        self.enc_dir = enc_dir
        self.prune: list[tuple] = []
        self.as_of = as_of

    def partitions(self) -> Sequence[InputPartition]:
        from .decode_job import plan_scan

        plan = plan_scan(self.enc_dir, prune=self.prune, as_of=self.as_of)
        # an empty table reads as zero rows through a single no-op split
        return _split(plan) or [_PGSPartition(-1)]

    def read(self, partition: _PGSPartition):
        return _read_partition(self.enc_dir, partition)


class _PushFilters:
    """``pushFilters`` for a reader with a ``prune`` list: pushed catalyst
    filters become prune triples. Pruning is conservative, so Spark must
    re-apply EVERY filter."""

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            self.prune.extend(_filter_to_prune(f))
            yield f


class _PGSReader(_PushFilters, _PGSReaderNoPushdown):
    """Pushdown-capable variant, planned only when the session conf
    allows it (``_choose_reader``)."""


def _offset_pids(offset: dict) -> set[int]:
    s = (offset or {}).get("committed", "")
    return {int(x) for x in s.split(",") if x != ""}


class _PGSStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("pgs")``: tail an encode job's output
    directory. The offset is the set of committed partition ids (a
    partition is committed iff its manifest file exists — the same
    atomic tmp+rename contract the resume path relies on), so each
    micro-batch reads exactly the partitions that committed since the
    last batch, one Spark task per partition. Pairs with the streaming
    write (``writeStream.format("pgs")``, :class:`_PGSStreamWriter`) for
    an end-to-end encode->tail pipeline. Overwriting the directory
    mid-stream is not supported (offsets only grow). Each micro-batch is
    planned by ``decode_job.plan_scan`` and read by ``decode_partition``,
    like the batch reader."""

    def __init__(self, enc_dir: str):
        self.enc_dir = enc_dir

    def initialOffset(self) -> dict:
        return {"committed": ""}

    def latestOffset(self) -> dict:
        from . import manifest as mf

        pids = sorted(mf.committed_partitions(self.enc_dir))
        return {"committed": ",".join(map(str, pids))}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        from .decode_job import plan_scan

        return _split(plan_scan(self.enc_dir, pids=_offset_pids(end) - _offset_pids(start)))

    def read(self, partition: _PGSPartition):
        return _read_partition(self.enc_dir, partition)


@dataclass
class _PGSStagedCommit(WriterCommitMessage):
    stage_name: str
    rows: list  # manifest row dicts (file/partition patched at commit)
    eq_stage: "str | None" = None  # an upsert task's staged key sidecar


class _PGSStagedWriter:
    """The staged commit both ``format("pgs")`` writers share. ``write``
    (executor) runs ``encode_job.write_task`` into a staged file with no
    manifest, unreadable, and ships its manifest rows back. ``_commit``
    (driver) claims an id range (``manifest.claim_append_base`` keyed by
    ``job_id``: a replay gets the SAME ids, concurrent writers disjoint
    ones), renames the staged files onto ``part-<pid>.bin``, commits
    their manifests, sweeps the claim's unused tail and seals a snapshot
    carrying ``marker`` — a job whose marker is sealed already only
    drops its staged files. ``abort`` drops them; nothing was visible.

    With ``upsert_key`` (the stream writer's) each task also keeps one
    row per key and stages an equality sidecar of its keys, which
    ``_commit`` publishes before the snapshot under names taken from
    ``job_id`` (a replay replaces its crashed attempt's sidecars): the
    batch's rows replace the older versions of its keys in one snapshot."""

    def __init__(
        self, enc_dir: str, cols: list[str], opts: dict, arrow_schema=None, upsert_key=None
    ):
        self.enc_dir = enc_dir
        self.cols = cols
        self.opts = opts
        self.arrow_schema = arrow_schema  # empty tasks encode its zero-row table
        self.upsert_key = upsert_key

    def write(self, iterator) -> _PGSStagedCommit:
        import uuid

        from .encode_job import write_task

        # the .tmp suffix keeps staged files OUT of the reader's
        # part-*.bin / eq-*.parquet globs (invisible mid-flight) and IN
        # the orphan sweep's *.tmp* pattern (crashed writes get cleaned up)
        tag = uuid.uuid4().hex
        eq_stage = None
        if self.upsert_key is not None:
            iterator, eq_stage = self._stage_upsert(iterator, f"stage-{tag}.eq.tmp")
        stage = f"stage-{tag}.bin.tmp"
        rows = write_task(
            iterator, self.enc_dir, self.cols, self.arrow_schema, stage_name=stage, **self.opts
        )
        return _PGSStagedCommit(stage_name=stage, rows=rows, eq_stage=eq_stage)

    def _stage_upsert(self, batches, stage_name: str):
        """(this task's rows with the last row of each key, NULL keys kept
        as inserts; the staged sidecar of its keys or None). The sidecar
        applies to the latest snapshot's partitions that may hold a key
        (``maintenance.eq_delete_scope``): the batch's own rows, still
        staged, survive it, and a replay scopes exactly as the first
        attempt. Keys repeated across tasks are the caller's to avoid,
        by repartitioning on the key."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from . import manifest as mf
        from .maintenance import eq_delete_scope
        from .session import freeze_task_heap

        freeze_task_heap()  # before the batches arrive, as in write_task
        recs = list(batches)
        table = pa.Table.from_batches(recs) if recs else self.arrow_schema.empty_table()
        valid = pc.is_valid(table.column(self.upsert_key)).to_numpy()
        idx = np.arange(table.num_rows)
        keyed = pa.table({"k": table.column(self.upsert_key), "i": idx}).filter(valid)
        last = keyed.group_by("k", use_threads=False).aggregate([("i", "max")])
        if last.num_rows < keyed.num_rows:
            keep = np.concatenate([last.column("i_max").to_numpy(), idx[~valid]])
            table = table.take(np.sort(keep))
        keys = last.column("k").to_pylist()
        snap = mf.latest_snapshot(self.enc_dir)
        within = set(snap["partition_ids"]) if snap else set()
        applies = eq_delete_scope(self.enc_dir, self.upsert_key, keys, within) if keys else []
        staged = (
            mf.stage_eq_delete_file(self.enc_dir, self.upsert_key, keys, applies, stage_name)
            if applies
            else None
        )
        return table.to_batches(), staged

    def _commit(self, messages, job_id, marker, operation, config, reset=None) -> None:
        """``reset`` (an overwrite's table fields) truncates the old table
        here, once every task has succeeded."""
        import os

        from . import manifest as mf
        from .encode_job import reset_table

        msgs = [m for m in messages if m is not None]
        if any(
            all(snap.get("config", {}).get(k) == v for k, v in marker.items())
            for snap in mf.read_snapshots(self.enc_dir)
        ):
            return self.abort(msgs)  # replayed job: its staged files are surplus
        if reset is not None:
            reset_table(self.enc_dir, reset, truncate=True)
        if msgs:
            base = mf.claim_append_base(self.enc_dir, job_id, len(msgs))
            for i, m in enumerate(sorted(msgs, key=lambda m: m.stage_name)):
                pid = base + i
                src = os.path.join(self.enc_dir, m.stage_name)
                dst = os.path.join(self.enc_dir, f"part-{pid:05d}.bin")
                if os.path.exists(src):
                    os.replace(src, dst)  # atomic; replay lands same pid
                mf.commit_partition(
                    self.enc_dir, pid, [{**r, "partition": pid, "file": dst} for r in m.rows]
                )
            # defensive: a mid-commit crash followed by a replay with
            # FEWER tasks would leave the crashed attempt's tail pids
            # committed (duplicate rows); sweep every claimed id this
            # attempt did not fill
            claim_n = next(
                (c["n"] for c in mf.read_claims(self.enc_dir) if c["job_id"] == job_id),
                len(msgs),
            )
            mf.drop_partitions(self.enc_dir, range(base + len(msgs), base + claim_n))
        staged = [m.eq_stage for m in sorted(msgs, key=lambda m: m.stage_name) if m.eq_stage]
        sidecars = mf.publish_job_eq_delete_files(self.enc_dir, job_id, staged)
        if sidecars:
            config = {**config, "eq_sidecars": sidecars}
        mf.commit_snapshot(self.enc_dir, operation, {**config, **marker, "tasks": len(msgs)})

    def abort(self, messages, batchId: int | None = None) -> None:
        import contextlib
        import os

        for m in filter(None, messages):
            for path in (os.path.join(self.enc_dir, m.stage_name), m.eq_stage):
                if path:
                    with contextlib.suppress(OSError):
                        os.remove(path)


class _PGSWriter(_PGSStagedWriter, DataSourceArrowWriter):
    """``df.write.format("pgs")``: the staged commit keyed by a uuid made
    in ``writer()``, so concurrent appends to one table claim disjoint
    ids; ``commit`` seals one ``write.format(pgs)`` snapshot. An
    overwrite clears the old table in ``commit``, after every task
    succeeded, so a failed overwrite keeps it. Partitioning, salting and
    within-partition sort stay with the caller — idiomatic Spark:
    ``df.repartition(n, F.xxhash64("url")).sortWithinPartitions(
    "warc_ts").write.format("pgs").save(dir)``."""

    def __init__(self, enc_dir, cols, opts, arrow_schema=None, reset=None):
        import uuid

        super().__init__(enc_dir, cols, opts, arrow_schema)
        self.reset = reset  # overwrite: the new table's fields
        self.write_id = uuid.uuid4().hex

    def commit(self, messages) -> None:
        marker = {"write_id": self.write_id}
        config = {k: str(v) for k, v in self.opts.items()}
        self._commit(
            messages, f"write-{self.write_id}", marker, "write.format(pgs)", config, self.reset
        )


class _PGSStreamWriter(_PGSStagedWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("pgs")``: the Catalyst-native streaming
    encode sink — every micro-batch appends encoded partitions to ONE
    table directory with exactly-once semantics. ``write`` runs on
    executors without a batch id and ``commit(messages, batchId)`` on
    the driver: the staged commit keyed by the batch id, so a replayed
    batch claims the SAME ids, and the ``stream_batch_id`` snapshot
    marker keeps a re-delivered batch from committing twice.
    Partitioning stays with the caller, as for the batch writer.

    ``.option("upsert_key", col)`` makes it the CDC upsert sink (the
    Iceberg upsert mode, Delta's merge in ``foreachBatch``): each batch
    replaces the older versions of its keys through equality sidecars,
    reading no table data, in one ``stream-upsert`` snapshot. A reader
    between the data commit and the sidecar publish may see both
    versions of a key; one pinned ``as_of`` a snapshot never does."""

    def __init__(self, enc_dir, cols, opts, txn: str, arrow_schema=None, upsert_key=None):
        super().__init__(enc_dir, cols, opts, arrow_schema, upsert_key)
        # scopes batch ids to ONE streaming query (Delta's txnAppId):
        # two queries on one table would otherwise read each other's
        # batches as replays
        self.txn = txn

    def commit(self, messages, batchId: int) -> None:
        marker = {"stream_batch_id": int(batchId), "stream_txn": self.txn}
        job_id = f"stream-{self.txn}-batch-{int(batchId)}"
        if self.upsert_key is None:
            op, config = "stream-append", {}
        else:
            op, config = "stream-upsert", {"upsert_key": self.upsert_key}
        self._commit(messages, job_id, marker, op, config)


def _flag(value) -> bool:
    return str(value).lower() in ("true", "1", "yes")


def _names(value: str) -> list[str]:
    return [c.strip() for c in value.split(",") if c.strip()]


# DataFrameWriter .option(...) strings -> write_task's PGSF options (same
# knobs as encode_table); "encodings" is "col:codec,col2:codec2", the
# per-column pinning the CLI exposes
_WRITER_OPTIONS = {
    "profile": str,
    "compression": str,
    "page_stats": _flag,
    "page_crc": _flag,
    "max_page": int,
    "bloom_bits": int,
    "bloom_columns": _names,
    "kmv_columns": _names,
    "encodings": lambda v: dict(pair.split(":", 1) for pair in v.split(",") if ":" in pair),
}


def _parse_writer_options(options: dict) -> dict:
    return {k: parse(options[k]) for k, parse in _WRITER_OPTIONS.items() if k in options}


class PGSDataSource(DataSource):
    """``format("pgs")``: read/write encoded table directories as
    DataFrames — reads get stats/bloom/page pruning pushed down from
    catalyst filters; writes encode through the kernel path with the
    same options as ``encode_table``."""

    @classmethod
    def name(cls) -> str:
        return "pgs"

    def _dir(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("pgs reader needs a load path: spark.read.format('pgs').load(dir)")
        return path

    def schema(self) -> str:
        from . import manifest as mf

        fields = mf.read_table_schema(self._dir())
        return ", ".join(f"`{f['name']}` {f['ddl']}" for f in fields)

    def reader(self, schema) -> _PGSReaderNoPushdown:
        as_of = self.options.get("as_of")
        # Iceberg TIMESTAMP AS OF: .option("as_of_ts", "<ISO-8601>"),
        # resolved by plan_scan
        as_of = int(as_of) if as_of is not None else self.options.get("as_of_ts")
        cls = _choose_reader(self.options.get("pushdown"), _PGSReader, _PGSReaderNoPushdown)
        return cls(self._dir(), as_of=as_of)

    def streamReader(self, schema) -> _PGSStreamReader:
        return _PGSStreamReader(self._dir())

    def _writer(self, cls, schema, append: bool, **kw):
        """``cls`` over ``encode_job.prepare_write``'s checks; an
        overwrite hands the new table's fields to its commit."""
        from .encode_job import prepare_write

        opts = _parse_writer_options(self.options)
        fields, arrow_schema = prepare_write(
            self._dir(),
            schema,
            append=append,
            create=True,
            evolve_schema=_flag(self.options.get("evolve_schema", "")),
            encodings=opts.get("encodings"),
        )
        if not append:
            kw["reset"] = fields
        cols = [f.name for f in schema.fields]
        return cls(self._dir(), cols, opts, arrow_schema=arrow_schema, **kw)

    def streamWriter(self, schema, overwrite: bool) -> _PGSStreamWriter:
        key = self.options.get("upsert_key")
        if key is not None:
            field = next((f for f in schema.fields if f.name == key), None)
            if field is None or field.dataType.typeName() in ("array", "map", "struct"):
                raise ValueError(f"upsert_key {key!r} must name a scalar column of the stream")
        return self._writer(_PGSStreamWriter, schema, True, txn=self._query_txn(), upsert_key=key)

    def _query_txn(self) -> str:
        """The replay guard's scope: ``.option("stream_txn", id)`` when
        given, else the query id Spark writes to ``<checkpointLocation>/
        metadata`` at query start. A recreated checkpoint gets a new id
        and restarts batch ids at 0, so its batches are never taken for
        another run's replays. Spark hands the sink no checkpoint set
        only through ``spark.sql.streaming.checkpointLocation``, so such a
        query must name one of the two options."""
        import json
        import os
        from urllib.parse import urlparse

        if self.options.get("stream_txn") is not None:
            return str(self.options["stream_txn"])
        ckpt = self.options.get("checkpointlocation")
        if not ckpt:
            raise ValueError(
                'writeStream.format("pgs") needs .option("checkpointLocation", dir) '
                'or .option("stream_txn", id)'
            )
        url = urlparse(ckpt)
        try:
            with open(os.path.join(url.path if url.scheme == "file" else ckpt, "metadata")) as f:
                return str(json.load(f)["id"])
        except (OSError, ValueError, KeyError):
            return ckpt

    def writer(self, schema, overwrite: bool) -> _PGSWriter:
        return self._writer(_PGSWriter, schema, not overwrite)


@dataclass
class _PGSQPartition(InputPartition):
    path: str
    rg: int


class _PGSQReaderNoPushdown(DataSourceReader):
    """``spark.read.format("pgsq")``: the distributed real-Parquet scan
    (spark/parquet_source.py) behind the Python DataSource API — one
    input partition per surviving row group, every page decoded by this
    engine's kernels.  This base variant defines no ``pushFilters`` so
    it plans in sessions with Python filter pushdown disabled."""

    def __init__(self, files: list[str], schema_triples: list[tuple]):
        self.files = files
        self.triples = schema_triples  # (name, arrow type, ddl)
        self.prune: list[tuple] = []

    def partitions(self) -> Sequence[InputPartition]:
        from .parquet_source import plan_scan_tasks

        tasks = plan_scan_tasks(self.files, self.prune or None)
        return [_PGSQPartition(f, rg) for f, rg in tasks] or [_PGSQPartition("", -1)]

    def read(self, partition: _PGSQPartition):
        from .session import freeze_task_heap

        freeze_task_heap()
        if not partition.path:
            return
        from .parquet_source import read_row_group

        tbl = read_row_group(partition.path, partition.rg, self.triples, self.prune)
        yield from tbl.to_batches(max_chunksize=1 << 16)


class _PGSQReader(_PushFilters, _PGSQReaderNoPushdown):
    """Pushdown-capable variant: pushed catalyst filters become
    footer-Statistics row-group pruning + PageIndex page pruning."""


class PGSParquetDataSource(DataSource):
    """``format("pgsq")``: read directories of real ``.parquet`` files
    (written by any implementation) through this engine's decode
    kernels, planned from footers only, with filter-pushdown file
    pruning. The catalyst front door over
    ``parquet_source.read_parquet_table``."""

    @classmethod
    def name(cls) -> str:
        return "pgsq"

    def _files(self) -> list[str]:
        from .parquet_source import _list_files

        path = self.options.get("path")
        if not path:
            raise ValueError("pgsq reader needs a load path: spark.read.format('pgsq').load(dir)")
        return _list_files(path)

    def schema(self) -> str:
        from .parquet_source import parquet_scan_schema

        triples = parquet_scan_schema(self._files()[0])
        return ", ".join(f"`{n}` {ddl}" for n, _, ddl in triples)

    def reader(self, schema) -> _PGSQReaderNoPushdown:
        from .parquet_source import parquet_scan_schema

        files = self._files()
        cls = _choose_reader(self.options.get("pushdown"), _PGSQReader, _PGSQReaderNoPushdown)
        return cls(files, parquet_scan_schema(files[0]))
