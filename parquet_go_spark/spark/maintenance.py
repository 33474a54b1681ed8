"""Table maintenance: compaction (the Iceberg rewrite-data-files
analogue).

Continuous ingestion produces small files — every micro-batch of the
streaming sink (``writeStream.format("pgs")``, ``spark/datasource.py``)
appends its own partitions, and a high-parallelism backfill can leave a
table over-partitioned. Small partitions hurt at scale twice:
per-partition fixed costs (task handshake, manifest row, dictionary/codec
training) stop amortizing, and the codec selector's sampled statistics
get noisier. The reference has no maintenance story (a Go library writes
one file per call); this is the idiomatic-Spark table-service analogue.

``compact_table`` decodes the source(s), re-encodes into right-sized
partitions — the count is chosen from the MANIFEST byte totals, so
planning never scans data — and commits a snapshot whose config records
the full source lineage (dirs, their latest snapshot seqs, byte totals).
"""

from __future__ import annotations

import math
import os

from dataclasses import replace

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import manifest as mf
from ..core import prune as pz
from ..core.columns import one_chunk
from .decode_job import ScanPlan, decode_partition, decode_table, open_partition, partition_path
from .decode_job import plan_scan, scan_partitions, surviving_partitions
from .encode_job import encode_columns_to_partition, encode_table, partition_file_epoch

__all__ = [
    "compact_table",
    "compact_parquet_dir",
    "table_bytes",
    "rollback_table",
    "remove_orphan_files",
    "delete_where",
    "delete_keys",
    "merge_into",
    "mark_matching_keys",
    "materialize_deletes",
]


def _decode_file(enc_dir: str, pid: int, plan: ScanPlan) -> "tuple[pa.RecordBatch | None, int]":
    """``decode_partition`` over partition ``pid``'s file as it is on
    disk now, and the rewrite epoch of the bytes it decoded."""
    with open(partition_path(enc_dir, pid), "rb") as fh:
        payload = fh.read()
    return decode_partition(enc_dir, pid, payload, plan), partition_file_epoch(payload)


def _rewrite_in_place(enc_dir: str, pid: int, table: "pa.Table", epoch: int, encode_kwargs: dict):
    """Re-encode ``table`` as partition ``pid``, keeping the partition's
    block codec (entropy-coded chunks record "none" — no double
    compression — so any real codec wins). The rewrite epoch moves past
    ``epoch`` (that of the decoded bytes) atomically with the data-file
    replace: the sidecars folded into ``table`` become provably stale,
    so a concurrent reader — or one arriving after a crash before the
    driver's sidecar cleanup — skips them instead of applying old
    ordinals to the compacted file."""
    kw = dict(encode_kwargs)
    codecs = [r["compression"] for r in mf.read_partition_manifest(enc_dir, pid)]
    kw.setdefault("compression", next((c for c in codecs if c != "none"), "none"))
    encode_columns_to_partition(table, table.column_names, enc_dir, pid, epoch=epoch + 1, **kw)


def _per_partition(spark: SparkSession, enc_dir: str, pids: list[int], fn) -> list:
    """``fn(pid) -> (rows_deleted, rewritten)`` for every partition, in
    the packed scan tasks of ``scan_partitions``; returns the collected
    (partition, rows_deleted, rewritten) rows."""

    def run(pid: int):
        deleted, rewrote = fn(pid)
        yield pa.record_batch(
            {
                "partition": pa.array([pid], pa.int32()),
                "rows_deleted": [deleted],
                "rewritten": [rewrote],
            }
        )

    ddl = "partition int, rows_deleted long, rewritten boolean"
    return scan_partitions(spark, enc_dir, pids, run, ddl).collect()


def _retire_rewritten(enc_dir: str, rewritten: set[int]) -> None:
    """After in-place rewrites: materialized sidecars are dropped (their
    ordinals refer to the pre-rewrite file), and historical versions
    pinning a rewritten partition are tombstoned so ``as_of`` raises
    instead of reading the rewritten bytes under an old seq."""
    for pid in sorted(rewritten):
        mf.remove_delete_files(enc_dir, pid)
    if rewritten:
        mf.invalidate_snapshots(enc_dir, rewritten)


def _collect_keys(src_keys: DataFrame) -> list:
    """THE one documented driver-side key collect — called only when the
    distinct key count is at or under ``merge_into``'s ``key_guard``
    (CDC-batch sizes), never on the large-source path
    (tests/test_maintenance.py pins this with a monkeypatch)."""
    return [r[0] for r in src_keys.collect()]


def eq_delete_scope(
    enc_dir: str, column: str, values: list, within: "set[int] | None" = None
) -> list[int]:
    """The partitions an equality delete of ``values`` applies to: those
    committed (and in ``within``, when given) that the manifest
    stats/bloom tiers cannot prove free of them — an ``in`` probe for up
    to 1024 values, else one min/max range check (per-value bloom
    probing is O(values × partitions))."""
    if len(values) <= 1024:
        predicate = [(column, "in", tuple(values))]
    else:
        predicate = [(column, ">=", min(values)), (column, "<=", max(values))]
    return surviving_partitions(enc_dir, predicate, within=within)


def delete_keys(enc_dir: str, column: str, values) -> dict:
    """Equality delete (Iceberg v2 equality delete file): drop every row
    whose ``column`` value is in ``values`` — O(metadata), NO data scan
    and no Spark job at all. The write is one sidecar whose apply set is
    scoped two ways (``eq_delete_scope``): (1) by the manifest
    stats/bloom tiers to partitions that MAY hold a match, and (2) to
    partitions committed SO FAR, so a key re-inserted by a later append
    survives (Iceberg sequence-number semantics). Value-based filters
    are idempotent under in-place rewrites — equality sidecars never go
    stale, unlike positional ones.

    The read-side trade: every decode of an applies-to partition also
    decodes the key column and filters by value until compaction (or a
    COW delete) materializes the sidecar away. Row counts are unknowable
    without a scan (``rows_deleted`` is not returned; snapshot num_rows
    ignores equality deletes, as Iceberg's summaries do) — use
    ``delete_where(mode="mor"/"cow")`` when exact accounting matters.
    The ``upsert_key`` stream sink stages the same sidecars from its
    tasks (``datasource._PGSStagedWriter``)."""
    vals = list(dict.fromkeys(values))
    if not vals:
        raise ValueError("delete_keys needs at least one value")
    applies = eq_delete_scope(enc_dir, column, vals)
    name = mf.write_eq_delete_file(enc_dir, column, vals, applies) if applies else None
    snap = mf.commit_snapshot(
        enc_dir,
        "delete",
        {
            "mode": "eq",
            "column": column,
            "n_values": len(vals),
            "applies_to": len(applies),
            "file": name,
        },
    )
    return {"candidates": len(applies), "file": name, "snapshot": snap["seq"]}


def _scan_key_positions(
    spark: SparkSession, enc_dir: str, fields: list[dict], key: str, pids: list[int]
) -> DataFrame:
    """Distributed projection scan of ONE column: (pid, row ordinal,
    key value) for every base row of the given partitions — existing
    MOR sidecars deliberately NOT applied (the plan's sidecar maps are
    emptied), so ordinals match the data file (the positional-delete
    coordinate system). Partitions pack into scan tasks by file bytes
    (``scan_partitions``); only the key column's chunk is decoded."""
    ddl = next(f for f in fields if f["name"] == key)["ddl"]
    if ddl.strip().startswith(("array<", "map<", "struct<")):
        raise ValueError(f"merge key {key!r} must be a scalar column, got {ddl}")
    plan = replace(plan_scan(enc_dir, [key], pids=pids), deletes={}, eq_deletes={})

    def scan(pid: int):
        import numpy as np

        # memory-mapped: a projection scan of ONE column must not pull
        # the whole partition file through memory — the header walk and
        # the key chunk fault in a few pages while a wide html column's
        # data pages never leave disk
        payload = open_partition(enc_dir, pid)
        batch = decode_partition(enc_dir, pid, payload, plan)
        if batch is None:
            return
        # ep: the rewrite epoch of the BYTES these ordinals index —
        # carried through the join so the sidecar is stamped against the
        # scanned coordinate system, not whatever is on disk at write time
        n, ep = batch.num_rows, partition_file_epoch(payload)
        cols = [np.full(n, pid, np.int32), np.arange(n, dtype=np.int64), np.full(n, ep, np.int64)]
        yield pa.record_batch([*map(pa.array, cols), batch.column(0)], ["pid", "pos", "ep", "k"])

    out_ddl = f"pid int, pos bigint, ep bigint, k {ddl}"
    return scan_partitions(spark, enc_dir, plan.pids, scan, out_ddl)


def mark_matching_keys(
    spark: SparkSession,
    enc_dir: str,
    key: str,
    src_keys: DataFrame,
    within: "set[int] | None" = None,
) -> dict:
    """Distributed MOR delete-by-key: write positional-delete sidecars
    for every table row whose ``key`` value appears in ``src_keys`` (a
    one-column DataFrame) — the key set NEVER visits the driver.

    Plan shape (the 100 TB-safe merge delete): one projection scan of
    the key column per partition (``_scan_key_positions``) → LEFT SEMI
    join against the distinct source keys (AQE broadcasts the small
    side, shuffles when both are big — either way no driver
    materialization) → ``applyInPandas`` grouped by partition id writes
    one sidecar per touched partition (group-per-pid ⇒ no write races),
    deduplicated against sidecars already on disk so a replayed batch
    is a no-op. Only the bounded per-partition totals return to the
    driver. ``within`` restricts the scan universe: pass the partitions
    committed before an append of the same keys and the appended rows
    survive their own delete."""
    fields = mf.read_table_schema(enc_dir)
    committed = mf.committed_partitions(enc_dir)
    pids = sorted(committed & set(within)) if within is not None else sorted(committed)
    if not pids:
        return {"candidates": 0, "rows_deleted": 0, "partitions": []}
    tk = _scan_key_positions(spark, enc_dir, fields, key, pids)
    ks = (
        src_keys.select(F.col(src_keys.columns[0]).alias("k"))
        .where(F.col("k").isNotNull())
        .distinct()
    )
    matched = tk.join(ks, "k", "leftsemi").select("pid", "pos", "ep")

    def write_group(pdf):
        import numpy as np
        import pandas as pd

        pid = int(pdf["pid"].iloc[0])
        pos = np.unique(pdf["pos"].to_numpy(dtype="int64"))
        man = mf.read_partition_manifest(enc_dir, pid)
        base_rows = man[0]["num_rows"] if man else 0
        # stamp the sidecar with the epoch of the bytes the ordinals
        # were SCANNED from, and refuse to write if the partition was
        # rewritten mid-job (the ordinals index bytes that no longer
        # exist — writing them against the new epoch would delete the
        # wrong rows; writing them against the old would silently drop
        # the requested deletes). The caller retries after a rewrite.
        fepoch = int(pdf["ep"].iloc[0])
        fepoch_now = mf._partition_epoch(enc_dir, pid)
        if fepoch_now != fepoch:
            raise ValueError(
                f"partition {pid} was rewritten (epoch {fepoch} -> "
                f"{fepoch_now}) while mark_matching_keys was scanning; "
                "its ordinals are invalid — retry the merge"
            )
        already = mf.delete_positions(enc_dir, pid, file_epoch=fepoch)
        new = np.setdiff1d(pos, already, assume_unique=True)
        if new.size:
            mf.write_delete_file(enc_dir, pid, new, base_rows=base_rows, epoch=fepoch)
        return pd.DataFrame([{"partition": pid, "rows_deleted": int(new.size)}])

    rows = (
        matched.groupBy("pid")
        .applyInPandas(write_group, "partition int, rows_deleted long")
        .collect()
    )
    return {
        "candidates": len(pids),
        "rows_deleted": int(sum(r["rows_deleted"] for r in rows)),
        "partitions": sorted(r["partition"] for r in rows),
    }


def materialize_deletes(
    spark: SparkSession, enc_dir: str, pids=None, **encode_kwargs
) -> dict:
    """Rewrite every partition carrying positional-delete sidecars
    (optionally restricted to ``pids``) so the deletes are materialized
    into the data files — the Iceberg rewrite-position-delete-files /
    minor-compaction analogue, and the second half of a large-source
    COW merge. Each affected partition, in the packed scan tasks of
    ``scan_partitions``, decodes its live rows (sidecars applied) and
    re-encodes in place keeping its block codec; then sidecars are
    dropped and history pinning the rewritten bytes is tombstoned."""
    plan = plan_scan(enc_dir, pids=pids)
    if not plan.deletes:
        return {"rewritten": [], "snapshot": None}

    def rewrite(pid: int) -> tuple[int, bool]:
        batch, epoch = _decode_file(enc_dir, pid, plan)
        # every row deleted: rewrite an EMPTY typed partition (dropping
        # the sidecars alone would resurrect rows)
        schema = pa.schema([(c, plan.arrow_types[c]) for c in plan.cols])
        table = pa.Table.from_batches([batch]) if batch else schema.empty_table()
        _rewrite_in_place(enc_dir, pid, table, epoch, encode_kwargs)
        return 0, True

    rows = _per_partition(spark, enc_dir, sorted(plan.deletes), rewrite)
    rewritten = {r["partition"] for r in rows}
    _retire_rewritten(enc_dir, rewritten)
    snap = mf.commit_snapshot(
        enc_dir, "rewrite", {"op": "materialize_deletes", "partitions": sorted(rewritten)}
    )
    return {"rewritten": sorted(rewritten), "snapshot": snap["seq"]}


def merge_into(
    spark: SparkSession,
    enc_dir: str,
    src: DataFrame,
    key: str,
    partitions: int | None = None,
    evolve_schema: bool = False,
    mode: str = "cow",
    key_guard: int = 200_000,
    **encode_kwargs,
) -> dict:
    """Upsert (Iceberg MERGE analogue): table rows whose ``key`` appears
    in ``src`` are replaced by the ``src`` row; new keys append.
    ``mode="cow"`` rewrites matched partitions in place, so historical
    snapshots pinning them are tombstoned (``as_of`` raises
    'invalidated'). ``mode="mor"`` marks the replaced rows in positional
    delete sidecars instead — no data file is rewritten, every
    historical snapshot stays time-travelable, and the matched
    partitions pay read amplification until compaction. ``mode="eq"``
    writes one equality sidecar — zero-read, CDC hot path.

    Two regimes on the delete phase, switched by the DISTRIBUTED
    distinct-key count vs ``key_guard``:

    - ``≤ key_guard`` (CDC-style batches): the key set is collected to
      the driver (``_collect_keys``, the one sanctioned collect) and
      drives manifest stats/bloom pruning — only partitions that MAY
      hold a match are touched.
    - ``> key_guard`` (source approaching table scale): keys never
      visit the driver. ``mark_matching_keys`` runs a distributed
      key-column projection scan + LEFT SEMI join + per-partition
      sidecar writes (MOR); COW additionally materializes the touched
      partitions (``materialize_deletes``). ``mode="eq"`` refuses —
      an equality sidecar with millions of values makes every future
      read O(values); use mor/cow.

    Either way the append is a normal salted encode job and a trailing
    ``merge`` snapshot pins the result."""
    if mode not in ("cow", "mor", "eq"):
        raise ValueError(f"merge_into mode must be 'cow', 'mor', or 'eq', got {mode!r}")
    src_keys = src.select(key).where(F.col(key).isNotNull()).distinct()
    n_keys = src_keys.count()
    deleted = {"rows_deleted": 0, "candidates": 0}
    if n_keys and n_keys <= key_guard:
        keys = _collect_keys(src_keys)
        if mode == "eq":
            # zero-read upsert: the delete phase is one metadata-scoped
            # equality sidecar — the table is never decoded at all, so
            # merge cost = append cost (the streaming-CDC shape); the
            # price is unknown rows_replaced and read-side filtering
            # until compaction
            eq = delete_keys(enc_dir, key, keys)
            deleted = {"rows_deleted": None, "candidates": eq["candidates"]}
        else:
            deleted = delete_where(spark, enc_dir, [(key, "in", tuple(keys))], mode=mode)
    elif n_keys:
        if mode == "eq":
            raise ValueError(
                f"merge_into mode='eq' with {n_keys} distinct keys exceeds "
                f"key_guard={key_guard}: an equality sidecar that large taxes "
                "every future read — use mode='mor' or 'cow'"
            )
        marked = mark_matching_keys(spark, enc_dir, key, src_keys)
        deleted = {"rows_deleted": marked["rows_deleted"], "candidates": marked["candidates"]}
        if mode == "cow" and marked["partitions"]:
            materialize_deletes(spark, enc_dir, pids=marked["partitions"], **encode_kwargs)
    n_parts = partitions or max(1, min(n_keys // 50_000 + 1, 64))
    encode_table(
        src,
        enc_dir,
        key_col=key,
        partitions=n_parts,
        append=True,
        evolve_schema=evolve_schema,
        **encode_kwargs,
    ).collect()
    snap = mf.commit_snapshot(
        enc_dir,
        "merge",
        {
            "key": key,
            "mode": mode,
            "src_keys": n_keys,
            "rows_replaced": deleted["rows_deleted"],
            "delete_candidates": deleted["candidates"],
        },
    )
    return {
        "src_keys": n_keys,
        "rows_replaced": deleted["rows_deleted"],
        "delete_candidates": deleted["candidates"],
        "snapshot": snap["seq"],
    }


def delete_where(
    spark: SparkSession,
    enc_dir: str,
    predicate: list[tuple],
    mode: str = "cow",
    **encode_kwargs,
) -> dict:
    """Delete the rows matching ``predicate`` (a conjunction of the same
    ``(column, op, value)`` triples ``decode_table(prune=...)`` takes,
    op in ``core.prune.OPS``) — the take-down/GDPR
    operation a web corpus needs.

    Both modes share the plan front: the manifest stats/bloom tiers
    first prove which partitions MAY contain a match
    (``surviving_partitions``); the candidates are packed into scan
    tasks by file bytes, every other partition untouched. A trailing
    ``delete`` snapshot pins the result. Returns {"candidates",
    "rows_deleted", "snapshot"}.

    ``mode="cow"`` (copy-on-write): candidates are decoded, filtered,
    and re-encoded in place. Rewritten partitions keep their block
    codec; pass ``page_stats=True`` / ``bloom_columns=[...]`` explicitly
    to re-derive those (same knobs as ``encode_table``). Historical
    snapshots pinning a rewritten partition are tombstoned (their bytes
    are gone). The rewrite replaces the partition file then its manifest
    (each an atomic rename); a crash between the two leaves a CRC
    mismatch that ``validate_crc=True`` reports, and re-running the
    delete repairs it.

    ``mode="mor"`` (merge-on-read, Iceberg v2 position deletes): each
    matching partition gains a tiny sidecar of deleted row ordinals
    (``deletes/del-<pid>-<k>.parquet``); data files and manifests are
    untouched. Readers subtract the positions at decode. The scale
    trade: a take-down of a few urls in a 100 TB table costs one
    projection-decode of the PREDICATE columns per candidate partition
    plus KBs of sidecar — not a re-encode of every candidate — and read
    amplification until a compaction (or a COW delete) materializes the
    sidecars away. Time travel SURVIVES: snapshots pin their sidecar
    set, so ``as_of`` a version before the delete still reads the rows
    — MOR never invalidates history."""
    if mode not in ("cow", "mor"):
        raise ValueError(f"delete_where mode must be 'cow' or 'mor', got {mode!r}")
    # repair a prior crash between a COW rewrite and its sidecar
    # cleanup before planning: stale sidecars are provably already
    # materialized (metadata-only sweep — manifest + sidecar headers)
    for pid in sorted({int(n[len("del-") : len("del-") + 5]) for n in mf.list_delete_files(enc_dir)}):
        mf.remove_stale_delete_files(enc_dir, pid)

    cand = surviving_partitions(enc_dir, predicate)
    if not cand:
        snap = mf.commit_snapshot(
            enc_dir, "delete", {"predicate": repr(predicate), "mode": mode, "rows_deleted": 0}
        )
        return {"candidates": 0, "rows_deleted": 0, "snapshot": snap["seq"]}
    if mode == "cow":
        # a COW rewrite folds existing sidecars in (the decode applies
        # them), so `kept` is live rows minus the new matches
        plan = plan_scan(enc_dir, pids=cand)
    else:
        # projection decode: ONLY the predicate columns — the point of
        # MOR is never touching the wide columns — in data-file
        # ordinals (no sidecars applied)
        plan = plan_scan(enc_dir, sorted({p[0] for p in predicate}), pids=cand)
        plan = replace(plan, deletes={}, eq_deletes={})

    def rewrite(pid: int) -> tuple[int, bool]:
        batch, epoch = _decode_file(enc_dir, pid, plan)
        if batch is None:
            return 0, False
        table = pa.Table.from_batches([batch])
        kept = table.filter(_not_matching_mask(table, predicate))
        deleted = table.num_rows - kept.num_rows
        if not (deleted or plan.deletes.get(pid)):
            return 0, False
        _rewrite_in_place(enc_dir, pid, kept, epoch, encode_kwargs)
        return deleted, True

    def mark(pid: int) -> tuple[int, bool]:
        import numpy as np
        import pyarrow.compute as pc

        batch, epoch = _decode_file(enc_dir, pid, plan)
        if batch is None:
            return 0, False
        match = one_chunk(pc.invert(_not_matching_mask(pa.Table.from_batches([batch]), predicate)))
        pos = np.flatnonzero(match.to_numpy(zero_copy_only=False)).astype(np.int64)
        already = mf.delete_positions(enc_dir, pid, file_epoch=epoch)
        new_pos = np.setdiff1d(pos, already, assume_unique=True)
        if new_pos.size:
            mf.write_delete_file(enc_dir, pid, new_pos, base_rows=batch.num_rows, epoch=epoch)
        return int(new_pos.size), False

    rows = _per_partition(spark, enc_dir, plan.pids, mark if mode == "mor" else rewrite)
    deleted = sum(r["rows_deleted"] for r in rows)
    _retire_rewritten(enc_dir, {r["partition"] for r in rows if r["rewritten"]})
    snap = mf.commit_snapshot(
        enc_dir, "delete", {"predicate": repr(predicate), "mode": mode, "rows_deleted": deleted}
    )
    return {"candidates": len(cand), "rows_deleted": deleted, "snapshot": snap["seq"]}


def _not_matching_mask(table, predicate: list[tuple]):
    """Boolean array: True where the row does NOT match the conjunction
    (null comparisons never match, SQL semantics)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = None
    for col, op, val in predicate:
        c = table.column(col)
        if op in pz.COMPARE:
            m = pc.call_function(pz.COMPARE[op][1], [c, val])
        elif op == "in":
            m = pc.is_in(c, value_set=pa.array(list(val)))
        elif op == "notnull":
            m = pc.is_valid(c)
        else:
            raise ValueError(f"delete_where op {op!r} not supported")
        if m.null_count:
            m = pc.fill_null(m, False)
        mask = m if mask is None else pc.and_(mask, m)
    return pc.invert(mask)


def rollback_table(out_dir: str, seq: int) -> dict:
    """Roll the table back to snapshot ``seq`` (Iceberg
    rollback-to-snapshot analogue): partitions committed after that
    snapshot are deleted (data file + manifest file), newer snapshot
    records are removed, and a fresh ``rollback`` snapshot re-pins the
    restored partition set as the current version. Returns the new
    snapshot. Destructive by design — the undo for a bad append; use
    ``decode_table(as_of=seq)`` for a non-destructive historical read."""
    target = mf.snapshot_partitions(out_dir, seq)
    current = mf.committed_partitions(out_dir)
    missing = target - current
    if missing:
        raise ValueError(
            f"cannot roll back to seq={seq}: partitions {sorted(missing)} "
            "are no longer committed (already rewritten or expired)"
        )
    mf.drop_partitions(out_dir, current - target)
    for pid in sorted(current - target):
        mf.remove_delete_files(out_dir, pid)
    # merge-on-read sidecars committed after the target snapshot are
    # rolled back too: the target pinned its apply set, anything newer
    # (a MOR delete since then) is undone by removing the sidecar
    pinned = {name for names in mf.snapshot_sidecars(out_dir, seq) for name in names}
    for name in mf.list_delete_files(out_dir) + mf.list_eq_delete_files(out_dir):
        if name not in pinned:
            os.remove(os.path.join(mf.deletes_dir(out_dir), name))
    import glob as _glob
    import json as _json

    for p in sorted(_glob.glob(os.path.join(mf.snapshot_dir(out_dir), "snap-*.json"))):
        with open(p) as f:
            if _json.load(f)["seq"] > seq:
                # tombstone, not delete: the seq stays burned so a future
                # snapshot can never reuse it under different data
                os.replace(p, p + ".invalid")
    return mf.commit_snapshot(out_dir, "rollback", {"to_seq": seq})


def remove_orphan_files(
    out_dir: str, older_than_s: float = 3600.0, dry_run: bool = False
) -> list[str]:
    """Remove files no table metadata references (Iceberg
    remove_orphan_files): data files whose partition id has no manifest
    commit (a job that crashed between writing ``part-NNNNN.bin`` and
    its atomic manifest rename) and leftover ``*.tmp*`` staging files
    anywhere in the table tree. Committed data, manifests, snapshots,
    tombstones, and delete sidecars are never touched — sidecar staleness
    has its own repair (``manifest.remove_stale_delete_files``).

    ``older_than_s`` is the same race guard Iceberg's procedure takes: a
    CONCURRENT append legitimately holds an uncommitted ``.bin`` for the
    gap between data write and manifest commit, so only files older than
    the threshold qualify. ``dry_run=True`` reports without deleting."""
    import glob as _glob
    import time as _time

    now = _time.time()
    committed = mf.committed_partitions(out_dir)
    orphans: list[str] = []
    for p in sorted(_glob.glob(os.path.join(out_dir, "part-*.bin"))):
        name = os.path.basename(p)
        try:
            pid = int(name[len("part-") : -len(".bin")])
        except ValueError:
            continue
        if pid not in committed and now - os.path.getmtime(p) >= older_than_s:
            orphans.append(p)
    for sub in ("", "manifest", "snapshots", "deletes"):
        d = os.path.join(out_dir, sub) if sub else out_dir
        for p in sorted(_glob.glob(os.path.join(d, "*.tmp*"))):
            if now - os.path.getmtime(p) >= older_than_s:
                orphans.append(p)
    if not dry_run:
        for p in orphans:
            try:
                os.remove(p)
            except OSError:
                pass  # already gone (concurrent cleanup)
    return orphans


def table_bytes(enc_dir: str) -> tuple[int, int, int]:
    """(raw_bytes, encoded_bytes, n_partitions) summed from the committed
    manifests — no data files are opened."""
    raw = enc = 0
    pids = mf.committed_partitions(enc_dir)
    for pid in pids:
        for r in mf.read_partition_manifest(enc_dir, pid):
            raw += r["raw_bytes"]
            enc += r["encoded_bytes"]
    return raw, enc, len(pids)


def compact_table(
    spark: SparkSession,
    src_dirs: str | list[str],
    dst_dir: str,
    key_col: str | None = None,
    partitions: int | None = None,
    target_partition_bytes: int = 256 << 20,
    layout: str = "hash",
    **encode_kwargs,
) -> DataFrame:
    """Rewrite one or more encoded tables into ``dst_dir`` with
    right-sized partitions; returns the new manifest DataFrame.

    ``partitions`` defaults to ``ceil(total_raw_bytes /
    target_partition_bytes)`` summed over the sources' manifests (raw
    bytes, not encoded — the in-memory working-set per task is what must
    fit an executor). All sources must share a schema; rows are unioned
    by name. Runs EAGERLY (the rewrite is the point), then commits a
    ``compact`` snapshot recording the source lineage. Sources are left
    untouched — the caller retires them once the new table is verified,
    same division of labor as Iceberg's rewrite + expire-snapshots.

    ``key_col``/``layout``/``encode_kwargs`` pass through to
    ``encode_table`` — compaction is also the moment to re-cluster
    (``layout="range"`` + ``sort_within``) or add blooms/page stats the
    original write skipped."""
    dirs = [src_dirs] if isinstance(src_dirs, str) else list(src_dirs)
    if not dirs:
        raise ValueError("compact_table needs at least one source dir")
    total_raw = 0
    lineage = []
    for d in dirs:
        raw, enc, nparts = table_bytes(d)
        total_raw += raw
        snaps = mf.read_snapshots(d)
        lineage.append(
            {
                "dir": os.path.abspath(d),
                "raw_bytes": raw,
                "encoded_bytes": enc,
                "partitions": nparts,
                "snapshot_seq": snaps[-1]["seq"] if snaps else None,
            }
        )
    if partitions is None:
        partitions = max(1, math.ceil(total_raw / max(target_partition_bytes, 1)))
    src = None
    for d in dirs:
        df = decode_table(spark, d)
        src = df if src is None else src.unionByName(df)
    man_rows = encode_table(
        src,
        dst_dir,
        key_col=key_col,
        partitions=partitions,
        layout=layout,
        **encode_kwargs,
    ).collect()
    mf.commit_snapshot(
        dst_dir,
        "compact",
        {
            "sources": lineage,
            "partitions": partitions,
            "target_partition_bytes": target_partition_bytes,
            "layout": layout,
            "key_col": key_col,
        },
    )
    return spark.createDataFrame(man_rows, schema=mf.MANIFEST_DDL)


def compact_parquet_dir(
    spark: SparkSession,
    src_path: str,
    dst_dir: str,
    key_col: str | None = None,
    partitions: int | None = None,
    target_partition_bytes: int = 256 << 20,
    compression: str = "snappy",
    page_index: bool = False,
    bloom_columns: list[str] | None = None,
) -> DataFrame:
    """Small-file compaction for REAL ``.parquet`` directories written
    by ANY engine (Iceberg rewrite-data-files over foreign files):
    right-size from footers alone (per-row-group total_byte_size — no
    data pages read at plan time), scan through the kernels one task
    per row group, rewrite via the parquet sink into ``partitions``
    files. Compaction is also the moment to ADD the prune structures
    the original writer skipped (``page_index`` / ``bloom_columns``).
    Sources are left untouched; a ``compact`` snapshot in ``dst_dir``
    records the lineage."""
    from ..compat.parquet_reader import file_meta_path
    from .parquet_sink import encode_table_parquet
    from .parquet_source import _list_files, read_parquet_table

    files = _list_files(src_path)
    total_raw = 0
    n_rgs = 0
    for f in files:
        meta = file_meta_path(f)
        for rg in meta.get(4) or []:
            n_rgs += 1
            total_raw += int(rg[2])  # total_byte_size (uncompressed)
    if partitions is None:
        partitions = max(1, math.ceil(total_raw / max(target_partition_bytes, 1)))
    man_rows = encode_table_parquet(
        read_parquet_table(spark, src_path),
        dst_dir,
        key_col=key_col,
        partitions=partitions,
        compression=compression,
        page_index=page_index,
        bloom_columns=bloom_columns,
    ).collect()
    mf.commit_snapshot(
        dst_dir,
        "compact",
        {
            "sources": [os.path.abspath(f) for f in files],
            "source_row_groups": n_rgs,
            "raw_bytes": total_raw,
            "partitions": partitions,
            "target_partition_bytes": target_partition_bytes,
        },
    )
    return spark.createDataFrame(man_rows, schema=mf.MANIFEST_DDL)
