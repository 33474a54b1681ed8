"""Parquet-backed manifest directory with atomic per-partition commits —
the Iceberg-metadata-table analogue for this sandbox (no Iceberg jars):
each task writes ``_manifest/part-<id>.parquet`` via tmp+rename, so a
partition is committed iff its manifest file exists; resume anti-joins
pending partitions against the committed set (the reference analogue is
row-group skipping, ``chunk_reader.go:271-297``).
"""

from __future__ import annotations

import glob
import hashlib
import itertools
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_SCHEMA = pa.schema(
    [
        ("partition", pa.int32()),
        ("column", pa.string()),
        ("ptype", pa.string()),
        ("encoding", pa.string()),
        ("compression", pa.string()),
        ("num_rows", pa.int64()),
        ("null_count", pa.int64()),
        ("distinct", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("num_pages", pa.int32()),
        ("crc32", pa.int64()),
        ("min_str", pa.string()),
        ("max_str", pa.string()),
        ("bloom", pa.binary()),
        ("kmv", pa.binary()),
        ("file", pa.string()),
        ("offset", pa.int64()),
        ("length", pa.int64()),
    ]
)

MANIFEST_DDL = (
    "partition int, column string, ptype string, encoding string, "
    "compression string, num_rows long, null_count long, distinct long, "
    "raw_bytes long, encoded_bytes long, num_pages int, crc32 long, "
    "min_str string, max_str string, bloom binary, kmv binary, "
    "file string, offset long, length long"
)


def manifest_dir(out_dir: str) -> str:
    # no leading underscore: Spark's file index treats _*/.*-prefixed paths
    # as hidden, and the manifest must be readable as a Spark table
    return os.path.join(out_dir, "manifest")


def part_manifest_path(out_dir: str, pid: int) -> str:
    return os.path.join(manifest_dir(out_dir), f"part-{pid:05d}.parquet")


def manifest_batch(rows: list[dict]) -> pa.RecordBatch:
    """Manifest rows (dicts; missing keys are NULL) as one Arrow batch."""
    cols = {f.name: [r.get(f.name) for r in rows] for f in MANIFEST_SCHEMA}
    return pa.RecordBatch.from_pydict(cols, schema=MANIFEST_SCHEMA)


def commit_partition(out_dir: str, pid: int, rows: list[dict]):
    """Atomically write one partition's manifest rows (tmp + rename)."""
    os.makedirs(manifest_dir(out_dir), exist_ok=True)
    path = part_manifest_path(out_dir, pid)
    tmp = path + f".tmp.{os.getpid()}"
    pq.write_table(pa.Table.from_batches([manifest_batch(rows)]), tmp)
    os.replace(tmp, path)


def drop_partitions(out_dir: str, pids) -> None:
    """Delete partitions' data files and manifests (missing ones skipped)."""
    import contextlib

    for pid in pids:
        data = os.path.join(out_dir, f"part-{pid:05d}.bin")
        for path in (data, part_manifest_path(out_dir, pid)):
            with contextlib.suppress(OSError):
                os.remove(path)


def committed_partitions(out_dir: str) -> set[int]:
    out = set()
    for p in glob.glob(os.path.join(manifest_dir(out_dir), "part-*.parquet")):
        name = os.path.basename(p)
        try:
            out.add(int(name[len("part-") : -len(".parquet")]))
        except ValueError:
            continue
    return out


def read_partition_manifest(out_dir: str, pid: int) -> list[dict]:
    return pq.read_table(part_manifest_path(out_dir, pid)).to_pylist()


def read_manifest(spark, out_dir: str):
    return spark.read.schema(MANIFEST_DDL).parquet(os.path.join(manifest_dir(out_dir)))


# ------------------------------------------- merge-on-read delete files
# Iceberg-v2 position-delete analogue: a delete "touches" a partition by
# writing a tiny sidecar of row ordinals instead of rewriting the data
# file — at 100 TB a take-down of a few urls costs KBs of sidecar, not a
# re-encode of every candidate partition. Readers subtract the positions
# at decode; compaction/COW rewrites materialize them away.


def deletes_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "deletes")


def delete_file_name(pid: int, k: int) -> str:
    return f"del-{pid:05d}-{k:04d}.parquet"


def list_delete_files(out_dir: str, pid: int | None = None) -> list[str]:
    """Basenames of every delete sidecar (optionally one partition's),
    sorted — the current-read apply set."""
    pat = f"del-{pid:05d}-*.parquet" if pid is not None else "del-*.parquet"
    return sorted(os.path.basename(p) for p in glob.glob(os.path.join(deletes_dir(out_dir), pat)))


def write_delete_file(out_dir: str, pid: int, positions, base_rows: int, epoch: int = 0) -> str:
    """Atomically write one positional-delete sidecar for partition
    ``pid`` (sorted int64 row ordinals within the partition file) and
    return its basename. Sidecars accumulate; readers union them.
    Two staleness stamps ride in the file metadata:

    - ``epoch`` — the partition FILE's rewrite epoch the ordinals were
      computed against (``encode_job.partition_file_epoch``). A rewrite
      bumps the file's embedded epoch in the same atomic rename that
      replaces the data bytes, so readers can IGNORE older-epoch
      sidecars with proof (the rewrite materialized them) — no window
      where stale ordinals silently delete the wrong rows, crash or no
      crash.
    - ``base_rows`` — the partition's manifest row count, the legacy
      secondary check (raises on mismatch within the same epoch)."""
    import numpy as np

    pos = np.asarray(positions, dtype=np.int64)
    if pos.size == 0:
        raise ValueError("refusing to write an empty delete file")
    pos = np.unique(pos)  # sorted + deduped
    if pos[0] < 0 or pos[-1] >= base_rows:
        raise ValueError(f"delete positions out of range [0, {base_rows})")
    os.makedirs(deletes_dir(out_dir), exist_ok=True)
    table = pa.table({"pos": pa.array(pos, pa.int64())}).replace_schema_metadata(
        {"base_rows": str(int(base_rows)), "epoch": str(int(epoch))}
    )
    # claim the next index by ATOMIC os.link create-if-absent (the same
    # CAS commit_snapshot uses): list-then-replace let two concurrent
    # delete committers compute the same k and silently clobber each
    # other's sidecar — the loser's rows came back to life
    tmp = os.path.join(deletes_dir(out_dir), f".del.tmp.{os.getpid()}")
    pq.write_table(table, tmp)
    try:
        k = 0
        existing = list_delete_files(out_dir, pid)
        if existing:
            k = int(existing[-1][len("del-") + 6 : -len(".parquet")]) + 1
        while True:
            name = delete_file_name(pid, k)
            path = os.path.join(deletes_dir(out_dir), name)
            try:
                os.link(tmp, path)  # atomic create-if-absent: the CAS
                return name
            except FileExistsError:
                k += 1  # raced: another committer claimed this index
    finally:
        os.unlink(tmp)


def _sidecar_base_rows(table) -> int:
    meta = table.schema.metadata or {}
    return int(meta.get(b"base_rows", b"-1"))


def _sidecar_epoch(table) -> int:
    meta = table.schema.metadata or {}
    return int(meta.get(b"epoch", b"0"))


def _partition_epoch(out_dir: str, pid: int) -> int:
    from .encode_job import partition_file_epoch_path

    return partition_file_epoch_path(os.path.join(out_dir, f"part-{pid:05d}.bin"))


def delete_positions(
    out_dir: str,
    pid: int,
    files: list[str] | None = None,
    file_epoch: int | None = None,
    pinned: bool = False,
):
    """Union of deleted row ordinals for partition ``pid`` as a sorted
    int64 numpy array. ``files`` restricts to an explicit apply set;
    None means every sidecar on disk (current read).

    ``file_epoch`` is the rewrite epoch embedded in the partition file
    bytes the CALLER is about to decode (``partition_file_epoch``);
    None reads it from the file on disk. Sidecars stamped with an OLDER
    epoch are skipped with proof: the epoch only moves in the same
    atomic rename that replaces the data bytes, and every rewrite
    materializes outstanding deletes first — so an older-epoch
    sidecar's positions are already baked into the file. A NEWER-epoch
    sidecar (the reader somehow holds pre-rewrite bytes) raises rather
    than corrupt. Within the same epoch, a ``base_rows`` mismatch vs
    the manifest still raises (legacy guard for pre-epoch sidecars).

    ``pinned=True`` marks a TIME-TRAVEL apply set (a snapshot's pinned
    sidecars): the skip-with-proof is then WRONG — the rewrite that
    advanced the epoch baked in every outstanding delete, not just this
    snapshot's pin, so the post-rewrite bytes do not represent the
    pinned version. Older-epoch (or missing) pinned sidecars RAISE
    'invalidated' instead — the same answer the snapshot tombstone
    gives once the rewrite's cleanup completes (this closes the
    crash/concurrency window between the rewrite landing and
    ``invalidate_snapshots`` committing)."""
    import numpy as np

    names = files if files is not None else list_delete_files(out_dir, pid)
    prefix = f"del-{pid:05d}-"
    parts = []
    cur_rows = None
    fepoch = None
    for name in names:
        if not name.startswith(prefix):
            continue
        path = os.path.join(deletes_dir(out_dir), name)
        try:
            t = pq.read_table(path)
        except FileNotFoundError:
            if pinned:
                raise ValueError(
                    f"snapshot invalidated: pinned delete sidecar {name} is "
                    "missing (an in-place rewrite materialized and removed "
                    "it, or the deletes/ dir was externally pruned); this "
                    "version can no longer be reconstructed"
                )
            # current read, cleaned up between planning and apply: only
            # legal when a rewrite made it stale, i.e. the file epoch
            # moved on — the epoch check below can't run, but a sidecar
            # removed by remove_delete_files is always materialized
            continue
        ep = _sidecar_epoch(t)
        if fepoch is None:
            fepoch = file_epoch if file_epoch is not None else _partition_epoch(out_dir, pid)
        if ep < fepoch:
            if pinned:
                raise ValueError(
                    f"snapshot invalidated: pinned delete sidecar {name} "
                    f"(epoch {ep}) predates the partition bytes (epoch "
                    f"{fepoch}) — a later in-place rewrite baked in deletes "
                    "beyond this version's pin"
                )
            continue  # provably materialized by a completed rewrite
        if ep > fepoch:
            raise ValueError(
                f"delete sidecar {name} is stamped epoch {ep} but the "
                f"partition file bytes are epoch {fepoch}: reading "
                "pre-rewrite data with post-rewrite deletes"
            )
        base = _sidecar_base_rows(t)
        if base >= 0:
            if cur_rows is None:
                man = read_partition_manifest(out_dir, pid)
                cur_rows = man[0]["num_rows"] if man else 0
            if base != cur_rows:
                raise ValueError(
                    f"stale delete sidecar {name}: written against "
                    f"{base} rows but partition {pid} now has {cur_rows} "
                    "(in-place rewrite without sidecar cleanup); run "
                    "remove_stale_delete_files to repair"
                )
        parts.append(t.column("pos").to_numpy())
    if not parts:
        return np.empty(0, dtype=np.int64)
    return np.unique(np.concatenate(parts))


def list_eq_delete_files(out_dir: str) -> list[str]:
    """Basenames of every EQUALITY delete sidecar, sorted."""
    return sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(deletes_dir(out_dir), "eq-*.parquet"))
    )


def write_eq_delete_file(out_dir: str, column: str, values, applies_to) -> str:
    """Atomically write one equality-delete sidecar (Iceberg v2
    equality delete file): rows of ``column`` whose value appears in
    ``values`` are deleted from the partitions in ``applies_to`` — and
    ONLY those, so a key re-inserted by a later append survives
    (sequence-number semantics: the delete applies to data committed
    before it). Unlike positional sidecars these are value-based, so an
    in-place rewrite never makes them stale (re-filtering by value is
    idempotent). Lands on the next free ``eq-NNNN.parquet`` with the same
    ``os.link`` CAS as ``write_delete_file``: concurrent writers never
    clobber each other's sidecar by claiming the same index. Returns the
    basename."""
    staged = stage_eq_delete_file(out_dir, column, values, applies_to, f".eq.tmp.{os.getpid()}")
    stems = [n[len("eq-") : -len(".parquet")] for n in list_eq_delete_files(out_dir)]
    k = max((int(s) + 1 for s in stems if s.isdigit()), default=0)
    try:
        while True:
            name = f"eq-{k:04d}.parquet"
            try:
                os.link(staged, os.path.join(deletes_dir(out_dir), name))
                return name
            except FileExistsError:
                k += 1
    finally:
        os.unlink(staged)


def stage_eq_delete_file(out_dir: str, column: str, values, applies_to, stage_name: str) -> str:
    """Write an equality sidecar as ``deletes/<stage_name>``, invisible to
    readers until :func:`write_eq_delete_file` or
    :func:`publish_job_eq_delete_files` publishes it; a ``.tmp`` in the name
    keeps a crashed stage in ``remove_orphan_files``' sweep. Returns the
    staged path."""
    vals = list(values)
    if not vals:
        raise ValueError("refusing to write an empty equality delete")
    os.makedirs(deletes_dir(out_dir), exist_ok=True)
    table = pa.table({"value": pa.array(vals)}).replace_schema_metadata(
        {"column": column, "applies_to": json.dumps(sorted(int(p) for p in applies_to))}
    )
    path = os.path.join(deletes_dir(out_dir), stage_name)
    pq.write_table(table, path)
    return path


def publish_job_eq_delete_files(out_dir: str, job_id: str, staged: list[str]) -> list[str]:
    """Move one job's staged sidecars onto ``eq-<job tag>-NNNN.parquet``
    (the tag hashes ``job_id``) and remove every other sidecar under the
    tag: a replayed job reuses the names its crashed attempt published
    and sweeps those it does not republish. A crashed attempt's sidecar
    that another writer's snapshot has pinned since stays as it is, so
    time travel to that snapshot still reads it. Returns the basenames."""
    tag = hashlib.sha1(job_id.encode()).hexdigest()[:16]
    pattern = os.path.join(deletes_dir(out_dir), f"eq-{tag}-*.parquet")
    old = {os.path.basename(p) for p in glob.glob(pattern)}
    pinned = set()
    if old:  # a replay
        for snap in read_snapshots(out_dir):
            pinned |= old.intersection(snap.get("eq_delete_files") or ())
    free = (n for n in (f"eq-{tag}-{i:04d}.parquet" for i in itertools.count()) if n not in pinned)
    names = [next(free) for _ in staged]
    for path, name in zip(staged, names):
        os.replace(path, os.path.join(deletes_dir(out_dir), name))
    for name in old - pinned - set(names):
        os.remove(os.path.join(deletes_dir(out_dir), name))
    return names


def read_eq_delete_file(out_dir: str, name: str) -> dict:
    """{"column", "values", "applies_to"} for one equality sidecar."""
    # ParquetFile, not read_table: the dataset machinery costs several
    # times the read of a small file, and plan_scan reads every sidecar
    t = pq.ParquetFile(os.path.join(deletes_dir(out_dir), name)).read()
    meta = t.schema.metadata or {}
    return {
        "column": meta[b"column"].decode(),
        "values": t.column("value").to_pylist(),
        "applies_to": set(json.loads(meta[b"applies_to"].decode())),
    }


def eq_deletes_by_pid(out_dir: str, names: list[str]) -> dict:
    """pid -> [(column, values), ...] for the given equality sidecars,
    in commit order — the read-side apply plan."""
    out: dict[int, list] = {}
    for name in names:
        spec = read_eq_delete_file(out_dir, name)
        for pid in spec["applies_to"]:
            out.setdefault(pid, []).append((spec["column"], spec["values"]))
    return out


def remove_stale_delete_files(out_dir: str, pid: int) -> list[str]:
    """Remove sidecars provably made stale by a completed rewrite:
    stamped with an older file epoch than the partition file's embedded
    one, or (legacy pre-epoch stamp) a ``base_rows`` that no longer
    matches the manifest row count. Safe by construction: every
    completed rewrite decodes live rows (sidecars applied) — the
    positions are already materialized into the data file."""
    man = read_partition_manifest(out_dir, pid)
    cur_rows = man[0]["num_rows"] if man else 0
    fepoch = _partition_epoch(out_dir, pid)
    removed = []
    for name in list_delete_files(out_dir, pid):
        path = os.path.join(deletes_dir(out_dir), name)
        t = pq.read_table(path)
        base = _sidecar_base_rows(t)
        if _sidecar_epoch(t) < fepoch or (base >= 0 and base != cur_rows):
            os.remove(path)
            removed.append(name)
    return removed


def remove_delete_files(out_dir: str, pid: int) -> list[str]:
    """Drop every sidecar of partition ``pid`` — REQUIRED after any
    in-place rewrite of its data file (positions refer to the old row
    ordinals). Returns removed basenames."""
    removed = []
    for name in list_delete_files(out_dir, pid):
        os.remove(os.path.join(deletes_dir(out_dir), name))
        removed.append(name)
    return removed


# ------------------------------------------------------- snapshot lineage
def snapshot_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "snapshots")


def _next_seq(out_dir: str) -> tuple[int, int | None]:
    """(next free seq, parent seq). Counts invalidated tombstones too
    (snap-*.json.invalid): a burned seq is never reused."""
    existing = sorted(glob.glob(os.path.join(snapshot_dir(out_dir), "snap-*.json")))
    all_seqs = [
        int(os.path.basename(p)[len("snap-") :][:6])
        for p in glob.glob(os.path.join(snapshot_dir(out_dir), "snap-*.json*"))
    ]
    seq = (max(all_seqs) + 1) if all_seqs else 0
    parent = None
    if existing:
        with open(existing[-1]) as f:
            parent = json.load(f)["seq"]
    return seq, parent


def commit_snapshot(
    out_dir: str,
    operation: str,
    config: dict | None = None,
    properties: dict[str, str] | None = None,
    properties_fn=None,
) -> dict:
    """Append one job-level snapshot (Iceberg-snapshot analogue): a
    sequenced, immutable JSON record of what is committed right now —
    partition count, byte totals, per-encoding mix, live delete-file set,
    the job config, and the parent snapshot. Call after the encode job's
    manifest DataFrame has been acted on (the partitions are committed by
    then).

    Concurrency: the seq is claimed by an ATOMIC ``os.link`` of the
    staged record onto ``snap-<seq>.json`` — creating the name fails if
    another committer got there first, and the loser recomputes seq and
    parent and retries (optimistic CAS, Iceberg's commit protocol). Two
    concurrent committers therefore always produce two distinct, complete
    snapshots; ``os.replace`` here would have silently clobbered one."""
    import time as _time

    os.makedirs(snapshot_dir(out_dir), exist_ok=True)
    total_raw = total_enc = n_rows = 0
    encodings: dict[str, int] = {}
    pids = committed_partitions(out_dir)
    for pid in sorted(pids):
        # a partition's row count is ANY of its columns' num_rows (all
        # equal by construction) — counting only a global first column
        # under-reported evolved-schema partitions that legally omit it
        pid_rows = 0
        for r in read_partition_manifest(out_dir, pid):
            total_raw += r["raw_bytes"]
            total_enc += r["encoded_bytes"]
            encodings[r["encoding"]] = encodings.get(r["encoding"], 0) + 1
            pid_rows = max(pid_rows, r["num_rows"])
        n_rows += pid_rows
    # merge-on-read deletes: live row count subtracts the deleted
    # positions; the sidecar basenames are pinned so time travel applies
    # exactly the deletes this version saw (and none committed later)
    delete_files = list_delete_files(out_dir)
    n_deleted = 0
    by_pid: dict[int, list[str]] = {}
    for name in delete_files:
        by_pid.setdefault(int(name[len("del-") : len("del-") + 5]), []).append(name)
    for pid, names in by_pid.items():
        if pid in pids:
            n_deleted += int(delete_positions(out_dir, pid, files=names).size)
    snap = {
        "parent": None,
        "ts": _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime()),
        "operation": operation,
        "partitions": len(pids),
        # the committed-partition set IS the table version: pinning it
        # here is what makes snapshots functional (time travel, rollback)
        # rather than descriptive — the Iceberg manifest-list analogue
        "partition_ids": sorted(pids),
        "delete_files": delete_files,
        # equality deletes are pinned too (time travel), but their row
        # effect is unknowable without a scan — num_rows subtracts only
        # positional deletes (same limitation as Iceberg's snapshot
        # summaries with equality deletes present)
        "eq_delete_files": list_eq_delete_files(out_dir),
        "num_rows": n_rows - n_deleted,
        "raw_bytes": total_raw,
        "encoded_bytes": total_enc,
        "encodings": encodings,
        "config": config or {},
    }
    if properties is not None:
        # full effective map, not a diff: any as_of read resolves
        # properties from the nearest carrying snapshot alone
        snap["properties"] = {str(k): str(v) for k, v in properties.items()}
    while True:
        seq, parent = _next_seq(out_dir)
        if properties_fn is not None:
            # recomputed on EVERY attempt, strictly AFTER the seq scan: a
            # competitor that committed before the scan is visible to this
            # read; one that commits after it claims the very seq we are
            # about to link, so our link fails and we retry with its map
            # folded in — property updates are linearizable, never lost
            # (ADVICE r2)
            snap["properties"] = {str(k): str(v) for k, v in properties_fn().items()}
        snap["seq"], snap["parent"] = seq, parent
        path = os.path.join(snapshot_dir(out_dir), f"snap-{seq:06d}.json")
        # staged OUTSIDE the snap-*.json* namespace: a tmp matching
        # _next_seq's glob would let a competitor treat our unlinked
        # seq as burned and skip past it without ever colliding —
        # exactly the lost-update window the CAS exists to close (the
        # .tmp suffix keeps remove_orphan_files sweeping crashed stages)
        tmp = os.path.join(
            snapshot_dir(out_dir), f"stage-{os.getpid()}.{id(snap)}.tmp"
        )
        with open(tmp, "w") as f:
            json.dump(snap, f)
        try:
            os.link(tmp, path)  # atomic create-if-absent: the CAS
        except FileExistsError:
            os.remove(tmp)
            continue  # lost the race: recompute seq/parent, retry
        os.remove(tmp)
        return snap


def read_snapshots(out_dir: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(snapshot_dir(out_dir), "snap-*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def latest_snapshot(out_dir: str) -> dict | None:
    """The newest snapshot (one file read, not the whole log)."""
    paths = sorted(glob.glob(os.path.join(snapshot_dir(out_dir), "snap-*.json")))
    if not paths:
        return None
    with open(paths[-1]) as f:
        return json.load(f)


def table_properties(out_dir: str, as_of: int | str | None = None) -> dict[str, str]:
    """Effective table properties at a version (Iceberg table-properties
    analogue): the ``properties`` map of the nearest at-or-before
    snapshot that carries one (``set_table_properties`` stores the full
    effective map, so no ancestor merge is needed). ``as_of`` = seq,
    ISO-8601 instant, or None for current. O(metadata)."""
    if isinstance(as_of, str):
        as_of = seq_as_of_timestamp(out_dir, as_of)
    best: dict[str, str] = {}
    best_seq = -1
    for snap in read_snapshots(out_dir):
        if "properties" not in snap:
            continue
        if as_of is not None and snap["seq"] > as_of:
            continue
        if snap["seq"] > best_seq:
            best, best_seq = snap["properties"], snap["seq"]
    return dict(best)


def set_table_properties(out_dir: str, updates: dict[str, str | None]) -> dict:
    """Set/unset table properties (Iceberg ``ALTER TABLE SET
    TBLPROPERTIES`` / ``UNSET``): value None deletes a key. Commits a
    ``set-properties`` snapshot carrying the full effective map — pure
    metadata, no data files touched, time travel reads the map current
    at any version."""
    diff: dict[str, str | None] = {
        str(k): (None if v is None else str(v)) for k, v in updates.items()
    }

    def _effective() -> dict[str, str]:
        cur = table_properties(out_dir)
        for k, v in diff.items():
            if v is None:
                cur.pop(k, None)
            else:
                cur[k] = v
        return cur

    return commit_snapshot(
        out_dir, "set-properties", {"updates": diff}, properties_fn=_effective
    )


def seq_as_of_timestamp(out_dir: str, ts) -> int:
    """Resolve a wall-clock instant to the snapshot seq that was current
    then (Iceberg ``TIMESTAMP AS OF``): the highest-seq snapshot whose
    commit ``ts`` is <= the given instant. ``ts`` accepts an ISO-8601
    string (``2026-08-18T12:00:00Z`` or without the Z, UTC either way),
    a ``datetime``, or epoch seconds. Raises when no snapshot existed
    yet at that instant, and raises 'invalidated' (never silently
    resolves to an older version) when the snapshot current at that
    instant was tombstoned by an in-place rewrite."""
    import datetime as _dt

    if isinstance(ts, (int, float)):
        want = _dt.datetime.fromtimestamp(ts, _dt.timezone.utc)
    elif isinstance(ts, _dt.datetime):
        want = ts if ts.tzinfo else ts.replace(tzinfo=_dt.timezone.utc)
    else:
        s = str(ts).strip().replace("Z", "+00:00")
        want = _dt.datetime.fromisoformat(s)
        if want.tzinfo is None:
            want = want.replace(tzinfo=_dt.timezone.utc)

    def _snap_ts(snap: dict) -> _dt.datetime:
        return _dt.datetime.fromisoformat(snap["ts"].replace("Z", "+00:00"))

    candidates: list[tuple[int, bool]] = []  # (seq, valid)
    for p in glob.glob(os.path.join(snapshot_dir(out_dir), "snap-*.json")):
        with open(p) as f:
            snap = json.load(f)
        if _snap_ts(snap) <= want:
            candidates.append((snap["seq"], True))
    for p in glob.glob(os.path.join(snapshot_dir(out_dir), "snap-*.json.invalid")):
        try:
            with open(p) as f:
                snap = json.load(f)
            if _snap_ts(snap) <= want:
                candidates.append((snap["seq"], False))
        except (ValueError, KeyError):
            # tombstone without a readable record: its seq is in the name
            name = os.path.basename(p)
            seq = int(name[len("snap-") : -len(".json.invalid")])
            candidates.append((seq, False))
    if not candidates:
        raise ValueError(f"no snapshot at or before {ts!r} in {snapshot_dir(out_dir)}")
    seq, valid = max(candidates)
    if not valid:
        raise ValueError(
            f"snapshot current at {ts!r} (seq={seq}) was invalidated by an "
            "in-place rewrite (delete/merge/rollback touched its partitions)"
        )
    return seq


def snapshot_partitions(out_dir: str, seq: int) -> set[int]:
    """The partition-id set pinned by snapshot ``seq`` — the read set for
    time travel (``decode_table(as_of=seq)``) and the keep set for
    rollback. Raises if the snapshot is missing or predates partition
    pinning (an expired or legacy snapshot is not silently 'everything')."""
    path = os.path.join(snapshot_dir(out_dir), f"snap-{seq:06d}.json")
    if not os.path.exists(path):
        if os.path.exists(path + ".invalid"):
            raise ValueError(
                f"snapshot seq={seq} was invalidated by an in-place rewrite "
                "(delete/merge/rollback touched its partitions)"
            )
        raise ValueError(f"no snapshot seq={seq} at {snapshot_dir(out_dir)} (expired?)")
    with open(path) as f:
        snap = json.load(f)
    ids = snap.get("partition_ids")
    if ids is None:
        raise ValueError(f"snapshot seq={seq} has no pinned partition set (legacy snapshot)")
    return set(ids)


def snapshot_sidecars(out_dir: str, seq: int) -> tuple[list[str], list[str]]:
    """The (positional, equality) delete-sidecar apply sets pinned by
    snapshot ``seq`` — time travel applies exactly these, so a version
    BEFORE a merge-on-read delete still reads the rows (MOR deletes never
    invalidate history, unlike in-place rewrites). Snapshots predating
    delete-file support pin the empty sets (no sidecars existed)."""
    path = os.path.join(snapshot_dir(out_dir), f"snap-{seq:06d}.json")
    if not os.path.exists(path):
        # same contract (and wording) as snapshot_partitions
        snapshot_partitions(out_dir, seq)
    with open(path) as f:
        snap = json.load(f)
    return list(snap.get("delete_files") or []), list(snap.get("eq_delete_files") or [])


def next_partition_base(out_dir: str) -> int:
    """First free partition id for an append job: one past the highest id
    in the LATEST SNAPSHOT (not the committed set) so a crashed append
    attempt — which left committed partitions above the base but no
    snapshot — resumes at the same base and its per-partition manifest
    commits are replayed, not orphaned. Falls back to the committed set
    when the table has no snapshots yet."""
    snap = latest_snapshot(out_dir)
    if snap and snap.get("partition_ids") is not None:
        ids = snap["partition_ids"]
        base = (max(ids) + 1) if ids else 0
    else:
        pids = committed_partitions(out_dir)
        base = (max(pids) + 1) if pids else 0
    # never hand out ids inside a range another append job has claimed
    for c in read_claims(out_dir):
        base = max(base, c["base"] + c["n"])
    return base


def claims_dir(out_dir: str) -> str:
    return os.path.join(snapshot_dir(out_dir), "claims")


def read_claims(out_dir: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(claims_dir(out_dir), "claim-*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def claim_append_base(out_dir: str, job_id: str, n_partitions: int) -> int:
    """Atomically claim the partition-id range [base, base+n) for an
    append job — the optimistic-concurrency piece that lets SEVERAL
    append jobs target one table at once without id collisions (two
    unclaimed appends would both compute the same
    ``next_partition_base`` and clobber each other's partition files).

    Allocation is serialized by an ``flock`` on ``snapshots/claims/.lock``
    (one driver-side lock per append job, not per partition — this is
    the role a catalog service plays for Iceberg; a shared POSIX
    filesystem is this sandbox's catalog). Re-claiming with the same
    ``job_id`` returns the existing base, so a crashed job re-runs
    against its own range and resume replays its committed partitions.
    Abandoned claims burn their range — ids are never reused, same
    contract as burned snapshot seqs."""
    import fcntl
    import time as _time

    if n_partitions < 1:
        raise ValueError("claim_append_base needs n_partitions >= 1")
    os.makedirs(claims_dir(out_dir), exist_ok=True)
    with open(os.path.join(claims_dir(out_dir), ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for c in read_claims(out_dir):
            if c["job_id"] == job_id:
                if c["n"] < n_partitions:
                    raise ValueError(
                        f"append job {job_id!r} re-run with more partitions "
                        f"({n_partitions}) than its claim ({c['n']}); use a "
                        "new job_id for a differently-shaped job"
                    )
                return c["base"]
        base = next_partition_base(out_dir)  # already past every claim
        path = os.path.join(claims_dir(out_dir), f"claim-{base:06d}.json")
        tmp = path + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "job_id": job_id,
                    "base": base,
                    "n": int(n_partitions),
                    "ts": _time.strftime("%Y-%m-%dT%H:%M:%SZ", _time.gmtime()),
                },
                f,
            )
        os.replace(tmp, path)
        return base


def invalidate_snapshots(out_dir: str, rewritten_pids: set[int]) -> list[int]:
    """Remove snapshot records whose pinned partition set intersects
    ``rewritten_pids`` — after an in-place rewrite (delete/merge) those
    versions are physically unreproducible, and ``as_of`` must raise
    'expired' rather than silently read the rewritten bytes under the old
    ids. Snapshots pinning only untouched partitions stay valid."""
    removed = []
    for p in sorted(glob.glob(os.path.join(snapshot_dir(out_dir), "snap-*.json"))):
        with open(p) as f:
            snap = json.load(f)
        ids = set(snap.get("partition_ids") or [])
        if ids & set(rewritten_pids):
            removed.append(snap["seq"])
            # rename, don't delete: the tombstone keeps the seq burned so
            # no future snapshot reuses it (as_of an old seq must raise,
            # never resolve to different data)
            os.replace(p, p + ".invalid")
    return removed


def expire_snapshots(out_dir: str, keep_last: int = 1) -> list[int]:
    """Delete all but the newest ``keep_last`` snapshot records (metadata
    only — no data files are touched; partitions are removed by
    ``maintenance.rollback_table`` or overwrite). Returns removed seqs.
    Expired seqs are no longer time-travelable, same contract as
    Iceberg's expire_snapshots."""
    if keep_last < 1:
        raise ValueError("expire_snapshots keeps at least the current snapshot")
    paths = sorted(glob.glob(os.path.join(snapshot_dir(out_dir), "snap-*.json")))
    removed = []
    for p in paths[:-keep_last] if keep_last else paths:
        with open(p) as f:
            removed.append(json.load(f)["seq"])
        os.remove(p)
    return removed


def evolve_table_schema(existing: list[dict], incoming: list[dict]) -> list[dict]:
    """Merge an appended batch's schema into the table schema
    (Iceberg-style evolution): columns on both sides must keep their
    type; columns only in ``incoming`` are added at the end; columns only
    in ``existing`` stay (the appended partitions simply don't write
    them, and decode fills nulls either way). Returns the merged field
    list in table order."""
    by_name = {f["name"]: f for f in existing}
    for f in incoming:
        old = by_name.get(f["name"])
        if old is not None and old["ddl"] != f["ddl"]:
            raise ValueError(
                f"schema evolution cannot change column {f['name']!r} "
                f"from {old['ddl']} to {f['ddl']}"
            )
    return existing + [f for f in incoming if f["name"] not in by_name]


def write_table_schema(out_dir: str, fields: list[dict]):
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, "_schema.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"fields": fields}, f)
    os.replace(tmp, os.path.join(out_dir, "_schema.json"))


def read_table_schema(out_dir: str) -> list[dict]:
    with open(os.path.join(out_dir, "_schema.json")) as f:
        return json.load(f)["fields"]
