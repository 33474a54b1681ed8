"""Optimistic concurrency at the table-metadata layer: snapshot seqs
are claimed by an atomic create (CAS) so concurrent committers never
clobber each other, and append jobs claim disjoint partition-id ranges
via job_id so two writers can target one table at once."""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

import pytest
import pyspark.sql.functions as F

pytestmark = pytest.mark.spark


def _pages(spark, n=200):
    from parquet_go_spark.spark.pages_table import pages_df

    return pages_df(spark, n, partitions=1)


def test_concurrent_snapshot_commits_get_distinct_seqs(spark, tmp_path):
    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.encode_job import encode_table

    d = str(tmp_path / "enc")
    encode_table(_pages(spark), d, key_col="url", partitions=2).collect()
    with ThreadPoolExecutor(8) as ex:
        snaps = list(ex.map(lambda i: mf.commit_snapshot(d, f"op{i}"), range(8)))
    seqs = sorted(s["seq"] for s in snaps)
    # every committer won a unique seq — os.replace would have silently
    # merged racers onto one file
    assert seqs == list(range(8))
    on_disk = mf.read_snapshots(d)
    assert [s["seq"] for s in on_disk] == list(range(8))
    for s in on_disk:  # every record is complete, none half-written
        assert s["partition_ids"] == [0, 1]


def test_claims_allocate_disjoint_ranges(spark, tmp_path):
    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.encode_job import encode_table

    d = str(tmp_path / "enc")
    encode_table(_pages(spark), d, key_col="url", partitions=3).collect()
    mf.commit_snapshot(d, "encode")
    with ThreadPoolExecutor(6) as ex:
        bases = list(ex.map(lambda i: mf.claim_append_base(d, f"job-{i}", 4), range(6)))
    ranges = sorted((b, b + 4) for b in bases)
    assert ranges[0][0] == 3  # first free id above the snapshot
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo  # pairwise disjoint
    # re-claiming is idempotent (crash resume re-runs the same job)
    assert mf.claim_append_base(d, "job-0", 4) in bases
    # a claim-less append base also respects live claims
    assert mf.next_partition_base(d) >= max(b + 4 for b in bases)


def test_concurrent_appends_with_job_ids_do_not_collide(spark, tmp_path):
    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table

    d = str(tmp_path / "enc")
    base_df = _pages(spark, 300)
    encode_table(base_df, d, key_col="url", partitions=2).collect()
    mf.commit_snapshot(d, "encode")
    # job A claims its range first (in flight), then job B plans and
    # lands BEFORE A finishes — without claims both would have computed
    # base=2 from the same snapshot and overwritten each other
    a_base = mf.claim_append_base(d, "job-a", 2)
    extra_b = _pages(spark, 100).withColumn("lang", F.lit("xx"))
    encode_table(extra_b, d, key_col="url", partitions=2, append=True, job_id="job-b").collect()
    snap_b = mf.commit_snapshot(d, "append")
    extra_a = _pages(spark, 50).withColumn("lang", F.lit("yy"))
    encode_table(extra_a, d, key_col="url", partitions=2, append=True, job_id="job-a").collect()
    mf.commit_snapshot(d, "append")
    assert a_base == 2
    # B was pushed above A's claim: no id overlap
    assert set(mf.committed_partitions(d)) == {0, 1, 2, 3, 4, 5}
    got = decode_table(spark, d)
    assert got.count() == 450
    assert got.filter(F.col("lang") == "xx").count() == 100
    assert got.filter(F.col("lang") == "yy").count() == 50
    # the interleaved history stays consistent for time travel
    assert decode_table(spark, d, as_of=snap_b["seq"]).count() == 400
    claims = {c["job_id"]: c for c in mf.read_claims(d)}
    assert claims["job-a"]["base"] == 2 and claims["job-b"]["base"] == 4


def test_job_id_requires_append(spark, tmp_path):
    from parquet_go_spark.spark.encode_job import encode_table

    with pytest.raises(ValueError, match="append=True"):
        encode_table(_pages(spark), str(tmp_path / "enc"), job_id="nope")


def test_commit_snapshot_never_reuses_burned_seq_under_race(spark, tmp_path):
    """A tombstoned seq stays burned even when racers are recomputing."""
    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.encode_job import encode_table

    d = str(tmp_path / "enc")
    encode_table(_pages(spark), d, key_col="url", partitions=1).collect()
    s0 = mf.commit_snapshot(d, "encode")
    s1 = mf.commit_snapshot(d, "append")
    # invalidate s1 (as an in-place rewrite would)
    p = os.path.join(mf.snapshot_dir(d), f"snap-{s1['seq']:06d}.json")
    os.replace(p, p + ".invalid")
    with ThreadPoolExecutor(4) as ex:
        snaps = list(ex.map(lambda i: mf.commit_snapshot(d, f"op{i}"), range(4)))
    seqs = sorted(s["seq"] for s in snaps)
    assert seqs == [2, 3, 4, 5]  # nobody reused the burned seq 1
    assert all(s["seq"] > s1["seq"] for s in snaps)
    assert snaps[0]["parent"] is not None and snaps[0]["parent"] >= s0["seq"]


def test_concurrent_property_setters_never_lose_keys(tmp_path):
    """ADVICE r2: two concurrent set_table_properties calls each
    read-modify-write the map; the CAS retry must fold the winner's map
    in so the loser's commit keeps BOTH keys."""
    import threading

    from parquet_go_spark.spark import manifest as mf

    d = str(tmp_path / "enc")
    import os

    os.makedirs(d)
    mf.write_table_schema(d, [{"name": "x", "ddl": "bigint"}])
    mf.commit_snapshot(d, "encode")

    errs = []
    barrier = threading.Barrier(8)

    def setter(i):
        try:
            barrier.wait()
            mf.set_table_properties(d, {f"k{i}": f"v{i}"})
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    ts = [threading.Thread(target=setter, args=(i,)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    props = mf.table_properties(d)
    assert props == {f"k{i}": f"v{i}" for i in range(8)}


def test_format_pgs_appends_claim_disjoint_ids(tmp_path):
    """Two ``format("pgs")`` append writers opened on one table before
    either writes both land whole: each write's driver commit claims its
    own id range, so neither overwrites the other's partition files."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from parquet_go_spark.core.chunk import decode_chunk
    from parquet_go_spark.core.columns import to_arrow
    from parquet_go_spark.spark import manifest as mf
    from parquet_go_spark.spark.datasource import PGSDataSource
    from parquet_go_spark.spark.encode_job import parse_partition_file

    d = str(tmp_path / "enc")
    schema = StructType([StructField("url", StringType()), StructField("n", LongType())])

    def batch(lo, hi):
        return pa.record_batch(
            {
                "url": pa.array([f"u{i}" for i in range(lo, hi)]),
                "n": pa.array(np.arange(lo, hi, dtype=np.int64)),
            }
        )

    def writer():
        return PGSDataSource({"path": d}).writer(schema, False)

    first = writer()
    first.commit([first.write(iter([batch(0, 20)])), first.write(iter([batch(20, 40)]))])
    wa, wb = writer(), writer()  # both opened before either writes
    ma = [wa.write(iter([batch(100, 150)])), wa.write(iter([batch(150, 200)]))]
    mb = [wb.write(iter([batch(200, 230)]))]
    wa.commit(ma)
    wb.commit(mb)

    pids = sorted(mf.committed_partitions(d))
    assert len(pids) == 5 == len(set(pids))
    ns = []
    for pid in pids:
        assert {r["partition"] for r in mf.read_partition_manifest(d, pid)} == {pid}
        with open(os.path.join(d, f"part-{pid:05d}.bin"), "rb") as f:
            ns += to_arrow(decode_chunk(parse_partition_file(f.read())["n"])).to_pylist()
    assert sorted(ns) == list(range(40)) + list(range(100, 230))
    snaps = mf.read_snapshots(d)
    assert [s["operation"] for s in snaps] == ["write.format(pgs)"] * 3
    assert snaps[-1]["partition_ids"] == pids
