"""Distributed real-Parquet sink: output readable by Spark's native
Parquet reader and by DuckDB, with manifest/resume intact."""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

from parquet_go_spark.spark import manifest as mf
from parquet_go_spark.spark.pages_table import pages_df
from parquet_go_spark.spark.parquet_sink import encode_table_parquet

pytestmark = pytest.mark.spark


def test_parquet_sink_roundtrip(spark, tmp_path):
    out = str(tmp_path / "pq_out")
    df = pages_df(spark, 2000, partitions=3)
    man = encode_table_parquet(df, out, key_col="url", partitions=4, compression="snappy").collect()
    assert {r["column"] for r in man} == {"url", "warc_ts", "html", "text", "lang"}
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert files
    # Spark's own reader consumes our files
    back = spark.read.parquet(*files)
    a = df.orderBy("url").toPandas()
    b = back.select(df.columns).orderBy("url").toPandas()
    assert a.equals(b)
    # DuckDB consumes them too
    con = duckdb.connect()
    n, langs = con.sql(
        f"SELECT count(*), count(DISTINCT lang) FROM read_parquet('{out}/part-*.parquet')"
    ).fetchone()
    assert n == 2000
    assert langs == df.select("lang").distinct().count()


def test_parquet_sink_resume(spark, tmp_path):
    out = str(tmp_path / "pq_resume")
    df = pages_df(spark, 1000, partitions=2)
    encode_table_parquet(df, out, key_col="url", partitions=3).collect()
    files1 = {p: os.path.getmtime(p) for p in glob.glob(f"{out}/part-*.parquet")}
    victim = sorted(mf.committed_partitions(out))[0]
    os.remove(mf.part_manifest_path(out, victim))
    encode_table_parquet(df, out, key_col="url", partitions=3).collect()
    files2 = {p: os.path.getmtime(p) for p in glob.glob(f"{out}/part-*.parquet")}
    untouched = [p for p in files1 if f"part-{victim:05d}" not in p]
    for p in untouched:
        assert files1[p] == files2[p]


def test_parquet_sink_emits_prune_structures(spark, tmp_path):
    """page_index/bloom_columns pass through to every partition file:
    pyarrow flags the PageIndex, our planner prunes row groups via the
    bloom, and the distributed scan stays exact."""
    import io

    import pyarrow.parquet as pq

    from parquet_go_spark.compat.bloom_filter import bloom_probe_file
    from parquet_go_spark.compat.parquet_reader import file_meta_path
    from parquet_go_spark.spark.parquet_source import read_parquet_table

    out = str(tmp_path / "pq_idx")
    df = pages_df(spark, 2000, partitions=2)
    encode_table_parquet(
        df, out, key_col="url", partitions=3, compression="snappy",
        page_index=True, bloom_columns=["url"], max_row_group=400,
    ).collect()
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert files
    md = pq.ParquetFile(files[0]).metadata
    col0 = md.row_group(0).column(0)
    assert col0.has_column_index and col0.has_offset_index
    # the url chunk carries a bloom our prober can consult
    meta = file_meta_path(files[0])
    cc_url = [
        c for c in meta[4][0][1]
        if [p.decode() for p in c[3][3]] == ["url"]
    ][0]
    assert 14 in cc_url[3]
    assert bloom_probe_file(files[0], cc_url[3], "https://no.such.url/") is False
    # end-to-end: point lookup through the sinked table
    one = df.select("url").limit(1).collect()[0][0]
    hit = read_parquet_table(spark, out, prune=[("url", "==", one)])
    assert hit.where(hit.url == one).count() == 1


def test_parquet_sink_kv_metadata(spark, tmp_path):
    """File- and column-level KV metadata ride every partition file
    (reference WithMetaData / WithRowGroupMetaDataForColumnPath)."""
    import pyarrow.parquet as pq

    from parquet_go_spark.compat.parquet_reader import (
        column_kv_metadata,
        file_kv_metadata,
        file_meta,
    )

    out = str(tmp_path / "pq_kv")
    df = pages_df(spark, 600, partitions=2)
    encode_table_parquet(
        df, out, partitions=2,
        kv_metadata={"job": "crawl-2026-08"}, column_kv={"url": {"canon": "rfc3986"}},
    ).collect()
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert files
    for f in files:
        with open(f, "rb") as fh:
            meta = file_meta(fh.read())
        assert file_kv_metadata(meta) == {"job": "crawl-2026-08"}
        assert column_kv_metadata(meta, "url") == {"canon": "rfc3986"}
        got = pq.read_metadata(f).metadata
        assert got[b"job"] == b"crawl-2026-08"


@pytest.mark.parametrize("fixed", ["decimal", "fixed_size_binary"])
def test_parquet_sink_refuses_flba_on_the_driver(spark, tmp_path, monkeypatch, fixed):
    """Decimal and fixed-size binary columns raise on the driver, naming
    the column, before any task writes a file. Spark has no fixed-size
    binary type, so that case swaps it into the Arrow schema
    ``prepare_write`` returns."""
    import pyarrow as pa

    from parquet_go_spark.spark import parquet_sink

    df = spark.sql("SELECT id, CAST(id AS DECIMAL(9, 2)) AS fx FROM range(10)")
    if fixed == "fixed_size_binary":
        df = spark.sql("SELECT id, CAST(CAST(id AS STRING) AS BINARY) AS fx FROM range(10)")
        real = parquet_sink.prepare_write

        def prepare_fixed(*args, **kwargs):
            fields, schema = real(*args, **kwargs)
            return fields, schema.set(1, pa.field("fx", pa.binary(8)))

        monkeypatch.setattr(parquet_sink, "prepare_write", prepare_fixed)
    out = str(tmp_path / "pq_flba")
    with pytest.raises(ValueError, match="column 'fx'.*FIXED_LEN_BYTE_ARRAY"):
        encode_table_parquet(df, out, partitions=2)
    assert not glob.glob(f"{out}/part-*")
