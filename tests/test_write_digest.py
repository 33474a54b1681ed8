"""Golden write digests: the sha1 of every data file that one small
seeded ``encode_table`` write (hash layout, ``page_stats``,
``bloom_columns``) and one ``encode_table_parquet`` write
(``page_index``, ``bloom_columns``) produce.

The write path is refactored without changing a byte, and these digests
are what says so. A change that is meant to alter the written bytes (a
new codec choice, a container field) updates the digests below and says
so in CHANGES.md; any other change must leave them equal.

Each input is one Spark partition, so the shuffle hands every task its
rows in one fixed order and the files are a pure function of the code."""

from __future__ import annotations

import glob
import hashlib
import os

import pytest

pytestmark = pytest.mark.spark

PGSF_DIGESTS = {
    "part-00000.bin": "6cdb593301a9a09989b1fe143f795e0f06c6665d",
    "part-00001.bin": "c9580d0927b01b44a9731f7aeb56bd14d977a9f6",
    "part-00002.bin": "b77e8de97899b9eb8eb233ce8d552f2de6347d9c",
    "part-00003.bin": "7fa7dc396e0809d2ebfe0b3e02990d3dae1a1721",
}

PARQUET_DIGESTS = {
    "part-00000.parquet": "78a8b673a3bfcb0d66a4e2f148cf8abf6f1f1a17",
    "part-00001.parquet": "f2b40d3ee93dc0571993912c35ef424b51819625",
    "part-00002.parquet": "e688835dbd41f055aa161a8784b5b9e12ece27a5",
}


def _digests(out_dir: str, pattern: str) -> dict[str, str]:
    out = {}
    for path in sorted(glob.glob(os.path.join(out_dir, pattern))):
        with open(path, "rb") as f:
            out[os.path.basename(path)] = hashlib.sha1(f.read()).hexdigest()
    return out


def test_encode_table_write_digest(spark, tmp_path):
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.pages_table import pages_df

    out = str(tmp_path / "enc")
    encode_table(
        pages_df(spark, 600, partitions=1),
        out,
        key_col="url",
        partitions=4,
        compression="snappy",
        page_stats=True,
        bloom_columns=["url"],
    ).collect()
    assert _digests(out, "part-*.bin") == PGSF_DIGESTS


def test_encode_table_parquet_write_digest(spark, tmp_path):
    from parquet_go_spark.spark.parquet_sink import encode_table_parquet

    out = str(tmp_path / "pq")
    df = spark.range(0, 3000, 1, 1).selectExpr(
        "id * 7 % 2003 as k",
        "id % 11 as q",
        "cast(id % 97 as double) * 1.25 as price",
        "concat('flag-', cast(id % 5 as string)) as flag",
    )
    encode_table_parquet(
        df,
        out,
        key_col="k",
        partitions=3,
        compression="snappy",
        page_index=True,
        bloom_columns=["k"],
    ).collect()
    assert _digests(out, "part-*.parquet") == PARQUET_DIGESTS
