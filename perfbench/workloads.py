"""Seeded inputs, operations and output checks of the workloads.

Every workload runs the same three closed-loop operations (one client,
each operation issued after the previous one returns) against its own
table:

* write  — encode the whole input table into a fresh directory;
* scan   — decode the whole table to Spark's ``noop`` sink;
* lookup — one point lookup: the engine's prune path plus the exact
  filter, collected.

Writes and scans are timed in rounds (``Workload.per_round``); lookups
run, checked, in set-up and in the traced run. The workloads differ in
data, container and table options, and in how many writes and scans
one round holds:

* ``pages_write`` — pages table, native container: salted hash on
  ``url``, auto profile, snappy, bloom on ``url``, page stats.
* ``lineitem_parquet`` — a TPC-H-shaped lineitem table through the
  real-Parquet container (page index, bloom on ``l_orderkey``).

The program under test receives only the generated inputs: a Parquet
file written in set-up and the lookup keys.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


@dataclass
class Input:
    table: pa.Table  # the generated rows, kept for the output checks
    path: str  # the same rows as a Parquet file: what the program reads
    keys: list  # lookup keys, in the order lookups use them
    present: list[bool]  # whether each key is in the table


@dataclass
class Workload:
    name: str
    key: str  # lookup column
    rows: int
    partitions: int
    # (writes, scans) in one round of the measured loop, and the least
    # number of rounds' worth of samples a run takes
    per_round: tuple[int, int]
    min_rounds: int
    options: dict

    # ------------------------------------------------------------ inputs
    def make_input(self, seed: int, work: str, n_keys: int) -> Input:
        """Generate the rows, write them as one Parquet file and draw the
        lookup keys: 3 of 4 present, 1 of 4 absent."""
        table = self._rows(seed).combine_chunks()
        path = os.path.join(work, "input", f"{self.name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(table, path, row_group_size=1 << 16)
        rng = np.random.default_rng(seed + 7)
        present = [i % 4 != 3 for i in range(n_keys)]
        hits = iter(rng.choice(table.num_rows, size=sum(present), replace=False).tolist())
        misses = iter(self._absent_keys(seed, n_keys - sum(present), rng))
        col = table.column(self.key)
        keys = [col[next(hits)].as_py() if p else next(misses) for p in present]
        return Input(table, path, keys, present)

    def _rows(self, seed: int) -> pa.Table:
        raise NotImplementedError

    def _absent_keys(self, seed: int, n: int, rng) -> list:
        raise NotImplementedError

    # -------------------------------------------------------- operations
    def write(self, spark, inp: Input, out_dir: str) -> list[dict]:
        """Encode the input table into ``out_dir``; -> manifest rows."""
        raise NotImplementedError

    def read(self, spark, out_dir: str, prune=None):
        raise NotImplementedError

    def scan(self, spark, out_dir: str) -> None:
        self.read(spark, out_dir).write.format("noop").mode("overwrite").save()

    def lookup(self, spark, out_dir: str, key) -> list:
        from pyspark.sql import functions as F

        df = self.read(spark, out_dir, prune=[(self.key, "==", key)])
        return df.where(F.col(self.key) == key).collect()

    # ------------------------------------------------------------ checks
    def check_write(self, manifest: list[dict], inp: Input, out_dir: str, rng) -> bool:
        """Manifest row and column totals match the input."""
        cols = set(inp.table.column_names)
        per_col: dict[str, int] = {}
        for r in manifest:
            per_col[r["column"]] = per_col.get(r["column"], 0) + r["num_rows"]
        return set(per_col) == cols and all(v == inp.table.num_rows for v in per_col.values())

    def expected_rows(self, inp: Input, key) -> list[tuple]:
        t = inp.table.filter(pc.equal(inp.table.column(self.key), key))
        return sorted(_norm_row(r) for r in t.to_pylist())

    @staticmethod
    def got_rows(rows) -> list[tuple]:
        return sorted(_norm_row(r.asDict()) for r in rows)


def _norm_row(d: dict) -> tuple:
    out = []
    for k in sorted(d):
        v = d[k]
        if isinstance(v, (bytes, bytearray, memoryview)):
            v = bytes(v)
        elif isinstance(v, dt.datetime):
            v = v.replace(tzinfo=None)
        out.append((k, v))
    return tuple(out)


def table_checksum(df):
    """(row count, xor and sum of 20-bit folds of the per-row xxhash64):
    order-independent, computed by Spark on both sides of a comparison."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(1 << 20))).alias("s"),
    ).first()
    return (r["n"], r["x"], r["s"])


# ---------------------------------------------------------------- pages
class Pages(Workload):
    """Rows come from the package's deterministic pages generator over a
    seed-chosen row-id window: each row is a pure function of its id, so
    the seed changes the rows but not their distribution."""

    def base(self, seed: int) -> int:
        return (seed % 10_000) * self.rows

    def _rows(self, seed: int) -> pa.Table:
        from parquet_go_spark.spark.pages_table import _gen_block

        ids = np.arange(self.base(seed), self.base(seed) + self.rows, dtype=np.int64)
        t = pa.Table.from_pandas(_gen_block(ids), preserve_index=False)
        # Spark reads microsecond timestamps; pandas hands out nanoseconds
        return t.cast(t.schema.set(1, pa.field("warc_ts", pa.timestamp("us"))))

    def _absent_keys(self, seed: int, n: int, rng) -> list:
        from parquet_go_spark.spark.pages_table import _gen_block

        # ids just past the window: same url shape, never in the table
        ids = self.base(seed) + self.rows + rng.choice(1 << 20, size=n, replace=False)
        return _gen_block(np.asarray(ids, dtype=np.int64))["url"].tolist()

    def write(self, spark, inp: Input, out_dir: str) -> list[dict]:
        from parquet_go_spark.spark.encode_job import encode_table

        df = spark.read.parquet(inp.path)
        rows = encode_table(
            df, out_dir, key_col="url", partitions=self.partitions, **self.options
        ).collect()
        return [r.asDict() for r in rows]

    def read(self, spark, out_dir: str, prune=None):
        from parquet_go_spark.spark.decode_job import decode_table

        return decode_table(spark, out_dir, prune=prune)

    def check_write(self, manifest: list[dict], inp: Input, out_dir: str, rng) -> bool:
        """Totals match, and one seeded partition decodes bit-identical to
        the input rows it holds."""
        from parquet_go_spark.core.chunk import decode_chunk
        from parquet_go_spark.core.columns import to_arrow
        from parquet_go_spark.spark import manifest as mf
        from parquet_go_spark.spark.decode_job import logical_of_ddl
        from parquet_go_spark.spark.encode_job import parse_partition_file

        if not super().check_write(manifest, inp, out_dir, rng):
            return False
        pid = int(rng.integers(self.partitions))
        logical = {f["name"]: logical_of_ddl(f["ddl"]) for f in mf.read_table_schema(out_dir)}
        with open(os.path.join(out_dir, f"part-{pid:05d}.bin"), "rb") as f:
            blobs = parse_partition_file(f.read())
        got = pa.table(
            {c: to_arrow(decode_chunk(blobs[c], logical=logical[c])) for c in inp.table.column_names}
        )
        if got.num_rows == 0:
            return False
        pos = {u: i for i, u in enumerate(inp.table.column("url").to_pylist())}
        idx = [pos.get(u, -1) for u in got.column("url").to_pylist()]
        if min(idx) < 0:
            return False
        want = inp.table.take(pa.array(idx))
        return all(
            got.column(c).cast(want.column(c).type).equals(want.column(c))
            for c in inp.table.column_names
        )


# ------------------------------------------------------------- lineitem
_EPOCH = np.datetime64("1970-01-01")
_START = (np.datetime64("1992-01-01") - _EPOCH).astype(np.int64)
_ORDER_SPAN = 2405  # days, 1992-01-01 .. 1998-08-02
_CURRENT = (np.datetime64("1995-06-17") - _EPOCH).astype(np.int64)


class Lineitem(Workload):
    """TPC-H-shaped ``lineitem`` (dbgen's column types and value
    distributions) generated with numpy from the seed. Order keys follow
    dbgen's sparse layout (8 used keys in every 32) shifted by a
    seed-chosen offset, so the seed moves the keys as well as the
    values."""

    def shift(self, seed: int) -> int:
        return (seed % 10_000) * 32 * 1_000_003

    def _rows(self, seed: int) -> pa.Table:
        # 1..7 lines per order, 4 on average
        rng = np.random.default_rng(seed)
        orders = np.arange(self.rows // 4, dtype=np.int64)
        nlines = rng.integers(1, 8, size=len(orders))
        okey = (orders // 8) * 32 + orders % 8 + 1 + self.shift(seed)
        n = int(nlines.sum())
        l_orderkey = np.repeat(okey, nlines)
        starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
        l_linenumber = (np.arange(n) - starts + 1).astype(np.int32)
        odate = np.repeat(_START + rng.integers(0, _ORDER_SPAN, size=len(orders)), nlines)
        l_partkey = rng.integers(1, 200_001, size=n)
        l_suppkey = (l_partkey + rng.integers(0, 4, size=n) * 2_501) % 10_000 + 1
        qty = rng.integers(1, 51, size=n).astype(np.float64)
        retail = (90_000 + (l_partkey // 10) % 20_001 + 100 * (l_partkey % 1_000)) / 100.0
        price = np.round(qty * retail, 2)
        discount = rng.integers(0, 11, size=n) / 100.0
        tax = rng.integers(0, 9, size=n) / 100.0
        ship = odate + rng.integers(1, 122, size=n)
        receipt = ship + rng.integers(1, 31, size=n)
        rflag = np.where(
            receipt <= _CURRENT, np.where(rng.integers(0, 2, size=n) == 0, "R", "A"), "N"
        )
        lstatus = np.where(ship > _CURRENT, "O", "F")
        return pa.table(
            {
                "l_orderkey": l_orderkey,
                "l_partkey": l_partkey,
                "l_suppkey": l_suppkey,
                "l_linenumber": l_linenumber,
                "l_quantity": qty,
                "l_extendedprice": price,
                "l_discount": discount,
                "l_tax": tax,
                "l_returnflag": pa.array(rflag, pa.string()),
                "l_linestatus": pa.array(lstatus, pa.string()),
                "l_shipdate": pa.array(
                    (ship * 86_400_000_000).astype("datetime64[us]"), pa.timestamp("us")
                ),
            }
        )

    def _absent_keys(self, seed: int, n: int, rng) -> list:
        # unused slots of the sparse layout, inside the table's key range:
        # min/max cannot exclude them, only the bloom and page tiers can
        n_orders = self.rows // 4
        orders = rng.choice(n_orders, size=n, replace=False)
        return [int((o // 8) * 32 + 8 + o % 24 + 1 + self.shift(seed)) for o in orders]

    def write(self, spark, inp: Input, out_dir: str) -> list[dict]:
        from parquet_go_spark.spark.parquet_sink import encode_table_parquet

        df = spark.read.parquet(inp.path)
        rows = encode_table_parquet(
            df, out_dir, key_col=self.key, partitions=self.partitions, **self.options
        ).collect()
        return [r.asDict() for r in rows]

    def read(self, spark, out_dir: str, prune=None):
        from parquet_go_spark.spark.parquet_source import read_parquet_table

        return read_parquet_table(spark, os.path.join(out_dir, "*.parquet"), prune=prune)


WORKLOADS = {
    w.name: w
    for w in [
        Pages(
            name="pages_write",
            key="url",
            rows=48_000,
            partitions=16,
            per_round=(1, 4),
            min_rounds=3,
            options=dict(
                profile="auto", compression="snappy", bloom_columns=["url"], page_stats=True
            ),
        ),
        Lineitem(
            name="lineitem_parquet",
            key="l_orderkey",
            rows=400_000,
            partitions=8,
            per_round=(1, 2),
            min_rounds=3,
            options=dict(compression="snappy", page_index=True, bloom_columns=["l_orderkey"]),
        ),
    ]
}


def drain(batches):
    """mapInArrow body that consumes its input and emits nothing: the
    JVM->Python Arrow hop with no work behind it."""
    for _ in batches:
        pass
    return iter(())
