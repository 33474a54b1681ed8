"""In-memory codec round-trip over a DataFrame: every partition's columns
go through encode_chunk -> decode_chunk inside one ``mapInArrow`` pass and
the reconstructed rows are returned.

This is the engine's identity operator: the output must be bit-identical
to the input (the reference's write->read invariant, ``readwrite_test.go``),
which makes it directly SQL-oracle-checkable (`SELECT cols FROM t`). No
shuffle: the codec runs where the data sits, exactly like the per-task
encode in encode_job.py, so the plan is scan -> mapInArrow -> result at
any scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame

from ..core.chunk import decode_chunk, encode_chunk
from ..core.columns import from_arrow, logical_of, one_chunk, to_arrow

__all__ = ["roundtrip_df"]


def roundtrip_df(
    df: DataFrame,
    profile: str = "auto",
    compression: str = "none",
    encoding: str | None = None,
    max_page: int | None = None,
) -> DataFrame:
    """encode+decode every column of every partition; returns the
    reconstructed DataFrame (same schema, bit-identical values)."""
    cols = df.columns
    kwargs = {"profile": profile, "compression": compression}
    if encoding is not None:
        kwargs["encoding"] = encoding
    if max_page is not None:
        kwargs["max_page"] = max_page

    def rt(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                yield b
                continue
            out = []
            for name in cols:
                cd = from_arrow(b.column(name))
                blob, _meta = encode_chunk(cd, **kwargs)
                dec = decode_chunk(blob, logical=logical_of(cd))
                arr = to_arrow(dec)
                arr = one_chunk(arr)
                out.append(arr)
            yield pa.RecordBatch.from_arrays(out, names=cols)

    return df.mapInArrow(rt, schema=df.schema)
