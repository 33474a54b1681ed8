"""Round-4 fourth review batch: decimal carrier widths, PEP 604 unions,
bridge-vertex clustering, NULL-doc pass-through, late-event sessions,
group field ids."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

pytestmark = pytest.mark.spark


def test_decimal_flba_width_exact_at_all_precisions():
    """The closed-form width under-sized precisions 7 and 19 (3 bytes
    cannot hold 9,999,999): message_from_spark round-trips must
    validate at EVERY precision."""
    from pyspark.sql import types as T

    from parquet_go_spark.core.columns import decimal_width
    from parquet_go_spark.schematext import message_from_spark, parse_message

    for p in range(1, 39):
        m = message_from_spark(T.StructType([T.StructField("d", T.DecimalType(p, 0))]))
        parse_message(m.dumps())  # validator accepts the emitted width
        # and the width is the engine's own minimal carrier
        assert f"fixed_len_byte_array({decimal_width(p)})" in m.dumps(), (p, m.dumps())


def test_floor_pep604_optional_roundtrip(spark, tmp_path):
    """`int | None` (PEP 604) must map to a nullable field exactly like
    typing.Optional[int] — previously FloorTypeError."""
    import dataclasses

    from parquet_go_spark import floor

    @dataclasses.dataclass
    class Rec:
        rid: int
        note: str | None
        score: float | None

    schema = floor.schema_for(Rec)
    by_name = {f.name: f for f in schema.fields}
    assert by_name["note"].nullable and by_name["score"].nullable
    d = str(tmp_path / "t")
    w = floor.Writer(spark, d, cls=Rec)
    w.write(Rec(1, None, 2.5))
    w.write(Rec(2, "hi", None))
    w.close()
    got = sorted(floor.Reader(spark, d, cls=Rec), key=lambda r: r.rid)
    assert got == [Rec(1, None, 2.5), Rec(2, "hi", None)]


def test_dup_clusters_bridge_vertex_connects_components(spark):
    """A pair endpoint absent from docs must still relay connectivity:
    docs {1,5} bridged only through vertex 9 previously came back as
    two clusters (premature convergence: the bridge had no label row)."""
    from parquet_go_spark.ops.cluster import dup_clusters

    docs = spark.createDataFrame([(1,), (5,)], "doc_id long")
    pairs = spark.createDataFrame([(5, 9), (9, 1)], "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in dup_clusters(docs, pairs).collect()}
    assert got == {1: 1, 5: 1}, got  # one component, min-id label
    # and the bridge vertex itself is NOT in the output (not a doc)
    assert set(got) == {1, 5}


def test_strip_boilerplate_passes_through_null_docs(spark):
    """NULL host or NULL text docs must appear in the output unstripped
    (previously they vanished: NULL never equi-joins / explodes)."""
    from parquet_go_spark.ops.curate import strip_boilerplate

    rows = [
        ("a", "h1", "nav\nbody a\nnav2"),
        ("b", "h1", "nav\nbody b\nnav2"),
        ("c", "h1", "nav\nbody c\nnav2"),
        ("d", None, "keep me\nwhole"),
        ("e", "h1", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    out = {r.doc_id: r for r in strip_boilerplate(df).collect()}
    assert set(out) == {"a", "b", "c", "d", "e"}
    assert out["d"].clean_text == "keep me\nwhole" and out["d"].n_lines_removed == 0
    assert out["e"].clean_text == "" and out["e"].n_lines_removed == 0
    assert out["a"].clean_text == "body a"  # stripping still works


def test_exact_dedup_null_texts_stay_singletons(spark):
    from parquet_go_spark.ops.dedup import exact_dedup

    rows = [(1, "same"), (2, "same"), (3, None), (4, None), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = exact_dedup(df).collect()
    dup = [r for r in got if r.fp is not None]
    assert len(dup) == 1 and dup[0].keep_id == 1 and dup[0].n_dups == 2
    nulls = sorted(r.keep_id for r in got if r.fp is None)
    assert nulls == [3, 4, 5]
    assert all(r.n_dups == 1 for r in got if r.fp is None)


def test_sessionize_late_event_never_inverts_session_bounds(spark, tmp_path):
    """A late (cross-micro-batch out-of-order) event inside the gap
    extends the session but must never move `last` backward —
    previously the next in-order event measured its gap against the
    late timestamp, emitting session_end < session_start and falsely
    splitting the session."""
    import datetime
    import os
    import time

    from parquet_go_spark.streaming.sessionize import sessionize

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    src = str(tmp_path / "ev")
    os.makedirs(src)
    # batch 1: in-order events at 10:00 and 10:05
    spark.createDataFrame(
        [(1, ts(0), 1.0), (1, ts(5), 1.0)], "user_id long, ts timestamp, value double"
    ).coalesce(1).write.parquet(src + "/b1")
    # batch 2: a LATE event at 9:50 (inside the 30-min gap of last=10:05)
    # then an in-order one at 10:10, then a far gap-closer at 12:00
    spark.createDataFrame(
        [(1, ts(-10), 1.0), (1, ts(10), 1.0), (1, ts(120), 1.0)],
        "user_id long, ts timestamp, value double",
    ).coalesce(1).write.parquet(src + "/b2")
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/b*")
    )
    q = (
        sessionize(stream, gap_seconds=1800)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_late")
        .start()
    )
    deadline = time.time() + 90
    rows = []
    try:
        while time.time() < deadline:
            time.sleep(3)
            rows = spark.sql("SELECT * FROM sess_late").collect()
            if rows:
                break
    finally:
        try:
            q.stop()
        except Exception:
            pass
    assert rows, "no session closed"
    for r in rows:
        assert r.session_end >= r.session_start, rows
    # the first closed session spans 9:50..10:10 as ONE session of 4
    # events (the late event extended it backward, never split it)
    first = min(rows, key=lambda r: r.session_start)
    assert first.session_start == ts(-10) and first.session_end == ts(10), rows
    assert first.n_events == 4, rows
