"""Near-dup clustering (ops/cluster.py): pointer-jumping connected
components over candidate pairs + canonical-doc selection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_go_spark.ops.cluster import canonical_docs, dup_clusters


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_components_and_singletons(spark):
    docs = _docs(spark, [(i, f"t{i}") for i in range(8)])
    pairs = _pairs(spark, [(1, 2), (2, 3), (5, 6)])
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_long_chain_converges_logarithmically(spark):
    """A 300-vertex path needs pointer jumping — one-hop propagation
    would take 300 rounds; the cap of 25 must suffice (2^25 >> 300)."""
    n = 300
    docs = _docs(spark, [(i, "x") for i in range(n)])
    pairs = _pairs(spark, [(i, i + 1) for i in range(n - 1)])
    got = dup_clusters(docs, pairs)
    assert got.select("cluster_id").distinct().collect()[0][0] == 0
    assert got.count() == n


def test_canonical_longest_text_ties_to_min_id(spark):
    docs = _docs(
        spark,
        [(1, "aaaa"), (2, "bbbbbb"), (3, "cccccc"), (9, "zz")],
    )
    pairs = _pairs(spark, [(1, 2), (2, 3)])
    clusters = dup_clusters(docs, pairs)
    kept = {r["doc_id"]: r["n_kept_chars"] for r in canonical_docs(docs, clusters).collect()}
    # cluster {1,2,3}: 2 and 3 tie on length 6 -> min id 2 wins; 9 is its own
    assert kept == {2: 6, 9: 2}


def test_canonical_is_one_hash_agg_not_a_window_sort(spark):
    """r5 review batch 9: row_number over a cluster_id window sorted
    every row of a cluster in ONE task with no map-side reduction — the
    skew bomb for boilerplate mega-clusters. The pick must be a single
    min_by aggregation whose PARTIAL phase runs map-side (a hot
    cluster's rows collapse to one partial per input partition before
    the exchange; the struct ordering key makes it a SortAggregate, but
    the sorts are local per-partition sorts, never a per-cluster
    funnel)."""
    docs = _docs(spark, [(i, "x" * (i % 7 + 1)) for i in range(200)])
    pairs = _pairs(spark, [(i, (i + 1) % 200) for i in range(199)])  # one mega-cluster
    out = canonical_docs(docs, dup_clusters(docs, pairs))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "partial_min_by" in plan, plan
    rows = out.collect()
    # one row for the mega-cluster: longest text (len 7 -> i%7==6), min id 6
    assert len(rows) == 1 and rows[0]["doc_id"] == 6 and rows[0]["n_kept_chars"] == 7


def test_canonical_null_text_loses_to_any_text(spark):
    """NULL text must sort last (as desc ordering did), never win the
    pick unless the whole cluster is null-text."""
    docs = spark.createDataFrame(
        [(1, None), (2, "ab"), (7, None), (8, None)], "doc_id long, text string"
    )
    pairs = _pairs(spark, [(1, 2), (7, 8)])
    kept = {
        r["doc_id"]: r["n_kept_chars"]
        for r in canonical_docs(docs, dup_clusters(docs, pairs)).collect()
    }
    assert kept == {2: 2, 7: None}


def test_nonconvergence_raises(spark):
    docs = _docs(spark, [(i, "x") for i in range(6)])
    pairs = _pairs(spark, [(i, i + 1) for i in range(5)])
    with pytest.raises(RuntimeError, match="converge"):
        dup_clusters(docs, pairs, max_iter=0)


def test_overlapping_calls_restore_constraint_propagation(spark):
    """dup_clusters turns constraint propagation off session-wide while
    it iterates. A second call that starts inside the first one's window
    must not save that ``false`` as the value to restore: afterwards the
    conf is back to its original value and both results are right."""
    import threading
    import time

    key = "spark.sql.constraintPropagation.enabled"
    original = spark.conf.get(key, "true")
    n = 200
    short_docs = _docs(spark, [(i, "x") for i in range(4)])
    short_pairs = _pairs(spark, [(0, 1), (2, 3)])
    long_docs = _docs(spark, [(i, "x") for i in range(n)])
    long_pairs = _pairs(spark, [(i, i + 1) for i in range(n - 1)])
    got, errors = {}, []

    def run(name, docs, pairs):
        try:
            got[name] = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(docs, pairs).collect()}
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    first = threading.Thread(target=run, args=("short", short_docs, short_pairs))
    second = threading.Thread(target=run, args=("long", long_docs, long_pairs))
    first.start()
    # start the longer call once the first has switched the conf off
    deadline = time.monotonic() + 30
    while spark.conf.get(key, "true") != "false" and time.monotonic() < deadline:
        time.sleep(0.005)
    second.start()
    first.join(timeout=300)
    second.join(timeout=300)
    assert not first.is_alive() and not second.is_alive()
    assert not errors
    assert spark.conf.get(key, "true") == original
    assert got["short"] == {0: 0, 1: 0, 2: 2, 3: 2}
    assert got["long"] == {i: 0 for i in range(n)}
