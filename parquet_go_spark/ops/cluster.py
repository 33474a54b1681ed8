"""Near-duplicate CLUSTERING: connected components over candidate-pair
edges, and canonical-document selection per cluster — the step that
turns pair detection (MinHash/LSH, SimHash, embedding buckets) into an
actual deduplicated corpus. Not in the reference (an encoding library);
this is pipeline completion for the north star's 10^12-page table.

Algorithm: min-label propagation with POINTER JUMPING. Every vertex
starts labeled with its own id; each round every vertex takes the
minimum label among itself and its neighbors (one hop), then labels are
re-resolved through themselves (``lab := label(lab)`` — path halving),
so effective hop distance doubles per round and convergence is
O(log diameter) rounds, not O(diameter). Boilerplate-heavy near-dup
graphs really do grow long chains (doc i pairs with i±1 through a
shared band), which is why the naive one-hop loop oscillated for 25+
rounds on the synthetic corpus while this converges in ~6.

Scale shape per round: two shuffles (the edge relay groupBy and the
label-of-label join, both on id), label state truncated with
``localCheckpoint`` so the plan does not grow with iterations (the
classic iterative-Spark trap), and convergence checked against the
CHANGED set only. Same contraction family as the published alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond"); a hard iteration cap raises rather than
spins.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, functions as F

__all__ = ["dup_clusters", "canonical_docs"]

# serializes the constraint-propagation toggle in ``dup_clusters``: two
# overlapping calls would otherwise each save the other's ``false`` as
# the value to restore, leaving it off for the session for good
_CP_LOCK = threading.Lock()


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """-> (id_col, cluster_id): every document labeled with the minimum
    document id reachable through the pair graph; singletons label
    themselves. Deterministic (min over ids).

    ``pairs`` carries (id_a, id_b) candidate edges (e.g. ``lsh_pairs``
    output); treated as undirected.

    Side effect: while the iteration runs, the SESSION-WIDE conf
    ``spark.sql.constraintPropagation.enabled`` is ``false`` — any other
    query planned on this session meanwhile runs without inferred
    constraints. The original value is restored on return or error;
    concurrent calls in one process are serialized so none of them can
    save another's ``false`` as the value to restore."""
    spark = docs.sparkSession
    # Constraint propagation is OFF for the iteration (restored in the
    # finally): a checkpointed LogicalRDD keeps the ORIGIN plan's
    # inferred constraints, whose attribute ids no longer exist in the
    # checkpoint's fresh output — Spark's Union.rewriteConstraints then
    # dies with an internal 'NoSuchElementException: key not found:
    # id#N' the first time a later round unions that state (reproduced
    # the moment ``pairs`` composes two detectors over one docs frame,
    # e.g. lsh_pairs ∪ simhash_near_dups, and on any join-derived docs
    # lineage). The loop's trivial filters gain nothing from inferred
    # constraints anyway, and constraint growth across iterative unions
    # is itself a known analysis-time sink. The returned frame is built
    # AFTER the flag is restored and carries no union.
    _CP = "spark.sql.constraintPropagation.enabled"
    with _CP_LOCK:
        _cp_old = spark.conf.get(_CP, "true")
        spark.conf.set(_CP, "false")
        try:
            labels, doc_ids = _propagate_labels(docs, pairs, id_col, max_iter)
        finally:
            spark.conf.set(_CP, _cp_old)
    # output contract: one row per DOC (edge-only vertices served as
    # connectivity bridges, not corpus members)
    return labels.join(doc_ids, "id").select(
        F.col("id").alias(id_col), F.col("lab").alias("cluster_id")
    )


def _propagate_labels(docs, pairs, id_col, max_iter):
    """-> (labels(id, lab), doc_ids(id)): the min-label iteration."""
    # symmetrize with ONE explode pass, not a self-union of the
    # pairs plan — reads pairs once and halves the candidate scan
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint()
    )
    doc_ids = docs.select(F.col(id_col).alias("id"))
    # seed EVERY vertex — docs AND pair endpoints: an edge id absent
    # from docs previously had no label row, so round 1 dropped its
    # edges, the changed-check (an inner join on the OLD id set)
    # could not see it, and a component bridged only by such a
    # vertex was silently returned split
    labels = (
        doc_ids.unionByName(edges.select(F.col("src").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("lab"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        relayed = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "lab")
        )
        hop = labels.unionByName(relayed).groupBy("id").agg(
            F.min("lab").alias("lab")
        )
        # pointer jumping: every label IS a vertex id, so resolve
        # each label through its own current label (lab <= id
        # always, so the resolved label only decreases) — doubles
        # hop reach per round
        new_labels = (
            hop.alias("a")
            .join(hop.alias("b"), F.col("a.lab") == F.col("b.id"))
            .select(F.col("a.id").alias("id"), F.col("b.lab").alias("lab"))
            .localCheckpoint()  # truncate lineage: state, not a plan
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.lab") != F.col("o.lab"))
            .limit(1)
            .count()
        )
        # release the previous round's state promptly (best-effort:
        # for localCheckpoint blocks the ContextCleaner frees on
        # driver GC; dropping our reference right here enables that)
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iter} rounds — component "
            "diameter exceeds the cap; raise max_iter or switch to "
            "large-star/small-star for deep-path graphs"
        )
    return labels, doc_ids


def canonical_docs(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pick ONE representative per cluster: the longest text, ties to
    the smallest id (deterministic). -> the kept documents' (id_col,
    cluster_id, n_kept_chars). The standard final step of corpus dedup:
    everything else in the cluster is dropped.

    Shape: ONE hash aggregation — ``min_by`` over the key
    (-text_length, id), which minimizes lexicographically (largest text
    first, smallest id on ties). A ``row_number`` window over
    cluster_id would SORT every row of a cluster inside one task with
    no map-side reduction — and near-dup clusters are exactly where web
    corpora skew (one boilerplate cluster can hold a large fraction of
    the corpus); the aggregate collapses each partition's rows to one
    candidate before the exchange, so the hot cluster ships P partial
    rows, not its membership. NULL text sorts last (as the desc window
    did) via a +inf sentinel on the negated length."""
    joined = docs.join(clusters, id_col).select(
        id_col, "cluster_id", F.length(F.col(text_col)).cast("long").alias("n_kept_chars")
    )
    order_key = F.struct(
        F.coalesce(-F.col("n_kept_chars"), F.lit(2**62)).alias("neg_len"),
        F.col(id_col).alias("tie_id"),
    )
    picked = joined.groupBy("cluster_id").agg(
        F.min_by(F.struct(F.col(id_col), F.col("n_kept_chars")), order_key).alias("__best")
    )
    return picked.select(
        F.col("__best").getField(id_col).alias(id_col),
        "cluster_id",
        F.col("__best.n_kept_chars").alias("n_kept_chars"),
    )
