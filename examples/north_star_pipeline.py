"""The north-star pipeline, end to end on one SparkSession: a
Common-Crawl-style pages table (url, warc_ts, html, text, lang) flows
through HTML extraction, quality/repetition gating, exact + near-dup
deduplication, language ID, deterministic train/val/test splits, and
lands, through the exactly-once streaming sink, in an encoded table
(auto codec selection, bloom filters, mergeable KMV distinct sketches)
whose statistics answer from metadata alone — then similarity search
runs over a companion embedding table.

Run:  python examples/north_star_pipeline.py [n_pages] [cores]

Every stage prints the shape that matters at 10^12 pages: what
shuffles, what broadcasts, what stays a projection. The same operators
back the driver-graded queries in __spark_entry__.py; this script is
the composed, narrative form.
"""

from __future__ import annotations

import os
import sys
import tempfile

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# executors spawn fresh Python workers that don't inherit sys.path —
# they DO inherit the environment in local mode (spark-submit users
# pass --py-files instead)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import functions as F  # noqa: E402

from parquet_go_spark.ops.cluster import canonical_docs, dup_clusters  # noqa: E402
from parquet_go_spark.ops.curate import strip_boilerplate  # noqa: E402
from parquet_go_spark.ops.dedup import exact_dedup, hash_split, lsh_pairs, simhash_near_dups  # noqa: E402
from parquet_go_spark.ops.html import extract_text  # noqa: E402
from parquet_go_spark.ops.similarity import cosine_topk, ivf_topk  # noqa: E402
from parquet_go_spark.ops.stats import table_stats_from_manifest  # noqa: E402
from parquet_go_spark.ops.text import langid_ngram, repetition_signals, text_quality  # noqa: E402
from parquet_go_spark.spark import manifest as mf  # noqa: E402
from parquet_go_spark.spark.datasource import PGSDataSource  # noqa: E402
from parquet_go_spark.spark.decode_job import decode_table  # noqa: E402
from parquet_go_spark.spark.pages_table import pages_df  # noqa: E402
from parquet_go_spark.spark.session import get_spark  # noqa: E402


def main(n_pages: int = 20_000, cores: int = 8) -> None:
    spark = get_spark(app="north-star", cores=cores)
    root = tempfile.mkdtemp(prefix="north_star_")
    print(f"== north-star pipeline over {n_pages} synthetic pages -> {root}")

    # 0) the input table: Common-Crawl-shaped (url, warc_ts, html, text, lang)
    pages = pages_df(spark, n_pages, partitions=max(4, cores))

    # 1) text derivation from html — pure regexp_replace chain, one
    #    codegen projection, no Python, no shuffle (the re-derivable
    #    extraction path; the table's text column rides alongside)
    derived = extract_text(pages, html_col="html", out_col="html_text")
    n_extracted = derived.where(F.length("html_text") > 0).count()
    print(f"html extraction: {n_extracted}/{n_pages} pages yield text")

    # 2) per-host boilerplate strip (CCNet-style): two fingerprint-sized
    #    exchanges, host totals ride a broadcast — never a document-wide
    #    state. Boilerplate is a PER-HOST signal, so derive the host key
    #    from the url first.
    pages = pages.withColumn("host", F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1))
    cleaned = strip_boilerplate(pages, host_col="host", text_col="text", id_col="url")
    n_stripped = cleaned.where(F.col("n_lines_removed") > 0).count()
    pages = (
        pages.drop("text")
        .join(cleaned.select("url", "clean_text"), "url")
        .withColumnRenamed("clean_text", "text")
        .drop("host")
    )
    print(f"boilerplate strip: {n_stripped} pages had lines removed")

    # 3) quality + repetition gates — pure projections emitting raw
    #    signals; thresholds belong to the pipeline (here tuned to the
    #    synthetic corpus: TTR + punctuation + Gopher repetition)
    ids = pages.select(F.xxhash64("url").alias("doc_id"), "url", "text", "lang")
    q = text_quality(ids)
    rep = repetition_signals(ids)
    keep = (
        ids.join(q.select("doc_id", "ttr", "punct_ratio"), "doc_id")
        .join(rep.select("doc_id", "repetitive"), "doc_id")
        .where((F.col("ttr") >= 0.3) & (F.col("punct_ratio") <= 0.1) & ~F.col("repetitive"))
        .select("doc_id", "url", "text", "lang")
    )
    n_keep = keep.count()
    print(f"quality gate: {n_keep}/{n_pages} pages survive")

    # 4) exact dedup (16-byte md5 shuffle key, map-side combine) feeding
    #    a canonical-keep; then NEAR-dup pairs two ways — MinHash-LSH and
    #    SimHash hamming banding (both: one bucket shuffle, capped buckets,
    #    never an all-pairs join) — clustered by pointer-jumping CC
    exact = exact_dedup(keep)
    print(f"exact dedup: {exact.count()} distinct texts")
    pairs = lsh_pairs(keep).unionByName(
        simhash_near_dups(keep).select("id_a", "id_b")
    ).distinct()
    clusters = dup_clusters(keep, pairs)
    kept_docs = canonical_docs(keep, clusters)
    # checkpointed once: steps 5-10 read it instead of re-running the
    # boilerplate, quality and canonical-doc joins of steps 2-4
    corpus = keep.join(kept_docs.select("doc_id"), "doc_id").localCheckpoint()
    print(f"near-dup clustering: {corpus.count()} canonical documents")

    # 5) language ID (bounded profile pass -> broadcast -> ONE groupBy)
    lid = langid_ngram(corpus)
    acc = lid.where(F.col("correct")).count() / max(lid.count(), 1)
    print(f"langid accuracy on labeled corpus: {acc:.3f}")

    # 6) deterministic split (pure projection, repartition-invariant)
    splits = hash_split(corpus).groupBy("split").count().collect()
    print("splits:", {r["split"]: r["count"] for r in splits})

    # 7) encode through the Catalyst streaming sink: stage the split
    #    corpus as Parquet, tail it with readStream and append it with
    #    writeStream.format("pgs") — auto codec selection per chunk
    #    (dict/RLE/FSST/delta/ALP/zdict...), bloom filters for point
    #    prune, KMV sketches so stats never touch data pages again. Each
    #    micro-batch commits exactly once: one snapshot per batch id.
    staging = f"{root}/staging"
    hash_split(corpus).repartition(max(8, cores), F.xxhash64("url")).write.parquet(staging)
    out = f"{root}/corpus"
    spark.dataSource.register(PGSDataSource)
    schema = spark.read.parquet(staging).schema

    def ingest(src: str, checkpoint: str, **options) -> None:
        stream = spark.readStream.schema(schema).parquet(src)
        if "upsert_key" in options:
            # a key's changes must meet in one task
            stream = stream.repartition(cores, options["upsert_key"])
        (
            stream.writeStream.format("pgs")
            .option("path", out)
            .option("checkpointLocation", checkpoint)
            .options(bloom_columns="url", kmv_columns="url,lang", page_stats="true", **options)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    ingest(staging, f"{root}/checkpoint")
    man = mf.read_manifest(spark, out).collect()
    raw = sum(r["raw_bytes"] for r in man)
    enc = sum(r["encoded_bytes"] for r in man)
    by_enc = sorted({r["encoding"] for r in man if r["num_rows"]})
    print(f"encoded {raw >> 10} KiB -> {enc >> 10} KiB ({raw / max(enc, 1):.1f}x); codecs {by_enc}")
    # restarting the same query on the same checkpoint finds nothing new:
    # no snapshot and no row is added
    n_snaps, n_rows = len(mf.read_snapshots(out)), decode_table(spark, out).count()
    ingest(staging, f"{root}/checkpoint")
    assert (len(mf.read_snapshots(out)), decode_table(spark, out).count()) == (n_snaps, n_rows)
    print(f"sink restart on the same checkpoint: still {n_snaps} snapshot(s), {n_rows} rows")
    # CDC upsert through the same sink: re-ingest a few changed rows
    # keyed by url — each replaces its old version, none is added
    changed = decode_table(spark, out).limit(5).withColumn("lang", F.lit("xx"))
    changed.write.parquet(f"{root}/changes")
    ingest(f"{root}/changes", f"{root}/upsert_checkpoint", upsert_key="url")
    now = decode_table(spark, out)
    assert (now.count(), now.where(F.col("lang") == "xx").count()) == (n_rows, 5)
    print(f"upsert of 5 changed rows: still {n_rows} rows, 5 show the change")

    # 8) metadata-only statistics (the Iceberg-stats shape): distinct
    #    counts from the manifest's mergeable KMV sketches, zero data reads
    stats = {r["col_name"]: r["n_distinct"] for r in table_stats_from_manifest(spark, out).collect()}
    print("manifest-only distincts:", stats)

    # 9) pruned point lookup through the encoded table (bloom + stats)
    probe = corpus.select("url").first()["url"]
    hit = decode_table(spark, out, prune=[("url", "==", probe)]).where(F.col("url") == probe)
    print(f"point lookup through bloom/stats prune: {hit.count()} row")

    # 10) similarity search over a companion embedding table: exact
    #     cosine baseline + IVF approximate path (broadcast probes, the
    #     corpus never shuffles)
    emb = corpus.limit(2000).select(
        F.col("doc_id").alias("vec_id"),
        F.expr("transform(sequence(1, 16), i -> cast(xxhash64(url, i) % 1000 AS double) / 1000)").alias(
            "embedding"
        ),
    )
    queries = emb.limit(4)
    exact_nn = cosine_topk(emb, queries, k=5)
    approx_nn = ivf_topk(emb, queries, k=5)
    overlap = (
        exact_nn.select("q_id", "n_id").intersect(approx_nn.select("q_id", "n_id")).count()
        / max(exact_nn.count(), 1)
    )
    print(f"ANN recall@5 vs exact: {overlap:.2f}")
    print("== pipeline complete")


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    c = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    main(n, c)
