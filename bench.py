#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the engine's headline jobs at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Headline metric: encode throughput (GB/s of raw column bytes) over the
deterministic synthetic pages table (FIXTURES.md F1, the north-star input
shape), plus decode throughput, compression ratio, and wall seconds for
the operator queries from ``__spark_entry__``.

Scaling evidence (north rule, N vs 4N cores): run ``python bench.py``
twice with ``SPARK_GRAFT_CPUS=8`` and ``=32`` (fresh process each — one
JVM per parallelism level), or use bench_scaling.py which automates it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.canary import probe_ms, wait_clean  # noqa: E402

# clean-window gate: the DEFLATE canary runs at ~0.7-1.2 ms on a quiet
# host; co-tenant contention (CPU preemption, memory bandwidth, frequency)
# slows it
CANARY_THRESHOLD_MS = 2.0
LEG_WAIT_S = 90.0  # longest wait for a clean window before a leg's first rep
DIRTY_REP_WAIT_S = 45.0  # and before a rep that follows a dirty reading

OP_QUERIES = [
    "roundtrip_lineitem",
    "enc_fsst_documents",
    "dedup_exact",
    "corpus_curation",
    "boilerplate_strip",
    "minhash_signatures",
    "lsh_dup_pairs",
    "token_stats",
    "text_quality",
    "fingerprint_md5",
    "simhash64",
    "simhash_near_dups",
    "langid_ngram",
    "embedding_cosine_topk",
    "embedding_ivf_topk",
    "embedding_pq_trained",
    "parquet_scan_distributed",
    "parquet_scan_page_prune",
    "chunk_stats_lineitem",
]


def _force(df) -> None:
    """Execute the full plan (noop sink: no collect, no pruning)."""
    df.write.format("noop").mode("overwrite").save()


def _timed_reps(
    run,
    tol: float,
    max_reps: int,
    budget_s: float | None = None,
    min_reps: int = 2,
) -> tuple[list[float], list[float]]:
    """Best-of-N timing harness shared by every timed leg. Calls
    ``run(rep_index)`` until the two best walls agree within ``tol``
    (steady state: the first rep pays one-time codegen/exchange setup),
    capped at ``max_reps`` or ``budget_s`` total seconds. A leg starts
    only inside a clean window (``wait_clean``), and a rep that follows
    a dirty canary reading waits for one again. Each rep's wall carries
    the canary reading taken right after it, so a dirty best-of is
    self-explaining. Returns (walls, canary_ms)."""
    walls: list[float] = []
    canary: list[float] = []
    while True:
        if not canary:
            wait_clean(CANARY_THRESHOLD_MS, LEG_WAIT_S)
        elif canary[-1] >= CANARY_THRESHOLD_MS:
            wait_clean(CANARY_THRESHOLD_MS, DIRTY_REP_WAIT_S)
        t0 = time.perf_counter()
        run(len(walls))
        walls.append(time.perf_counter() - t0)
        canary.append(round(probe_ms(), 2))
        if len(walls) >= max_reps:
            break
        if len(walls) >= min_reps:
            a, b = sorted(walls)[:2]
            if b <= a * tol or (budget_s is not None and sum(walls) > budget_s):
                break
    return walls, canary


def _best(walls: list[float], canary: list[float]) -> tuple[float, float]:
    """(best wall, the canary reading of that rep)."""
    i = walls.index(min(walls))
    return walls[i], canary[i]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "120000"))

    from parquet_go_spark.spark.decode_job import decode_table
    from parquet_go_spark.spark.encode_job import encode_table
    from parquet_go_spark.spark.pages_table import pages_df
    from parquet_go_spark.spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(app=f"bench-{cpus}", cores=cpus)
    q: dict[str, float] = {}
    extras: dict[str, float] = {}

    tmp = tempfile.mkdtemp(prefix="pgs_bench_", dir=os.environ.get("SPARK_GRAFT_TMPDIR"))
    try:
        # untimed: materialize the deterministic pages input as parquet so
        # the timed encode job reads a real table, not a generator. A
        # pre-generated dir (SPARK_GRAFT_PAGES_DIR) is reused when present
        # so multi-invocation harnesses generate once.
        shared = os.environ.get("SPARK_GRAFT_PAGES_DIR")
        if shared and os.path.exists(os.path.join(shared, "_SUCCESS")):
            pages_path = shared
        else:
            pages_path = shared or f"{tmp}/pages_in"
            pages_df(spark, rows).write.mode("overwrite").parquet(pages_path)
        src = spark.read.parquet(pages_path)
        src.count()  # warm file listing
        # warm python workers + allocator arenas before timing — a real
        # (if small) encode per worker, not a token one: the first large
        # numpy allocations in each worker page-fault at ~50 MB/s on this
        # VM and would otherwise land inside the timed region
        warm_rows = max(min(rows // 8, 60000), 2000)
        encode_table(
            src.limit(warm_rows), f"{tmp}/warm", key_col="url", partitions=2 * cpus
        ).collect()

        # partitions fixed independently of cpus when benchmarking scaling:
        # the SAME job (same task graph) must run at both parallelism levels
        enc_parts = int(os.environ.get("SPARK_GRAFT_BENCH_PARTITIONS", 2 * cpus))
        # best-of-N for the headline throughput numbers: the first
        # full-size encode pays one-time JIT/codegen + allocator growth,
        # and co-tenant contention can put a single sample 2-10x off
        # through no fault of the job. The quoted number is the best rep
        # and its own canary reading is the quality stamp.
        man: list = []

        def _run_encode(r: int) -> None:
            man[:] = encode_table(
                src, f"{tmp}/enc{r}", key_col="url", partitions=enc_parts, compression="snappy"
            ).collect()

        rep_walls, rep_canary = _timed_reps(_run_encode, tol=1.12, max_reps=7, budget_s=270)
        best_wall, extras["encode_best_rep_canary_ms"] = _best(rep_walls, rep_canary)
        q["encode_pages"] = round(best_wall, 3)
        extras["encode_rep_walls"] = [round(w, 2) for w in rep_walls]
        extras["encode_rep_canary_ms"] = rep_canary
        enc_dir = f"{tmp}/enc{len(rep_walls) - 1}"
        raw = sum(r["raw_bytes"] for r in man)
        enc_b = sum(r["encoded_bytes"] for r in man)
        extras["encode_raw_gb"] = round(raw / 1e9, 4)
        extras["encode_gbps"] = round(raw / 1e9 / q["encode_pages"], 4)
        extras["encode_rows_per_s"] = round(rows / q["encode_pages"], 1)
        extras["compression_ratio"] = round(raw / max(enc_b, 1), 4)

        if os.environ.get("SPARK_GRAFT_BENCH_ONLY") != "encode":
            # scaling runs (BENCH_ONLY=encode) only consume encode_gbps +
            # compression_ratio; skip the decode and size-gate passes there
            dec_walls, dec_canary = _timed_reps(
                lambda r: _force(decode_table(spark, enc_dir)), tol=1.12, max_reps=4
            )
            best_wall, extras["decode_best_rep_canary_ms"] = _best(dec_walls, dec_canary)
            q["decode_pages"] = round(best_wall, 3)
            extras["decode_rep_walls"] = [round(w, 2) for w in dec_walls]
            extras["decode_gbps"] = round(raw / 1e9 / q["decode_pages"], 4)

            # size gate: identical data through the reference's exact
            # encoding decision (dict-or-plain, chunk_writer.go:174-227) —
            # our auto selector must come in at or under it. Best-of-2
            # with per-rep canary stamps (VERDICT r4 #2: the single-shot
            # leg manufactured a phantom 1.81->3.33 s regression)
            man_ref: list = []

            def _run_ref(r: int) -> None:
                man_ref[:] = encode_table(
                    src,
                    f"{tmp}/enc_ref{r}",
                    key_col="url",
                    partitions=enc_parts,
                    profile="reference",
                    compression="snappy",
                ).collect()

            ref_walls, ref_canary = _timed_reps(_run_ref, tol=1.12, max_reps=2)
            best_wall, extras["encode_ref_best_canary_ms"] = _best(ref_walls, ref_canary)
            q["encode_pages_reference"] = round(best_wall, 3)
            extras["encode_ref_rep_walls"] = [round(w, 2) for w in ref_walls]
            ref_b = sum(r["encoded_bytes"] for r in man_ref)
            extras["bytes_auto"] = enc_b
            extras["bytes_reference_profile"] = ref_b
            extras["size_vs_reference"] = round(enc_b / max(ref_b, 1), 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    if os.environ.get("SPARK_GRAFT_BENCH_ONLY") != "encode":
        queries = entry_mod.queries()
        q_canary: dict[str, float] = {}
        q_reps: dict[str, list[float]] = {}
        for name in OP_QUERIES:
            # best-of-2 (the first run pays one-time whole-stage-codegen
            # + exchange setup; steady-state is what a long job sees),
            # escalating to 4 reps while the two best disagree >25% —
            # and every rep carries its own canary reading so BENCH
            # deltas distinguish plan changes from window noise
            # (VERDICT r4 #2: a phantom +15-40% band across unchanged
            # plans was unprovable from single-shot legs)
            walls, canary = _timed_reps(
                lambda r, _q=queries[name]: _force(_q(spark, sf_dir)),
                tol=1.25,
                max_reps=4,
                budget_s=60,
            )
            best_wall, q_canary[name] = _best(walls, canary)
            q[name] = round(best_wall, 3)
            q_reps[name] = [round(w, 2) for w in walls]
        # bulky per-rep walls ride an EARLIER stdout line (tail-budget
        # discipline, see the scaling/envelope emit below); the final
        # line keeps the compact best-rep canary stamps
        print(json.dumps({"detail": "op_query_reps", "walls": q_reps, "canary_ms": q_canary}))
        extras["q_canary_ms"] = q_canary

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    # The scaling / hardware-envelope measurements are bulky nested
    # documents; inlining them once pushed the final stdout line past
    # the driver's tail capture and BENCH_r03 recorded "parsed": null.
    # Emit them as their own EARLIER stdout lines (and keep the files
    # on disk, referenced by name) so the LAST line stays a compact,
    # always-parseable summary.
    here = os.path.dirname(os.path.abspath(__file__))
    for key, fname in (("scaling", "BENCH_SCALING.json"), ("hw_envelope", "BENCH_ENVELOPE.json")):
        p = os.path.join(here, fname)
        if os.path.exists(p):
            with open(p) as f:
                blob = json.load(f)
            print(json.dumps({"detail": key, "file": fname, "data": blob}))
            extras[f"{key}_file"] = fname
            if key == "scaling":
                for k in ("scaling_efficiency", "gbps_n", "gbps_4n", "n_cores", "4n_cores", "pass"):
                    if k in blob:
                        extras[f"scaling_{k}" if not k.startswith("scaling") else k] = blob[k]
    out = {
        "metric": "total_bench_seconds",
        "value": round(sum(q.values()), 3),
        "unit": "sec",
        "queries": q,
        "sf": sf,
        "cpus": cpus,
        "bench_rows": rows,
        "total_sec": round(sum(q.values()), 3),
        **extras,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
