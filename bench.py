"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line (total + headline queries only — round 1's
87-entry line overflowed the driver's tail-capture window and parsed as
null):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The full per-query table (all 87 + transfer_pipeline) is written to
BENCH_FULL.json next to this script.

Each query is executed once to warm the JVM/page cache, then timed
THREE times; the recorded number is the MEDIAN of the three (VERDICT r6
directive #2 upgraded r4's min-of-2: the host shows ±50% single-run
jitter plus occasional multi-second GC outliers, and the r6 driver run
landed 20% above the builder's same-HEAD run, leaving per-query deltas
unadjudicated — median-of-3 is robust to one outlier in either
direction). All raw runs land in BENCH_FULL.json under
"queries_warm_runs". Every run fully materializes via collect() so the
measured time covers scan→shuffle→final stage, not lazy plan building.

Host-speed normalizer: a fixed single-core CPU loop (pure-Python md5
chain — no JVM, no disk) is timed at the start, middle, and end of the
run and recorded as "normalizer_sec" in both JSON outputs. Comparing
normalizer_sec across rounds separates host slowdown from real
regressions: query_ratio / normalizer_ratio ≈ host-corrected ratio. If
the normalizer drifts >20% WITHIN a run the numbers are cross-
contaminated by a mid-run load shift — the bench prints a loud stderr
warning, sets "normalizer_drift_exceeded": true, and RETRIES the whole
pass once (VERDICT r8 #5). A clean retry becomes the record; a second
exceeded run is recorded anyway with BOTH normalizer series
("first_attempt_normalizer_sec") — evidence the host, not the code,
moved.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

#: headline set: flagship + the heaviest representative per operator family
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "fk_orphan_check",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_bruteforce_topk",
    "text_quality_score",
    "sessionization_gap_30m",
    "count_per_table",
    "curation_pipeline_funnel",
    "dedup_semantic_clusters",
    "ann_pq_topk",
    "funnel_user_conversion",
    "dedup_winnowing_overlap",
    "text_bigram_lm_score",
]


#: Queries whose plans reuse the session-shared memoized relations
#: (shingle/LSH-pair/PQ-codebook localCheckpoints). Their warm numbers
#: embed whichever family member ran first paying the materialization;
#: the cold pass clears the memos before each one so BENCH_FULL.json
#: also records the standalone cost (VERDICT r3 "What's wrong" #2).
MEMO_QUERIES = [
    "dedup_exact", "dedup_exact_summary", "dedup_ngram_jaccard",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_clusters",
    "dedup_survivors", "dedup_survivors_by_quality",
    "dedup_winnowing_overlap",
    "text_winnowing_fingerprint", "text_segment_dedup",
    "dedup_semantic_clusters", "dedup_embedding_cosine",
    "dedup_cross_modal", "dedup_cross_modal_media",
    "ann_bruteforce_topk", "ann_lsh_bucketed", "ann_ivf_topk",
    "ann_pq_topk", "knn_label_vote",
    # r15 memo additions: bm25's 1-row query relation rides
    # corpus._BM25_QUERY_CACHE — the cold row records the standalone
    # df-ranking cost (VERDICT r14 item 7's precondition)
    "bm25_ranked_retrieval",
]


def clear_memos() -> None:
    """Drop EVERY cross-query memoized relation so the next execution
    pays its own materialization (memo-cold, JVM-warm). r15: delegates
    to the central registry every CheckpointMemo auto-registers with at
    construction (functions/memo.py) — the r14 hand-maintained module
    list silently missed the then-new semantic assignment memo, leaving
    that family's cold rows memo-warm. The memos' clear() also
    unpersists the checkpointed blocks, so repeated cold passes don't
    accumulate block-manager storage."""
    from postgresql_transfer_tool_spark.functions.memo import clear_all_memos

    clear_all_memos()


def normalizer_probe() -> float:
    """Seconds for a fixed single-core CPU workload (~0.25 s on this
    host): a chained md5 over 600k iterations. Deterministic,
    allocation-light, GIL-bound — measures raw host CPU speed with no
    JVM/disk/Spark state, so its ratio across rounds is the host-speed
    correction factor for every query ratio."""
    import hashlib

    t0 = time.perf_counter()
    h = b"spark-graft-normalizer"
    for _ in range(600_000):
        h = hashlib.md5(h).digest()
    return round(time.perf_counter() - t0, 4)


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    return float(base.replace("sf", "")) if base.startswith("sf") else -1.0


def bench_transfer(spark, sf_dir: str) -> float:
    """Time the flagship workload — the full multi-table transfer
    (parallel staged copy + constraint validation + sequence resync).
    The reference's equivalent at sf0.1 is ~760k sequential per-row
    INSERT round-trips plus O(N²/1000) OFFSET rescans; the engine does
    it as partitioned reads + batched columnar writes."""
    import shutil
    import tempfile

    from postgresql_transfer_tool_spark.transfer import TransferPipeline

    target = tempfile.mkdtemp(prefix="bench_transfer_")
    try:
        t0 = time.time()
        report = TransferPipeline(spark, sf_dir, target).run()
        dt = time.time() - t0
        if not report.ok:
            print("bench: transfer reported not-ok", file=sys.stderr)
        return round(dt, 4)
    finally:
        shutil.rmtree(target, ignore_errors=True)


def run_once(spark, qs, names, sf_dir: str, attempt: dict) -> dict:
    """One full measurement pass. Returns the record (the same shape
    BENCH_FULL.json holds); ``attempt`` fields are merged into every
    flush so a retried run's artifact says which attempt it is and
    carries the prior attempt's normalizer series as evidence."""
    from postgresql_transfer_tool_spark.session import codegen_compiles

    # checkpoint partial timings every few queries: if the harness kills
    # a long run mid-way, BENCH_FULL.json still holds everything timed
    # so far (marked partial) instead of nothing.
    def _flush(partial: bool) -> None:
        drift = (
            round(max(normalizers) / min(normalizers) - 1, 4)
            if len(normalizers) > 1
            else 0.0
        )
        snap = {
            "metric": "total_query_wall_clock",
            "value": round(sum(t for t in timings.values() if t >= 0), 4),
            "unit": "sec",
            "queries": dict(timings),
            "queries_warm_runs": dict(warm_runs),
            "queries_cold": dict(cold),
            "queries_codegen_compiles": dict(warm_compiles),
            "queries_cold_codegen_compiles": dict(cold_compiles),
            "sf": sf_from_dir(sf_dir),
            "n_queries": len(timings),
            "n_failed": sum(1 for t in timings.values() if t < 0),
            "normalizer_sec": list(normalizers),
            "normalizer_drift": drift,
            "normalizer_drift_exceeded": drift > 0.20,
            "partial": partial,
            **attempt,
        }
        tmp = os.path.join(REPO, "BENCH_FULL.json.tmp")
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=2, sort_keys=True)
        os.replace(tmp, os.path.join(REPO, "BENCH_FULL.json"))

    timings: dict[str, float] = {}
    warm_runs: dict[str, list[float]] = {}
    cold: dict[str, float] = {}
    # classes compiled during a row's timed runs (codegen-cache misses)
    warm_compiles: dict[str, int] = {}
    cold_compiles: dict[str, int] = {}
    normalizers: list[float] = [normalizer_probe()]
    for i, name in enumerate(names):
        fn = qs[name]
        try:
            fn(spark, sf_dir).collect()  # warmup: JVM JIT + file cache
            runs = []
            c0 = codegen_compiles(spark)
            for _ in range(3):  # median-of-3 (see module docstring)
                t0 = time.time()
                fn(spark, sf_dir).collect()
                runs.append(round(time.time() - t0, 4))
            warm_compiles[name] = codegen_compiles(spark) - c0
            warm_runs[name] = runs
            timings[name] = sorted(runs)[1]
        except Exception as exc:  # never let one query kill the bench
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
        if i % 5 == 4:
            _flush(partial=True)
        if i == len(names) // 2:
            normalizers.append(normalizer_probe())  # mid-run host check
    # second pass: memo-cold standalone numbers for the shared-memo
    # families (the warm session above is what a shared production
    # pipeline sees; this column is what a single isolated query costs)
    for name in MEMO_QUERIES:
        if name not in qs:
            continue
        fn = qs[name]
        try:
            clear_memos()
            c0 = codegen_compiles(spark)
            t0 = time.time()
            fn(spark, sf_dir).collect()
            cold[name] = round(time.time() - t0, 4)
            cold_compiles[name] = codegen_compiles(spark) - c0
        except Exception as exc:
            print(f"bench: cold {name} failed: {exc}", file=sys.stderr)
            cold[name] = -1.0
    # flagged production-hash variant (same survivor/cluster sets,
    # asserted by tests/test_shingle_hash.py): record the md5→xxhash64
    # delta as a clearly-labeled extra cold row
    try:
        clear_memos()
        os.environ["SPARK_GRAFT_SHINGLE_HASH"] = "xxhash64"
        c0 = codegen_compiles(spark)
        t0 = time.time()
        qs["dedup_minhash_lsh"](spark, sf_dir).collect()
        cold["dedup_minhash_lsh[xxhash64]"] = round(time.time() - t0, 4)
        cold_compiles["dedup_minhash_lsh[xxhash64]"] = codegen_compiles(spark) - c0
    except Exception as exc:
        print(f"bench: xxhash64 variant failed: {exc}", file=sys.stderr)
        cold["dedup_minhash_lsh[xxhash64]"] = -1.0
    finally:
        os.environ.pop("SPARK_GRAFT_SHINGLE_HASH", None)
    clear_memos()
    try:
        timings["transfer_pipeline"] = bench_transfer(spark, sf_dir)
    except Exception as exc:
        print(f"bench: transfer_pipeline failed: {exc}", file=sys.stderr)
        timings["transfer_pipeline"] = -1.0
    normalizers.append(normalizer_probe())  # end-of-run host check
    drift = round(max(normalizers) / min(normalizers) - 1, 4)
    if drift > 0.20:
        print(
            f"bench: WARNING normalizer drifted {drift:.0%} mid-run "
            f"({normalizers}) — host load shifted, numbers are suspect",
            file=sys.stderr,
        )
    _flush(partial=False)
    total = round(sum(t for t in timings.values() if t >= 0), 4)
    headline = {n: timings[n] for n in [*HEADLINE, "transfer_pipeline"] if n in timings}
    return {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": headline,
        # full per-query map for merge_attempts; stripped before print
        "queries_all": dict(timings),
        "sf": sf_from_dir(sf_dir),
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "n_cold": len(cold),
        "normalizer_sec": normalizers,
        "normalizer_drift": drift,
        "normalizer_drift_exceeded": drift > 0.20,
        "full_table": "BENCH_FULL.json",
        **attempt,
    }


def merge_attempts(attempts: list[dict]) -> dict:
    """Cross-attempt fallback when EVERY attempt tripped the drift
    tripwire (round-13 VERDICT #1): per-query median across the
    attempts' per-query medians. Each attempt's mid-run load shift
    contaminates different queries, so the cross-attempt median is
    robust to any one attempt's spike — the per-query medians are the
    record, the per-attempt series are the evidence. The drift flag
    stays TRUE (no single clean pass existed); ``merged_medians``
    tells the reader how the numbers were salvaged."""
    last = attempts[-1]
    per_query: dict[str, float] = {}
    for name in last["queries_all"]:
        vals = sorted(
            a["queries_all"][name]
            for a in attempts
            if a["queries_all"].get(name, -1.0) >= 0
        )
        per_query[name] = vals[len(vals) // 2] if vals else -1.0
    total = round(sum(t for t in per_query.values() if t >= 0), 4)
    headline = {
        n: per_query[n]
        for n in [*HEADLINE, "transfer_pipeline"]
        if n in per_query
    }
    return {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": headline,
        "sf": last["sf"],
        "n_queries": len(per_query),
        "n_failed": sum(1 for t in per_query.values() if t < 0),
        "n_cold": last["n_cold"],
        "normalizer_sec": last["normalizer_sec"],
        "normalizer_drift": last["normalizer_drift"],
        "normalizer_drift_exceeded": True,
        "merged_medians": True,
        "merged_from_attempts": len(attempts),
        "attempt_values": [a["value"] for a in attempts],
        "attempt_normalizer_sec": [a["normalizer_sec"] for a in attempts],
        "full_table": "BENCH_FULL.json",
    }


def main() -> None:
    import __spark_entry__ as entrymod
    from postgresql_transfer_tool_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    max_attempts = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", "5"))
    spark = get_spark("bench")

    qs = entrymod.queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]
    # VERDICT r8 #5 upgraded by r13 #1: a drift-exceeded artifact is an
    # invalidated record — retry (memo-cold, same session: the JVM
    # warmth is part of every attempt's steady state) until a pass
    # stays under the 20% tripwire, bounded at max_attempts. If every
    # attempt drifts, record per-query medians ACROSS attempts — robust
    # to any one attempt's load spike — with all normalizer series as
    # evidence that the host, not the code, moved.
    attempts: list[dict] = []
    rec = None
    for i in range(1, max_attempts + 1):
        if attempts:
            print(
                f"bench: normalizer drift exceeded 20% on attempt {i - 1} "
                f"({attempts[-1]['normalizer_sec']}) — retrying "
                f"({i}/{max_attempts})",
                file=sys.stderr,
            )
            clear_memos()
        attempt_meta = {"attempt": i}
        if attempts:
            attempt_meta.update(
                retried_after_drift=True,
                first_attempt_normalizer_sec=attempts[0]["normalizer_sec"],
                first_attempt_value=attempts[0]["value"],
            )
        rec = run_once(spark, qs, names, sf_dir, attempt=attempt_meta)
        attempts.append(rec)
        if not rec["normalizer_drift_exceeded"]:
            break
    if rec["normalizer_drift_exceeded"] and len(attempts) > 1:
        rec = merge_attempts(attempts)
    rec.pop("queries_all", None)
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
