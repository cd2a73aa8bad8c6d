"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Per-query timing includes plan build + execution to a noop WRITE sink:
df.count() is NOT a valid sink for scan+project queries — Catalyst
prunes every unreferenced projection under a count, so a masking query
"benchmarked" via count() measures row counting, not masking. The noop
format evaluates every output column and discards the rows (no IO).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from greenmask_spark.session import get_spark  # noqa: E402

#: headline set: one per operator family — masking chain, subset join plan,
#: aggregation anchors, dedup/similarity/text at scale
HEADLINE = [
    "mask_customer",
    "t_orders_temporal",
    "t_random_float",
    "subset_lineitem",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "events_daily",
    "dedup_exact",
    "text_profile",
    "minhash_sigs",
    "simhash",
    "ann_topk",
    # r10 consolidated the lsh/ivf registry rows into one family row
    # (each variant keeps its original parameters under a tag); the
    # r10 judge bench already ran this substitution, so the common-23
    # prefix stays comparable with that certified run
    "ann_variants",
    # r6: the two heavy text operators promoted to driver rows — the LM
    # scorer (train on the even-id half, score the odd half: the
    # windows × count-tables join stream) and the codegen'd
    # regexp_replace HTML-stripping chain
    "lm_score",
    "strip_html",
    # r7: ExactSubstr repeated-substring detection — the heaviest new
    # operator (per-window sha256 stream, persisted once, then the
    # repeat-count + verify joins)
    "repeated_spans",
    # r8: the lexical-search sparse top-k (explode semi-joined by the
    # broadcast query terms) and PQ-ADC ANN (encode scan + LUT-gather
    # scorer). Appended so the common-18 prefix stays comparable with
    # BENCH_r07; contention canary logic unchanged.
    "bm25_topk",
    "ann_topk_pq",
    # r9: the Gopher rule bundle (pure expressions at scan bandwidth —
    # the quality-filter floor every crawl pipeline pays) and the
    # 3-iteration fixed-point PageRank (the iterative-graph shape).
    # Appended so the common-20 prefix stays comparable with BENCH_r08.
    "gopher_filter",
    "pagerank",
    # r9 (late): the Bloom seen-set (sketch build = one bit_or shuffle;
    # probe = k broadcast joins, zero exchanges) and the token-budget
    # cut (two-phase threshold-bucket selection — only ~1/n_buckets of
    # rows pay a sort). Appended after gopher/pagerank so the
    # common-22 prefix stays comparable within r9.
    "bloom_seen",
    "select_to_budget",
    # r11: first wall-time pins for every remaining r9/r10 operator
    # family (VERDICT r10 task 4). Appended so the common-23 prefix
    # stays comparable with the r10 judge run: the link-graph
    # fixed-point twin (HITS), the robots.txt rule engine (per-domain
    # parse windows + broadcast rule join), the Arrow-batch perceptual
    # hash, the C4 heuristic bundle, the windowed HLL distinct, and
    # the unigram-LM Viterbi encode (Arrow stage; model trained once
    # per sf_dir at plan-build time, see q_unigram_encode)
    "hits_scores",
    "robots_filter",
    "image_dhash",
    "c4_filter",
    "windowed_distinct",
    "unigram_encode",
    # r11 (late): the integer-exact k-means assignment pass (Arrow
    # stage, centroids in closure; training cached outside the timed
    # region like the unigram model). Appended so the common-29
    # prefix stays comparable with the r11 pins in BASELINE.md §2.6.
    "kmeans_clusters",
    # r12: semantic benchmark decontamination (benchmark matrix in the
    # task closure, one Arrow pass, zero exchanges — the staged r13
    # registry row). Appended so the common-30 prefix stays comparable
    # with tools/records/bench_sf0.1_r12.json.
    "semantic_decontaminate",
    # r13: per-document n-gram novelty (distinct-gram first-owner
    # fraction; 60-bit gram-hash slivers through four map-side-combined
    # shuffles — the staged r14 registry row). Appended so the
    # common-31 prefix stays comparable with
    # tools/records/bench_sf0.1_r13.json.
    "ngram_novelty",
    # r13 (late): fixed context-window chunking with overlap (zero
    # exchanges — codegen'd split/sequence/explode/slice at the scan;
    # the staged r15 registry row). Appended so the common-32 prefix
    # stays comparable within r13.
    "chunk_documents",
    # r13 (late): char-distribution quality signals (one (id, char)
    # sliver count shuffle + the per-doc histogram fold — the staged
    # r16 registry row). Appended so the common-33 prefix stays
    # comparable within r13.
    "entropy_profile",
    # r13 (late): WebDataset tar-shard sink+source roundtrip (ONE
    # shard-stream exchange + the streaming tar writer; read is
    # per-file parallel — the staged r17 registry row).
    "webdataset_roundtrip",
    # r13 (late): Unicode-script composition (pure codegen'd regexp
    # length-drop expressions, zero exchanges — the staged r18
    # registry row).
    "script_profile",
    # r13 (late): multi-turn SFT conversation assembly (ONE exchange
    # shared by the budget window pre-filter and the gather; zero
    # Python — the staged r19 registry row).
    "assemble_conversations",
    # r13 (late): per-domain quality rollup (ONE map-side-combined
    # shuffle of (domain, count, decimal-sum) slivers — the staged
    # r20 registry row).
    "domain_profile",
]


#: pinned idle-core canary runtime on the reference machine (seconds):
#: the min across every clean r7/r8 run (driver + local pins) is
#: 0.062-0.065. The r8 driver run showed WHY within-run comparison
#: alone is not enough: a load ramp that starts mid-run lifts every
#: checkpoint together (max 0.132s ≈ 2.1x this floor) without any
#: single checkpoint being 2x its own run's best.
CANARY_FLOOR = 0.063


def _query_contention(
    names: list[str], canaries: list[float]
) -> tuple[dict[str, float], list[str]]:
    """Per-query contention evidence. ``canaries[i]`` is the checkpoint
    taken just before ``names[i]`` and ``canaries[i + 1]`` the one just
    after it. Returns each query's preceding checkpoint, and the queries
    with a neighbouring checkpoint above 2x ``CANARY_FLOOR`` — this
    catches load present at the start of a run, which the within-run
    rule (compare with the best checkpoint so far) cannot see."""
    before = {n: round(canaries[i], 3) for i, n in enumerate(names)}
    flagged = [
        n for i, n in enumerate(names)
        if max(canaries[i:i + 2]) > 2.0 * CANARY_FLOOR
    ]
    return before, flagged


def _canary(spark) -> float:
    """A fixed ~50ms CPU-bound Spark job (no IO, no shuffle): its
    runtime moves only with machine/JVM contention, so drift between
    canary checkpoints identifies a loaded run — the r6 driver bench
    drifted +17% uniformly across unrelated queries and could only be
    diagnosed after the fact (VERDICT r6 "What's wrong #2"); this makes
    a contended run self-identifying in the output JSON."""
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, 8).selectExpr(
        "sum(id * 3 + 1) AS s").collect()
    return time.perf_counter() - t0


def _string_canary(spark) -> float:
    """A fixed CPU-bound JVM string/regex job (no IO, no shuffle, no
    data dependence): each round runs on a FRESH VM boot, and r11→r12
    showed the text-scan queries (text_profile, repeated_spans) drifting
    +60-70% across boots with identical code/plans/data while the
    scheduler canary stayed under its floor — the scheduler canary
    can't see string-throughput differences between physical hosts.
    This canary moves WITH the text queries, so a cross-boot comparison
    can normalize: quote text-query ratios next to the string-canary
    ratio of the two runs. Recorded in the JSON only (no contended
    verdict) until enough boots pin a floor band."""
    t0 = time.perf_counter()
    spark.range(0, 60_000, 1, 8).selectExpr(
        "sum(length(regexp_replace(repeat(concat('ab c', "
        "cast(id % 97 as string), ' xy. '), 20), '[a-z]+', 'X'))) AS s"
    ).collect()
    return time.perf_counter() - t0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))
    # scoped runs (scale sweeps, single-query iteration): a
    # comma-separated HEADLINE subset; unset = the full set, and the
    # output metric name marks subset runs so a partial total can
    # never be mistaken for the headline series
    only = [s for s in os.environ.get(
        "SPARK_GRAFT_BENCH_ONLY", "").split(",") if s]
    headline = [n for n in HEADLINE if not only or n in only]
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("greenmask-spark-bench")
    qs = entrymod.queries()

    load_start = os.getloadavg()[0] if hasattr(os, "getloadavg") else None

    # session warmup: JVM + parquet footers
    qs["q1_pricing_summary"](spark, sf_dir).count()
    for _ in range(10):  # canary warmup — the scheduler/codegen paths
        _canary(spark)   # keep speeding up for several iterations (JIT)
    for _ in range(5):
        _string_canary(spark)
    string_canary = round(min(_string_canary(spark) for _ in range(3)), 3)

    # per-query: one UNTIMED warmup pass (codegen compile, shuffle-file
    # page cache, broadcast build) then median of `reps` timed runs —
    # r3/r4 showed best-of-2 leaves ±0.1-0.2s of session/AQE churn on
    # unrelated scan+project queries, which read as phantom regressions
    # round over round. Median over 5 is robust to a single GC/compile
    # stall in either direction; plan build stays inside the timed
    # region (it is part of the operator's real cost).
    timings: dict[str, float] = {}
    canaries: list[float] = []

    def checkpoint():
        # best of three: single samples eat GC pauses / post-query
        # cleanup; genuine external contention shows in ALL three
        canaries.append(min(_canary(spark) for _ in range(3)))

    for name in headline:
        checkpoint()
        # registry rows by name; bench-only rows (e.g. unigram_encode,
        # which needs a one-time trained model outside the timed
        # region) resolve to their q_* function directly
        fn = qs.get(name) or getattr(entrymod, "q_" + name)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _rep in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
    checkpoint()
    total = round(sum(timings.values()), 3)
    # contention tripwire: a checkpoint >2x slower than the best seen
    # BEFORE it means something started competing for the cores
    # mid-run — treat the headline numbers as upper bounds, not a
    # regression signal, and re-run on idle cores. (Residual JIT
    # warmup only ever makes later checkpoints FASTER, so the
    # spike-vs-best-so-far rule is immune to it; a run loaded from
    # the very start instead shows in load_avg.start.)
    contended, best = False, None
    for c in canaries:
        if best is not None and c > 2.0 * best:
            contended = True
        best = c if best is None else min(best, c)
    # absolute tripwire (r8 verdict): a ramp that starts mid-run lifts
    # ALL checkpoints together and hides from the within-run rule —
    # compare the run's BEST canary against the pinned idle floor too.
    # (best > 2x floor means even the quietest moment of this run was
    # twice the idle-machine cost of the same fixed job.)
    above_floor = best > 2.0 * CANARY_FLOOR  # best == min(canaries)
    contended = contended or above_floor
    query_canary, contended_queries = _query_contention(headline, canaries)
    out = {
        "metric": ("headline_queries_total" if not only
                   else "headline_queries_subset"),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "canary": {
            "min": round(min(canaries), 3),
            "median": round(sorted(canaries)[len(canaries) // 2], 3),
            "max": round(max(canaries), 3),
            "floor": CANARY_FLOOR,
            "above_floor": above_floor,
            "last": round(canaries[-1], 3),
        },
        # the checkpoint run just before each query, and the queries
        # next to a checkpoint above 2x the idle floor
        "query_canary": query_canary,
        "contended_queries": contended_queries,
        # boot-throughput reference, not a contention signal: compare
        # across recorded runs to normalize text-query drift
        "string_canary": string_canary,
        "contended": contended,
    }
    if load_start is not None:
        out["load_avg"] = {
            "start": round(load_start, 2),
            "end": round(os.getloadavg()[0], 2),
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
