"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced to full materialization with the noop sink (every
output column computed, nothing collected to the driver), so timings
measure the whole plan, not an agg-pruned shortcut.

Noise protocol (VERDICT r3 #3 — three rounds burned verdict cycles on
phantom sub-second regressions from host-load spikes): each query runs
FIVE timed iterations; ``queries`` records the MIN (noise on a shared
host is one-sided — GC pause, CPU steal — so the minimum estimates true
steady-state cost), the per-query [min, median, max] spread goes to a
SIDE FILE (``.benchmarks/spread_latest.json``) and stderr — NOT the
stdout JSON line (VERDICT r4 #2: embedding the 30-query spread dict
grew the line past the driver's tail-capture window and decapitated
it, leaving ``BENCH_r04.json`` with ``"parsed": null``; the
machine-readable line must stay small and LAST).

THE GATE IS THE CPU CANARY, not loadavg (VERDICT r5 #1/#2: a
loadavg-0.51 run carried 3x hypervisor steal with ``load_warning``
false — the flag keyed on the WRONG signal). A fixed-work numpy
matmul burst is timed before the JVM starts and compared against this
host's pinned quiet reference (0.08 s, recorded round 5); if it reads
> 1.5x the reference the run re-measures once after a pause and, if
still slow, SCREAMS on stderr and sets ``"canary_warning": true`` —
every number in such a run carries roughly ``canary_ratio`` of
invisible steal. loadavg is still recorded as a secondary note:
the artifact field is ``load_avg_note`` (renamed from
``load_warning`` in round 8, VERDICT r7 #5 — the old flag kept
false-alarming on canary-clean runs like r7's canary-1.02 artifact;
same boolean meaning, non-warning name, the canary is the gate).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Headline mix: scan-agg, star join, pivot, windows, sessionization,
#: dedup (exact/Jaccard/MinHash/SimHash/PPJoin/spans), sketches, ANN,
#: text scoring, bloom decontamination.
HEADLINE = [
    "tpch_q1",
    "tpch_q3_sql",
    "tpch_q5_sql",
    "star_join_agg",
    "pivot_status",
    "date_dim",
    "window_topk_per_group",
    "events_hourly",
    "sessionize_events",
    "asof_join_events",
    "dedup_exact",
    "jaccard_pairs_exact",
    "minhash_pairs",
    "simhash_fingerprints",
    "ann_topk_bruteforce",
    "ann_topk_ivf",
    "embedding_near_dup",
    "text_quality",
    "tpch_q17_scalar",
    "text_profile_fused",
    "tpch_q6_scan",
    "tpch_q9_profit",
    "tpch_q13_histogram",
    "events_trailing_hour",
    "corpus_curation",
    "heavy_hitter_tokens",
    # round-4 additions (VERDICT r3 #7): the wave-3/4 flagships, so
    # their trend is tracked from here on. The headline total is
    # re-baselined by these four rows — compare r4+ totals to r3's
    # 26-query total PLUS these queries' own r4 rows.
    "jaccard_pairs_prefix_filter",
    "cross_doc_dup_spans",
    "kmv_user_overlap",
    "bloom_prefilter_decontaminate",
    # round-5 additions: the r5 flagships (hybrid retrieval got the
    # tokenize-once fix; the two entropy queries share its scan shape;
    # trigram search carries the bitmap-AND fix found at the 100x
    # probe; cluster topics carries the full k-means training loop)
    "hybrid_rrf_retrieval",
    "token_entropy_quality",
    "distinctive_terms_by_source",
    "trigram_search_like",
    "cluster_topic_terms",
    # round-6 additions: the persisted-index serving twin (its first
    # bench call pays the one-time index build; min-of-5 therefore
    # reports steady-state SERVING, the deployment number — the build
    # cost is recorded by tools/scale_probe_trigram.py), and the
    # materialized-sample AQP estimator.
    "trigram_search_indexed",
    "aqp_revenue_from_sample",
    # round-6 second wave: cross-lingual margin mining and the trained
    # SemDeDup pipeline (in-plan k-means + per-cluster prune)
    "bitext_mining_pairs",
    "semantic_dedup_flags",
    # round-6 third wave: the layout tier (first bench call pays the
    # one-time bucketed/Z-ordered/partitioned build; min-of-5 reports
    # steady-state SERVING, the deployment number), the integer power
    # iteration (its cost is the one distributed Gram pass), and the
    # join-aggregate MV refresh.
    "bucketed_join_colocated",
    "zorder_box_serve",
    "dpp_partitioned_join",
    "embedding_top_pc_power",
    "incremental_join_agg",
    # round-6 seventh wave: the linear bitext path (the exact twin
    # stays in the headline as the quality ceiling and the quadratic
    # contrast)
    "bitext_mining_ivf",
    # round-7 additions: the persisted MinHash-LSH index serving twin
    # (build cost in the "builds" field; min-of-5 reports steady-state
    # serving of the fixed incremental batch) beside its query-time
    # predecessor incremental_dedup_probe for the measured contrast.
    "minhash_pairs_indexed",
    "incremental_dedup_probe",
    # round-7 second wave: held-out Stupid-Backoff LM scoring, the
    # snake shard-balance plan, and the vectorized hubness audit.
    "lm_stupid_backoff_scores",
    "shard_plan_balance",
    "ann_hubness_audit",
    # round-8 addition: the hubness audit's IVF deployment twin —
    # corpus-scaled cells, no vector-count ceiling (the exact-kernel
    # query above refuses past 200k vectors; this one replaces it in
    # scale runs).
    "ann_hubness_audit_ivf",
    # round-10 additions: the star join's bucket-co-located layout twin
    # (measures the exchange-free SMJ recipe against star_join_agg's
    # broadcast->SMJ transition at the scale tiers; first call pays the
    # shared bucketed-table build, min-of-N reports serving) and the
    # probe-after-append trigram serve (the incremental-ingest path;
    # its build field records build+append together).
    "star_join_bucketed",
    "trigram_search_appended",
]

#: FROZEN round-over-round comparability subset (VERDICT r5 #7): the
#: 26-query headline exactly as it stood through round 3, reported as
#: its own field every round so the trend line never needs a
#: per-round intersection again. Do not edit this list.
LEGACY26 = HEADLINE[:26]
assert LEGACY26[-1] == "heavy_hitter_tokens", "legacy26 must stay frozen"

N_ITERS = 5

#: This host's quiet-box canary reference (seconds), pinned from the
#: round-5 quiet runs (0.08 s; slow episodes measured 0.22-0.47).
CANARY_QUIET_REF = 0.08
CANARY_MAX_RATIO = 1.5


def _measure_canary() -> float:
    """min-of-3 fixed-work numpy matmul burst (BLAS uses all cores, so
    co-tenant steal shows up here just as in executor threads)."""
    import timeit

    import numpy as _np

    _a = _np.random.default_rng(7).random((1000, 1000))
    return min(timeit.timeit(lambda: _a @ _a, number=10) for _ in range(3))


def _jvm_counters(spark) -> tuple[int, int]:
    """The driver JVM's total loaded classes and total JIT compile ms."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return (
        mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        mf.getCompilationMXBean().getTotalCompilationTime(),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # optional subset (comma-separated query names) for targeted
    # scaling probes, e.g. the dedup family at sf10
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    headline = subset.split(",") if subset else HEADLINE
    n_iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", N_ITERS))
    load_max = float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "4.0"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    # Fixed-work CPU canary vs the pinned quiet reference — THE gate
    # (round 5: the same commit measured 30.3 s then 51.8 s headline
    # two hours apart, loadavg 0.05 both times — hypervisor steal that
    # loadavg cannot see; and the r5 judge's rerun carried 3x steal at
    # loadavg 0.51). If the first reading is hot, wait and re-measure
    # once: a transient co-tenant burst shouldn't condemn the run.
    canary = _measure_canary()
    if canary > CANARY_MAX_RATIO * CANARY_QUIET_REF:
        print(
            f"# canary {canary:.3f}s > {CANARY_MAX_RATIO}x quiet ref "
            f"{CANARY_QUIET_REF}s — pausing 20s and re-measuring once",
            file=sys.stderr,
        )
        time.sleep(20)
        canary = min(canary, _measure_canary())
    canary_ratio = canary / CANARY_QUIET_REF
    canary_warning = canary > CANARY_MAX_RATIO * CANARY_QUIET_REF
    if canary_warning:
        print(
            f"######## BENCH CANARY WARNING: fixed-work canary "
            f"{canary:.3f}s = {canary_ratio:.1f}x this host's quiet "
            f"reference ({CANARY_QUIET_REF}s). The box is being stolen "
            "from (loadavg-invisible); EVERY number below carries "
            "roughly that factor. Do not read this run as a trend.",
            file=sys.stderr,
        )

    load_start = os.getloadavg()[0]
    load_avg_note = load_start > load_max
    if load_avg_note:
        print(
            f"#### bench note: load1={load_start:.2f} > {load_max} before "
            "JVM start. Informational only — the CPU canary is the gate "
            "(loadavg is blind to hypervisor steal and cries wolf on "
            "canary-clean runs; see module docstring).",
            file=sys.stderr,
        )

    from udacity_data_engineering_capstone_project_spark.operators.similarity import (
        destroy_routing_broadcast,
    )
    from udacity_data_engineering_capstone_project_spark.plans.registry import query_fns
    from udacity_data_engineering_capstone_project_spark import session

    spark = session.get_spark("bench")
    fns = query_fns()
    jvm_start = _jvm_counters(spark)

    # JMH-style warm-up outside the timed region: one un-timed
    # iteration of every headline query at the target SF. First-run
    # Janino codegen + C2 JIT tiering of the big dedup plans cost
    # 5-15s independent of data size — timing them would measure
    # compiler latency, not engine throughput. Caches are cleared
    # between iterations, so the timed region below is steady-state
    # EXECUTION at the target SF (scans, shuffles, aggregations all
    # re-run; only compiled code is reused).
    # SPARK_GRAFT_SKIP_WARMUP=1 folds JIT/codegen latency (~5-15 s per
    # query, data-size-independent) into the single timed iteration —
    # ONLY for wall-clock-capped scale runs where queries run minutes
    # each and the inflation is bounded; artifacts from such runs must
    # carry a methodology note. Never set for sf0.1 trend benches.
    if os.environ.get("SPARK_GRAFT_SKIP_WARMUP") != "1":
        for name in headline:
            # one stderr line per query so a scale-run failure names
            # its culprit immediately (the r8 1000x run died twice in
            # warm-up before this existed; stage numbers don't
            # identify queries)
            print(f"[bench] warm-up: {name}", file=sys.stderr, flush=True)
            df = fns[name](spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            # post-action hook (ADVICE r11): release any routing-plan
            # centroid broadcast the query attached — a full bench
            # session otherwise accumulates one per IVF-query build
            destroy_routing_broadcast(df)
            spark.catalog.clearCache()

    # Per-query mini-canary (round 9): the box was measured oscillating
    # between multi-minute GOOD and DEGRADED episodes (legacy26 16.3 s
    # vs 20.4 s across four same-commit full runs, star_join_agg 0.67
    # vs 3.17 min-of-5) with BOTH endpoint canaries clean (1.1-1.2),
    # /proc/stat steal ~0, gc 0, and the final adaptive plan identical
    # — hypervisor/memory-bandwidth interference the endpoint canary
    # cannot see. A ~15 ms fixed-work burst after each query's timed
    # loop timestamps the episode boundaries inside the artifact
    # (side file + "episode_suspect" in stdout when the worst
    # mid-run reading crosses the gate), making a contaminated stretch
    # adjudicable per-query instead of per-run.
    import numpy as _np

    _mini_a = _np.random.default_rng(7).random((256, 256))

    def _mini_canary_ms() -> float:
        t0 = time.time()
        for _ in range(3):
            _mini_a @ _mini_a
        return round((time.time() - t0) * 1000, 2)

    mini_ref_ms = min(_mini_canary_ms() for _ in range(5))
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    mid_canary: dict[str, float] = {}
    for name in headline:
        print(f"[bench] timing: {name}", file=sys.stderr, flush=True)
        samples = []
        for _ in range(n_iters):
            t0 = time.time()
            df = fns[name](spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            samples.append(time.time() - t0)
            # post-action hook (ADVICE r11), outside the timed window:
            # release the routing-plan broadcast this iteration built,
            # then drop persisted intermediates so they don't steal
            # memory from (or get recomputed into) later queries
            destroy_routing_broadcast(df)
            spark.catalog.clearCache()
        if os.environ.get("SPARK_GRAFT_SPY") == name:
            # diagnostic side channel (stderr only, artifact unchanged):
            # re-run the spied query with collect() so the FINAL
            # adaptive plan is inspectable post-execution, and bracket
            # it with the JVM's cumulative GC time — separates "AQE
            # picked a different join" from "the old heap is paying
            # full GCs" when a query is slow only in full-suite context
            mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
            beans = mf.getGarbageCollectorMXBeans()
            gc0 = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
            t0 = time.time()
            df = fns[name](spark, sf_dir)
            df.collect()
            gc1 = sum(beans.get(i).getCollectionTime() for i in range(beans.size()))
            print(
                f"[spy] {name}: collect={time.time() - t0:.3f}s "
                f"gc_delta={(gc1 - gc0) / 1000.0:.3f}s",
                file=sys.stderr,
            )
            print(
                df._jdf.queryExecution().executedPlan().toString()[:6000],
                file=sys.stderr,
            )
            destroy_routing_broadcast(df)
            spark.catalog.clearCache()
        timings[name] = round(min(samples), 3)
        spread[name] = [
            round(min(samples), 3),
            round(statistics.median(samples), 3),
            round(max(samples), 3),
        ]
        mid_canary[name] = _mini_canary_ms()
        print(
            f"# {name}: min={spread[name][0]}s med={spread[name][1]}s "
            f"max={spread[name][2]}s mini_canary={mid_canary[name]}ms",
            file=sys.stderr,
        )

    jvm_end = _jvm_counters(spark)

    # End-of-run canary: steal that starts MID-RUN is invisible to the
    # pre-JVM reading (observed round 6: a canary-1.15 run carried a
    # multi-minute steal episode that tripled three adjacent queries;
    # isolated re-runs on a quiet box matched round 5 exactly). Either
    # reading hot -> the artifact is flagged.
    canary_end = _measure_canary()
    canary_worst = max(canary, canary_end)
    canary_ratio = canary_worst / CANARY_QUIET_REF
    if not canary_warning and canary_end > CANARY_MAX_RATIO * CANARY_QUIET_REF:
        canary_warning = True
        print(
            f"######## BENCH CANARY WARNING (end-of-run): {canary_end:.3f}s "
            f"= {canary_end / CANARY_QUIET_REF:.1f}x quiet ref — steal "
            "arrived mid-run; per-query minima in the affected stretch "
            "are inflated.",
            file=sys.stderr,
        )

    # one-time build costs of the build/serve queries (VERDICT r6 #7):
    # each build site records its first-call artifact-build seconds
    # into the plans.build_costs ledger during the warm-up loop above;
    # copying it into the artifact makes the amortization claim
    # ("min-of-5 reports steady-state SERVING") auditable per round.
    from udacity_data_engineering_capstone_project_spark.plans.build_costs import (
        BUILD_COSTS,
    )

    builds = {
        k.split("@")[0]: v
        for k, v in sorted(BUILD_COSTS.items())
        if "@" not in k or k.endswith(f"@{sf_dir}")
    }

    total = round(sum(timings.values()), 3)
    legacy26_total = (
        round(sum(timings[q] for q in LEGACY26), 3)
        if all(q in timings for q in LEGACY26)
        else None
    )
    episode_suspect = (
        sum(
            1
            for v in mid_canary.values()
            if v > 5 * min(mini_ref_ms, min(mid_canary.values()))
        )
        >= max(2, math.ceil(0.1 * len(mid_canary)))
        if mid_canary
        else False
    )
    # Everything diagnostic goes to the SIDE FILE; the stdout line
    # carries the driver contract plus the two gate verdicts only.
    # ROUND-11 FINDING: the driver's tail-capture window is 2000 chars
    # and BENCH_r08/r09/r10 all record "parsed": null — the line
    # re-grew past the window as the headline widened to 51 queries
    # (the exact decapitation VERDICT r4 #2 described). Diagnostics
    # (builds, loadavg, raw canary seconds, mini-canary refs) moved to
    # .benchmarks/spread_latest.json; a hard length check below screams
    # before the driver silently drops the round's artifact again.
    spread_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchmarks")
    os.makedirs(spread_dir, exist_ok=True)
    with open(os.path.join(spread_dir, "spread_latest.json"), "w") as f:
        json.dump(
            {
                "spread": spread,
                "n_iters": n_iters,
                "sf": sf,
                "builds": builds,
                "mini_canary_ms": mid_canary,
                "mini_canary_ref_ms": mini_ref_ms,
                "mini_canary_worst_ms": max(mid_canary.values()) if mid_canary else None,
                "load_avg_1m_start": round(load_start, 2),
                "load_avg_1m_end": round(os.getloadavg()[0], 2),
                "load_avg_note": load_avg_note,
                "cpu_canary_s": round(canary, 3),
                "cpu_canary_end_s": round(canary_end, 3),
                "cpu_canary_quiet_ref": CANARY_QUIET_REF,
                "canary_warning": canary_warning,
                # mapped, recorded (dumped at exit) or none: a mapped run
                # starts faster and loads and compiles less than the others
                "jvm_archive": session.DRIVER_ARCHIVE,
                "jvm_classes_loaded": [jvm_start[0], jvm_end[0]],
                "jvm_jit_ms": [jvm_start[1], jvm_end[1]],
            },
            f,
            indent=1,
        )
    headline_obj = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "legacy26_total": legacy26_total,
        "queries": timings,
        "n_iters": n_iters,
        "canary_ratio": round(canary_ratio, 2),
        "episode_suspect": episode_suspect,
        "sf": sf,
    }
    # The FULL headline object also lands in the side file (ADVICE r11):
    # even if the stdout line outgrows the driver's 2000-char tail
    # window again, the round's numbers survive verbatim on disk.
    with open(os.path.join(spread_dir, "spread_latest.json"), "r+") as f:
        side = json.load(f)
        side["headline"] = headline_obj
        f.seek(0)
        json.dump(side, f, indent=1)
        f.truncate()
    print(f"# spread written to {spread_dir}/spread_latest.json", file=sys.stderr)
    line = json.dumps(headline_obj, separators=(",", ":"))
    if len(line) > 1900:
        print(
            f"######## BENCH LINE TOO LONG ({len(line)} chars > 1900): the "
            "driver tail window is 2000 — per-query map dropped from "
            "stdout to keep the artifact parseable; full object is in "
            ".benchmarks/spread_latest.json under 'headline'.",
            file=sys.stderr,
        )
        # Degrade gracefully instead of decapitating (the r8-r10
        # failure mode): stdout keeps the contract fields + totals,
        # the side file keeps the per-query map.
        slim = dict(headline_obj)
        slim["queries"] = "see .benchmarks/spread_latest.json"
        line = json.dumps(slim, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
