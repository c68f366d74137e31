"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line with total + per-query wall seconds.

Timing includes full execution to a noop sink (no driver materialization
cost), after a small warm-up query to exclude JVM/session startup.

Canary interpretation rule (round-9 VERDICT item 7): ``value`` (raw) is
the honest number for THIS window — compare raw only against a DuckDB
baseline regenerated back-to-back in the same window.  The normalized
values (``value_normalized``, ``value_normalized_stratified``) divide by
drift against the FROZEN anchors in CANARY_REF.json and are only
comparable CROSS-ROUND against runs normalized to the same anchor; they
can legitimately exceed raw when the window is *faster* than the anchor
era (r09 closing run: cheap drift 0.77 made normalized 196.0 > raw
151.9 — not a regression, a fast window).  Never silently re-anchor
CANARY_REF.json: re-anchor ONLY when the canary queries' own code paths
change, and record the re-anchor in BASELINE.md (old vs new reference
means) so decade comparisons can be spliced.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Printed-slice determinism (round-10 VERDICT item 2): the driver keeps
# only the LAST ~2000 chars of stdout, so the one-line JSON can carry
# ~30 of the 247 per-query walls.  Selecting them by THIS run's timings
# made the printed key-set rotate with per-window noise, and the
# driver's cross-round diff then fabricated "dropped"/"newly passing"
# lists every round.  The slice is now FROZEN: the queries below (the
# top of the register by median wall over the six most recent full
# sf0.1 runs in BENCH_HISTORY.jsonl, frozen 2026-08-18) are printed in
# this fixed order every run, so two consecutive runs produce identical
# printed key-sets.  Queries may be APPENDED here when the register
# grows; never removed or reordered.  The complete per-query map for
# every run is in BENCH_LATEST.json / BENCH_HISTORY.jsonl, and
# ``register_sha`` on the printed line fingerprints the full register.
PRINTED_SLICE = (
    "streaming_session_rocksdb_gate",
    "streaming_mixed_policy_gate",
    "streaming_session_timeout_gate",
    "kcore_copurchase",
    "label_propagation_communities",
    "streaming_interval_join_gate",
    "streaming_outer_join_gate",
    "link_prediction_ra",
    "knn_label_noise_ivf_delta",
    "copurchase_similarity_topk",
    "streaming_restart_gate",
    "association_rules_lift",
    "dedup_incremental_probe",
    "sketch_range_batched",
    "dedup_pairs_banded",
    "knn_label_noise_indexed",
    "dedup_weighted_minhash_delta",
    "streaming_dedup_wm_gate",
    "decontam_bloom_prefilter",
    "dedup_weighted_minhash",
    "hybrid_rrf_fusion",
    "mmr_diversified_topk",
    "dedup_minhash_lsh",
    "curation_pipeline",
    "dedup_simhash",
    "weighted_quantiles_by_flag",
    "hll_set_ops_bound",
    "streaming_sessionize_gate",
    "streaming_dedup_gate",
    "streaming_watermark_gate",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    import __spark_entry__ as entrymod
    from summarydb_spark.session import get_spark

    spark = get_spark("summarydb-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up executors + parquet footer caches.
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    qs = entrymod.queries()

    # Between-query cache hygiene (round-10 measurement fix, documented
    # in OPTIMIZATION_r10.md): the dedup/rank operators guard-persist
    # narrow internal relations that are load-bearing WITHIN one query's
    # reps but were never released between queries, so the suite
    # accumulated hundreds of CacheManager entries + block-manager blocks
    # and LATE-position queries absorbed the GC/lookup cost (measured:
    # sketch_range_batched 7.05 s at suite position 195 vs 2.5 s
    # isolated, same code).  Releasing AFTER each query's reps keeps
    # every rep as warm as before (reps share the entry) and keeps the
    # summary-store session views untouched; it only stops cross-query
    # accumulation.  gc.collect() drops the py4j refs that pin
    # localCheckpoint RDDs so ContextCleaner can reclaim them.
    # gc.collect() every Nth query, not every query: the collect itself
    # is cheap, but promptly detaching hundreds of py4j refs queues
    # block-cleanup RPCs on the JVM ContextCleaner thread, which
    # contends with the NEXT queries' driver work
    _release_tick = {"n": 0}

    def release_transient_caches():
        import gc

        from summarydb_spark.operators import cache_scope

        cache_scope.release_transient_caches()
        _release_tick["n"] += 1
        if _release_tick["n"] % 16 == 0:
            gc.collect()

    # JIT/codegen warmup: run every query once at the smallest SF.  The
    # generated code is structure-keyed, so the sf0.001 run compiles the
    # same classes the measured run reuses — the numbers then reflect
    # steady-state engine throughput rather than first-run JVM compilation.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name, fn in qs.items():
            try:
                fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass
            release_transient_caches()

    # best-of-N per query: single runs are noisy (GC, AQE re-planning);
    # the minimum is the engine's steady-state cost
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    def measure(name):
        # transient_cache_scope releases guard/running-sum persists made by
        # this query's reps on exit (the library-level lifecycle API,
        # round 11); the explicit release below remains as a no-op
        # safety net and keeps the gc cadence
        from summarydb_spark.operators.cache_scope import (
            transient_cache_scope,
        )

        best = float("inf")
        with transient_cache_scope():
            for _ in range(reps):
                t0 = time.time()
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
        release_transient_caches()
        return round(best, 3)

    # VM-drift canary (round-8 VERDICT item 8): this machine's absolute
    # wall for 32-thread JVM work moves 20-30% between sessions, so raw
    # suite walls are not comparable across rounds.  A FIXED 3-query
    # canary set (frozen in CANARY_REF.json the round it was anchored;
    # never re-baselined) runs under the same best-of-reps protocol at
    # the suite's START and again at its END — the end leg captures
    # within-run contention (cache/GC buildup over 227 queries) that a
    # start-only canary misses (measured round 8: cheap queries run
    # ~1.8x faster at suite start than a cold session, heavy queries
    # ~1.3-1.6x slower mid-suite).  drift = today's mean canary wall /
    # reference mean; the suite wall is reported normalized alongside
    # raw.
    # Two strata (round-9 VERDICT item 2): within-run contention makes
    # CHEAP queries faster near the suite edges and HEAVY queries 1.3-1.6x
    # slower mid-suite, so a cheap-only canary is anti-correlated with the
    # drift it must measure (the round-8 canary said 0.94 while the same
    # code ran 40% slower).  Each stratum gets its own drift and
    # normalizes its own cost share.
    CANARY = ("dow_histogram_events", "sessionize_events", "approx_count_range")
    CANARY_HEAVY = ("kcore_copurchase", "dedup_pairs_banded")
    canary_start = {n: measure(n) for n in CANARY if n in qs}
    canary_heavy_start = {n: measure(n) for n in CANARY_HEAVY if n in qs}

    times: dict[str, float] = {}
    suite_t0 = time.time()
    for name in qs:
        times[name] = measure(name)
    suite_wall = round(time.time() - suite_t0, 3)

    canary_end = {n: measure(n) for n in CANARY if n in qs}
    canary_heavy_end = {n: measure(n) for n in CANARY_HEAVY if n in qs}
    canary_mean = round(
        (sum(canary_start.values()) + sum(canary_end.values())) / 2, 3
    )
    canary_heavy_mean = round(
        (sum(canary_heavy_start.values()) + sum(canary_heavy_end.values()))
        / 2,
        3,
    )
    canary = {
        "start": canary_start,
        "end": canary_end,
        "mean_total": canary_mean,
        "heavy_start": canary_heavy_start,
        "heavy_end": canary_heavy_end,
        "heavy_mean_total": canary_heavy_mean,
    }
    ref_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "CANARY_REF.json"
    )
    if os.path.isfile(ref_path) and abs(sf - 0.1) < 1e-9:
        with open(ref_path) as f:
            ref = json.load(f)
        ref_mean = ref.get("mean_total")
        if ref_mean:
            canary["ref_mean_total"] = ref_mean
            canary["drift"] = round(canary_mean / ref_mean, 4)
        ref_heavy = ref.get("heavy_mean_total")
        if ref_heavy and canary_heavy_mean:
            canary["ref_heavy_mean_total"] = ref_heavy
            canary["heavy_drift"] = round(canary_heavy_mean / ref_heavy, 4)

    total = round(sum(times.values()), 3)
    total_normalized = (
        round(total / canary["drift"], 3) if "drift" in canary else None
    )
    # Stratified normalization: queries split at the 1 s wall (the
    # suite-mode threshold) — sub-second walls are scheduling-floor
    # dominated (cheap-canary regime), the rest compute-dominated
    # (heavy-canary regime); each share is divided by ITS stratum's
    # drift.  This is the cross-round-comparable number.
    total_normalized_stratified = None
    if "drift" in canary and "heavy_drift" in canary:
        cheap_share = sum(t for t in times.values() if t < 1.0)
        heavy_share = total - cheap_share
        total_normalized_stratified = round(
            cheap_share / canary["drift"]
            + heavy_share / canary["heavy_drift"],
            3,
        )

    # Suite mode (secondary metric): the per-query numbers above pay one
    # driver round-trip + scheduling floor PER query — the dominant cost
    # for the many sub-second entries.  A real deployment batches:
    # submitting the same queries CONCURRENTLY over the shared session
    # (the query_many pattern generalized to heterogeneous queries) lets
    # the scheduler overlap those floors, so the suite wall approaches
    # aggregate compute instead of aggregate floor.  Disable with
    # SPARK_GRAFT_SUITE_MODE=0.
    suite_mode = None
    if os.environ.get("SPARK_GRAFT_SUITE_MODE", "1") != "0":
        from concurrent.futures import ThreadPoolExecutor

        fast = [n for n, t in times.items() if t < 1.0]

        failed: list[str] = []

        def run_one(name):
            try:
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                failed.append(name)  # list.append is GIL-atomic

        t0 = time.time()
        with ThreadPoolExecutor(max_workers=8) as pool:
            list(pool.map(run_one, fast))
        suite_mode = {
            "n_queries": len(fast),
            "wall": round(time.time() - t0, 3),
            "serial_wall": round(sum(times[n] for n in fast), 3),
            "n_failed": len(failed),
            "failed": sorted(failed),
        }

    register_sha = hashlib.sha256(
        "\n".join(sorted(times)).encode()
    ).hexdigest()[:12]
    full = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "n_queries": len(times),
        "register_sha": register_sha,
        "suite_wall_incl_reps": suite_wall,
        "suite_mode": suite_mode,
        "canary": canary,
        "value_normalized": total_normalized,
        "value_normalized_stratified": total_normalized_stratified,
    }
    # The full per-query map goes to BENCH_LATEST.json — the durable record
    # covering every query.  The driver keeps only the LAST 2000 chars of
    # stdout and tries to json-parse them (r2-r4 records all show
    # parsed:null because the full 156-query line is ~5KB), so the printed
    # line carries the totals plus as many of the slowest queries as fit
    # under that cap; "queries_full" points at the complete record.
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LATEST.json"
    )
    with open(out_path, "w") as f:
        f.write(json.dumps(full) + "\n")
    # Durable cross-round record (round-9 VERDICT item 3): every run
    # appends its FULL per-query map here, stamped with wall-clock and
    # git HEAD, so any two rounds can be diffed query-by-query from the
    # committed artifacts alone (BENCH_r{N}.json is stdout-capped at
    # ~2000 chars by the driver and BENCH_LATEST.json is overwritten).
    import datetime
    import subprocess

    try:
        rev = (
            subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=os.path.dirname(os.path.abspath(__file__)),
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip()
            or None
        )
    except Exception:
        rev = None
    hist = dict(full)
    hist["ts"] = datetime.datetime.now(datetime.timezone.utc).isoformat(
        timespec="seconds"
    )
    hist["git"] = rev
    with open(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl"
        ),
        "a",
    ) as f:
        f.write(json.dumps(hist) + "\n")

    compact = dict(full)
    compact["queries_full"] = "BENCH_LATEST.json + BENCH_HISTORY.jsonl"
    # the printed line drops the canary's per-query sub-dicts (full
    # detail stays in BENCH_LATEST.json) to make room for the frozen
    # query slice; the drift scalars the cross-round comparison needs
    # stay on the line
    compact["canary"] = {
        k: v for k, v in canary.items() if not isinstance(v, dict)
    }
    # FROZEN slice, fixed order (see PRINTED_SLICE): the key-set is a
    # pure function of the register, never of this run's walls
    frozen = [n for n in PRINTED_SLICE if n in times]
    k = len(frozen)
    while k > 0:
        compact["queries"] = {n: times[n] for n in frozen[:k]}
        compact["queries_omitted"] = len(times) - k
        line = json.dumps(compact)
        if len(line) <= 1900:
            break
        k -= 1
    print(line)


if __name__ == "__main__":
    main()
