#!/usr/bin/env python
"""Benchmark harness: run the engine's headline queries and print ONE
short JSON line {"metric", "value", "unit", "sf", "queries"}.

The stdout summary line is kept small (headline per-query timings only)
so the round driver's tail capture can parse it — round 1's full 77-query
map overflowed the window (BENCH_r01.json "parsed": null).  The complete
per-query timing map is written to BENCH_DETAIL.json next to this file.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
  BENCH_QUERIES       comma-separated subset (default: all registered)
  BENCH_REPEAT        timed repetitions per query, best-of (default 1)
  BENCH_DETAIL_PATH   where to write the full timing map
                      (default: BENCH_DETAIL.local.json next to this
                      file — git-ignored; pass --commit or
                      BENCH_COMMIT=1 to write the committed
                      BENCH_DETAIL.json artifact name instead)
  BENCH_ACTION        "count" (default) or "noop".  count() is the
                      historical per-round metric, but Catalyst prunes
                      final-projection columns a count doesn't need —
                      for top-level aggregates the measure expressions
                      themselves (e.g. a funnel's token sums) can be
                      optimized out, so count-mode under-charges
                      aggregate-final queries.  noop-mode writes to
                      Spark's noop sink, forcing every output column
                      to be computed (the honest full-computation
                      number); see PERFORMANCE.md r09 for the measured
                      gap between the two modes.

Stamp: the detail artifact carries a "stamp" object saying what run
produced it, so two artifacts can be checked for comparability
(tools/noop_gap.py stale_pair) instead of trusted by file name:
  protocol             PROTOCOL — the timing rules (memo-aware reps,
                       build-inclusive first-consumer billing, NOISY
                       best-of-2); bumped whenever they change
  action               "count" or "noop" (BENCH_ACTION)
  query_set_sha256     sha256 of the sorted query names, one per line
  git_head             `git rev-parse HEAD` of this file's directory,
                       "unknown" when it is not a git checkout
  git_dirty            whether tracked files differ from git_head
                       (`git status --porcelain --untracked-files=no`
                       is non-empty), so an artifact measured with
                       uncommitted changes says so; null when it is
                       not a git checkout; recorded, not a
                       comparability key
  cpus                 the session's local[] parallelism
                       (SPARK_GRAFT_CPUS)
  driver_memory        the session's spark.driver.memory
                       (SPARK_GRAFT_DRIVER_MEM)
  sf                   the scale factor, as in the top-level "sf"
  steal_vs_demand_pct  host CPU steal vs demand over the run, from
                       /proc/stat before and after
                       (tools/steal_sample.summarize); recorded, not
                       a comparability key
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import go_map_reduce_spark  # noqa: E402  (populates registry)
from go_map_reduce_spark.registry import QUERIES  # noqa: E402
from go_map_reduce_spark.session import get_spark  # noqa: E402
from tools.steal_sample import cpu_ticks, summarize  # noqa: E402

PROTOCOL = "memo-aware-1"

# Iterative / multi-job pipelines are the contention-noisiest timings
# (driver round-trips per iteration, streaming micro-batches): take
# best-of-2 on them even when BENCH_REPEAT=1 so round-over-round
# comparisons aren't GC/scheduler noise.
# ...and on the multi-job pipelines whose first run is dominated by
# query-specific whole-stage-codegen compilation (iterative graph
# loops, candidate-join dedup, the Python data source): measured at
# sf0.1, pagerank is 21 s cold vs ~6 s steady-state — the steady-state
# figure is the engine's throughput; the JIT tax is a constant that
# amortizes away over any real workload. Module-level so tests can pin
# that every name is a real registration (a typo'd entry would
# silently lose its best-of-2 treatment).
NOISY = {
    "kmeans_ivf_assignments",
    "ivf_probe_topk",
    "dedup_clusters",
    "events_stateful_user_totals",
    "events_hourly_stream",
    "events_session_windows",
    "events_purchase_click_stream_join",
    "pagerank_supplier_part",
    "triangle_count",
    "bfs_reachability",
    "ngram_jaccard_pairs",
    "minhash_near_dup_pairs",
    "custom_source_scan",
    "cheapest_supplier_per_part",
    "dedup_clusters_largestar",
    "heavy_hitters_exact",
    "bfs_frontier_iterative",
    "bloom_contamination_prefilter",
    "events_incremental_mv",
    "events_stream_dedup",
    "events_sliding_stream",
    "events_stream_static_join",
    "events_purchase_click_outer_join",
    "stream_source_groups",
    "pq_ann_topk",
    # r10 additions with the set's admission profile: compaction runs
    # the iterative Lloyd pipeline (like ivf upsert/kmeans), the
    # retrain runs TWO trainer chains (like bpe_merge_training), and
    # the bucketed funnel's maiden run pays write-path JIT (11.9 s
    # first marathon vs 5.7/6.3 steady — PERFORMANCE.md r10).
    "ivf_index_compaction",
    "tokenizer_batch_drift",
    "tokenizer_retrain_recovery",
    "curation_funnel_bucketed",
    "dynamic_partition_pruning",
    "kcore_suppliers",
    "label_propagation_communities",
    "bpe_merge_training",
    "schema_evolution_read",
    "fuzzy_match_names",
    # r03's 26.5 s heavy head: plans audited as correct, timings
    # dominated by first-run codegen — best-of-2 keeps
    # round-over-round comparisons out of the JIT noise.
    "global_price_rank_twophase",
    "trending_parts_weekly",
    "price_trend_by_brand",
    "knn_label_purity_ann",
    # Composed dedup pipelines: 13-15 s cold vs 3-5 s marathon-warm
    # at sf0.1 on IDENTICAL code (r04 isolated A/B vs r03) — the
    # delta is query-specific codegen JIT + run position, so
    # best-of-2 stops marathon-to-marathon whipsawing.
    "minhash_recall_eval",
    "repeated_ngram_spans",
    "near_dup_survivors",
    "semantic_dedup_survivors",
    "boilerplate_shingles",
    # r06 composed pipelines: each re-runs the full minhash-pair or
    # cluster tier it audits, so they inherit the same cold-JIT
    # profile as the r04 set above.
    "minhash_jaccard_estimate_error",
    "cross_source_dup_matrix",
    "dedup_cluster_size_histogram",
    # r07 additions: substring_dup_cut is a window-keyed multi-join
    # pipeline (the repeated_ngram_spans profile); bpe_corpus_tokenize
    # composes the iterative trainer (driver round-trips per round);
    # events_transform_with_state is a streaming micro-batch query.
    "substring_dup_cut",
    "bpe_corpus_tokenize",
    "events_transform_with_state",
    # r09: streaming micro-batch admit loop (4 foreachBatch rounds of
    # state-parquet IO) — the events_incremental_mv noise profile;
    # ivf_index_upsert runs the iterative Lloyd pipeline (the
    # kmeans_ivf_assignments profile).
    "streaming_curation_admit",
    "ivf_index_upsert",
    # composes the recursive large-star cluster pipeline it selects
    # representatives from — same cold-JIT profile as the histogram
    "dedup_keep_best_quality",
    "leakage_safe_split",
    # r12: crossmodal runs its own large-star contraction over the
    # union graph and memoizes the labels (12.7 s cold / 0.9 s steady
    # at sf0.1 — first-consumer attribution of the minhash + media
    # frames + CC build); erasure's cold run bills the frozen-centroid
    # Lloyd training and the keep-best cluster frame (25 s cold /
    # ~3 s steady measured in isolation).
    "crossmodal_dedup_survivors",
    "erasure_derived_stores",
    # r13: media_admit_decision is the marathon's FIRST consumer of
    # all three media decode frames once video joined the carrier
    # model (5.2 s first-consumer vs ~0.7 s steady at sf0.1);
    # crossmodal_incremental_admit re-runs the shingle/signature
    # pipeline (the minhash cold-JIT profile).
    "media_admit_decision",
    "crossmodal_incremental_admit",
    # r14: the erasure audit is a streaming micro-batch consumer (the
    # streaming_curation_admit profile — it shares the memoized
    # finished admit state and additionally pays the purge rewrites);
    # the compaction recall eval is the first consumer of the
    # before/after compaction assignment frames (the
    # erasure_derived_stores first-consumer profile).
    "streaming_admit_erasure_audit",
    "ivf_compaction_recall_eval",
}


def _git(*args: str) -> str | None:
    """stdout of `git <args>` in this file's directory, None when it is
    not a git checkout."""
    try:
        out = subprocess.run(
            ["git", *args], cwd=HERE, capture_output=True, text=True, timeout=10,
        )
    except OSError:
        return None
    return out.stdout if out.returncode == 0 else None


def git_head() -> str:
    head = _git("rev-parse", "HEAD")
    return "unknown" if head is None else head.strip()


def git_dirty() -> bool | None:
    status = _git("status", "--porcelain", "--untracked-files=no")
    return None if status is None else bool(status.strip())


def query_set_sha256(names) -> str:
    return hashlib.sha256("\n".join(sorted(names)).encode()).hexdigest()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    repeat = int(os.environ.get("BENCH_REPEAT", "1"))
    names = (
        os.environ.get("BENCH_QUERIES", "").split(",")
        if os.environ.get("BENCH_QUERIES")
        else list(QUERIES)
    )
    names = [n for n in names if n in QUERIES]

    ticks_before = cpu_ticks()
    spark = get_spark(app_name="gmrs-bench")
    # Warm the JVM (codegen, parquet reader, shuffle machinery) once so
    # the first timed query doesn't absorb JIT cost.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
        "l_returnflag"
    ).count().collect()
    from go_map_reduce_spark.registry import (
        memo_grew,
        memo_restore,
        memo_snapshot,
        release_caches,
    )

    timings: dict[str, float] = {}
    steady: dict[str, float] = {}
    total = 0.0
    action = os.environ.get("BENCH_ACTION", "count")

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        if action == "noop":
            # noop sink: full execution of EVERY output column
            # (count-mode lets Catalyst prune unused final
            # expressions), rows land JVM-side only
            df.write.format("noop").mode("overwrite").save()
        else:
            n = df.count()  # full execution; rows land JVM-side only
            assert n >= 0
        return time.perf_counter() - t0

    for name in names:
        fn = QUERIES[name]
        # Each timing covers plan construction + optimization + execution
        # (with repeat>1, best-of drops first-run JIT/analysis noise).
        # MEMO-AWARE best-of (r14 verdict item 1): a rep may populate
        # session-level memos (registry.shared_frame, the admit state
        # dir, the bucketed layout, its own persisted frames via the
        # CacheManager) that a later rep would read instead of
        # recomputing — best-of would then record a block read as the
        # named computation and the build cost would vanish from the
        # TOTAL.  So between reps every memo/cache the previous rep
        # created is evicted (state built by EARLIER queries is left
        # alone — first-consumer billing, paid exactly once per suite):
        # every rep pays the same build cost, and the billed number is
        # build-inclusive for whichever query builds the state.
        best = float("inf")
        snap = memo_snapshot(spark)
        for i in range(max(repeat, 2) if name in NOISY else repeat):
            if i:
                release_caches()
                spark.catalog.clearCache()
                memo_restore(spark, snap)
            best = min(best, run_once(fn))
        timings[name] = round(best, 4)
        total += best
        # Steady-state twin: when the query built shared state, one
        # extra warm rep records the memo-read cost separately (the
        # "steady" column of BENCH_DETAIL) — informational only, never
        # part of the billed total.
        if memo_grew(spark, snap):
            steady[name] = round(run_once(fn), 4)
        print(f"# {name}: {best:.3f}s", file=sys.stderr)
        # Multi-consumer queries persist intermediates (minhash, k-means,
        # clusters); drop them so cache from query i doesn't pressure the
        # heap (GC pauses) during query i+1.  release_caches() frees the
        # operator-registered persists (registry.track_cache — the bench
        # is the materializing caller, so it owns the lifecycle);
        # clearCache() then sweeps any CacheManager entry created outside
        # the tracker (e.g. the recursive-CTE substitution cache).
        release_caches()
        spark.catalog.clearCache()
        # Drop temp views the query created (streaming memory sinks hold
        # their rows driver-side until dropped — across 279 queries the
        # retained sink tables are pure heap pressure).  Managed tables
        # (the bucketed layout memo) and pre-existing views survive.
        _, _, snap_tables = snap
        for t in spark.catalog.listTables():
            if t.isTemporary and (t.name, True) not in snap_tables:
                spark.catalog.dropTempView(t.name)
        # Nudge a driver GC periodically so ContextCleaner's weak-ref
        # queue drains: broadcasts and shuffle blocks from finished
        # queries are only reclaimed after their references are
        # collected, and with a 48g heap organic full GCs are rare —
        # by query ~150 the accumulated blocks were inflating
        # decimal-heavy queries ~10x (9.1 s in-marathon vs 0.9 s
        # isolated for price_trend_by_brand on the same idle host).
        # Every-15 amortizes the System.gc() pause while capping
        # accumulation at a harmless level.
        if (len(timings) % 15) == 0:
            spark.sparkContext._jvm.System.gc()
    cpus = spark.sparkContext.defaultParallelism
    driver_memory = spark.conf.get("spark.driver.memory")
    spark.stop()
    steal = summarize(ticks_before, cpu_ticks())["steal_vs_demand_pct"]

    sf_val = float(sf) if sf.replace(".", "", 1).isdigit() else sf
    # BENCH_DETAIL_PATH lets tests (and ad-hoc subset runs) redirect the
    # detail artifact so they can't clobber the committed full-suite one.
    # noop-mode gets its OWN default artifact (BENCH_DETAIL_NOOP.json) so
    # the honest-full-computation numbers are committed per round beside
    # the count-mode map and the aggregate-final pruning gap is tracked
    # mechanically (r11 verdict task 6), not re-derived from prose.
    # Ad-hoc runs must not clobber the committed best-window artifacts
    # (r13 verdict task 7: every driver/smoke run used to dirty the
    # tree): the in-repo BENCH_DETAIL*.json names are only written when
    # explicitly asked for via --commit / BENCH_COMMIT=1; a plain
    # `python bench.py` writes the git-ignored *.local.json twin.
    commit_artifact = "--commit" in sys.argv[1:] or os.environ.get(
        "BENCH_COMMIT"
    ) in ("1", "true")
    suffix = ".json" if commit_artifact else ".local.json"
    default_name = (
        "BENCH_DETAIL_NOOP" if action == "noop" else "BENCH_DETAIL"
    ) + suffix
    detail_path = os.environ.get("BENCH_DETAIL_PATH") or os.path.join(
        HERE, default_name
    )
    with open(detail_path, "w") as f:
        json.dump(
            {
                "metric": "sum_query_seconds",
                "value": round(total, 4),
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "queries": timings,
                # steady-state (memo-warm) twin per state-building query:
                # queries[name] is build-inclusive (memo-aware reps);
                # steady[name] is the same query re-run against the
                # session state it built — informational, never summed.
                "steady": steady,
                "stamp": {
                    "protocol": PROTOCOL,
                    "action": action,
                    "query_set_sha256": query_set_sha256(timings),
                    "git_head": git_head(),
                    "git_dirty": git_dirty(),
                    "cpus": cpus,
                    "driver_memory": driver_memory,
                    "sf": sf_val,
                    "steal_vs_demand_pct": round(steal, 2),
                },
            },
            f,
            indent=1,
        )

    # Keep the stdout line short (driver tail-capture): headline slowest
    # queries only; the full map is in BENCH_DETAIL.json.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    print(
        json.dumps(
            {
                "metric": "sum_query_seconds",
                "value": round(total, 2),
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "queries": {k: round(v, 2) for k, v in slowest.items()},
                "detail": (
                    detail_path
                    if os.environ.get("BENCH_DETAIL_PATH")
                    else os.path.basename(detail_path)
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
