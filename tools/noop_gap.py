"""Noop-gap budget contract (r12 verdict task 6).

The bench's default count() action lets Spark prune aggregate-FINAL
work (a count over a groupBy needs group existence, not the measure
columns), so a count-mode timing can quietly flatter a query whose
real cost is in the measures; the honest-mode artifact
(BENCH_ACTION=noop → BENCH_DETAIL_NOOP.json) forces full-column
execution.  Both artifacts are committed per round (r11 verdict task
6).  This module makes the gap a CONTRACT: every query whose
noop/count ratio exceeds the default cap must carry a documented
pruning class, and a documented query must stay inside its class cap
— so a NEW aggregate-final-heavy query (or a regression that widens a
known gap) fails tests/test_bench_contract.py instead of silently
flattering the headline number.

The ratio of two separately-measured runs is noisy for sub-second
queries (JIT, host CPU steal — PERFORMANCE.md r13), so only gaps with
at least MIN_GAP_SECONDS of absolute noop-minus-count daylight are
judged; caps carry ~2-3x headroom over the observed ratios for the
same reason.

A ratio means something only when both artifacts come from one
protocol on one host configuration: a count side that reads a memo
against a noop side measured before that memo existed reads as a 24x
"gap" that is no gap at all.  So stale_pair() compares the bench.py
stamps first, and a mismatched pair is reported as stale — regenerate
it — before any ratio is judged.
"""

from __future__ import annotations

DEFAULT_CAP = 5.0
MIN_GAP_SECONDS = 1.0

# query -> (cap, documented pruning class).  Observed ratios cited
# from the r12/r13 committed artifact pairs.
DOCUMENTED_CLASSES: dict[str, tuple[float, str]] = {
    # count-mode prunes the whole window/self-join repair machinery
    # once group existence is known (observed 8-19x across pairs)
    "substring_dup_cut": (30.0, "window-heavy aggregate-final"),
    # percentile_approx buffers are aggregate-final: count mode never
    # materializes the GK sketches (observed 7-8x)
    "quantity_quantiles": (15.0, "holistic quantile sketch"),
    "approx_quantiles_sketch": (15.0, "holistic quantile sketch"),
    # the reconciliation's measure columns (sums over the wide join)
    # prune to existence checks (observed ~6x)
    "order_lineitem_reconciliation": (15.0, "wide reconciliation join"),
    # JSON parse-all / column-profile measures prune to counts
    # (observed 4.7-5.6x, flagged for headroom)
    "events_json_stats": (12.0, "json parse-all measures"),
    "events_variant_extract": (12.0, "json parse-all measures"),
    "orders_column_profile": (12.0, "column-profile measures"),
    # warm-Lloyd training + distortion measures partially prune under
    # count (observed up to ~6x, r12 verdict watch item)
    "ivf_index_compaction": (12.0, "training-class distortion measures"),
    # -- surfaced by the r13-extension 0.5%-steal count run (the
    # cleanest count artifact yet; earlier contended count sides hid
    # these gaps under the 1 s daylight floor) -------------------------
    # count prunes the sorted-struct transcript assembly (collect_list
    # + transform + array_join) once group existence is known
    # (observed 7.6x)
    "session_dialog_corpus": (15.0, "transcript-assembly aggregate-final"),
    # the as-of matched value columns prune to existence after the
    # range-condition join (observed 8.2x)
    "asof_join_forward": (16.0, "asof matched-value final projection"),
    # the bounded-oracle shape computes estimate + exact NDV; count
    # never materializes the HLL buffers (observed 5.7x)
    "approx_distinct_sketch": (12.0, "holistic distinct sketch"),
    # mask-array construction (spans, spm ids) prunes to span counts
    # (observed 5.7x)
    "span_corruption_masks": (12.0, "mask-array construction"),
    # the release's summed measures (events, cents) prune; the masked
    # grouping keys alone drive count mode (observed 5.6x)
    "kanonymity_cohort_release": (12.0, "masked-QI release measures"),
    # -- surfaced by the second clean pair (count @0.9%, noop @0.6%):
    # the cleaner the count side, the more sub-2s aggregate-final
    # queries clear the 1 s daylight floor --------------------------
    # per-dimension moments over the exploded embedding array prune
    # to dimension existence (observed 14.1x)
    "embedding_dim_stats": (28.0, "exploded-array moment measures"),
    # the audit's span/token measure columns prune to verdict counts
    # (observed 7.2x)
    "leakage_audit": (15.0, "audit measure columns"),
    # one revenue sum over a GROUP BY ALL — the canonical
    # aggregate-final shape (observed 5.8x)
    "group_by_all_revenue": (12.0, "aggregate-final revenue sum"),
    # week-over-week growth ratios prune to week existence
    # (observed 5.4x)
    "weekly_revenue_growth": (12.0, "window growth measures"),
    # the exact integer-product regression sums prune to group counts
    # (observed 5.3x)
    "regression_price_on_quantity": (12.0, "regression moment sums"),
    # -- surfaced by the first stamped pair (memo-aware-1, 4 cores, 8g
    # heap, sf0.1; count @2.2%, noop @0.7% steal-vs-demand).  Plan
    # evidence is the sf0.01 optimized plan of df.groupBy().count()
    # against the full frame's -----------------------------------------
    # the three decimal(38,6) measure sums under the unpivot's Expand
    # prune away: the count plan is Expand [[], [], []] over
    # Aggregate [l_returnflag] reading that one column (observed 6.31x)
    "unpivot_lineitem_measures": (12.7, "unpivoted measure sums"),
    # the per-word merge-application lambda (aggregate over the merge
    # list), the sorted collect_list of merges and the word/token sums
    # prune; the count plan keeps only Project [lang] across the cross
    # join with an empty Aggregate over the merge table (observed 5.73x)
    "bpe_corpus_tokenize": (12.0, "merge-application token measures"),
    # all eight sum/avg pricing measures prune to group existence:
    # the count plan is Aggregate [l_returnflag, l_linestatus] over the
    # shipdate filter (observed 5.04x)
    "q1_pricing_summary": (12.0, "aggregate-final pricing measures"),
}


# stamp fields that must agree for the two artifacts to be one pair;
# steal_vs_demand_pct is recorded by bench.py but not compared
PAIR_KEYS = ("protocol", "query_set_sha256", "git_head", "cpus",
             "driver_memory", "sf")


def stale_pair(count_doc: dict, noop_doc: dict) -> str | None:
    """Why the count/noop detail artifacts are not one comparable pair,
    or None when their bench.py stamps agree."""
    stamps = {}
    for side, doc in (("count", count_doc), ("noop", noop_doc)):
        stamp = doc.get("stamp")
        if not isinstance(stamp, dict):
            return f"{side} artifact has no stamp"
        missing = [k for k in ("action", *PAIR_KEYS) if k not in stamp]
        if missing:
            return f"{side} stamp lacks {', '.join(missing)}"
        stamps[side] = stamp
    actions = (stamps["count"]["action"], stamps["noop"]["action"])
    if actions != ("count", "noop"):
        return f"actions are {actions[0]!r}/{actions[1]!r}, not 'count'/'noop'"
    for key in PAIR_KEYS:
        c, n = stamps["count"][key], stamps["noop"][key]
        if c != n:
            return f"{key} differs: count {c!r}, noop {n!r}"
    return None


def violations(
    count_map: dict[str, float], noop_map: dict[str, float]
) -> list[tuple[str, float, float]]:
    """(query, ratio, cap) for every query present in BOTH maps whose
    noop/count ratio exceeds its cap with at least MIN_GAP_SECONDS of
    absolute daylight."""
    out = []
    for name, noop_t in noop_map.items():
        count_t = count_map.get(name)
        if count_t is None or count_t <= 0:
            continue
        if noop_t - count_t < MIN_GAP_SECONDS:
            continue
        ratio = noop_t / count_t
        cap = DOCUMENTED_CLASSES.get(name, (DEFAULT_CAP,))[0]
        if ratio > cap:
            out.append((name, ratio, cap))
    return sorted(out, key=lambda v: -v[1])


def main() -> int:
    import json
    import os

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    count = json.load(open(os.path.join(here, "BENCH_DETAIL.json")))
    noop = json.load(open(os.path.join(here, "BENCH_DETAIL_NOOP.json")))
    reason = stale_pair(count, noop)
    if reason:
        print(f"stale pair: regenerate BENCH_DETAIL_NOOP.json ({reason})")
        return 1
    bad = violations(count["queries"], noop["queries"])
    for name, ratio, cap in bad:
        print(f"VIOLATION {name}: noop/count {ratio:.2f}x > cap {cap}x")
    total = sum(noop["queries"].values()) / max(
        sum(count["queries"].values()), 1e-9
    )
    print(f"total noop/count {total:.3f}; {len(bad)} violations")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
