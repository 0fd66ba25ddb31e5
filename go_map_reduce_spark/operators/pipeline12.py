"""Round-5 pipeline operators, seventh batch: cross-source
reconciliation, rolling distinct-user counts, funnel latency
percentiles, mergeable-sketch rollups, and dedup-pipeline recall
evaluation.

`minhash_recall_eval` is meta-tooling the others aren't: it measures
one registered pipeline (MinHash-LSH candidates) against another
(exact PPJoin pairs) — the evaluation harness a production dedup
deployment runs before trusting its approximate tier. Its oracle
COMPOSES the two queries' own oracle SQL texts, so the differential
check covers the composition end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from go_map_reduce_spark.catalog import load_table
from go_map_reduce_spark.functions.numeric import dsum, sql_dsum
from go_map_reduce_spark.operators import dedup as _dedup  # noqa: F401  (oracle reuse)
from go_map_reduce_spark.registry import ORACLES, query

# --------------------------------------------------------------------------
# Cross-source reconciliation (finance-close audit)
# --------------------------------------------------------------------------

REVENUE = "l_extendedprice * (1.0 - l_discount)"


@query(
    "order_lineitem_reconciliation",
    oracle=f"""
    WITH li AS (
      SELECT l_orderkey, round({sql_dsum(REVENUE)}, 2) AS line_total
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) - COUNT(li.l_orderkey) AS BIGINT) AS n_without_lines,
           CAST(COUNT(CASE WHEN abs(o.o_totalprice - li.line_total) > 0.01
                           THEN 1 END) AS BIGINT) AS n_mismatched,
           round(max(abs(o.o_totalprice - li.line_total)), 2) AS max_abs_diff
    FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    """,
)
def order_lineitem_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source reconciliation: does each order header's total
    agree with the sum of its lines? — the finance-close audit every
    warehouse runs between independently-loaded fact tables. One row:
    orders checked, headers with no lines (RI gap), totals off by more
    than a cent, and the worst discrepancy. (On this synthetic data
    the columns are generated independently, so the audit REPORTS a
    fully divergent ledger — the point is the measurement, which both
    engines agree on to the cent.)

    Shape: the line rollup is the only data-sized shuffle (map-side
    combinable, decimal-summed then rounded to cents BEFORE the
    comparison so the tolerance test is bit-stable); the header join
    is key-to-key; the audit row is a 1-row aggregate. At 100 TB both
    sides would be bucketed by orderkey → zero-shuffle SMJ."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.round(
                dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))),
                2,
            ).alias("line_total")
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    joined = orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
    diff = F.abs(F.col("o_totalprice") - F.col("line_total"))
    return joined.agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.count(F.lit(1)) - F.count("l_orderkey")).alias("n_without_lines"),
        F.count(F.when(diff > 0.01, 1)).alias("n_mismatched"),
        F.round(F.max(diff), 2).alias("max_abs_diff"),
    )


# --------------------------------------------------------------------------
# Rolling 7-day distinct active users (WAU curve)
# --------------------------------------------------------------------------

WAU_DAYS = 7


@query(
    "rolling_weekly_active_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    contrib AS (
      SELECT user_id, d + CAST(x AS INT) AS day
      FROM ud, unnest(range({WAU_DAYS})) AS t(x)
    ),
    days AS (SELECT DISTINCT d AS day FROM ud)
    SELECT strftime(c.day, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM contrib c JOIN days ON days.day = c.day
    GROUP BY c.day
    """,
)
def rolling_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{WAU_DAYS}-day distinct active users per day — the WAU
    curve. Distinct counts DON'T sum across days, so the rolling
    window can't be a running total of daily DAU; the scalable
    formulation EXPLODES each (user, active-day) into the {WAU_DAYS}
    future report-days it keeps the user 'active' for (bounded
    fan-out), then takes one distinct count per report day — shuffle
    keys are (day, user), never a global window. Report days
    restricted to observed activity days (no trailing ghost week).

    This explode-forward trick is the standard distributed rolling-
    distinct pattern; the sketch alternative (mergeable HLL per day,
    union over the trailing window — see hll_daily_rollup) trades
    exactness for constant space when {WAU_DAYS} grows to 30/90."""
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(WAU_DAYS - 1))
        ).alias("x"),
        "d",
    ).select("user_id", F.date_add(F.col("d"), F.col("x")).alias("day"))
    days = ud.select(F.col("d").alias("day")).distinct()
    return (
        contrib.join(days, "day")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "wau")
    )


# --------------------------------------------------------------------------
# Funnel latency: click → purchase time-to-convert percentiles
# --------------------------------------------------------------------------


@query(
    "funnel_time_to_convert",
    oracle="""
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT (p - c) / 1000000.0 AS secs FROM f
      WHERE c IS NOT NULL AND p IS NOT NULL AND p > c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           round(quantile_cont(secs, 0.5), 6) AS p50_secs,
           round(quantile_cont(secs, 0.9), 6) AS p90_secs,
           round(min(secs), 6) AS min_secs
    FROM conv
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: first click → first purchase per
    user, exact p50/p90 over converting users — the latency half of
    funnel analysis (funnel_click_view_purchase counts WHO converts;
    this measures HOW FAST). First-touch times are one grouped min
    per type (map-side combinable, integer µs); the percentile is a
    holistic aggregate over the small converting-users frame
    (the linear-interpolation definition both engines share,
    quantity_quantiles discipline). The µs→seconds divide by 10⁶ is
    exact for these magnitudes."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("us"))).alias("c"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias("p"),
    )
    conv = f.where(
        F.col("c").isNotNull() & F.col("p").isNotNull() & (F.col("p") > F.col("c"))
    ).select(((F.col("p") - F.col("c")) / F.lit(1_000_000.0)).alias("secs"))
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("secs", F.lit(0.5)), 6).alias("p50_secs"),
        F.round(F.percentile("secs", F.lit(0.9)), 6).alias("p90_secs"),
        F.round(F.min("secs"), 6).alias("min_secs"),
    )


# --------------------------------------------------------------------------
# Mergeable-sketch rollup: daily HLL sketches → monthly union
# --------------------------------------------------------------------------


def _hll_rollup_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged/direct/exact frame with RAW estimates — the
    mergeability and accuracy tests read the estimates from here."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        F.date_format("ts", "yyyy-MM").alias("month"),
    )
    daily = ev.groupBy("month", "d").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("month").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_estimate")
    )
    direct = ev.groupBy("month").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "direct_estimate"
        ),
        F.count_distinct("user_id").alias("exact_distinct"),
    )
    return merged.join(direct, "month").select(
        "month",
        F.col("merged_estimate").cast("long").alias("merged_estimate"),
        F.col("direct_estimate").cast("long").alias("direct_estimate"),
        "exact_distinct",
    )


@query(
    "hll_daily_rollup",
    oracle="""
    SELECT strftime(ts, '%Y-%m') AS month,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
           TRUE AS merged_eq_direct,
           TRUE AS within_2pct
    FROM events GROUP BY strftime(ts, '%Y-%m')
    """,
)
def hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABILITY story that makes sketches matter at 100 TB:
    per-day HLL sketches (Apache DataSketches via hll_sketch_agg) are
    built ONCE as compact binary tiles, then any horizon — the month
    here — is answered by UNIONING tiles (hll_union_agg) without
    rescanning events.

    Gated by a BOUNDED oracle (r12 verdict task 7): DuckDB cannot
    replay the DataSketches estimate, but it CAN assert the exact
    distinct count and the two contracts — union-of-partials ≡
    single-pass sketch (the mergeability axiom) and
    within-2%-of-exact (the accuracy contract) — which the query
    emits as booleans computed FROM the estimates.  A violated axiom
    or bound now fails the hash gate; the raw estimates remain
    available via _hll_rollup_full (the pytest pins read them
    there)."""
    full = _hll_rollup_full(spark, sf_dir)
    return full.select(
        "month",
        "exact_distinct",
        (F.col("merged_estimate") == F.col("direct_estimate")).alias(
            "merged_eq_direct"
        ),
        (
            F.abs(F.col("merged_estimate") - F.col("exact_distinct"))
            <= F.greatest(
                F.lit(2.0), 0.02 * F.col("exact_distinct")
            )
        ).alias("within_2pct"),
    )


# --------------------------------------------------------------------------
# Dedup-pipeline recall evaluation (approximate tier vs exact tier)
# --------------------------------------------------------------------------


@query(
    "minhash_recall_eval",
    oracle=f"""
    WITH mh AS ({ORACLES['minhash_near_dup_pairs']}),
         ex AS ({ORACLES['ngram_jaccard_pairs']})
    SELECT CAST((SELECT COUNT(*) FROM ex) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM mh) AS BIGINT) AS n_minhash,
           CAST((SELECT COUNT(*) FROM mh JOIN ex
                 ON mh.doc_a = ex.doc_a AND mh.doc_b = ex.doc_b) AS BIGINT)
             AS n_hit
    """,
)
def minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline evaluation: how much of the EXACT near-dup pair
    set (ngram_jaccard_pairs, PPJoin — zero false negatives by
    construction) does the approximate MinHash-LSH tier
    (minhash_near_dup_pairs) recover? The calibration run a
    production dedup owner does before trusting banding parameters —
    recall here is a DATA measurement, not a test assertion (expected
    high but not axiomatically 1.0: a near-dup pair whose signature
    agrees in no band is a real LSH miss).

    Pure composition: both sides are the registered queries
    themselves, joined on the pair key; the oracle composes their
    oracle SQL texts verbatim, so the gate differentially checks the
    whole two-pipeline comparison. Recall/precision ratios are left
    to the consumer (two bigints divide; emitting counts keeps the
    row integer-exact)."""
    # direct imports, not QUERIES["..."] string dispatch: the gate's
    # per-function staleness closure only sees structural import edges,
    # so composing via the registry would hide the dedup.py dependency
    # and leave this query's evidence valid across dedup edits
    from go_map_reduce_spark.operators.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    # ONE action: a full-outer join on the pair key with presence flags
    # computes all three counts in a single pass, so each pair pipeline
    # (LSH candidate join / PPJoin verify) executes exactly once with
    # no persisted frames pinning executor memory — the prior
    # three-count shape (persist both, count thrice) ran the same
    # logical work but its cache pressure made the query's wall time
    # bimodal across runs (4.5-17.7 s at sf0.1, measured best-of-2)
    mh = (
        minhash_near_dup_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("in_mh", F.lit(1))
    )
    ex = (
        ngram_jaccard_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("in_ex", F.lit(1))
    )
    return mh.join(ex, ["doc_a", "doc_b"], "full_outer").agg(
        F.count("in_ex").cast("long").alias("n_exact"),
        F.count("in_mh").cast("long").alias("n_minhash"),
        F.count(F.when(F.col("in_mh").isNotNull(), F.col("in_ex")))
        .cast("long")
        .alias("n_hit"),
    )
