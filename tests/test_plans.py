"""Physical-plan regression tests: the scale-critical plan properties
(broadcast joins, pushdown, partial top-k, no cartesian products) are
asserted so a refactor can't silently regress them.
"""

import pytest

from go_map_reduce_spark.catalog import TABLES
from go_map_reduce_spark.registry import QUERIES


def _plan(spark, name, sf_dir, mode="simple"):
    df = QUERIES[name](spark, sf_dir)
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jvm_mode)


def test_q5_all_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, "q5_region_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the only non-broadcast exchange is the final aggregation's
    assert plan.count("Exchange hashpartitioning") == 1


def test_q3_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, "q3_top_orders", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_window_topk_prunes_before_shuffle(spark, sf_dir):
    plan = _plan(spark, "top_orders_per_customer", sf_dir)
    # WindowGroupLimit = per-partition top-k pre-pruning before exchange
    assert "WindowGroupLimit" in plan


def test_inverted_index_topdocs_bounded_state(spark, sf_dir):
    """The scale-safe A2 variant must pre-prune posting lists to top-K
    per partition (WindowGroupLimit) — a hot word never ships its full
    posting list through the shuffle."""
    plan = _plan(spark, "inverted_index_topdocs", sf_dir)
    assert "WindowGroupLimit" in plan


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_wordcount_scan_prunes_columns(spark, sf_dir):
    plan = _plan(spark, "wordcount", sf_dir)
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and "text:string" in read_schemas[0]
    assert "lang" not in read_schemas[0] and "n_chars" not in read_schemas[0]


def test_ann_bruteforce_broadcasts_queries(spark, sf_dir):
    """Pin the BUILD plan (the registered query memoizes its result
    rows behind a localCheckpoint, so its own plan is a block scan —
    the join shape to pin lives in the underlying plan builder)."""
    from go_map_reduce_spark.operators.similarity import _ann_bruteforce_plan

    plan = _ann_bruteforce_plan(spark, sf_dir)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_partial_aggregation_in_q1(spark, sf_dir):
    plan = _plan(spark, "q1_pricing_summary", sf_dir)
    assert "partial_sum" in plan  # map-side combine before the exchange


def test_tfidf_lazy_construction(spark, sf_dir):
    """tfidf_top_terms must not run an action at query-construction time —
    the corpus count is a broadcast 1-row aggregate, not docs.count().
    (Construction may still read parquet footers for schema; the eager
    action the plan must avoid is a driver-side count.)"""
    from pyspark.sql import DataFrame

    real_count = DataFrame.count

    def poisoned_count(self):
        raise AssertionError("eager DataFrame.count() during query construction")

    DataFrame.count = poisoned_count
    try:
        df = QUERIES["tfidf_top_terms"](spark, sf_dir)  # construct only
    finally:
        DataFrame.count = real_count
    # and the corpus size is joined in as a broadcast 1-row aggregate
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


RELATIONAL_MIX = (
    "q1_pricing_summary",
    "q3_top_orders",
    "q6_forecast_revenue",
    "q12_priority_linestatus",
    "q14_promo_share",
    "top_orders_per_customer",
    "cube_year_status",
    "user_sessions",
)


def test_relational_construction_starts_no_job(spark, sf_dir):
    """Building these queries must start no Spark job: each table's
    parquet schema is inferred once (register_views), and every later
    load_table reads with that schema instead of inferring again."""
    from go_map_reduce_spark.catalog import register_views

    sc = spark.sparkContext
    register_views(spark, sf_dir)
    jobs = {}
    try:
        for name in RELATIONAL_MIX:
            group = f"construct:{name}"
            sc.setJobGroup(group, "construction only")
            QUERIES[name](spark, sf_dir)
            jobs[name] = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == {name: [] for name in RELATIONAL_MIX}


@pytest.mark.parametrize("table", TABLES)
def test_schema_memo_hit_keeps_plan(spark, sf_dir, table, monkeypatch):
    """A load_table that reuses the memoized schema plans exactly like
    one that infers it with a fresh spark.read.parquet."""
    import re

    from go_map_reduce_spark import catalog

    def formatted(df):
        jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(jvm_mode)
        return re.sub(r"#\d+", "#N", plan)

    inferred = []
    infer = catalog._infer
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    monkeypatch.setattr(
        catalog, "_infer", lambda *a: inferred.append(table) or infer(*a)
    )
    fresh = formatted(catalog.load_table(spark, sf_dir, table))
    hit = formatted(catalog.load_table(spark, sf_dir, table))
    assert inferred == [table], "the second load_table was not a memo hit"
    assert hit == fresh


@pytest.mark.slow  # r15: multi-minute marathon; default run deselects (pytest.ini)
def test_no_cartesian_products_anywhere(spark, sf_dir):
    for name in QUERIES:
        if name.endswith("_stream") or name == "events_stateful_user_totals":
            continue  # these run a streaming query on construction
        plan = _plan(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


def test_broadcast_hint_is_honored(spark, sf_dir):
    """The SQL BROADCAST hint must produce a BroadcastHashJoin (no
    sort-merge fallback) — the optimizer-control contract."""
    from go_map_reduce_spark.registry import QUERIES

    plan = (
        QUERIES["sql_hint_broadcast"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_uses_window_group_limit(spark, sf_dir):
    """rank≤n per stratum must pre-prune per-partition (WindowGroupLimit)
    — no stratum ever sorts in full before the filter."""
    plan = _plan(spark, "stratified_fixed_n_sample", sf_dir)
    assert "WindowGroupLimit" in plan


def test_phrase_dictionary_joins_broadcast(spark, sf_dir):
    """The dictionary must be the broadcast side of a hash join; growing
    it cannot introduce a shuffle of the exploded bigram frame."""
    plan = _plan(spark, "phrase_match_dictionary", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_market_basket_prunes_with_broadcast_semi_join(spark, sf_dir):
    """A-priori item prune = broadcast LEFT SEMI before the pair
    self-join fan-out."""
    plan = _plan(spark, "market_basket_pairs", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_copresence_is_equality_hash_join(spark, sf_dir):
    """The interval self-join must run as an equality join on the time
    cell — never a nested-loop theta join over the time predicate."""
    plan = _plan(spark, "events_copresence_pairs", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_blocking_is_equality_join(spark, sf_dir):
    """Deletion-neighborhood blocking joins on variant keys by equality;
    the quadratic form would surface as a nested-loop join."""
    plan = _plan(spark, "fuzzy_match_names", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_revenue_share_dims_broadcast(spark, sf_dir):
    """The q5-style star join keeps all three dims broadcast; lineitem
    shuffles only into the nation aggregate."""
    plan = _plan(spark, "revenue_share_within_region", sf_dir)
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_ann_purity_is_equality_join_with_bounded_window(spark, sf_dir):
    """knn_label_purity_ann must candidate via an EQUALITY join on the
    LSH bucket key (hash- or sort-merge-joinable — never a cartesian /
    broadcast-nested-loop over the corpus) and pre-prune the per-query
    top-k with WindowGroupLimit before the rank shuffle."""
    plan = _plan(spark, "knn_label_purity_ann", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    assert "WindowGroupLimit" in plan


@pytest.mark.slow  # r15: multi-minute marathon; default run deselects (pytest.ini)
def test_every_oracle_parses_and_binds(sf_dir):
    """Registry-wide oracle sanity: every DuckDB oracle must parse and
    bind against the table schemas (EXPLAIN — no execution). Catches a
    typo'd column or stale table reference in ANY oracle immediately,
    instead of on the round driver's gate run."""
    import duckdb

    from go_map_reduce_spark.catalog import TABLES
    from go_map_reduce_spark.registry import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    for name, sql in ORACLES.items():
        try:
            con.sql(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            bad.append((name, f"{type(e).__name__}: {e}"))
    assert not bad, bad


def test_item_cooc_support_join_unhinted_still_broadcasts(spark, sf_dir):
    """r06: the per-item support frame joins back UNHINTED (it grows
    with catalog size, so a forced broadcast would be wrong at true
    100x catalog scale) — but at tested SF Catalyst must still pick a
    broadcast hash join on its own, and the source must carry no hint."""
    import ast, inspect

    from go_map_reduce_spark.operators import pipeline7

    src = inspect.getsource(pipeline7.item_cooccurrence_similarity)
    calls = [
        n.func.attr
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
    ]
    assert "broadcast" not in calls, "forced hint crept back in"
    plan = _plan(spark, "item_cooccurrence_similarity", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2  # both support joins


def test_quality_gate_is_single_pass_no_shuffle(spark, sf_dir):
    """The rule gate is pure per-row expressions — any Exchange in its
    plan means someone joined a signal table back in and broke the
    single-pass property."""
    plan = _plan(spark, "doc_quality_composite_gate", sf_dir)
    assert "Exchange" not in plan


def test_ahash_dedup_shuffles_only_the_hash(spark, sf_dir):
    """Perceptual image dedup: two narrow codec stages then ONE
    hash-key shuffle for group sizes — the decoded pixels never
    shuffle."""
    plan = _plan(spark, "image_ahash_dedup", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


def test_negative_sampling_bounds_window_state(spark, sf_dir):
    """Hash-ranked sampling must prune to NEG_K rows per query BEFORE
    the exchange (WindowGroupLimit), like every top-k in the engine."""
    plan = _plan(spark, "contrastive_negative_sampling", sf_dir)
    assert "WindowGroupLimit" in plan


def test_media_survivors_is_two_partial_aggs_no_window(spark, sf_dir):
    """The survivor act must stay a map-side-combinable arg-min per
    tier: one partial+final HashAggregate pair over each memoized
    frame (exactly two hashpartitioning Exchanges, one per tier), no
    window function, no self-join — the plan that keeps the act the
    same cost class as the cluster report at 100 TB."""
    plan = _plan(spark, "media_dedup_survivors", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_min_by" in plan or "partial_minby" in plan.lower()
    assert "Window" not in plan
    assert "Join" not in plan  # no cluster-vs-members self-join


def test_kanonymity_single_scan_no_window(spark, sf_dir):
    """The k-anonymity cascade must be aggregates only — no corpus
    window — and the masked-QI release must not re-run the cascade
    per branch: exactly ONE events scan in the whole plan (the r13
    union shape had two)."""
    plan = _plan(spark, "kanonymity_cohort_release", sf_dir)
    assert "Window" not in plan
    assert plan.count("FileScan parquet") == 1


def test_funnel_by_source_no_window_no_sort(spark, sf_dir):
    """Per-source attribution is one aggregate over the memoized
    staged frame joined to the narrow (doc_id, source) projection —
    no window, and the documents scan reads only the join columns."""
    plan = _plan(spark, "curation_funnel_by_source", sf_dir)
    assert "Window" not in plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert any(
        "doc_id:bigint,source:string" in l and "text" not in l for l in reads
    ), reads


def test_dialog_corpus_one_aggregate_after_user_join(spark, sf_dir):
    """The transcript assembly is a sorted-struct fold INSIDE the
    (user, session) aggregate — no second corpus shuffle beyond the
    session join, no per-document window on the assembly side (the
    only Window is the sessionization's own lag/running-sum pair)."""
    plan = _plan(spark, "session_dialog_corpus", sf_dir)
    assert "collect_list" in plan
    # sessionization runs exactly one window chain on user_id
    assert plan.count("Window") <= 2
    # events scan for the transcript side reads no props column
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all("props" not in l for l in reads), reads


def test_waterfill_windows_only_on_planning_rows(spark, sf_dir):
    """The waterfill's single-partition window is over the per-source
    planning table, AFTER the corpus aggregate — the plan shows the
    Window above a HashAggregate on source, never directly over the
    staged frame's doc-level rows."""
    plan = _plan(spark, "mixture_cap_waterfill", sf_dir, mode="formatted")
    assert "Window" in plan
    # every window sits above the per-source aggregate: the window's
    # input columns are (source, tokens_kept)-derived, not doc_id
    import re

    win_sections = [
        s for s in plan.split("\n\n") if s.lstrip().startswith("(")
        and "Window" in s
    ]
    assert "doc_id" not in "".join(win_sections)
