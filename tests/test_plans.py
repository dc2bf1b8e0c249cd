"""Physical-plan invariants: the scale properties the engine promises
(SURVEY.md §4) asserted on actual Catalyst output at sf0.001.

- filters/pruning reach the parquet scan where claimed
- dimension joins broadcast; no accidental cartesian products
- no Python UDFs in oracle-checked hot paths (everything JVM-side)
- whole-stage codegen covers the aggregation pipelines
"""

import functools

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"

# queries whose plans legitimately contain a nested-loop/cartesian
# piece: brute-force pair generation (documented small-N baselines)
# or a broadcast 1-row scalar-aggregate cross join
NESTED_LOOP_OK = {
    # near_dup_embeddings is deliberately NOT here: since r2 it runs
    # the banded-LSH plan and must stay cartesian-free (VERDICT r1 #2)
    "near_dup_jaccard",      # inverted index; tiny dim cross for guards
    "q15_top_supplier",      # crossJoin(broadcast(1-row max))
    "q22_above_avg_suppliers",  # crossJoin(broadcast(1-row avg))
    "q11_important_part_values",  # crossJoin(broadcast(1-row total value))
    "crosstab_col_pct",      # crossJoin(broadcast(1-row column sums))
    "crosstab_total_pct",    # crossJoin(broadcast(1-row grand total))
    # grand-total / max denominators: crossJoin(broadcast(1-row agg)) is
    # deliberate — the alternative (empty-partition window) would pull
    # every row into ONE partition at scale
    "csat_summary",
    "freq_orderpriority",
    "freq_returnflag_weighted",
    "multidim_total_pct",
    "tfidf_top_terms",       # crossJoin(broadcast(1-row corpus count))
    "bm25_query_scores",     # crossJoin(broadcast(1-row N/avgdl aggregate))
    "mixture_sample_docs",   # crossJoin(broadcast(1-row normalizer totals))
    "knn_vec0",              # broadcast query-vector literal compare
    "vocab_coverage",        # crossJoin(broadcast(1-row corpus total))
    "doc_bigram_surprise",   # crossJoin(broadcast(1-row gram grand total));
                             # verified: the only nested loop in the plan is
                             # BroadcastNestedLoopJoin BuildRight over the
                             # 1-row total aggregate (text.py bigram_logprob_scores)
    "domain_mixture",        # crossJoin(broadcast(1-row normalizers))
    "cluster_top_terms",     # crossJoin(broadcast(1-row token-total/
                             # cluster-count aggregate) for the c-TF-IDF
                             # idf denominator — same 1-row BuildRight
                             # shape as tfidf_top_terms
    "doc_bloom_decontaminate",  # crossJoin(broadcast(1-row bloom bitmap));
                             # verified: the only nested loop is the
                             # BuildRight broadcast of the single bitmap row
    "dsir_doc_weights",      # crossJoin(broadcast(1-row target/raw bucket
    "dsir_selected",         # totals) normalizing the DSIR log-ratios
                             # (selection.py dsir_bucket_logratio)
    "token_pmi_pairs",       # crossJoin(broadcast(1-row document count))
                             # for the PMI normalizer
    "orders_price_drift_psi",  # crossJoin(broadcast(1-row reference
                             # percentile cuts)) for both period sides
    "customer_gini",         # crossJoin(broadcast(1-row spend percentile
                             # cuts)) defining the order-preserving rank
                             # buckets of the two-phase global ranking
    "user_retention_curve",  # crossJoin(broadcast(1-row corpus-end day));
                             # all windows run on the per-lifetime
                             # aggregate, bounded by the observation span
    "customer_rfm_segments",  # crossJoin(broadcast(1-row anchor date)) +
                             # crossJoin(broadcast(1-row percentile cuts)):
                             # both model-parameter-sized aggregates; the
                             # alternative (global ntile window) is the
                             # single-partition scale killer this operator
                             # exists to avoid
    "part_association_rules",  # crossJoin(broadcast(1-row basket total))
                             # for the lift normalizer
    "events_chi2_independence",  # crossJoin(broadcast(1-row N/dims
                             # fold)) for the expected-count clearing
    "hybrid_rrf_topk",       # inherits bm25_query_scores' whitelisted
                             # 1-row N/avgdl broadcast on the lexical arm
    "source_token_jsd",      # crossJoin(broadcast(1-row token totals))
                             # for the probability denominators
    "bm25_eval_metrics",     # bm25's whitelisted 1-row broadcast plus
                             # the 1-row relevant-count/IDCG folds
    "part_abc_classes",      # crossJoin(broadcast(1-row percentile
                             # cuts)) — the customer_gini two-phase
                             # ranking shape
    "copurchase_degree_hist",  # crossJoin(broadcast(1-row node total))
                             # for the share denominator
    "event_burstiness",      # crossJoin(broadcast(1-row corpus span))
                             # generating the complete hour spine
    "nation_pct_of_parent",  # crossJoin(broadcast(1-row grand total))
                             # for the region-share denominator
    "part_brand_type_chi2",  # chi2_independence's whitelisted 1-row
                             # fold + category-grid cross (2nd carrier)
    "segment_migration_matrix",  # inherits customer_rfm_segments'
                             # whitelisted anchor/cut broadcasts twice
    "ann_recall_report",     # the EXACT baseline side is knn_join's
                             # broadcast-query scoring pass — the
                             # documented fixed-Q eval-scale brute
                             # force the ANN path is measured against
    "kn_doc_logprob",        # crossJoin(broadcast(1-row N1p(..) type
                             # total)) in p1's denominator — verified:
                             # the plan's single nested loop is that
                             # BuildRight 1-row broadcast
    "kn_heldout_logprob",    # the same 1-row N1p(..) broadcast, seen
                             # 4x (p1's denominator through the p2/p3
                             # lineage + the scoring OOV floor) — all
                             # BuildRight over the 1-row tot aggregate
    "curated_verdicts_lm",   # inherits kn_heldout_logprob's 1-row
                             # N1p(..) broadcasts; the repeats in the
                             # printed plan are the persisted LM keep
                             # list's lineage shown once per verdict
                             # leg (cache materializes it once)
    "curated_verdicts_full",  # inherits curated_verdicts_lm's
                             # whitelisted 1-row KN broadcasts (the
                             # substr stage adds only equi-joins)
    "moore_lewis_scores",    # TWO KN model chains -> the 1-row
                             # N1p(..) type-total broadcast appears
                             # once per model (kn_heldout_logprob's
                             # whitelisted shape, twice)
    "ann_recall_report_ivf_pq",  # the EXACT baseline side is
                             # l2_knn_join's broadcast-query scoring
                             # pass — the same documented fixed-Q
                             # eval-scale brute force as
                             # ann_recall_report's; the IVF-PQ side
                             # itself is an equi-join on list_id
    "ann_recall_report_ivf_rpq",  # same l2_knn_join fixed-Q exact
                             # baseline, PLUS the final 1-row x 1-row
                             # report-assembly crossJoin (both PQ
                             # configuration legs are equi-joins on
                             # list_id)
    "unigram_train",         # the 1-row model-total N broadcast
                             # (crossJoin(broadcast(sum(cnt))) in
                             # _model_from_counts / the prob column)
                             # — the freq_table/kn family's
                             # whitelisted 1-row-total shape
    "unigram_token_counts",  # same 1-row N broadcast via the final
                             # model's cost table
    "unigram_encoded_docs",  # same 1-row N broadcast (the encode
                             # pass scores under the same final
                             # model's cost table)
    "tokenizer_fertility_compare",  # composes unigram_token_counts
                             # -> inherits its whitelisted 1-row N
                             # broadcast (the BPE side and the
                             # report joins are equi-joins)
    "ann_recall_report_pq_rerank",  # l2_knn_join fixed-Q exact
                             # baseline + the final 1-row x 1-row
                             # report-assembly crossJoin (both the
                             # ADC and rerank legs are equi-joins)
    "ann_recall_report_truncated_dim",  # BOTH sides are the
                             # documented l2_knn_join fixed-Q
                             # broadcast scoring (full-dim baseline
                             # and the sliced-projection twin) + the
                             # 1-row report crossJoin
    "kn_ppl_buckets",        # inherits kn_doc_logprob's whitelisted
                             # 1-row N1p(..) type-total broadcast
                             # (the held-out scoring chain); the
                             # bucketing itself adds only a window +
                             # groupBy
    "mixture_epoch_plan",    # inherits domain_mixture's whitelisted
                             # 1-row normalizer broadcast (the plan
                             # arithmetic runs on the |domains|-row
                             # frame)
    "mixture_epoch_plan_realloc",  # the base plan's inherited 1-row
                             # normalizer broadcast plus the water
                             # fill's three 1-row total broadcasts
                             # (weight/capacity totals, capped sums,
                             # placed dust) — every frame past the
                             # weights is |domains|-row
    "mixture_alpha_frontier",  # one inherited 1-row normalizer
                             # broadcast per temperature arm (the
                             # mixture_epoch_plan shape x |alphas|)
    "mixture_plan_realize",  # inherits the realloc plan's whitelisted
                             # 1-row broadcasts; the realize stage
                             # itself adds only equi-joins (broadcast
                             # offsets + broadcast |domains|-row plan)
    "curated_verdicts_semantic",  # inherits semantic_decontaminate's
                             # broadcast nested-loop benchmark probe,
                             # bounded to the lexical survivors
    "ann_recall_frontier_opq",  # per-row 1-row broadcast avg_scanned
                             # normalizers (the parent frontier's
                             # whitelisted report-assembly shape)
    "lang_nb_scores",        # 1-row broadcast normalizer (the
                             # training-doc total feeding every NB
                             # prior denominator)
    "lang_id_confusion",     # same chain wrapped whole
    "semantic_decontaminate",  # broadcast nested-loop probe of the
                             # EVAL-SCALE benchmark embedding side
                             # against one corpus scan (the knn_join
                             # documented shape — benchmarks are small
                             # by nature, the decontaminate rule)
    "semantic_contamination_attribution",  # same broadcast probe,
                             # aggregated to |benchmarks| rows
    "near_dup_banding_frontier",  # per-arm 1-row x 1-row report
                             # assembly crossJoin (the pair fold x
                             # the candidate count — the
                             # ann_recall_report_ivf_rpq shape);
                             # both pair pipelines and the truth
                             # side are equi-joins
    "ann_recall_frontier",   # every arm's exact baseline is the SAME
                             # persisted l2_knn_join fixed-Q broadcast
                             # scoring pass (the whitelisted
                             # eval-scale brute force), the truncation
                             # arms are its sliced-projection twins;
                             # all PQ arms are list_id equi-joins and
                             # the union carries report rows only
}


@functools.cache
def _plan(spark, name: str) -> str:
    """Formatted plan of one contract query, built once per session:
    the whole-contract sweeps below share every plan they both read."""
    df = entry_mod.queries()[name](spark, SF)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def test_q6_pushdown_and_pruning(spark):
    plan = _plan(spark, "q6_revenue_delta")
    assert "GreaterThanOrEqual(l_shipdate" in plan, "shipdate bound not pushed"
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    # column pruning: the read schema must not include unused columns
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read and "l_returnflag" not in read
    for needed in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert needed in read


def test_q5_broadcasts_dimensions(spark):
    plan = _plan(spark, "q5_region_nation_revenue")
    assert plan.count("BroadcastHashJoin") >= 2, "dim joins should broadcast"
    assert "CartesianProduct" not in plan


def test_q4_semi_join(spark):
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan


def test_customers_without_orders_anti_join(spark):
    plan = _plan(spark, "customers_without_orders")
    assert "LeftAnti" in plan


def test_q1_codegen_covers_agg(spark):
    df = entry_mod.queries()["q1_pricing_summary"](spark, SF)
    df.collect()  # finalize the adaptive plan so codegen ids appear
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = qe.explainString(mode)
    assert "HashAggregate" in plan
    assert "codegen id" in plan, "aggregation pipeline not covered by codegen"


def test_no_python_udfs_in_oracle_checked_plans(spark):
    qs = entry_mod.queries()
    oracle_names = set(entry_mod.oracle_sql())
    for name in sorted(oracle_names):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan, f"{name} uses a row-wise Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} drops to Python"


def test_doc_chunks_is_shuffle_free(spark):
    """Context-window chunking must stay a pure explode projection —
    a keyed Exchange here would shuffle the whole corpus at scale.
    (The round-robin repartition from ensure_min_parallelism is a
    local-fixture artifact: single-file parquet -> 1 input split.)"""
    plan = _plan(spark, "doc_chunks")
    assert "hashpartitioning" not in plan, "doc_chunks shuffles on a key"
    assert "rangepartitioning" not in plan, "doc_chunks sorts globally"


def test_no_accidental_cartesian(spark):
    """No CartesianProduct in any plan; BroadcastNestedLoopJoin only in
    the documented NESTED_LOOP_OK 1-row broadcasts."""
    qs = entry_mod.queries()
    for name in sorted(qs):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"
        if name not in NESTED_LOOP_OK:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name} has a nested-loop join"
            )


def test_unpivot_is_shuffle_free(spark):
    """Wide-to-long reshape must lower to an Expand projection —
    a keyed Exchange would shuffle the whole table to reshape rows."""
    plan = _plan(spark, "orders_unpivot_metrics")
    assert "Expand" in plan
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_bm25_topk_rewritten_to_take_ordered(spark):
    """bm25_query_scores' scale safety hangs on Catalyst's
    limit-pushdown-through-window: the global top-k filter adjacent to
    the rank window must compile to TakeOrderedAndProject(limit=k)
    FEEDING the window, so the single-partition rank sees k rows, not
    every scored document. A refactor that breaks the filter/window
    adjacency (or Spark dropping the rewrite) silently reverts to a
    corpus-sized single-task sort — this pin makes that loud
    (r4 VERDICT item #4)."""
    plan = _plan(spark, "bm25_query_scores")
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, (
        "global top-k not rewritten; the rank window would sort the "
        "whole scored corpus in one task"
    )


def test_r5_topk_operators_lower_to_take_ordered(spark):
    """Every r5 orderBy().limit() + rank-window operator relies on the
    same TakeOrderedAndProject lowering as bm25 — pin it per query so
    a refactor can't silently revert any of them to a global sort."""
    for name in (
        "part_association_rules",
        "copurchase_link_pred",
        "supplier_return_wilson",
        "embedding_dim_outliers",
        "hybrid_rrf_topk",
    ):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, (
            f"{name}: global top-k not lowered to TakeOrderedAndProject"
        )


def test_vocab_coverage_windows_are_partitioned(spark):
    """vocab_coverage's rank/cum_pct must run on range-bucketed
    window partitions (two-phase ranking), never an unpartitioned
    Window over the whole vocabulary — web-scale vocabularies are
    unbounded, and cum_pct's full prefix sum gives Catalyst no
    rank<=k rewrite to save us (r4 VERDICT item #2 / finding #1)."""
    import re

    df = entry_mod.queries()["vocab_coverage"](spark, SF)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)", analyzed)
    assert specs, "expected window expressions in vocab_coverage"
    for s in specs:
        # partition spec present = first argument is a plain attribute
        # (the bucket id), not an ordering like `count DESC NULLS LAST`
        assert s.startswith("__b__#"), f"unpartitioned window: {s[:100]}"


def test_aqe_splits_skewed_join_partition(spark):
    """The 100 TB skew story, pinned on an actual adaptive plan: a
    join where one key owns ~90% of the left side must come back with
    SortMergeJoin(skew=true) + an AQEShuffleRead marked skewed — AQE
    split the hot reducer partition at runtime instead of letting one
    task process the whole key (the salting operator,
    salted_user_event_totals, is the manual variant of the same
    defense). Thresholds are lowered so toy-scale shuffle sizes
    qualify; restored afterwards."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(300000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("v"),
            F.concat(F.lit("x"), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), F.col("id").alias("rv")
        )
        joined = left.join(right, "k")
        assert joined.count() == 300000
        joined.collect()  # finalize THIS plan's adaptive execution
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
        assert "skewed" in plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_order_price_deciles_no_low_cardinality_window(spark):
    """Per-row ranking output must never sort a whole priority class
    in one window partition (o_orderpriority has 5 values -> ~20 % of
    the table per task at 100 TB). The two-phase rewrite partitions
    the window by (priority, price-bucket); pin that no Window node
    in the plan partitions by o_orderpriority alone."""
    plan = _plan(spark, "order_price_deciles")
    win_lines = [
        ln for ln in plan.splitlines() if "Window" in ln and "windowspec" not in ln
    ]
    assert win_lines, "expected a Window node in the deciles plan"
    for ln in win_lines:
        if "o_orderpriority" in ln:
            assert "__b__" in ln, (
                "Window partitioned by low-cardinality o_orderpriority "
                f"alone: {ln.strip()}"
            )


def test_order_price_deciles_parity_with_single_window(spark):
    """Bit-identical to the naive single-window ntile/percent_rank/
    cume_dist plan (the old implementation, kept here as the spec)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from bht_etl_app_spark.plans import windows as W
    from bht_etl_app_spark.session import load_table

    orders = load_table(spark, SF, "orders")
    got = {
        r["o_orderkey"]: (r["price_decile"], r["pct_rank"], r["cum_dist"])
        for r in W.order_price_deciles(orders).collect()
    }
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    exp = {
        r["o_orderkey"]: (r["d"], r["p"], r["c"])
        for r in orders.select(
            "o_orderkey",
            F.ntile(10).over(w).cast("long").alias("d"),
            F.bround(F.percent_rank().over(w), 6).alias("p"),
            F.bround(F.cume_dist().over(w), 6).alias("c"),
        ).collect()
    }
    assert got == exp


def test_bucketed_rankings_invariant_under_parallelism(spark):
    """The two-phase ranking operators read shuffle.partitions to size
    their buckets — bucketing must affect ONLY the physical plan,
    never output values (the driver runs queries() under its own
    session conf, so a value that shifted with parallelism would be a
    contract bug of the timezone class)."""
    qs = entry_mod.queries()
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = {}
        for n in ("7", "64"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for name in (
                "order_price_deciles",
                "training_order_docs",
                # r4 promotions whose oracles depend on quantized float
                # reductions — outputs must not shift with parallelism
                "kmeans_cluster_sizes",
                "mixture_sample_docs",
                "bm25_query_scores",
                # r5 stats/graph additions: quantized float reductions
                # (Wilson lb, Welch t, chi2 term sum, decimal RA/RRF
                # sums) must not shift with partitioning either
                "supplier_return_wilson",
                "weekend_revenue_welch",
                "events_chi2_independence",
                "copurchase_link_pred",
                "hybrid_rrf_topk",
            ):
                rows = sorted(tuple(r) for r in qs[name](spark, SF).collect())
                out.setdefault(name, []).append(rows)
        for name, results in out.items():
            assert results[0] == results[1], (
                f"{name} output changed with shuffle.partitions"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_order_price_deciles_expression_bounded_by_cap(spark):
    """Deriving bucket count from spark.sql.shuffle.partitions must
    not grow the bucket expression with cluster config: under a
    2000-partition session the cut-point count stays capped (64) and
    the bucket is ONE array fold, not a 2000-branch chained CASE."""
    from bht_etl_app_spark.plans import windows as W
    from bht_etl_app_spark.session import load_table

    orders = load_table(spark, SF, "orders")
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2000")
        df = W.order_price_deciles(orders)
        plan = df._jdf.queryExecution().analyzed().toString()
        # a chained CASE would print one WHEN per cut point (~2000);
        # the fold prints a handful regardless of config
        assert plan.count("WHEN") < 70, "bucket expression grew with conf"
        # and output is still the single-window spec
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        w = Window.partitionBy("o_orderpriority").orderBy(
            F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
        )
        exp = sorted(
            tuple(r)
            for r in orders.select(
                "o_orderkey",
                "o_orderpriority",
                F.ntile(10).over(w).cast("long").alias("price_decile"),
                F.bround(F.percent_rank().over(w), 6).alias("pct_rank"),
                F.bround(F.cume_dist().over(w), 6).alias("cum_dist"),
            ).collect()
        )
        assert sorted(tuple(r) for r in df.collect()) == exp
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_dsir_select_topk_is_take_ordered(spark):
    """dsir_select's Gumbel top-k must lower to TakeOrderedAndProject
    (per-partition k-row heaps + driver merge), never a global sort —
    the selection runs over the full raw corpus at 100 TB."""
    plan = _plan(spark, "dsir_selected")
    assert "TakeOrderedAndProject" in plan, (
        "dsir_select top-k compiled to a global Sort instead of "
        "TakeOrderedAndProject"
    )
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0], (
        "a global sort precedes the top-k"
    )


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """The 100 TB selective-dim join story, pinned on a real plan:
    when a filtered dimension feeds a SHUFFLE join, Spark's runtime
    Bloom filter must inject a `might_contain` predicate on the fact
    side — fact rows that can't match are dropped BEFORE the shuffle,
    which at scale is the difference between shuffling the whole fact
    table and shuffling the matching slice. (Broadcast joins don't
    need it: the filter is implicit in the hash table. This pins the
    shuffle-join path that big fact x big-but-filtered dim hits.)
    Thresholds lowered so toy scan sizes qualify; restored after."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "100MB",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        assert (
            spark.conf.get(
                "spark.sql.optimizer.runtime.bloomFilter.enabled"
            )
            == "true"
        )
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        orders = spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet"
        ).where(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, (
            "runtime bloom filter not injected on the fact side"
        )
        assert "bloom_filter_agg" in plan
        # and the result is still right (filter is sound, not just fast)
        rows = j.collect()
        assert len(rows) == 1 and rows[0]["count"] > 0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rolling_active_users_hand_computed(spark):
    """Explode-contribution rolling distinct: hand-checkable case with
    a user active on two days inside one window (must count once)."""
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import rolling_active_users

    rows = [
        (1, datetime(2024, 1, 1, 5)),
        (1, datetime(2024, 1, 3, 5)),   # same user, 2 days in window
        (2, datetime(2024, 1, 3, 6)),
        (3, datetime(2024, 1, 20, 1)),  # far away: own window only
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        r["day"].strftime("%m-%d"): r["active_users"]
        for r in rolling_active_users(df, window_days=7).collect()
    }
    # observed days: 01-01, 01-03, 01-20
    assert got == {"01-01": 1, "01-03": 2, "01-20": 1}


def test_part_copurchase_hand_computed(spark):
    from bht_etl_app_spark.plans.analytics import part_copurchase_pairs

    rows = [
        # order 1: parts 10, 20, 30; order 2: 10, 20; order 3: 10, 20
        (1, 10), (1, 20), (1, 30),
        (2, 10), (2, 20),
        (3, 10), (3, 20),
        (3, 20),  # duplicate line must not inflate support
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = [tuple(r) for r in part_copurchase_pairs(df, min_support=2, top_k=10)
           .orderBy("rank").collect()]
    assert got == [(10, 20, 3, 1)]  # (10,30)/(20,30) have support 1 only


def test_part_copurchase_topk_is_take_ordered(spark):
    plan = _plan(spark, "part_copurchase_pairs")
    assert "TakeOrderedAndProject" in plan


def test_rfm_segments_hand_computed_and_no_global_window(spark):
    """Quantile scores come from broadcast cut points, never a global
    ntile window (the vocab_coverage lesson): the plan must contain NO
    Window node at all, and extreme customers land in the extreme
    buckets."""
    from datetime import datetime, timedelta

    from bht_etl_app_spark.plans.analytics import rfm_segments

    rows = []
    # customers 1..10: customer i orders i times, latest on day 100+i,
    # each order worth 100*i -> monotone R/F/M in i
    for i in range(1, 11):
        for j in range(i):
            rows.append(
                (i, datetime(2024, 1, 1) + timedelta(days=100 + i), 100.0 * i)
            )
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    out = {r["o_custkey"]: r for r in rfm_segments(df).collect()}
    assert len(out) == 10
    best, worst = out[10], out[1]
    # customer 10: most recent, most orders, biggest spend
    assert (best["r_score"], best["f_score"], best["m_score"]) == (5, 5, 5)
    assert best["segment"] == "555"
    assert (worst["r_score"], worst["f_score"], worst["m_score"]) == (1, 1, 1)
    # monotone metrics -> monotone scores
    assert all(
        out[i]["f_score"] <= out[i + 1]["f_score"] for i in range(1, 10)
    )
    plan = rfm_segments(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_purchase_attribution_first_touch_and_exchange_reuse(spark):
    from datetime import datetime, timedelta

    from bht_etl_app_spark.operators.timeseries import purchase_attribution

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1, session A: view -> click -> purchase  (credit: view)
        (1, 1, t0, "view"),
        (2, 1, t0 + timedelta(seconds=60), "click"),
        (3, 1, t0 + timedelta(seconds=120), "purchase"),
        # user 1, session B (gap > 1800s): click -> purchase (credit: click)
        (4, 1, t0 + timedelta(seconds=5000), "click"),
        (5, 1, t0 + timedelta(seconds=5060), "purchase"),
        # user 2: purchase opens its own session (credit: purchase)
        (6, 2, t0, "purchase"),
        # user 3: session with no purchase -> no contribution
        (7, 3, t0, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {r["first_touch"]: r for r in purchase_attribution(df).collect()}
    assert {k: (v["n_purchases"], v["share"]) for k, v in out.items()} == {
        "view": (1, 1 / 3),
        "click": (1, 1 / 3),
        "purchase": (1, 1 / 3),
    }
    # The (user, session_id) window must reuse the sessionize exchange
    # on user_id — a re-shuffle on the composite key would show up as
    # hashpartitioning(user_id, session_id)
    # direct pin: no exchange keyed on the composite — the
    # (user, session_id) window must reuse the user_id exchange
    import re as _re

    plan = purchase_attribution(df)._jdf.queryExecution().executedPlan().toString()
    assert not _re.search(r"hashpartitioning\(user_id#\d+L?, session_id", plan), plan


def test_part_cooccurrence_sim_hand_computed(spark):
    import math

    from bht_etl_app_spark.plans.analytics import part_cooccurrence_sim

    # parts 1,2 together in 3 orders; part 1 in 4 orders, part 2 in 3
    rows = [
        (1, 1), (1, 2),
        (2, 1), (2, 2),
        (3, 1), (3, 2),
        (4, 1), (4, 3), (4, 3),  # dup line: distinct() must collapse
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = part_cooccurrence_sim(df, min_support=2, top_k=10).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["part_a"], r["part_b"], r["support"], r["rank"]) == (1, 2, 3, 1)
    assert abs(r["sim"] - round(3 / math.sqrt(4 * 3), 6)) < 1e-9


def test_top_session_paths_orders_and_truncates(spark):
    from datetime import datetime, timedelta

    from bht_etl_app_spark.operators.timeseries import top_session_paths

    t0 = datetime(2024, 1, 1)
    rows = []
    eid = 0
    # two users with the same view>click>purchase session
    for u in (1, 2):
        for i, t in enumerate(["view", "click", "purchase"]):
            eid += 1
            rows.append((eid, u, t0 + timedelta(seconds=10 * i), t))
    # one user with a marathon 30-step session -> truncated to max_len
    for i in range(30):
        eid += 1
        rows.append((eid, 3, t0 + timedelta(seconds=10 * i), "view"))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {r["path"]: r for r in top_session_paths(df, max_len=5).collect()}
    assert out["view>click>purchase"]["n_sessions"] == 2
    assert out["view>click>purchase"]["rank"] == 1
    assert out[">".join(["view"] * 5)]["n_sessions"] == 1  # truncated at 5


def test_price_drift_psi_zero_when_identical_large_when_shifted(spark):
    from datetime import datetime

    from bht_etl_app_spark.operators.profiling import price_drift_psi

    before, after = datetime(1995, 1, 1), datetime(1997, 1, 1)
    # identical value multisets in both periods -> PSI exactly 0
    vals = [float(v) for v in range(100, 200)]
    rows = [(v, before) for v in vals] + [(v, after) for v in vals]
    df = spark.createDataFrame(rows, "o_totalprice double, o_orderdate timestamp")
    out = price_drift_psi(df).collect()
    assert len(out) == 10
    assert all(r["contrib"] == 0.0 and r["psi_total"] == 0.0 for r in out)
    # shifted current period -> large PSI
    rows2 = [(v, before) for v in vals] + [(v + 80.0, after) for v in vals]
    df2 = spark.createDataFrame(rows2, "o_totalprice double, o_orderdate timestamp")
    out2 = price_drift_psi(df2).collect()
    psi = out2[0]["psi_total"]
    assert all(r["psi_total"] == psi for r in out2)
    assert psi > 0.25


def test_ab_test_zstats_matches_reference_formula(spark):
    import hashlib
    import math
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import ab_test_zstats

    # 40 users; even user ids convert — arms come from md5 parity, so
    # replicate the assignment and the pooled-z reference in Python
    rows = []
    eid = 0
    for u in range(1, 41):
        eid += 1
        rows.append((eid, u, datetime(2024, 1, 1), "view"))
        if u % 2 == 0:
            eid += 1
            rows.append((eid, u, datetime(2024, 1, 1, 1), "purchase"))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    r = ab_test_zstats(df).collect()[0]

    arms = {u: int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) % 2
            for u in range(1, 41)}
    n_a = sum(1 for a in arms.values() if a == 0)
    n_b = 40 - n_a
    conv_a = sum(1 for u, a in arms.items() if a == 0 and u % 2 == 0)
    conv_b = sum(1 for u, a in arms.items() if a == 1 and u % 2 == 0)
    assert (r["n_a"], r["n_b"], r["conv_a"], r["conv_b"]) == (
        n_a, n_b, conv_a, conv_b
    )
    p = (conv_a + conv_b) / 40
    se = math.sqrt(p * (1 - p) * (1 / n_a + 1 / n_b))
    expected_z = (conv_a / n_a - conv_b / n_b) / se
    assert abs(r["z"] - expected_z) < 1e-12


def test_ab_test_zstats_degenerate_all_convert_gives_null_z(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import ab_test_zstats

    rows = [(u, u, datetime(2024, 1, 1), "purchase") for u in range(1, 21)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    r = ab_test_zstats(df).collect()[0]
    # p == 1 -> zero pooled variance -> z undefined, not a crash
    assert r["z"] is None


def test_customer_gini_limits_and_no_global_window(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import customer_gini

    d = datetime(2024, 1, 1)
    # equal spends -> gini exactly 0
    eq = spark.createDataFrame(
        [(c, d, 100.0) for c in range(1, 11)],
        "o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    r = customer_gini(eq).collect()[0]
    assert r["n_customers"] == 10 and r["gini"] == 0.0
    # one whale among near-zero spenders -> gini near (n-1)/n
    whale = spark.createDataFrame(
        [(c, d, 0.01) for c in range(1, 10)] + [(10, d, 1_000_000.0)],
        "o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    g = customer_gini(whale).collect()[0]["gini"]
    assert 0.85 < g < 0.9001
    # the rank must come from the bucketed two-phase, never ONE
    # unpartitioned row_number window over all customers
    plan = customer_gini(eq)._jdf.queryExecution().executedPlan().toString()
    import re as _re

    for m in _re.finditer(r"Window \[.*row_number", plan):
        seg = plan[m.start(): m.start() + 300]
        assert "__b__" in seg, f"global row_number window:\n{seg}"


def test_daily_revenue_cusum_flat_and_step(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import daily_revenue_cusum

    # flat series: dev_t = 0 everywhere -> z == 0, no alarms
    flat = [
        (i, 1, "O", 100.0, datetime(2024, 1, 1 + i), "1-URGENT")
        for i in range(10)
    ]
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    got = daily_revenue_cusum(spark.createDataFrame(flat, schema)).collect()
    # zero variance: no defensible sigma -> NULL z, alarm stays false
    assert all(r["z_pos"] is None and r["z_neg"] is None for r in got)
    assert not any(r["alarm"] for r in got)

    # hard level shift: the post-step z_pos must strictly grow and the
    # pre-step days stay at z_pos == 0 (running-min tracks the drop)
    step = [
        (i, 1, "O", 100.0 if i < 10 else 500.0, datetime(2024, 1, 1 + i), "x")
        for i in range(20)
    ]
    got = sorted(
        daily_revenue_cusum(spark.createDataFrame(step, schema)).collect(),
        key=lambda r: r["day"],
    )
    post = [r["z_pos"] for r in got[10:]]
    assert all(b > a for a, b in zip(post, post[1:]))
    assert got[-1]["z_pos"] > got[-1]["z_neg"]


def test_revenue_dow_seasonality_uniform_is_one(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import revenue_dow_seasonality

    rows = [
        (i, 1, "O", 250.0, datetime(2024, 1, 1 + i), "x") for i in range(28)
    ]
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    got = revenue_dow_seasonality(spark.createDataFrame(rows, schema)).collect()
    assert len(got) == 7
    assert sorted(r["dow"] for r in got) == [1, 2, 3, 4, 5, 6, 7]
    for r in got:
        assert r["n_days"] == 4
        assert r["avg_revenue"] == 250.0
        assert r["index"] == 1.0


def test_part_association_rules_hand_case(spark):
    from bht_etl_app_spark.plans.analytics import part_association_rules

    # baskets: {1,2} x3, {1} x1  -> N=4, n_1=4, n_2=3, n_12=3
    rows = []
    for ok in range(3):
        rows += [(ok, 1), (ok, 2)]
    rows += [(3, 1)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        (r["antecedent"], r["consequent"]): r
    for r in part_association_rules(li, min_support=3, top_k=10).collect()}
    r12, r21 = got[(1, 2)], got[(2, 1)]
    assert r12["confidence"] == 3 / 4 and r21["confidence"] == 1.0
    # lift symmetric: 3*4/(4*3) = 1.0
    assert r12["lift"] == 1.0 and r21["lift"] == 1.0
    # 2->1 ranks first (equal lift, higher confidence)
    assert r21["rank"] == 1 and r12["rank"] == 2


def test_conversion_lag_hist_semantics(spark):
    from datetime import datetime

    from bht_etl_app_spark.operators.timeseries import conversion_lag_hist

    rows = [
        # user 1: view at t0, purchase 30min later -> bucket 0
        (1, 1, datetime(2024, 1, 1, 0, 0), "view", None),
        (2, 1, datetime(2024, 1, 1, 0, 30), "purchase", None),
        # user 2: purchase BEFORE any view (excluded), then a view,
        # then a purchase 25h later -> bucket 25
        (3, 2, datetime(2024, 1, 1, 0, 0), "purchase", None),
        (4, 2, datetime(2024, 1, 1, 1, 0), "view", None),
        (5, 2, datetime(2024, 1, 2, 2, 0), "purchase", None),
        # user 3: view only -> no row
        (6, 3, datetime(2024, 1, 1, 0, 0), "view", None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string,"
        " value double"
    )
    got = {r["lag_bucket"]: r for r in conversion_lag_hist(df).collect()}
    assert set(got) == {0, 25}
    assert got[0]["n_users"] == 1 and got[25]["n_users"] == 1
    assert got[0]["share"] == 0.5


def test_l_diversity_report_hand_case(spark):
    from bht_etl_app_spark.operators.profiling import l_diversity_report

    rows = [
        # group A: 3 rows, all the same sensitive value -> l = 1
        ("a", 1, 10), ("a", 1, 10), ("a", 1, 10),
        # group B: 2 rows, 2 distinct sensitive values -> l = 2
        ("b", 1, 10), ("b", 1, 11),
        # group C: 3 distinct -> l = 3 (passes l_min=3)
        ("c", 1, 10), ("c", 1, 11), ("c", 1, 12),
    ]
    df = spark.createDataFrame(rows, "q1 string, q2 int, sens int")
    row = l_diversity_report(df, ["q1", "q2"], "sens", l_min=3).head()
    assert row["n_rows"] == 8 and row["n_groups"] == 3
    assert row["min_l"] == 1
    assert row["groups_below_l"] == 2
    assert row["rows_below_l"] == 5


def test_supplier_return_wilson_ranks_by_lower_bound(spark):
    import math

    from bht_etl_app_spark.plans.analytics import supplier_return_wilson

    # supplier 1: 2/2 returned (raw rate 1.0), supplier 2: 90/100 —
    # Wilson lower bound must put the high-n supplier FIRST
    rows = [(1, "R")] * 2 + [(2, "R")] * 90 + [(2, "N")] * 10
    li = spark.createDataFrame(
        [(s, f) for s, f in rows], "l_suppkey long, l_returnflag string"
    )
    got = {
        r["l_suppkey"]: r
        for r in supplier_return_wilson(li, min_n=1, top_k=10).collect()
    }
    assert got[2]["rank"] == 1 and got[1]["rank"] == 2
    assert got[1]["return_rate"] == 1.0 and got[2]["return_rate"] == 0.9

    def wilson(k, n, z=1.96):
        zz = z * z
        p = k / n
        lb = (p + zz / (2.0 * n) - z * math.sqrt(
            (p * (1.0 - p) + zz / (4.0 * n)) / n)) / (1.0 + zz / n)
        return round(lb, 12)

    assert got[1]["wilson_lb"] == wilson(2, 2)
    assert got[2]["wilson_lb"] == wilson(90, 100)


def test_weekend_revenue_welch_hand_case(spark):
    import math
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import weekend_revenue_welch

    # weekdays (Mon 2024-01-01 .. Thu): 100, 110, 120, 130
    # weekend (Sat 2024-01-06, Sun): 200, 260
    vals = {
        datetime(2024, 1, 1): 100.0,
        datetime(2024, 1, 2): 110.0,
        datetime(2024, 1, 3): 120.0,
        datetime(2024, 1, 4): 130.0,
        datetime(2024, 1, 6): 200.0,
        datetime(2024, 1, 7): 260.0,
    }
    orders = spark.createDataFrame(
        [(i, d, v) for i, (d, v) in enumerate(vals.items())],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    row = weekend_revenue_welch(orders).head()
    assert row["n_weekday"] == 4 and row["n_weekend"] == 2
    assert row["mean_weekday"] == 115.0 and row["mean_weekend"] == 230.0
    wd = [100.0, 110.0, 120.0, 130.0]
    we = [200.0, 260.0]

    def var(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    a, b = var(wd) / len(wd), var(we) / len(we)
    t_ref = (115.0 - 230.0) / math.sqrt(a + b)
    dof_ref = (a + b) ** 2 / (a * a / 3 + b * b / 1)
    assert abs(row["t_stat"] - t_ref) < 1e-6
    assert abs(row["welch_dof"] - dof_ref) < 1e-6


def test_weekend_revenue_welch_degenerate_null(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import weekend_revenue_welch

    # a single weekend day: n2 < 2 -> t/dof NULL, means still real
    orders = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), 100.0),
            (2, datetime(2024, 1, 2), 100.0),
            (3, datetime(2024, 1, 6), 50.0),
        ],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    row = weekend_revenue_welch(orders).head()
    assert row["t_stat"] is None and row["welch_dof"] is None
    assert row["mean_weekday"] == 100.0 and row["mean_weekend"] == 50.0


def test_daily_revenue_decompose_constant_series(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import daily_revenue_decompose

    # 14 constant days: trend == revenue on the 8 interior days,
    # seasonal and residual exactly 0, 3 NULL-trend edge days per end
    orders = spark.createDataFrame(
        [(i, datetime(2024, 1, 1 + i), 100.0) for i in range(14)],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    rows = daily_revenue_decompose(orders).collect()
    assert len(rows) == 14
    interior = [r for r in rows if r["trend"] is not None]
    assert len(interior) == 8
    for r in rows:
        assert r["revenue"] == 100.0
        assert r["seasonal"] == 0.0
        if r["trend"] is not None:
            assert r["trend"] == 100.0 and r["residual"] == 0.0
        else:
            assert r["residual"] is None


def test_event_type_xcorr_planted_lag(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import event_type_xcorr

    # purchases are exactly 2x the previous day's views -> r = 1.0 at
    # lag +1 (views lead); the nonlinear pattern breaks lag-0
    views = [1, 5, 2, 8, 3]
    rows = []
    eid = 0
    for i, v in enumerate(views):
        for _ in range(v):
            rows.append((eid, datetime(2024, 1, 1 + i), 1, "view"))
            eid += 1
        for _ in range(2 * v):
            rows.append((eid, datetime(2024, 1, 2 + i), 1, "purchase"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r["lag"]: r for r in event_type_xcorr(df).collect()}
    assert got[1]["n_days"] == 5 and got[1]["r"] == 1.0
    assert got[0]["r"] is not None and got[0]["r"] < 1.0


def test_daily_revenue_decompose_short_series_keeps_days(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import daily_revenue_decompose

    # 12 days: one day-of-week never owns a complete centered window
    # -> NULL seasonal, but NO day is dropped (review finding: the
    # seasonal join must be a left join)
    orders = spark.createDataFrame(
        [(i, datetime(2024, 1, 1 + i), 100.0) for i in range(12)],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    rows = daily_revenue_decompose(orders).collect()
    assert len(rows) == 12
    assert any(r["seasonal"] is None for r in rows)
    for r in rows:
        assert r["revenue"] == 100.0


def test_cohort_ltv_matrix_hand_case(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import cohort_ltv_matrix

    orders = spark.createDataFrame(
        [
            (1, 10, datetime(2024, 1, 5), 100.0),
            (2, 10, datetime(2024, 3, 20), 50.0),
            (3, 20, datetime(2024, 2, 1), 200.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    got = {
        (r["cohort_month"].month, r["age_months"]): r
        for r in cohort_ltv_matrix(orders).collect()
    }
    assert got[(1, 0)]["revenue"] == 100.0 and got[(1, 0)]["n_customers"] == 1
    assert got[(1, 2)]["revenue"] == 50.0
    assert got[(2, 0)]["revenue"] == 200.0
    assert set(got) == {(1, 0), (1, 2), (2, 0)}


def test_part_abc_classes_hand_case(spark):
    from bht_etl_app_spark.plans.analytics import part_abc_classes

    # revenues 80, 15, 3, 2 (total 100): cumulative 80/95/98/100 ->
    # classes A (<=80%), B (<=95%), C, C — exact decimal boundaries,
    # both thresholds hit EXACTLY (the <= must include them)
    rows = [(1, 80.0), (2, 15.0), (3, 3.0), (4, 2.0)]
    li = spark.createDataFrame(rows, "l_partkey long, l_extendedprice double")
    got = {r["abc_class"]: r for r in part_abc_classes(li).collect()}
    assert got["A"]["n_parts"] == 1 and got["A"]["revenue"] == 80.0
    assert got["B"]["n_parts"] == 1 and got["B"]["revenue"] == 15.0
    assert got["C"]["n_parts"] == 2 and got["C"]["revenue"] == 5.0
    assert got["A"]["revenue_share"] == 0.8
    assert got["C"]["revenue_share"] == 0.05


def test_part_abc_classes_zero_total_matches_oracle_shape(spark):
    from bht_etl_app_spark.plans.analytics import part_abc_classes

    # all-zero revenue with parts present: everything classes A
    # (0 <= 0), share NULL — NOT an empty frame (review finding:
    # Spark and the oracle must agree on the row count)
    li = spark.createDataFrame(
        [(1, 0.0), (2, 0.0)], "l_partkey long, l_extendedprice double"
    )
    rows = part_abc_classes(li).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["abc_class"] == "A" and r["n_parts"] == 2
    assert r["revenue"] == 0.0 and r["revenue_share"] is None
    # truly empty input -> empty frame
    empty = spark.createDataFrame(
        [], "l_partkey long, l_extendedprice double"
    )
    assert part_abc_classes(empty).count() == 0


def test_nation_supplier_hhi_hand_case(spark):
    from bht_etl_app_spark.plans.analytics import nation_supplier_hhi

    li = spark.createDataFrame(
        # nation 0: suppliers 1,2 with 75/25 -> HHI = .5625+.0625 = .625
        # nation 1: monopoly -> HHI = 1.0
        [(1, 75.0), (1, 0.0), (2, 25.0), (3, 10.0)],
        "l_suppkey long, l_extendedprice double",
    )
    sup = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1)], "s_suppkey long, s_nationkey long"
    )
    nat = spark.createDataFrame(
        [(0, "ALPHA"), (1, "BETA")], "n_nationkey long, n_name string"
    )
    got = {r["n_name"]: r for r in nation_supplier_hhi(li, sup, nat).collect()}
    assert got["ALPHA"]["n_suppliers"] == 2
    assert got["ALPHA"]["hhi"] == 0.625
    assert got["BETA"]["hhi"] == 1.0 and got["BETA"]["revenue"] == 10.0


def test_user_event_entropy_summary_hand_case(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import user_event_entropy_summary

    ts = datetime(2024, 1, 1)
    rows = (
        # user 1: 2 types evenly -> H = 1.0
        [(1, 1, ts, "a"), (2, 1, ts, "b")]
        # user 2: single type -> H = 0
        + [(3, 2, ts, "a"), (4, 2, ts, "a")]
        # user 3: 4 types evenly -> H = 2.0
        + [(5 + i, 3, ts, t) for i, t in enumerate("abcd")]
    )
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    r = user_event_entropy_summary(df).head()
    assert r["n_users"] == 3
    assert r["max_entropy"] == 2.0
    assert r["mean_entropy"] == 1.0  # (1 + 0 + 2) / 3
    assert abs(r["share_single_type"] - 1 / 3) < 1e-12


def test_nation_pct_of_parent_hand_case(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import nation_pct_of_parent

    ts = datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(1, 1, ts, 75.0), (2, 2, ts, 25.0), (3, 3, ts, 100.0)],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    cust = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 2)], "c_custkey long, c_nationkey long"
    )
    nat = spark.createDataFrame(
        [(0, "N0", 0), (1, "N1", 0), (2, "N2", 1)],
        "n_nationkey long, n_name string, n_regionkey long",
    )
    reg = spark.createDataFrame(
        [(0, "R0"), (1, "R1")], "r_regionkey long, r_name string"
    )
    got = {
        r["n_name"]: r
        for r in nation_pct_of_parent(orders, cust, nat, reg).collect()
    }
    assert got["N0"]["pct_of_region"] == 0.75
    assert got["N1"]["pct_of_region"] == 0.25
    assert got["N2"]["pct_of_region"] == 1.0
    assert got["N0"]["region_pct_of_total"] == 0.5
    assert got["N2"]["region_pct_of_total"] == 0.5


def test_brand_price_anova_hand_case(spark):
    from bht_etl_app_spark.plans.analytics import brand_price_anova

    # brand A prices {10, 20}, brand B {30, 40}:
    # grand mean 25, SSB = 2*(15-25)^2 + 2*(35-25)^2 = 400,
    # SSW = 50 + 50 = 100, F = (400/1)/(100/2) = 8.0
    part = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0), (4, "B", 40.0)],
        "p_partkey long, p_brand string, p_retailprice double",
    )
    r = brand_price_anova(part).head()
    assert r["k"] == 2 and r["n"] == 4
    assert r["dof_between"] == 1 and r["dof_within"] == 2
    assert r["f_stat"] == 8.0

    # zero within-variance -> structural NULL, not a division error
    flat = spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 10.0), (3, "B", 20.0), (4, "B", 20.0)],
        "p_partkey long, p_brand string, p_retailprice double",
    )
    assert brand_price_anova(flat).head()["f_stat"] is None


def test_mktsegment_monthly_share_hand_case(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import mktsegment_monthly_share

    orders = spark.createDataFrame(
        [
            (1, 1, datetime(2024, 1, 10), 75.0),
            (2, 2, datetime(2024, 1, 20), 25.0),
            (3, 1, datetime(2024, 2, 5), 40.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    cust = spark.createDataFrame(
        [(1, "AUTO"), (2, "HOME")], "c_custkey long, c_mktsegment string"
    )
    got = {
        (r["month"].month, r["c_mktsegment"]): r
        for r in mktsegment_monthly_share(orders, cust).collect()
    }
    assert got[(1, "AUTO")]["share_of_month"] == 0.75
    assert got[(1, "HOME")]["share_of_month"] == 0.25
    assert got[(2, "AUTO")]["share_of_month"] == 1.0
    assert got[(2, "AUTO")]["revenue"] == 40.0


def test_daily_revenue_acf_planted_period(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import daily_revenue_acf

    # strict period-2 series 10,20,10,20,... -> r(2) = 1.0 and
    # r(1) < 0 (alternation anti-correlates adjacent days)
    vals = [10.0, 20.0] * 7
    orders = spark.createDataFrame(
        [(i, datetime(2024, 1, 1 + i), v) for i, v in enumerate(vals)],
        "o_orderkey long, o_orderdate timestamp, o_totalprice double",
    )
    got = {r["lag"]: r for r in daily_revenue_acf(orders).collect()}
    assert got[2]["r"] == 1.0 and got[4]["r"] == 1.0
    assert got[1]["r"] < 0
    assert got[2]["n_days"] == 12


def test_segment_migration_matrix_semantics(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import segment_migration_matrix

    # customer 1 orders in both halves, customer 2 only before the
    # split, customer 3 only after: the matrix must carry one
    # real->real cell, one churn row (to ABSENT) and one acquisition
    # row (from ABSENT); total count == distinct customers
    orders = spark.createDataFrame(
        [
            (1, 1, datetime(1997, 1, 1), 100.0),
            (2, 1, datetime(1999, 1, 1), 100.0),
            (3, 2, datetime(1997, 6, 1), 50.0),
            (4, 3, datetime(1999, 6, 1), 80.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    rows = segment_migration_matrix(orders).collect()
    assert sum(r["n_customers"] for r in rows) == 3
    froms = {r["seg_from"] for r in rows}
    tos = {r["seg_to"] for r in rows}
    assert "ABSENT" in froms and "ABSENT" in tos
    # no cell can be ABSENT -> ABSENT (a customer exists somewhere)
    assert not any(
        r["seg_from"] == "ABSENT" and r["seg_to"] == "ABSENT" for r in rows
    )


def test_topk_customer_overlap_hand_case(spark):
    from datetime import datetime

    from bht_etl_app_spark.plans.analytics import topk_customer_overlap

    # top-2 before: {1, 2}; top-2 after: {2, 3} -> overlap 1, union 3
    orders = spark.createDataFrame(
        [
            (1, 1, datetime(1997, 1, 1), 100.0),
            (2, 2, datetime(1997, 1, 2), 90.0),
            (3, 3, datetime(1997, 1, 3), 10.0),
            (4, 2, datetime(1999, 1, 1), 80.0),
            (5, 3, datetime(1999, 1, 2), 70.0),
            (6, 1, datetime(1999, 1, 3), 5.0),
        ],
        "o_orderkey long, o_custkey long, o_orderdate timestamp,"
        " o_totalprice double",
    )
    r = topk_customer_overlap(orders, k=2).head()
    assert r["n_p1"] == 2 and r["n_p2"] == 2
    assert r["n_overlap"] == 1
    assert abs(r["jaccard"] - 1 / 3) < 1e-12


def test_brand_price_anova_empty_input_matches_oracle_shape(spark):
    from bht_etl_app_spark.plans.analytics import brand_price_anova

    empty = spark.createDataFrame(
        [], "p_partkey long, p_brand string, p_retailprice double"
    )
    r = brand_price_anova(empty).head()
    # mirrors the oracle: list() over zero rows is NULL in DuckDB
    assert r["k"] == 0 and r["n"] is None
    assert r["f_stat"] is None and r["dof_within"] is None


def test_extraction_and_pii_scrub_are_shuffle_free(spark):
    """The two r10 per-row kernels must stay pure projections: a
    keyed Exchange anywhere means something regrouped a 100 TB scan
    to run a regex."""
    for name in ("doc_extracted_text", "doc_scrubbed_pii"):
        plan = _plan(spark, name)
        assert "hashpartitioning" not in plan, name
        assert "rangepartitioning" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_harmonic_packer_windows_are_class_partitioned(spark):
    """pack_sequences_harmonic's scale claim: every window partitions
    by (source, size_class) — strictly finer than the chunk packer's
    per-source window — and nothing runs on a single partition."""
    plan = _plan(spark, "pack_sequences_harmonic")
    assert "SinglePartition" not in plan
    # the layout window's partition spec carries both keys
    assert "size_class" in plan
    win_lines = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln.lower()]
    assert win_lines, "expected window nodes in the plan"
    for ln in win_lines:
        low = ln.lower()
        assert "source" in low, ln


def test_contamination_attribution_broadcasts_benchmark_grams(spark):
    """The attribution join must keep decontaminate's plan shape: the
    (benchmark, gram) side broadcasts; a SortMergeJoin on the gram
    key would shuffle every training n-gram at corpus scale."""
    plan = _plan(spark, "contamination_attribution")
    assert "BroadcastHashJoin" in plan
    gram_smj = [
        ln for ln in plan.splitlines()
        if "SortMergeJoin" in ln and "__g__" in ln
    ]
    assert not gram_smj, gram_smj
