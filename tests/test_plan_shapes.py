"""Physical-plan shape assertions: the scale posture is part of the
contract, not an accident. These tests pin the optimizer outcomes the
100 TB design depends on — if a refactor breaks pushdown or broadcast,
this fails before the cluster bill does."""

from __future__ import annotations

import contextlib
import io

import pytest

from summit_23_snowpark_data_lake_workloads_spark.plans.queries import QUERIES


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def simple_plan_of(df) -> str:
    """Simple-mode explain: each Exchange prints its partitioning inline,
    so `Exchange hashpartitioning(<key>` is matchable on a single line
    (formatted mode splits node name and arguments across sections)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_q1_filter_and_projection_pushed(spark, sf_dir):
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must read only the 7 needed columns
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_comment" not in read
    assert read.count(":") <= 9, f"scan reads too many columns: {read}"


def test_q5_dimensions_broadcast_fact_not(spark, sf_dir):
    df = QUERIES["q5_region_revenue"](spark, sf_dir)
    df.collect()  # AQE finalizes join strategies at runtime
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 5, "all five joins broadcast the small side"
    assert "SortMergeJoin" not in final, "the fact table must never sort-merge here"


def test_semi_join_rewrite(spark, sf_dir):
    plan = plan_of(QUERIES["cohort_semi_join"](spark, sf_dir))
    assert "LeftSemi" in plan, "IN-subquery shape must execute as a semi join"


def test_topk_no_global_sort(spark, sf_dir):
    plan = plan_of(QUERIES["q3_top_unshipped"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, (
        "ORDER BY + LIMIT must run as top-k, not a full sort"
    )


@pytest.mark.slow  # r16: 3.6 min — plan-compiles all 192 queries; an
# exhaustive static guard, run with SPARK_GRAFT_SLOW=1 (every round's
# full verification pass), not in the driver's default window
def test_no_cartesian_products_anywhere(spark, sf_dir):
    """No declared query may contain an unbounded cartesian product.
    (Broadcast nested loop with a one-row side — e.g. the TF-IDF doc-count
    join — is fine; CartesianProduct is not.)"""
    for name, fn in QUERIES.items():
        plan = plan_of(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


def test_events_scan_prunes_props(spark, sf_dir):
    """events.props (the widest column) must not be read by queries that
    don't use it."""
    plan = plan_of(QUERIES["events_hourly_rollup"](spark, sf_dir))
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "props" not in read


def test_q6_all_filters_pushed(spark, sf_dir):
    """TPC-H Q6 is the pushdown benchmark: every predicate must reach the
    parquet scan, and only the 4 referenced columns may be read."""
    plan = plan_of(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in pushed, f"{col} filter not pushed: {pushed}"
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_returnflag" not in read


def test_q9_dimensions_broadcast(spark, sf_dir):
    """Q9's part/supplier/nation joins must broadcast; only the
    lineitem⋈orders join may shuffle."""
    df = QUERIES["q9_product_profit"](spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in final


def test_q18_semi_join_filters_fact(spark, sf_dir):
    """The qualifying-order set must reach lineitem as a broadcast
    LEFT SEMI, not a second shuffle of the fact table."""
    df = QUERIES["q18_large_volume"](spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "LeftSemi" in final


def test_q22_anti_join(spark, sf_dir):
    plan = plan_of(QUERIES["q22_idle_rich_customers"](spark, sf_dir))
    assert "LeftAnti" in plan, "NOT EXISTS must execute as an anti join"


def _broadcast_hints(df) -> int:
    """Count explicit broadcast hints in the ANALYZED logical plan (the
    only place hints are still visible — the optimizer consumes them)."""
    return df._jdf.queryExecution().analyzed().toString().count(
        "strategy=broadcast"
    )


def test_q17_no_forced_broadcast_on_per_part_agg(spark, sf_dir):
    """q17's per-part average has one row per part (20M+ at sf100): the
    ONLY allowed hint is the filtered part dim; the agg join must be left
    to AQE. The part hint appears twice because the pruned fact stream
    (fact ⋈ broadcast(part)) feeds both the agg branch and the final
    join — still the one bounded dim."""
    df = QUERIES["q17_small_qty_revenue"](spark, sf_dir)
    assert _broadcast_hints(df) == 2, "only the part dim may be hinted"


def test_tfidf_no_forced_broadcast_on_vocab(spark, sf_dir):
    """tfidf's document-frequency table has one row per distinct corpus
    token — unbounded; the only allowed hint is the 1-row doc count
    (which appears 4x in the analyzed tree: the weights subplan — query
    side, candidate side, and both norm branches — each embed it)."""
    df = QUERIES["tfidf_topk"](spark, sf_dir)
    assert _broadcast_hints(df) == 4, "only the 1-row n_docs may be hinted"


def test_q18_no_forced_broadcast_on_customer(spark, sf_dir):
    """customer grows with SF — only the tiny qualifying-order set may
    carry a broadcast hint."""
    df = QUERIES["q18_large_volume"](spark, sf_dir)
    assert _broadcast_hints(df) == 1, "only the qualifying-order set may be hinted"


def test_partition_pruning_on_date_partitioned_table(spark, sf_dir):
    """A date filter on a date-partitioned table must prune at planning
    time: the scan reads ONLY the matching partition's files (Snowflake
    micro-partition pruning analog, SURVEY R5)."""
    from pyspark.sql import functions as F

    from summit_23_snowpark_data_lake_workloads_spark.sources.batch import read_table
    from summit_23_snowpark_data_lake_workloads_spark.sources.catalog import (
        bootstrap_catalog,
        save_table,
    )

    bootstrap_catalog(spark)
    ev = read_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    save_table(ev, "processed.events_by_day", partition_by=["day"])
    tbl = spark.table("processed.events_by_day")
    n_days = tbl.select("day").distinct().count()
    assert n_days > 1

    one_day = tbl.select("day").distinct().orderBy("day").first().day
    filtered = tbl.filter(F.col("day") == F.lit(one_day))
    plan = plan_of(filtered)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "day" in pf, f"partition filter missing from scan: {pf}"
    # the decisive check: pruned scan touches a strict subset of files
    assert len(filtered.inputFiles()) < len(tbl.inputFiles())
    assert filtered.count() == tbl.filter(F.col("day") == F.lit(one_day)).count()


def test_dynamic_partition_pruning_from_dim_filter(spark, sf_dir):
    """A filter on the DIM side of a join against a partitioned fact
    must prune fact partitions at RUNTIME (dynamic partition pruning) —
    the 100 TB pattern where the partition key is only constrained
    transitively through the join."""
    from pyspark.sql import functions as F

    from summit_23_snowpark_data_lake_workloads_spark.sources.batch import read_table
    from summit_23_snowpark_data_lake_workloads_spark.sources.catalog import (
        bootstrap_catalog,
        save_table,
    )

    bootstrap_catalog(spark)
    ev = read_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    save_table(ev, "processed.events_dpp", partition_by=["day"])
    fact = spark.table("processed.events_dpp")
    # dim: one row per day with an attribute the query filters on.
    # NOTE: the filter must be one DPP's isLikelySelective() recognizes
    # (equality/IN/LIKE) — a bare boolean attribute does NOT qualify and
    # silently disables the rewrite.
    dim = fact.select("day").distinct().withColumn(
        "day_kind",
        F.when(F.dayofweek("day").isin(1, 7), "weekend").otherwise("weekday"),
    )
    save_table(dim, "processed.days_dpp")
    dim_t = spark.table("processed.days_dpp")

    joined = fact.join(dim_t, "day").filter(F.col("day_kind") == "weekend")
    plan = plan_of(joined)
    assert "dynamicpruning" in plan.lower(), (
        "dim-side filter must reach the fact scan as a runtime partition filter"
    )
    got = joined.count()
    want = fact.join(dim_t.filter(F.col("day_kind") == "weekend"), "day").count()
    assert got == want > 0


def test_aqe_splits_skewed_join(spark):
    """AQE's skew-join handling is part of the declared 100 TB posture:
    a planted hot key (10% of the big side on one value) must be split
    at runtime — the final adaptive plan marks the join skew=true."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # half the big side lands on ONE key: the hot shuffle partition is
        # ~8x the median, beyond any sane skew factor regardless of the
        # session's shuffle-partition count
        big = spark.range(300_000).select(
            F.when(F.col("id") % 2 == 0, 42).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(small, "k")
        j.collect()
        final = plan_of(j).split("== Initial Plan ==")[0]
        assert "skew=true" in final, "hot key must be split by AQE skew join"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime bloom-filter join pruning: a selective dim filter must
    inject a bloom filter into the fact side so non-matching rows drop
    at the scan, before the shuffle (the non-partition-column sibling of
    dynamic partition pruning). Size thresholds are lowered — at 100 TB
    the defaults (10 GB application side) trigger on their own."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
            F.col("p_brand") == "Brand#4"
        )
        j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        assert "bloom" in plan_of(j).lower(), (
            "selective dim join must inject a runtime bloom filter"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_contamination_joins_broadcast_no_cartesian(spark, sf_dir):
    """The decontamination join keys on the shingle itself; the benchmark
    side is the small one — AQE must broadcast it, and nothing in the
    plan may degenerate to a cartesian/nested-loop product."""
    df = QUERIES["contamination_ngram_overlap"](spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "BroadcastHashJoin" in final, "small bench side should broadcast"


def test_corpus_pipeline_no_cartesian_no_python_udf(spark, sf_dir):
    """The flagship corpus build must stay relational end-to-end: no
    cartesian products, no row-at-a-time Python evaluation anywhere in
    its (large) plan."""
    df = QUERIES["training_corpus_pipeline"](spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_doc_chunk_windows_single_shuffle(spark, sf_dir):
    """Chunk reassembly is one groupBy on (doc_id, chunk_id): exactly one
    exchange over the exploded tokens — a second shuffle would double
    the dominant cost at 100 TB."""
    plan = plan_of(QUERIES["doc_chunk_windows"](spark, sf_dir))
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= 2, f"expected <=2 Exchange nodes, got {n_exchanges}"


def test_q2_dimensions_broadcast_window_after_join(spark, sf_dir):
    """Q2's correlated-MIN rewrite: all four dims broadcast onto the
    supply aggregate (no sort-merge), so the window input is already
    the filtered regional subset."""
    df = QUERIES["q2_min_cost_supplier"](spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in final


def test_q11_single_fact_shuffle(spark, sf_dir):
    """Q11's global-threshold HAVING must not re-shuffle the fact: the
    per-part aggregate is one hash shuffle; the total is a broadcast
    scalar joined with a nested loop over one row."""
    df = QUERIES["q11_important_parts"](spark, sf_dir)
    df.collect()
    # simple-mode explain prints each Exchange with its partitioning
    # inline on one line (formatted mode splits them across the tree and
    # a node-details section, which made the old assertion misfire)
    final = simple_plan_of(df).split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in final
    # exactly one REAL fact shuffle on the part key; the total-sum branch
    # must reuse it (ReusedExchange echoes the original node's text, so
    # exclude those lines from the count)
    real_fact_shuffles = [
        l for l in final.splitlines()
        if "Exchange hashpartitioning(l_partkey" in l and "ReusedExchange" not in l
    ]
    assert len(real_fact_shuffles) == 1, final
    assert "ReusedExchange" in final, "total-sum branch must reuse the fact shuffle"


def test_q20_date_range_pushed_to_scan(spark, sf_dir):
    plan = plan_of(QUERIES["q20_excess_share_suppliers"](spark, sf_dir))
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "CartesianProduct" not in plan


def test_sequence_packing_one_window_shuffle_no_udf(spark, sf_dir):
    """The packing map is a single cumulative-sum window: one hash
    exchange on source, zero Python boundaries."""
    plan = simple_plan_of(QUERIES["sequence_packing"](spark, sf_dir))
    # simple mode keeps the Exchange node and its partitioning on one line
    assert plan.count("Exchange hashpartitioning(source") == 1
    assert "EvalPython" not in plan  # Batch/ArrowEvalPython both


def test_dau_wau_day_fanout_no_nested_loop(spark, sf_dir):
    """The trailing-7-day WAU must fan day-user rows into serving days
    (explode + broadcast equi-join on day), never a BETWEEN nested loop
    whose cost grows with the day count."""
    plan = plan_of(QUERIES["events_dau_wau"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan and "explode" in plan  # the 7-day fanout


def test_url_dedup_no_python_udf(spark, sf_dir):
    """URL canonicalization must stay in codegen string expressions —
    the regex chain is the operator, not a UDF."""
    plan = plan_of(QUERIES["url_canonical_dedup"](spark, sf_dir))
    assert "EvalPython" not in plan


def test_variant_agg_pushes_type_filter_and_prunes(spark, sf_dir):
    """The variant decode is JVM-side: no Python boundary, the
    event_type IN filter reaches the scan, and unused columns
    (user_id, ts) are pruned from the read schema."""
    plan = plan_of(QUERIES["events_variant_agg"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "In(event_type" in plan
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "user_id" not in read


def test_spend_distribution_bucketed_no_window_no_global_sort(spark, sf_dir):
    """The bucketed decile view must avoid the single-task global sort
    its windowed twin (customer_spend_distribution) declares as a scale
    caveat: no Window exec, no SinglePartition exchange feeding a sort,
    and the one-row boundary table joined via broadcast."""
    plan = plan_of(QUERIES["spend_distribution_bucketed"](spark, sf_dir))
    assert "Window" not in plan
    assert "rangepartitioning" not in plan  # no global ORDER BY
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds side, broadcast
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_incremental_dedup_no_cartesian_corpus_broadcast_pruned(spark, sf_dir):
    """The incremental-dedup contract: corpus-side work must stay
    proportional to the batch — the exact-hash lookup and the batch
    shingle-vocabulary prune are broadcast joins, and nothing in the
    plan is a cartesian/nested-loop product."""
    plan = plan_of(QUERIES["dedup_incremental_newbatch"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, (
        "corpus hash lookup, shingle-vocabulary prune and candidate-id "
        "size prune must all broadcast"
    )
    # the corpus-side SIZE aggregate must be candidate-pruned BEFORE
    # aggregating (broadcast LEFT SEMI on the candidate id set) — an
    # unpruned groupBy here is a full-corpus shuffle per increment
    assert "LeftSemi" in plan, (
        "corpus size aggregate must semi-join the candidate id set "
        "before groupBy"
    )
    # the corpus scan must push the source<>'src19' partition predicate
    assert "Not(EqualTo(source,src19))" in plan or "NOT (source = src19)" in plan


def test_shingle_plans_have_no_window_exchange(spark, sf_dir):
    """Shingling is shuffle-free by design (arrays_zip over slice-shifted
    token arrays): the Jaccard plan's only exchanges are for distinct /
    join / aggregate — a Window node before the first aggregate means
    the per-token window shuffle crept back in."""
    plan = plan_of(QUERIES["dedup_ngram_jaccard"](spark, sf_dir))
    assert "Window" not in plan, "shingle construction must not use window functions"


def test_containment_same_geometry_as_jaccard(spark, sf_dir):
    """Containment must keep the candidates-only join geometry: no
    cartesian/nested-loop pair enumeration, no window."""
    plan = plan_of(QUERIES["containment_near_subset"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_cluster_canonical_argmax_is_aggregate_not_window(spark, sf_dir):
    """Survivor selection is one max_by aggregate keyed by cluster —
    a window+rank formulation would add a sort per cluster."""
    plan = plan_of(QUERIES["dedup_cluster_canonical"](spark, sf_dir))
    assert "Window" not in plan, "argmax must be max_by, not row_number"
    assert "max_by" in plan
    assert "CartesianProduct" not in plan


def test_charlm_single_explode_broadcast_model(spark, sf_dir):
    """charlm_doc_quality: the corpus text is exploded ONCE (the
    persisted per-doc count table feeds both the model aggregation and
    the scoring join), and the model/marginal/vocab joins all
    broadcast — no shuffle keyed on the bigram for the scoring side."""
    df = QUERIES["charlm_doc_quality"](spark, sf_dir)
    df.collect()  # AQE finalizes; also materializes the persisted table
    plan = plan_of(df)
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate explode") <= 1, (
        "text must be exploded at most once in the final plan "
        "(the persisted count table covers the second consumer)"
    )
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final, "model joins must broadcast"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_leakage_split_no_join_on_docs(spark, sf_dir):
    """leakage_safe_split: assignment is a pure map — documents are
    never joined or re-shuffled on a data key; the two scalar sides
    (total, leaky count) broadcast."""
    plan = plan_of(QUERIES["leakage_safe_split"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_jl_projection_probe_side_broadcast(spark, sf_dir):
    """embedding_random_projection: the non-equi probe self-join is a
    BroadcastNestedLoopJoin over the BOUNDED 24-row probe set — never a
    cartesian over the full table — and the projection itself is pure
    codegen (no Python workers)."""
    plan = plan_of(QUERIES["embedding_random_projection"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,24)" in plan, (
        "the probe bound must reach the parquet scan"
    )


def test_bpe_pair_counts_no_window_no_udf(spark, sf_dir):
    """BPE pair counting (the per-iteration hot path): shuffle-free pair
    construction — no window, no Python workers; the only exchange is
    the small groupBy on the pair."""
    from summit_23_snowpark_data_lake_workloads_spark.operators.tokenizer import (
        _pair_counts,
        word_symbol_table,
    )
    from summit_23_snowpark_data_lake_workloads_spark.sources.batch import read_table

    words = word_symbol_table(read_table(spark, sf_dir, "documents"))
    plan = simple_plan_of(_pair_counts(words))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning(pair") == 1


def test_bm25_postings_pruned_and_broadcast(spark, sf_dir):
    """bm25_topk: the corpus posting-list build joins the exploded token
    stream against the BROADCAST query vocabulary before aggregating
    (no corpus-vocabulary shuffle), the df/idf and query-term joins all
    broadcast, and nothing runs in Python workers."""
    from summit_23_snowpark_data_lake_workloads_spark import cache

    df = QUERIES["bm25_topk"](spark, sf_dir)
    try:
        df.collect()  # AQE finalizes; materializes the persisted postings
        plan = plan_of(df)
    finally:
        cache.release_caches()
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final, "every retrieval join must broadcast"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert final.count("BroadcastHashJoin") >= 3, (
        "vocab prune + query-term + df joins must all be broadcast"
    )


def test_semdedup_pairs_confined_to_cells(spark, sf_dir):
    """semdedup_embeddings: the quadratic stage is an equi-join on the
    cell id (never a cartesian over the corpus), and every emitted
    duplicate shares its survivor's cell by construction."""
    plan = plan_of(QUERIES["semdedup_embeddings"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_single_explode_broadcast_models(spark, sf_dir):
    """dsir_importance_weights: same contract as charlm — text exploded
    once (persisted per-doc count table feeds both models and the
    scoring join), model tables broadcast, no Python workers."""
    from summit_23_snowpark_data_lake_workloads_spark import cache

    df = QUERIES["dsir_importance_weights"](spark, sf_dir)
    try:
        df.collect()
        plan = plan_of(df)
    finally:
        cache.release_caches()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate explode") <= 1, (
        "text must be exploded at most once in the final plan"
    )
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final, "model joins must broadcast"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temperature_mix_no_data_joins(spark, sf_dir):
    """temperature_mix_weights: one aggregate keyed on source; the two
    normalizers broadcast as 1-row sides — no sort-merge join, no
    cartesian over data, no Python workers."""
    plan = plan_of(QUERIES["temperature_mix_weights"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_audit_argmin_is_aggregate_not_window(spark, sf_dir):
    """pq_quantization_audit: the per-(vector, subspace) codeword argmin
    is a min(struct) aggregate with map-side partial combine — no
    window sort — and the codeword side broadcasts; no Python workers."""
    plan = plan_of(QUERIES["pq_quantization_audit"](spark, sf_dir))
    assert "Window" not in plan, "argmin must be an aggregate, not a window"
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_r5_report_queries_stay_jvm_side(spark, sf_dir):
    """The round-5 report queries (dup-span spectrum, bin packing,
    recall audit, skew profile) are pure relational plans: no Python
    workers, no cartesian products; the packing window is partitioned
    by source (never a global sort)."""
    for name in (
        "dup_span_length_profile",
        "sequence_bin_packing",
        "knn_ivf_recall_audit",
        "join_key_skew_profile",
    ):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
    pack = simple_plan_of(QUERIES["sequence_bin_packing"](spark, sf_dir))
    assert "Exchange hashpartitioning(source" in pack, (
        "packing window must shuffle on source, not sort globally"
    )


def test_index_probe_plans_broadcast_batch_side(spark, sf_dir, tmp_path):
    """The persisted-index probe contract at 100 TB: the corpus-sized
    side (index scan) must never shuffle against the batch — the batch's
    derived tables broadcast into equi-joins. Pins BroadcastHashJoin
    presence and the absence of cartesian products / row-at-a-time
    Python on the REAL probe plans (the gated audit queries return
    localCheckpoint scans, so the pins target the operators directly)."""
    from pyspark.sql import functions as F

    from summit_23_snowpark_data_lake_workloads_spark.operators.minhash_index import (
        build_minhash_index,
        probe_minhash_index,
    )
    from summit_23_snowpark_data_lake_workloads_spark.operators.pq_index import (
        build_pq_index,
        probe_pq_index,
    )
    from summit_23_snowpark_data_lake_workloads_spark.sources.batch import read_table

    docs = read_table(spark, sf_dir, "documents")
    mh = build_minhash_index(
        spark, docs.filter(F.col("doc_id") % 2 == 0), str(tmp_path / "mh")
    )
    mh_plan = plan_of(
        probe_minhash_index(mh, docs.filter(F.col("doc_id") % 2 == 1))
    )
    assert "BroadcastHashJoin" in mh_plan
    assert "CartesianProduct" not in mh_plan
    assert "BatchEvalPython" not in mh_plan

    emb = read_table(spark, sf_dir, "embeddings")
    pq = build_pq_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0), str(tmp_path / "pq")
    )
    pq_plan = plan_of(
        probe_pq_index(pq, emb.filter(F.col("vec_id") % 2 == 1), topk=3)
    )
    assert "BroadcastHashJoin" in pq_plan
    assert "CartesianProduct" not in pq_plan
    assert "BatchEvalPython" not in pq_plan

    from summit_23_snowpark_data_lake_workloads_spark.operators.ivf_index import (
        build_ivf_index,
        probe_ivf_index,
    )

    ivf = build_ivf_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0), str(tmp_path / "ivf")
    )
    ivf_plan = plan_of(
        probe_ivf_index(ivf, emb, emb.filter(F.col("vec_id") % 2 == 1), k=3)
    )
    assert "BroadcastHashJoin" in ivf_plan  # centroid broadcast-compare
    assert "CartesianProduct" not in ivf_plan
    assert "BatchEvalPython" not in ivf_plan

    from summit_23_snowpark_data_lake_workloads_spark.operators.ivf_index import (
        probe_ivfpq,
    )

    hybrid_plan = plan_of(
        probe_ivfpq(ivf, pq, emb.filter(F.col("vec_id") % 2 == 1), topk=3)
    )
    assert "BroadcastHashJoin" in hybrid_plan  # query distance table broadcast
    assert "CartesianProduct" not in hybrid_plan
    assert "BatchEvalPython" not in hybrid_plan


def test_bpe_encode_from_stored_model_has_no_learning_stage(spark, sf_dir, tmp_path):
    """The artifact contract (r5 advice #4): encoding against a STORED
    merge table must be a pure encode plan — one tokenize + distinct-word
    broadcast join — with NO merge-learning stages (learning is a
    driver-side argmax loop; its signature in any plan would be the
    pair-frequency aggregate). Also pins that the encode runs zero extra
    Spark jobs for training: learn_bpe_merges is never called."""
    from summit_23_snowpark_data_lake_workloads_spark.operators import tokenizer
    from summit_23_snowpark_data_lake_workloads_spark.operators.tokenizer import (
        load_bpe_merges,
        store_bpe_model,
        trained_token_counts,
    )
    from summit_23_snowpark_data_lake_workloads_spark.sources.batch import read_table

    docs = read_table(spark, sf_dir, "documents")
    table = store_bpe_model(spark, docs, str(tmp_path / "bpe"), k=4)

    import unittest.mock as mock

    with mock.patch.object(
        tokenizer, "learn_bpe_merges", side_effect=AssertionError("re-trained!")
    ):
        merges = load_bpe_merges(table)
        encode = trained_token_counts(docs, merges)
        plan = plan_of(encode)
        assert encode.count() > 0
    assert "pair" not in plan, "encode plan must contain no pair-learning stage"
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_r7_query_plans_stay_jvm_side(spark, sf_dir):
    """Round-7 declared queries keep the no-cartesian / no-row-Python
    posture (the index-audit queries return localCheckpoint scans, so
    their operator plans are pinned separately above)."""
    for name in (
        "chunk_hash_embed_topk",
        "knn_ivf_trained",
        "skew_aware_join_segments",
    ):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_dv_filter_keeps_pushdown_and_codegen(spark, tmp_path):
    """The deletion-vector predicate composes ABOVE the scan without
    breaking it: user predicates still push into the parquet reader,
    and the DV filter itself runs inside whole-stage codegen (no join,
    no python). If DVs ever became a join, _metadata would stop being
    addressable and every COW path would silently break first."""
    from pyspark.sql import functions as F

    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "dvp"))
    t.create(
        spark.range(0, 5000)
        .coalesce(2)
        .select(F.col("id").cast("int").alias("id"), (F.col("id") * 2.0).alias("v"))
    )
    t.delete(F.col("id") % 97 == 0, strategy="mor")
    plan = plan_of(t.read().filter(F.col("id") > 2500))
    assert "GreaterThan(id,2500)" in plan  # user predicate reaches the scan
    assert "Join" not in plan  # DV application is a predicate, not a join
    import re

    assert re.search(r"\(\d+\) Filter \[codegen id", plan), plan


def test_net_changes_is_one_aggregate_no_window(spark):
    """CDC net-per-key effect must stay a single max(struct) aggregate:
    a row_number window would funnel every key through a sort, and at
    100 TB the sync's cost would stop being O(changed files)."""
    from pyspark.sql import functions as F

    from summit_23_snowpark_data_lake_workloads_spark.operators.cdc import (
        net_changes,
    )

    chg = spark.createDataFrame(
        [(1, "a", "insert", 2), (1, "a", "delete", 2), (2, "b", "delete", 3)],
        "id int, val string, _change_type string, _commit_version long",
    )
    ups, dels = net_changes(chg, ["id"])
    for df in (ups, dels):
        plan = simple_plan_of(df)
        assert "Window" not in plan
        assert plan.count("Exchange") <= 1, plan


def test_mor_update_read_path_keeps_pushdown_and_codegen(spark, tmp_path):
    """merge_mor / update(strategy='mor') reads ride the same pinned
    DV machinery as delete_mor: one scan over old (DV-filtered) and
    new files, user predicates pushed to parquet, vector subtraction a
    codegen filter — never a join. And the matched-position probe
    inside the write path must broadcast the (small) key side, not
    sort-merge the corpus."""
    from pyspark.sql import functions as F

    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "morp"))
    t.create(
        spark.range(0, 5000)
        .coalesce(2)
        .select(F.col("id").cast("int").alias("id"), (F.col("id") * 2.0).alias("v"))
    )
    t.merge(
        spark.range(0, 5000, 97).select(
            F.col("id").cast("int").alias("id"), F.lit(-1.0).alias("v")
        ),
        ["id"],
        strategy="mor",
    )
    t.update(F.col("id") % 89 == 0, {"v": F.col("v") + 1.0}, strategy="mor")
    plan = plan_of(t.read().filter(F.col("id") > 2500))
    assert "GreaterThan(id,2500)" in plan  # pushdown intact through DVs
    assert "Join" not in plan  # vectors are a predicate, not a join
    import re

    assert re.search(r"\(\d+\) Filter \[codegen id", plan), plan
    # write-path probe: matched positions via broadcast semi join
    keys = spark.range(0, 100).select(F.col("id").cast("int").alias("id"))
    probe = (
        t.read()
        .withColumn("_lh_fp", F.col("_metadata.file_path"))
        .join(F.broadcast(keys), ["id"], "left_semi")
    )
    pplan = plan_of(probe)
    assert "BroadcastHashJoin" in pplan
    assert "SortMergeJoin" not in pplan


def test_net_changes_routed_is_one_aggregate_no_window(spark):
    """Insert routing must not change the netting's plan class: fresh/
    upsert/deleted all project off the SAME single max(struct)+flag
    aggregate — one Exchange, no Window, no second pass over the feed."""
    from pyspark.sql import functions as F  # noqa: F401

    from summit_23_snowpark_data_lake_workloads_spark.operators.cdc import (
        net_changes_routed,
    )

    chg = spark.createDataFrame(
        [
            (1, "a", "insert", 2),
            (2, "b", "delete", 2),
            (2, "c", "insert", 2),
            (3, "d", "delete", 3),
        ],
        "id int, val string, _change_type string, _commit_version long",
    )
    fresh, ups, dels = net_changes_routed(chg, ["id"])
    for df in (fresh, ups, dels):
        plan = simple_plan_of(df)
        assert "Window" not in plan
        assert plan.count("Exchange") <= 1, plan


def test_merge_when_broadcasts_source_and_keeps_pushdown(spark, tmp_path):
    """The conditional merge keeps merge's plan discipline: the
    matched-file probe broadcasts the (small) source key side instead
    of sort-merging the corpus, and the post-commit MoR read path
    keeps parquet pushdown with the DV filter as codegen, no join."""
    from pyspark.sql import functions as F

    from summit_23_snowpark_data_lake_workloads_spark.sources.lakehouse import (
        SnapshotTable,
    )

    t = SnapshotTable(spark, str(tmp_path / "mw"))
    t.create(
        spark.range(0, 5000)
        .coalesce(2)
        .select(F.col("id").cast("int").alias("id"), (F.col("id") * 2.0).alias("v"))
    )
    t.merge_when(
        spark.range(0, 5000, 83).select(
            F.col("id").cast("int").alias("id"), F.lit(-1.0).alias("v")
        ),
        ["id"],
        matched_update={"v": F.col("t.v") + F.col("s.v")},
        matched_delete_cond=F.col("s.id") % 7 == 0,
        strategy="mor",
    )
    plan = plan_of(t.read().filter(F.col("id") > 2500))
    assert "GreaterThan(id,2500)" in plan  # pushdown intact through DVs
    assert "Join" not in plan              # DV application is a predicate
    import re

    assert re.search(r"\(\d+\) Filter \[codegen id", plan), plan
