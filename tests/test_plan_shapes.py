"""Physical-plan regression tests: the scale properties the operators are
designed around (shuffle-free narrow maps, broadcast dims, partial top-K
pushdown, parquet filter pushdown) asserted against `.explain` output so a
refactor can't silently trade them away. Correctness is covered by the
oracle-parity suite; these pin the *plan shape*.
"""

import re

from pyspark.sql import functions as F

from streamprocessing_with_kafka_spark.operators import sampling, text
from streamprocessing_with_kafka_spark.plans.registry import registry
from streamprocessing_with_kafka_spark.sources.tables import load_table


def _plan(spark, df, mode: str = "simple") -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def _n_shuffles(plan: str) -> int:
    # count shuffle exchanges only; BroadcastExchange is the cheap path
    # we *want* and must not count against the budget
    return len(re.findall(r"Exchange (?:hash|range|Single)", plan))


def test_repetition_metrics_is_shuffle_free(spark, sf_dir):
    """Per-doc repetition stats are one narrow projection: at 100 TB any
    Exchange here would shuffle the whole corpus for a per-row metric."""
    plan = _plan(spark, text.repetition_metrics(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_per_doc_text_ops_are_shuffle_free(spark, sf_dir):
    for fn in (
        text.text_stats,
        text.token_count,
        text.lang_id,
        text.quality_score,
        text.fingerprint,
        text.pii_scrub,
        text.chunk_documents,
    ):
        plan = _plan(spark, fn(spark, sf_dir))
        assert "Exchange" not in plan, (fn.__name__, plan)


def test_stratified_sample_pushes_partial_topk(spark, sf_dir):
    """row_number().over(partitionBy).filter(<=K) must compile to
    WindowGroupLimit below the Exchange (two-phase top-K): each map task
    emits at most K rows per stratum, so the shuffle carries O(strata * K)
    rows, not the corpus."""
    plan = _plan(spark, sampling.stratified_sample(spark, sf_dir))
    assert plan.count("WindowGroupLimit") == 2, plan
    assert _n_shuffles(plan) == 1, plan


def test_weighted_mix_broadcasts_rates(spark, sf_dir):
    """The rates table is a 10-row dim: it must broadcast, never shuffle
    the corpus side."""
    plan = _plan(spark, sampling.weighted_mix(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert _n_shuffles(plan) == 0, plan


def test_term_df_shuffles_vocab_only(spark, sf_dir):
    """Two aggregations (vocab DF + corpus count) -> exactly two shuffle
    exchanges, both with map-side partial aggregation; the corpus-count
    side joins in via broadcast."""
    plan = _plan(spark, text.term_df(spark, sf_dir))
    assert _n_shuffles(plan) <= 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # partial-then-final aggregate pairs (map-side combine)
    assert plan.count("HashAggregate") >= 4, plan


def test_crud_filter_pushes_predicate_to_scan(spark, sf_dir):
    """Q3 equality filter must reach the parquet reader as a pushed
    filter, not a post-scan Filter over all row groups."""
    df = registry()["crud_filter"].fn(spark, sf_dir)
    plan = _plan(spark, df, "formatted")
    assert re.search(r"PushedFilters: \[.*o_custkey.*\]", plan), plan


def test_projection_prunes_scan_columns(spark, sf_dir):
    """A 2-column projection must read a 2-column schema, not the table."""
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(spark, df, "formatted")
    m = re.search(r"ReadSchema: (struct<[^\n]*)", plan)
    assert m, plan
    read = m.group(1)
    assert "l_orderkey" in read and "l_quantity" in read, read
    assert "l_comment" not in read and "l_extendedprice" not in read, read


def test_events_scan_prunes_with_filter(spark, sf_dir):
    """Filter + projection compose: pushed filter AND pruned schema on the
    same scan."""
    df = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("user_id", "event_type")
    )
    plan = _plan(spark, df, "formatted")
    assert re.search(r"PushedFilters: \[.*event_type.*\]", plan), plan
    m = re.search(r"ReadSchema: (struct<[^\n]*)", plan)
    assert m and "props" not in m.group(1), plan


def test_clean_embeddings_nullness_filter_pushes_to_scan(spark, sf_dir):
    """The r9 clean-embeddings scan policy must stay scan-cheap at
    100 TB: the vector-level IS NOT NULL reaches the parquet reader as
    a pushed filter (row groups with all-NULL vectors skip), while the
    element-level exists() check -- not expressible as a parquet
    predicate -- runs as a narrow post-scan filter, NOT a shuffle or
    UDF."""
    from streamprocessing_with_kafka_spark.operators.similarity import (
        load_clean_embeddings,
    )

    plan = _plan(spark, load_clean_embeddings(spark, sf_dir), "formatted")
    assert re.search(r"PushedFilters: \[.*IsNotNull\(embedding\).*\]", plan), plan
    # the r10 vec_id membership gate must be scan-cheap too
    assert re.search(r"PushedFilters: \[.*IsNotNull\(vec_id\).*\]", plan), plan
    # r12: the loader deliberately fans an under-split embeddings file
    # out to the session's cores (every consumer runs per-vector math;
    # see load_clean_embeddings) -- allow exactly that round-robin
    # exchange and nothing else (no key shuffle may creep in here)
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    assert "hashpartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_large_volume_customers_broadcasts_both_hops(spark, sf_dir):
    """Q18 shape: the HAVING-filtered aggregate and the order-level
    result are both slivers -- each must broadcast; the only shuffle is
    the lineitem per-order aggregate."""
    plan = _plan(spark, registry()["join_large_volume_customers"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert _n_shuffles(plan) == 1, plan


def test_local_supplier_volume_single_shuffle(spark, sf_dir):
    """Q5 shape: every dimension hop is a broadcast; lineitem |X| orders
    is the single shuffle regardless of scale factor."""
    plan = _plan(spark, registry()["join_local_supplier_volume"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 5, plan
    assert "SortMergeJoin" not in plan, plan
    assert _n_shuffles(plan) == 1, plan


def test_argmin_supplier_shuffles_groups_only(spark, sf_dir):
    """Q2-pattern argmin: min(struct) must stay a map-side-combinable
    aggregate (one exchange carrying |nations| rows) -- NOT a window,
    which would shuffle every supplier row before sorting."""
    plan = _plan(spark, registry()["agg_argmin_supplier"].fn(spark, sf_dir))
    assert "Window" not in plan, plan
    assert _n_shuffles(plan) == 1, plan
    # partial + final aggregate pair = map-side combine before the exchange
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2, plan


def test_decontaminate_broadcasts_eval_set(spark, sf_dir):
    """The eval-set n-gram dictionary must broadcast -- scoring the
    training corpus must never shuffle it against the eval side."""
    plan = _plan(spark, registry()["text_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert _n_shuffles(plan) <= 3, plan


def test_volume_shipping_single_fact_shuffle(spark, sf_dir):
    """Q7 shape: nation broadcasts twice under two roles, supplier and
    customer broadcast -- the aggregate's exchange is the only shuffle."""
    plan = _plan(spark, registry()["join_volume_shipping"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 5, plan
    assert "SortMergeJoin" not in plan, plan
    assert _n_shuffles(plan) == 1, plan


def test_market_share_single_fact_shuffle(spark, sf_dir):
    """Q8 shape: 7 relations, every dimension hop a broadcast. Since the
    r6 reorder, orders gates through the broadcast customer chain BEFORE
    the lineitem join (pre-shuffle semi-reduction: the shuffled orders
    side carries one region's ~20%), which leaves the static planner
    without a size estimate for the gated side -- it conservatively plans
    an SMJ that AQE converts back to broadcast at runtime. Pin the FINAL
    adaptive plan: all 7 joins broadcast, no SMJ survives."""
    df = registry()["join_market_share"].fn(spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    final = _plan(spark, df).split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 7, final
    assert "SortMergeJoin" not in final, final
    # static pre-gate exchanges materialize (tiny: gated orders keys) but
    # the fact side never sort-merges; the agg exchange remains the only
    # reduce-side shuffle
    assert _n_shuffles(final) <= 3, final


def test_top_supplier_materializes_revenue_cte_once(spark, sf_dir):
    """Q15 shape: the revenue CTE feeds two consumers and Spark does not
    reuse exchanges across them -- the localCheckpoint must keep lineitem
    out of the final plan entirely (scanned once, at materialization)."""
    df = registry()["join_top_supplier"].fn(spark, sf_dir)
    plan = _plan(spark, df)
    assert "lineitem" not in plan, plan
    assert _n_shuffles(plan) <= 1, plan


def test_supplier_count_two_phase_distinct(spark, sf_dir):
    """Q16 shape: COUNT(DISTINCT) must expand to partial-distinct then
    count (2 exchanges); the blacklist NOT IN must stay a broadcast anti
    join, never a shuffle of lineitem against the supplier table."""
    plan = _plan(spark, registry()["agg_supplier_count_by_part"].fn(spark, sf_dir))
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    assert "SortMergeJoin" not in plan, plan
    assert _n_shuffles(plan) == 2, plan


def test_waiting_supplier_rides_one_orderkey_exchange(spark, sf_dir):
    """Q21 shape: window frontier + per-order rollup + filter must all
    ride the same l_orderkey partitioning -- collect_set keeps the
    aggregate keyed on l_orderkey alone, so beyond that exchange only the
    tiny s_name aggregate shuffles."""
    plan = _plan(spark, registry()["join_waiting_supplier"].fn(spark, sf_dir))
    assert _n_shuffles(plan) <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_important_parts_single_lineitem_pass(spark, sf_dir):
    """Q11 shape: the global total must derive from the per-part partials
    (checkpointed), so lineitem appears in NO consumer plan -- one scan
    total, at materialization time."""
    plan = _plan(spark, registry()["agg_important_parts"].fn(spark, sf_dir))
    assert "lineitem" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_excess_shippers_one_pass_window_decorrelation(spark, sf_dir):
    """Q20 shape: the per-part total must come from a window over the
    (part, supplier) aggregate -- one lineitem scan, no self-join-back;
    the survivor set broadcasts into the supplier semi probe."""
    df = registry()["join_excess_shippers"].fn(spark, sf_dir)
    plan = _plan(spark, df)
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert ex.count("lineitem.parquet") <= 1, ex
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan
    assert "Window" in plan, plan


def test_grouping_sets_single_expand_pass(spark, sf_dir):
    """GROUPING SETS must compile to ONE Expand + one shuffle, not a
    union of per-set aggregations re-scanning the table."""
    plan = _plan(spark, registry()["agg_grouping_sets"].fn(spark, sf_dir))
    assert plan.count("Expand") == 1, plan
    assert _n_shuffles(plan) == 1, plan
    assert "Union" not in plan, plan


def test_full_outer_join_reuses_aggregate_partitioning(spark, sf_dir):
    """Both inputs aggregate on (user_id, day); the full-outer join must
    ride those two exchanges without adding a third."""
    from streamprocessing_with_kafka_spark.operators import joins

    plan = _plan(spark, joins.full_outer_user_days(spark, sf_dir))
    assert "FullOuter" in plan, plan
    assert _n_shuffles(plan) == 2, plan


def test_pack_sequences_single_shard_shuffle(spark, sf_dir):
    """Sequence packing sorts within shards only: exactly one hash
    exchange on the shard key, never a global (range) sort."""
    plan = _plan(spark, text.pack_sequences(spark, sf_dir))
    assert _n_shuffles(plan) == 1, plan
    assert "Exchange range" not in plan, plan


def test_scd2_single_partitioning_carries_both_windows(spark, sf_dir):
    """Change-detection lag and interval lead/version windows share
    PARTITION BY o_custkey: one exchange, the filter in between only
    re-sorts."""
    from streamprocessing_with_kafka_spark.operators import history

    plan = _plan(spark, history.customer_priority_scd2(spark, sf_dir))
    assert _n_shuffles(plan) == 1, plan


def test_interarrival_aggregate_reuses_window_partitioning(spark, sf_dir):
    """The user_id groupBy after the lag window must not re-shuffle."""
    from streamprocessing_with_kafka_spark.operators import windows

    plan = _plan(spark, windows.user_interarrival(spark, sf_dir))
    assert _n_shuffles(plan) == 1, plan


def test_hashed_tfidf_one_doc_partitioning_carries_the_pipeline(spark, sf_dir):
    """The up-front doc_id repartition must be the ONLY doc-side exchange:
    term counts, slot sums, and vector assembly all group by a superset of
    doc_id, so no (doc_id, term) or (doc_id, slot) reshuffles may appear;
    the remaining exchanges are the vocab-sized DF aggregate and the 1-row
    corpus count. AQE reuses the repartition under the DF branch at
    runtime (asserted on the executed plan)."""
    from streamprocessing_with_kafka_spark.operators import features

    df = features.hashed_tfidf(spark, sf_dir)
    plan = _plan(spark, df)
    assert "hashpartitioning(doc_id" in plan, plan
    assert not re.search(r"hashpartitioning\(doc_id[^)]+, (term|slot)", plan), plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def _n_distinct_shuffles(plan: str) -> int:
    """Distinct exchange signatures (plan_id stripped): a persisted
    frame's build plan prints once per InMemoryTableScan plus an AQE
    Initial-Plan copy, and identical canonical exchanges are deduped by
    ReuseExchange at runtime -- the signature set is what executes."""
    return len(
        {
            re.sub(r",?\s*\[plan_id=\d+\]", "", m.group(0))
            for m in re.finditer(r"Exchange (?:hash|range|Single)[^\n]*", plan)
        }
    )


def test_text_ann_topk_scores_on_one_partitioning(spark, sf_dir):
    """The sparse term-at-a-time rewrite (r3): featurizer paid ONCE via
    the per-invocation localCheckpoint of the slot frame (r12: replaced
    the persisted cross-call memo, which the CacheManager would silently
    reuse across timed runs), probe side broadcast, dot-product aggregate
    over the materialized frame, one window exchange on q_id. The
    featurizer subtree no longer appears in this plan at all -- it ran
    once at checkpoint time -- so a regression back to per-branch
    featurization (multiple featurizer subtrees compiled into the search
    plan) cannot land silently either way: the plan must read the slot
    frame from the materialized RDD, never from a re-derived subtree."""
    from streamprocessing_with_kafka_spark.operators.features import text_ann_topk

    plan = _plan(spark, text_ann_topk(spark, sf_dir))
    assert plan.count("Scan ExistingRDD") >= 1, plan  # slot frame materialized
    assert "unnest" not in plan and "string_split" not in plan, plan
    n = _n_distinct_shuffles(plan)
    assert n <= 2, f"{n} distinct shuffles\n{plan}"


def test_quality_classifier_is_shuffle_free(spark, sf_dir):
    """The hashed-logistic classifier is a per-row expression pipeline: an
    Exchange would shuffle the corpus for a per-doc score."""
    plan = _plan(spark, text.quality_classifier(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_shuffle_shard_is_one_exchange(spark, sf_dir):
    """Shard + position must cost exactly ONE shuffle (keyed on shard) --
    a global sort (Exchange range) here would serialize the corpus."""
    plan = _plan(spark, sampling.shuffle_shard(spark, sf_dir))
    assert _n_shuffles(plan) == 1, plan
    assert "Exchange range" not in plan, plan


def test_domain_mix_scans_corpus_once(spark, sf_dir):
    """Totals ride an unpartitioned window over the aggregated frame: ONE
    FileScan of documents and at most two exchanges (source shuffle +
    |sources|-row single-partition hop). A crossJoin-scalar formulation
    scans the corpus twice -- the regression this pins out."""
    plan = _plan(spark, sampling.domain_mix(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1, plan
    assert _n_shuffles(plan) <= 2, plan


def test_dup_spans_has_no_doc_self_join(spark, sf_dir):
    """Exact-substring detection must never theta-join documents against
    documents: candidates are blocked through the span-hash df table."""
    from streamprocessing_with_kafka_spark.operators import dedup

    plan = _plan(spark, dedup.dup_span_stats(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_quantized_and_multiprobe_ann_stay_equi_joined(spark, sf_dir):
    """Both new ANN variants must keep candidate generation an equi-join
    on (band, band_key) -- no nested-loop fallback at any scale."""
    from streamprocessing_with_kafka_spark.operators import similarity

    for fn in (similarity.ann_topk_multiprobe, similarity.ann_topk_quantized):
        plan = _plan(spark, fn(spark, sf_dir))
        assert not re.search(r"BroadcastNestedLoopJoin|CartesianProduct", plan), (
            fn.__name__,
            plan,
        )


def test_curate_shard_pipeline_no_theta_joins(spark, sf_dir):
    """The composed curation flagship stays equi-joined end to end (gate
    frames join on doc_id; candidates block through hash tables) -- and
    its shuffle budget stays at the sum of its parts, no blow-up from the
    composition."""
    from streamprocessing_with_kafka_spark.operators import compose

    plan = _plan(spark, compose.curate_shard_pipeline(spark, sf_dir))
    assert not re.search(r"BroadcastNestedLoopJoin|CartesianProduct", plan), plan
    assert _n_shuffles(plan) <= 8, plan


def test_asof_tolerance_adds_no_exchange(spark, sf_dir):
    """The staleness bound is a post-window null-out: byte-for-byte the
    same single shuffle as the unbounded as-of join."""
    from streamprocessing_with_kafka_spark.operators import joins

    base = _plan(spark, joins.asof_join_events(spark, sf_dir))
    tol = _plan(spark, joins.asof_join_tolerance(spark, sf_dir))
    assert _n_shuffles(tol) == _n_shuffles(base) == 1, (base, tol)


def test_crud_forget_is_broadcast_only(spark, sf_dir):
    """The forget cascade must never shuffle a corpus surface: each
    surface is one scan + broadcast anti/left join + one aggregate. At
    100 TB a shuffle here would move the whole corpus to delete a
    thousand keys."""
    from streamprocessing_with_kafka_spark.plans.registry import registry

    plan = _plan(spark, registry()["crud_forget"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    # no hash/range repartition of any surface; the only exchanges allowed
    # are the SinglePartition collects of per-surface partial counts
    # (2 one-row aggregates), which move rows_per_task rows, not the corpus
    assert not re.findall(r"Exchange (?:hash|range)", plan), plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_dedup_incremental_candidates_are_equi_joins(spark, sf_dir):
    """Every join in the incremental-dedup plan must be an equi join
    (broadcast or shuffled hash) -- a theta/cartesian candidate join here
    is the O(N^2) failure mode the banding exists to prevent."""
    from streamprocessing_with_kafka_spark.operators.dedup import dedup_incremental

    plan = _plan(spark, dedup_incremental(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_fuzzy_decontam_broadcasts_eval_side(spark, sf_dir):
    """The eval side (bands AND shingles) must broadcast: the corpus may
    never shuffle against the benchmark corpus, and no sort-merge or
    cartesian join may appear anywhere in the fuzzy-decontamination plan."""
    from streamprocessing_with_kafka_spark.operators import decontaminate

    plan = _plan(spark, decontaminate.decontaminate_fuzzy(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_dsir_joins_are_broadcast_only(spark, sf_dir):
    """DSIR's LM tables are bucket-count-sized and must reach the token
    stream as broadcasts; the corpus never joins itself."""
    plan = _plan(spark, sampling.dsir_sample(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "Cartesian" not in plan, plan
    # the only nested-loop joins are the 1-row in-plan-scalar crossJoins
    assert all("Cross" in l for l in plan.splitlines()
               if "BroadcastNestedLoopJoin" in l), plan


def test_bm25_joins_are_broadcast_only(spark, sf_dir):
    """BM25's probe terms and idf table must broadcast onto the postings
    frame -- a sort-merge join here would shuffle the corpus against the
    vocabulary at 100 TB."""
    plan = _plan(spark, text.text_bm25_topk(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "Cartesian" not in plan, plan
    # the only nested-loop joins are the 1-row in-plan-scalar crossJoins
    assert all("Cross" in l for l in plan.splitlines()
               if "BroadcastNestedLoopJoin" in l), plan


def test_profile_drift_single_corpus_aggregate(spark, sf_dir):
    """The drift monitor reads events once: the only corpus-sized
    exchange is the multi-distinct aggregate's Expand shuffle; the time
    cutoff rides a 1-row broadcast, never a driver scalar."""
    from streamprocessing_with_kafka_spark.operators import profile

    plan = _plan(spark, profile.profile_drift(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Scan parquet") <= 2, plan  # events + 1-row bounds


def test_ewma_is_one_sort_window_pass(spark, sf_dir):
    """K lags must ride ONE user-keyed sort window: one hash exchange,
    one sort, no join -- the whole point of the truncated formulation."""
    from streamprocessing_with_kafka_spark.operators import timeseries

    plan = _plan(spark, timeseries.ewma_user_value(spark, sf_dir))
    assert _n_shuffles(plan) == 1, plan
    assert "Join" not in plan, plan


def test_fuzzy_join_is_equi_blocked(spark, sf_dir):
    """The deletion-neighborhood self-join must be an EQUI join on the
    variant string -- never a cartesian/nested-loop pair scan."""
    from streamprocessing_with_kafka_spark.operators import quality

    plan = _plan(spark, quality.fuzzy_name_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_quality_report_is_aggregate_only(spark, sf_dir):
    """Single-table constraints are one aggregate pass per table; the FK
    check joins key projections only. No theta joins, and the FK-side
    orders scan must prune to the single key column."""
    from streamprocessing_with_kafka_spark.operators import quality

    plan = _plan(spark, quality.quality_report(spark, sf_dir), "formatted")
    assert "CartesianProduct" not in plan, plan
    # exactly ONE nested-loop join is allowed: the broadcast crossJoin
    # attaching the 1-row fk aggregate (the in-plan-scalar idiom)
    assert plan.count("(") and plan.count("BroadcastNestedLoopJoin Cross") == 1, plan
    assert "ReadSchema: struct<o_custkey:bigint>" in plan, plan


def test_k_anonymity_is_one_bounded_aggregate(spark, sf_dir):
    """One map-side-combinable groupBy on the bounded QI domain -- one
    shuffle, no joins, nothing else touches the table."""
    from streamprocessing_with_kafka_spark.operators import quality

    plan = _plan(spark, quality.k_anonymity_audit(spark, sf_dir))
    assert _n_shuffles(plan) == 1, plan
    assert "Join" not in plan, plan


def test_chi2_scans_events_once(spark, sf_dir):
    """All corpus work is the single eager aggregate into the
    checkpointed contingency frame; the final plan must run ENTIRELY on
    that bounded frame (no parquet rescans for the spine/marginals/
    totals reuses) and never via a cartesian pair scan."""
    from streamprocessing_with_kafka_spark.operators import timeseries

    plan = _plan(spark, timeseries.chi2_type_hour(spark, sf_dir), "formatted")
    assert "Scan parquet" not in plan, plan  # corpus scanned once, eagerly
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cep_match_is_one_sort_window_pass(spark, sf_dir):
    """The 'no C between' negation must NOT become an anti-join: both
    running conditional maxima ride ONE user-keyed sort window -- one
    hash exchange, no join of any kind."""
    from streamprocessing_with_kafka_spark.operators import timeseries

    plan = _plan(spark, timeseries.cep_click_purchase(spark, sf_dir))
    assert _n_shuffles(plan) == 1, plan
    assert "Join" not in plan, plan


def test_containment_reuses_blocked_equi_join(spark, sf_dir):
    """Containment must pair through the shared-shingle EQUI join (the
    cached hash frame), never a cartesian/theta product."""
    from streamprocessing_with_kafka_spark.operators import dedup

    plan = _plan(spark, dedup.containment_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_waterfill_scans_corpus_once(spark, sf_dir):
    """The planner's windows run on the |sources|-row frame; documents
    itself must be scanned exactly once."""
    from streamprocessing_with_kafka_spark.operators import sampling

    plan = _plan(spark, sampling.budget_waterfill(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan


def test_mad_outliers_broadcasts_all_medians(spark, sf_dir):
    """The medians/MAD frames are 5-row dims: every join back onto events
    (and the final summary join) must be broadcast, never a sort-merge
    shuffle of the fact side."""
    from streamprocessing_with_kafka_spark.operators import timeseries

    plan = _plan(spark, timeseries.mad_outlier_summary(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan


def test_type_overlap_pre_checkpoint_is_one_corpus_pass(spark, sf_dir):
    """The marker-row formulation must cost ONE corpus scan and two
    exchanges (user gather + vocab-sized count) before the tiny counts
    frame is checkpointed; pinned here on the un-checkpointed subtree
    (the registered query's explain is truncated by localCheckpoint)."""
    from streamprocessing_with_kafka_spark.operators.timeseries import type_overlap  # noqa: F401
    from streamprocessing_with_kafka_spark.sources.tables import load_table as lt

    ev = lt(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("types")
    )
    types = F.col("types")
    null_s = F.lit(None).cast("string")
    pair_structs = F.flatten(
        F.transform(
            types,
            lambda x, i: F.transform(
                F.slice(types, i + 2, F.size(types)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    singleton_structs = F.transform(
        types, lambda t: F.struct(t.alias("a"), null_s.alias("b"))
    )
    total_struct = F.array(F.struct(null_s.alias("a"), null_s.alias("b")))
    counts = (
        per_user.select(
            F.explode(F.concat(pair_structs, singleton_structs, total_struct)).alias("p")
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    plan = _plan(spark, counts)
    assert _n_shuffles(plan) == 2, plan
    assert plan.count("Scan parquet") == 1, plan


def test_histogram_bounds_join_is_broadcast(spark, sf_dir):
    """The per-type min/max bounds frame is vocabulary-sized: its join
    back onto the events scan must be a broadcast, and the spine/counts
    joins (both vocabulary-sized) must never sort-merge the corpus."""
    from streamprocessing_with_kafka_spark.operators import windows

    plan = _plan(spark, windows.value_histogram(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangle_joins_are_all_equi(spark, sf_dir, monkeypatch):
    """Triangle enumeration must stay ordered-edge equi-joins: a nested-
    loop or cartesian here is the O(N^2)/O(N^3) cliff the design exists
    to avoid."""
    from streamprocessing_with_kafka_spark.operators import graph

    # the registered query truncates the edge-list lineage (shared-frame
    # materialization), which would hide the cooccurrence self-join from
    # this audit: swap the checkpoint for identity
    monkeypatch.setattr(graph, "local_checkpoint", lambda df: df)
    plan = _plan(spark, graph.triangle_clustering(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangle_intersection_shape_at_runtime(spark, sf_dir):
    """The r13 edge-intersection formulation, pinned at runtime: the
    adjacency joins and the degree left-join all run as broadcast hash
    joins at test scale (no sort-merge / shuffled-hash anywhere -- the
    O(|E|^1.5) wedge work happens inside array_intersect, never as
    shuffled rows), the corner credits flow through ONE Generate (a
    union formulation would re-run the intersection per branch), and
    array_intersect is evaluated exactly ONCE per edge (a filter on the
    intersection size gets pushed below the projection and re-evaluates
    the heavy expression -- the regression this test exists to catch)."""
    df = registry()["graph_triangles"].fn(spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    full = _plan(spark, df)
    final = full.split("== Initial Plan ==")[0]
    assert final.count("SortMergeJoin") == 0, final
    assert final.count("ShuffledHashJoin") == 0, final
    assert final.count("BroadcastHashJoin") == 3, final
    assert final.count("Generate explode") == 1, final
    assert final.count("array_intersect") == 1, final


def test_runtime_bloom_filter_prunes_shuffle_join_fact_side(spark, sf_dir):
    """The semi-join-reduction knob for selective shuffle joins at scale:
    with runtime bloom filters on, a selective dim-side predicate must
    inject a `might_contain(bloom_filter_agg(dim keys))` filter onto the
    FACT scan -- pruning rows before they pay the shuffle. Pinned here so
    the documented 100 TB recipe (COVERAGE.md skew/join row) stays real
    against Spark upgrades; the engine leaves the conf off by default
    because at sf scale every dim fits a broadcast instead."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # sf tables are far below the 10GB production threshold
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # force the shuffle join the filter exists to protect
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(spark, j)
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_concurrency_sweep_partitions_by_day(spark, sf_dir):
    """The sweep must never be a single global sort: the running-sum
    window partitions by day, and the final day aggregate reuses that
    partitioning. 3 shuffles total since the r6 boundary collapse:
    sessionize, the coincident-boundary aggregate (whose map-side
    combine shrinks the frame from O(intervals x days-open) to
    O(intervals + days) BEFORE any bytes move -- orders_backlog's
    exchange went 141MB -> 280KB at sf0.01 for one small extra
    exchange), then day."""
    from streamprocessing_with_kafka_spark.operators import windows

    plan = _plan(spark, windows.session_concurrency(spark, sf_dir))
    assert _n_shuffles(plan) == 3, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Join" not in plan, plan


def test_seasonality_scans_events_once(spark, sf_dir):
    """One corpus aggregate to the bounded (type, dow, hr) frame; all
    band windows run on that frame -- no joins, single parquet scan."""
    from streamprocessing_with_kafka_spark.operators import timeseries

    plan = _plan(spark, timeseries.seasonality_profile(spark, sf_dir), "formatted")
    # formatted mode prints each node twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_key_skew_final_plan_is_checkpoint_only(spark, sf_dir):
    """Counts and top-K are eagerly materialized (the top-K MUST
    execute as TakeOrdered before the scalar join -- under the join
    Catalyst can degrade it to an arbitrary LocalLimit); the final
    plan runs on checkpoint RDDs with the 1-row broadcast attach."""
    from streamprocessing_with_kafka_spark.operators import profile

    plan = _plan(spark, profile.key_skew_profile(spark, sf_dir), "formatted")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin Cross") == 1, plan


def test_rolling_wau_fans_out_pairs_not_corpus(spark, sf_dir):
    """The x7 day fan-out must sit ABOVE the (user, day) distinct, so
    the explode multiplies the tiny pair frame, not raw events; no
    joins beyond the 1-row max-day broadcast."""
    from streamprocessing_with_kafka_spark.operators import windows

    plan = _plan(spark, windows.rolling_wau(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Generate explode") == 1, plan
    # explode must consume the aggregated (deduped) side: the plan
    # shows Generate above the first HashAggregate pair
    assert plan.index("Generate") < plan.index("Scan parquet"), plan


def test_rfm_single_corpus_shuffle(spark, sf_dir):
    """Orders shuffles once into the per-customer aggregate; edges and
    max-day attach via 1-row broadcasts; segment rollup reuses nothing
    corpus-sized."""
    from streamprocessing_with_kafka_spark.operators import analytics

    plan = _plan(spark, analytics.rfm_segments(spark, sf_dir), "formatted")
    # the per-customer frame is checkpointed (it feeds both the edge
    # aggregate and the scoring pass): final plan must be parquet-free
    # with exactly the edges 1-row broadcast attach
    assert "SortMergeJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin Cross") == 1, plan


def test_l_diversity_one_row_shuffle_join(spark, sf_dir):
    """The custkey join is the only row-level exchange; everything after
    it aggregates on the bounded (nation x segment x priority) domain.
    At sf the customer side broadcasts (one hash exchange for orders at
    most); no cartesian anywhere."""
    from streamprocessing_with_kafka_spark.operators import quality

    plan = _plan(spark, quality.l_diversity_audit(spark, sf_dir))
    assert "Cartesian" not in plan, plan
    assert _n_shuffles(plan) <= 3, plan


def test_collocations_min_count_precedes_unigram_joins(spark, sf_dir):
    """The c_ab >= COLLOC_MIN_COUNT filter must sit below the joins so
    only surviving pairs join the unigram table; both unigram joins are
    broadcast at test scale and the pair count is map-side combinable."""
    from streamprocessing_with_kafka_spark.operators import text as t

    plan = _plan(spark, t.collocations(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    # the plan prints root-first, so "filter BELOW the joins" means the
    # min-count Filter's line appears AFTER the last join's line
    m = re.search(r"Filter \(?[^\n]*c_ab#\d+L? >= 3", plan)
    assert m, plan
    join_positions = [x.start() for x in re.finditer(r"Join ", plan)]
    assert join_positions and m.start() > max(join_positions), plan


def test_vocab_growth_has_no_global_window(spark, sf_dir, monkeypatch):
    """Every window in the two-phase prefix sum must be partitioned
    (bucket ranges) -- a single-partition global window would serialize
    the corpus through one task.  The tiny offsets frame is the ONE
    allowed unpartitioned window; it runs over |docs|/VOCAB_BUCKET rows
    and must be the only one."""
    from streamprocessing_with_kafka_spark.operators import text as t

    # the registered query truncates lineage with localCheckpoint
    # (shared-frame reuse), hiding the windows from explain -- audit the
    # full un-checkpointed composition instead
    monkeypatch.setattr(t, "local_checkpoint", lambda df: df)
    plan = _plan(spark, t.vocab_growth(spark, sf_dir))
    # per-doc cumsum windows (over n_tokens/n_new) carry a bucket
    # partition spec: `..., [bucket#N], [doc_id ASC]`
    per_doc = re.findall(r"Window \[sum\(n_tokens#[^\n]*", plan)
    assert per_doc and all(
        re.search(r"\], \[bucket#\d+L\], \[doc_id", w) for w in per_doc
    ), plan
    # the ONLY unpartitioned windows are the bucket-offset cumsums over
    # the |docs|/VOCAB_BUCKET-row frame (sum(bt)/sum(bn))
    unpart = [
        w
        for w in re.findall(r"Window \[[^\n]*", plan)
        if not re.search(r"\], \[[a-z_]+#\d+L?\], \[", w)
    ]
    assert unpart and all("sum(bt#" in w for w in unpart), plan
    assert "Cartesian" not in plan, plan


def test_pareto_frontier_collapses_before_windows(spark, sf_dir):
    """The corpus must aggregate onto the (date, price) grid BELOW both
    windows: the single-partition frontier scan may only ever see the
    bounded per-date frame, never order rows."""
    from streamprocessing_with_kafka_spark.operators import analytics as an

    plan = _plan(spark, an.pareto_frontier(spark, sf_dir))
    assert "Cartesian" not in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    # the plan string prints root-first, so "below both windows" means
    # AFTER the last Window line: the grid aggregate (and the corpus
    # scan) must both appear there
    below_windows = plan[plan.rindex("Window"):]
    assert "HashAggregate" in below_windows, plan
    assert "Scan parquet" in below_windows, plan


def test_streaks_windows_are_user_partitioned(spark, sf_dir):
    """Every window carries the user_id partition spec; the corpus
    collapses to distinct (user, day) in one shuffle first."""
    from streamprocessing_with_kafka_spark.operators import timeseries as ts

    plan = _plan(spark, ts.user_streaks(spark, sf_dir))
    for w in re.findall(r"Window \[[^\n]*", plan):
        assert re.search(r"\], \[user_id#\d+L\], \[", w), w
    assert "Cartesian" not in plan, plan


def test_interval_stab_has_no_inequality_join(spark, sf_dir):
    """The stabbing join must compile to the day-partitioned sweep:
    equi-joins only (the lineitem last-ship hop), no BNLJ/cartesian
    range join anywhere, windows partitioned by day."""
    from streamprocessing_with_kafka_spark.operators import windows as wi

    plan = _plan(spark, wi.orders_open_at_start(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Cartesian" not in plan, plan
    for w in re.findall(r"Window \[[^\n]*", plan):
        assert re.search(r"\], \[day#\d+\], \[", w), w


def test_nearest_join_single_shuffle_no_nested_loop(spark, sf_dir):
    """The nearest-event join must be ONE user-window pass -- never the
    oracle's per-row nested loop (BNLJ/cartesian)."""
    from streamprocessing_with_kafka_spark.operators import joins as j

    plan = _plan(spark, j.nearest_join_events(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert _n_shuffles(plan) == 1, plan


def test_ship_latency_two_bounded_shuffles(spark, sf_dir):
    from streamprocessing_with_kafka_spark.operators import analytics as an

    plan = _plan(spark, an.ship_latency_monthly(spark, sf_dir))
    assert "Cartesian" not in plan, plan
    assert _n_shuffles(plan) <= 2, plan


def test_mode_window_runs_on_collapsed_counts(spark, sf_dir):
    """The ranking window must sit ABOVE the counts aggregate (root
    printed first: Window appears before the HashAggregates in the
    string and the aggregate below it), so it only ever sees the
    bounded (nation, segment) frame."""
    from streamprocessing_with_kafka_spark.operators import analytics as an

    plan = _plan(spark, an.mode_segment_by_nation(spark, sf_dir))
    below_window = plan[plan.rindex("Window"):]
    assert "HashAggregate" in below_window and "Scan parquet" in below_window, plan
    assert _n_shuffles(plan) <= 2, plan


def test_correlations_one_aggregate_pass(spark, sf_dir):
    """All moments for every pair collect in ONE aggregate over ONE
    lineitem scan: a single exchange (the 1-row final aggregate), no
    joins, no per-pair passes."""
    from streamprocessing_with_kafka_spark.operators import profile as pr

    plan = _plan(spark, pr.numeric_correlations(spark, sf_dir))
    assert plan.count("Scan parquet") == 1, plan
    assert _n_shuffles(plan) == 1, plan
    assert "Join" not in plan, plan


def test_zipf_head_extracts_via_take_ordered(spark, sf_dir):
    """The vocabulary head must come from a distributed partial top-K
    (TakeOrderedAndProject), never a full global sort of the vocab."""
    from streamprocessing_with_kafka_spark.operators import text as t

    plan = _plan(spark, t.zipf_fit(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_count_min_expands_vocab_not_tokens(spark, sf_dir):
    """The DEPTH-way cell expansion must sit ABOVE the term-count
    aggregate (plan prints root-first: the aggregate and scan appear
    after the last Generate), so the explode multiplies the
    vocabulary, never the raw token stream."""
    from streamprocessing_with_kafka_spark.operators import sketches as sk

    plan = _plan(spark, sk.count_min_estimates(spark, sf_dir))
    assert "Cartesian" not in plan, plan
    # the raw-token explode feeding the count aggregate is the ONE
    # allowed corpus-sized Generate; every CELL expansion (the
    # array-of-(d, idx) structs) must instead take counted VOCABULARY
    # rows as input -- its schema list carries the aggregated c#NL
    cell_gens = re.findall(r"Generate explode\(array\(struct\(d,[^\n]*", plan)
    assert cell_gens, plan
    for g in cell_gens:
        assert re.search(r"c#\d+L\]", g), g


def test_cohort_ltv_cumsum_is_cohort_partitioned(spark, sf_dir):
    from streamprocessing_with_kafka_spark.operators import analytics as an

    plan = _plan(spark, an.cohort_ltv(spark, sf_dir))
    for w in re.findall(r"Window \[[^\n]*", plan):
        assert re.search(r"\], \[cohort#\d+\], \[", w), w
    assert "Cartesian" not in plan, plan


def test_abc_parts_windows_are_bucket_partitioned(spark, sf_dir):
    """The value-ordered cumsum decomposes like vocab_growth: per-part
    windows carry the bucket partition spec; the only unpartitioned
    windows are the ABC_BUCKETS-row offset cumsums."""
    from streamprocessing_with_kafka_spark.operators import analytics as an

    plan = _plan(spark, an.abc_parts(spark, sf_dir))
    big = [
        w
        for w in re.findall(r"Window \[[^\n]*", plan)
        if "revenue#" in w and "brev#" not in w
    ]
    assert big and all(
        re.search(r"\], \[bucket#\d+\], \[", w) for w in big
    ), plan
    unpart = [
        w
        for w in re.findall(r"Window \[[^\n]*", plan)
        if not re.search(r"\], \[[a-z_]+#\d+L?\], \[", w)
    ]
    assert unpart and all("brev#" in w for w in unpart), plan


def _executed_final(spark, df) -> str:
    """Finalized adaptive plan: what a cluster run actually schedules
    (AQE join conversions applied, reused exchanges deduped,
    localCheckpoint lineage truncated)."""
    df.collect()
    return _plan(spark, df).split("== Initial Plan ==")[0]


def _distinct_exchanges(plan: str) -> int:
    return len(
        {
            re.sub(r",?\s*\[plan_id=\d+\]", "", m.group(0))
            for m in re.finditer(r"Exchange (?:hash|range|Single)[^\n]*", plan)
        }
    )


def test_events_health_executed_shape(spark, sf_dir):
    """VERDICT r4 item 4: the static audit bills this 12 shuffles, but
    the constituents' identical hourly-bucket subplans dedupe via
    ReusedExchange at runtime -- the executed plan carries <=6 distinct
    exchanges over <=3 events scans, all joins broadcast (the glue
    frames are |event_type|-sized)."""
    final = _executed_final(
        spark, registry()["pipeline_events_health"].fn(spark, sf_dir)
    )
    assert _distinct_exchanges(final) <= 6, final
    assert final.count("FileScan") <= 3, final
    assert "SortMergeJoin" not in final, final
    assert "ReusedExchange" in final, final


def test_export_packed_executed_shape(spark, sf_dir):
    """The iterative CC stage localCheckpoints, so its label-propagation
    exchanges never appear in the export query's own schedule: the
    executed tail is the gate joins + the one shard-keyed packing
    exchange (<=3 distinct), with no sort-merge join."""
    final = _executed_final(
        spark, registry()["pipeline_export_packed"].fn(spark, sf_dir)
    )
    assert _distinct_exchanges(final) <= 3, final
    assert "SortMergeJoin" not in final, final


def test_gapfill_is_joinless_two_exchange(spark, sf_dir):
    """The r8 gapfill rewrite: each observed hourly row emits its own
    following gap run (lead() + sequence explode carrying its value), so
    the dense-spine left join and the unbounded LOCF window are GONE --
    the plan is two user-keyed exchanges (hourly agg, lead window) and
    zero joins. At 100 TB the former spine join re-shuffled users x
    hours rows a third time for no information gain."""
    plan = _plan(spark, registry()["events_gapfill"].fn(spark, sf_dir))
    assert "Join" not in plan, plan
    assert _n_shuffles(plan) <= 2, plan


def test_pq_topk_executed_shape(spark, sf_dir):
    """The r7 PQ rewrite (subspace-indexed codebook broadcast) pinned at
    runtime: the ADC scan must keep the corpus probe-side everywhere --
    no sort-merge/shuffled-hash join ever touches it, the only
    nested-loop nodes are the two one-row model-frame broadcast
    crossJoins (codebook + query vector), and the shuffle budget stays
    at the model/topk exchanges (<=5), never an O(corpus) repartition."""
    final = _executed_final(spark, registry()["ann_topk_pq"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in final, final
    assert "ShuffledHashJoin" not in final, final
    assert final.count("BroadcastNestedLoopJoin") <= 2, final
    assert "CartesianProduct" not in final, final
    assert _n_shuffles(final) <= 5, final


def test_pca_power_executed_shape(spark, sf_dir):
    """The r7 PCA rewrite (upper-triangle covariance, mirrored on the
    model frame) pinned at runtime: corpus never sort-merges, the only
    nested-loop nodes are one-row broadcast scalar/model crossJoins, and
    the covariance reduction stays within the bounded shuffle budget."""
    final = _executed_final(
        spark, registry()["embedding_pca_power"].fn(spark, sf_dir)
    )
    assert "SortMergeJoin" not in final, final
    assert "ShuffledHashJoin" not in final, final
    assert final.count("BroadcastNestedLoopJoin") <= 2, final
    assert "CartesianProduct" not in final, final
    assert _n_shuffles(final) <= 5, final


def test_corpus_report_executed_shape(spark, sf_dir):
    """Static audit shows 2 SMJ; at runtime AQE converts both to
    broadcast (the per-source glue frames are |sources|-sized), so the
    corpus is never sort-merged against anything."""
    final = _executed_final(
        spark, registry()["pipeline_corpus_report"].fn(spark, sf_dir)
    )
    assert "SortMergeJoin" not in final, final
    assert _distinct_exchanges(final) <= 9, final


def _mass_partial_parent(spark, combine: bool) -> str:
    """The tree line directly above the pagerank mass partial-aggregate
    node (its parent operator) in one round's formatted plan."""
    from streamprocessing_with_kafka_spark.operators.graph import (
        _pagerank_round,
        cooccurrence_edges,
    )

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    e = cooccurrence_edges(ev)
    directed = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    n_row = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = deg.join(F.broadcast(n_row)).select(
        "src", "degree", F.round(1.0 / F.col("n"), 6).alias("pr")
    )
    df = _pagerank_round(directed, deg, n_row, ranks, 4, combine)
    plan = _plan(spark, df, "formatted")
    m = re.search(r"\((\d+)\) HashAggregate[^(]*\nInput[^\n]*\nKeys \[1\]: \[dst#\d+L\]\nFunctions \[1\]: \[partial_sum", plan)
    assert m, plan
    tree = plan.split("\n\n")[0].splitlines()
    idx = next(i for i, l in enumerate(tree) if f"HashAggregate ({m.group(1)})" in l)
    return tree[idx - 1]


def test_pagerank_round_combine_keeps_map_side_combine(spark):
    """Lake-scale branch: the mass aggregate owns its exchange, so the
    |E|-row contrib shuffle carries map-side-combined partials (the
    partial aggregate's parent is the Exchange, not the final agg)."""
    assert "Exchange" in _mass_partial_parent(spark, combine=True)


def test_pagerank_round_pin_keeps_width(spark):
    """Test-scale branch: the width pin's REPARTITION_BY_NUM exchange
    sits below the aggregate pair (partial's parent is the final agg);
    AQE cannot coalesce the pinned exchange."""
    assert "HashAggregate" in _mass_partial_parent(spark, combine=False)


def test_last_ship_per_order_combines_then_pins_width(spark, sf_dir):
    """The sweeps' shared lineitem aggregate: partial_max below the fact
    exchange (map-side combine) and a pinned round-robin fan-out above
    it for the interval explode (AQE must not coalesce it)."""
    from streamprocessing_with_kafka_spark.operators.windows import (
        _last_ship_per_order,
    )

    plan = _plan(spark, _last_ship_per_order(spark, sf_dir), "formatted")
    m = re.search(r"\((\d+)\) HashAggregate[^(]*\nInput[^\n]*\nKeys \[1\]: \[l_orderkey#\d+L\]\nFunctions \[1\]: \[partial_max", plan)
    assert m, plan
    tree = plan.split("\n\n")[0].splitlines()
    idx = next(i for i, l in enumerate(tree) if f"HashAggregate ({m.group(1)})" in l)
    assert "Exchange" in tree[idx - 1], plan
    assert re.search(r"RoundRobinPartitioning\(\d+\), REPARTITION_BY_NUM", plan), plan
