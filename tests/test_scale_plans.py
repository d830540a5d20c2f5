"""Physical-plan regression tests — the scale posture of SCALE.md,
enforced. Each test asserts properties of the *optimized plan*, not
results: filters reach the parquet scan, dimension joins broadcast,
top-k compiles to TakeOrderedAndProject (per-partition heap, not a
global sort), and hot paths stay inside whole-stage codegen. A
refactor that silently turns a broadcast join into a sort-merge join
or drops a pushdown fails here at sf0.001 in seconds — long before it
costs hours at 100 TB.
"""

from __future__ import annotations

import pytest

from razulibs_spark import queries as Q
from razulibs_spark.session import scratch_path

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q1_pushdown_and_pruning(spark):
    plan = _plan(Q.q1_pricing_summary(spark, SF))
    # The shipdate filter reaches the parquet scan…
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1][:200]
    # …and column pruning keeps the fat columns out of the scan.
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_comment" not in read_schema
    # Aggregation is partial→final (map-side combine), one shuffle.
    assert plan.count("HashAggregate") >= 2


def test_j1_dimension_join_broadcasts(spark):
    plan = _plan(Q.j1_lookup_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q3_all_joins_broadcast_all_filters_pushed(spark):
    plan = _plan(Q.q3_shipping_priority(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "c_mktsegment" in plan.split("PushedFilters")[1][:300]


def test_t1_topk_is_heap_not_global_sort(spark):
    plan = _plan(Q.t1_topk_orders(spark, SF))
    assert "TakeOrderedAndProject" in plan
    # No Exchange SinglePartition before the limit — the heap merges
    # per-partition results on the driver instead.
    assert "Exchange SinglePartition" not in plan


def test_o2_fanout_stays_in_codegen_no_shuffle(spark):
    plan = _plan(Q.o2_entity_fanout(spark, SF))
    # explode-based fan-out is a narrow op: no exchange anywhere.
    assert "Exchange" not in plan
    assert "codegen id" in plan
    # and no Python boundary on the hot path.
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocab_resolve_broadcasts(spark):
    plan = _plan(Q.j2_vocab_resolve(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_dedup_partial_aggregates(spark):
    plan = _plan(Q.dedup_exact(spark, SF))
    # partial→final: the shuffle carries one row per distinct hash.
    assert plan.count("HashAggregate") >= 2


def test_flagship_no_python_udf_on_hot_path(spark):
    from razulibs_spark.plans.flagship import flagship_triples

    plan = _plan(flagship_triples(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_jsonld_reads_list_one_root_with_no_python_worker(spark, tmp_path):
    from razulibs_spark.session import local_frame
    from razulibs_spark.sources.jsonld import (
        read_jsonld, scan_sip_dir, write_jsonld_per_entity,
    )

    sip = tmp_path / "sip"
    docs = local_frame(spark, [(f"e{i}", f'{{"@id": "s{i}", "p": "o"}}') for i in range(3)],
                       "entity string, jsonld string")
    write_jsonld_per_entity(docs, str(sip))
    (sip / "manifest.json").write_text("{}\n")
    for df in (read_jsonld(spark, str(sip / "*.meta.json")), scan_sip_dir(spark, str(sip))):
        plan = _plan(df)
        for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan
        # the directory is the one listed root; a glob lists every file
        assert f"Location: InMemoryFileIndex [file:{sip}]" in plan


def test_ivf_assign_is_hash_aggregate_not_window(spark):
    plan = _plan(Q.sim_ivf_assign(spark, SF))
    # argmax via max_by hash aggregate — a per-vector window sort
    # would show up as Window + Sort over the full corpus.
    assert "Window" not in plan


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Co-located storage: both sides bucketed+sorted on the join key →
    the join plans with zero Exchange and zero Sort (the write-time
    shuffle is amortized over every subsequent join)."""
    from razulibs_spark.sources.bucketed import co_located_join, save_bucketed

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}'")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet")
        lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
        save_bucketed(orders.withColumnRenamed("o_orderkey", "okey"),
                      "bdemo.orders_b", "okey", buckets=8)
        save_bucketed(lineitem.withColumnRenamed("l_orderkey", "okey"),
                      "bdemo.lineitem_b", "okey", buckets=8)
        joined = co_located_join(spark, "bdemo.lineitem_b", "bdemo.orders_b", "okey")
        plan = _plan(joined)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert plan.count("Bucketed: true") == 2
        # one file per bucket (save_bucketed pre-repartitions)
        assert "SelectedBucketsCount: 8 out of 8" in plan
        # and the result is actually correct
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE IF EXISTS bdemo CASCADE")


def test_partition_pruning(spark, tmp_path):
    """Hive-partitioned manifest layout on (source, dataset): a
    dataset-filtered read prunes to the matching directories — the
    scan's PartitionFilters carries the predicate and the data filters
    list stays empty (nothing evaluated row-by-row)."""
    from pyspark.sql import functions as F

    from razulibs_spark.sources.bucketed import save_partitioned

    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .withColumn("source", F.lit("G0321"))
        .withColumn("dataset", (F.col("doc_id") % 4).cast("string"))
    )
    root = str(tmp_path / "manifest_store")
    save_partitioned(docs, root, "source", "dataset")

    pruned = spark.read.parquet(root).filter(
        (F.col("source") == "G0321") & (F.col("dataset") == "2")
    )
    plan = _plan(pruned)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:300]
    assert "dataset" in pf and "source" in pf
    # the predicate resolved entirely at directory level: no row-level
    # Filter node survives in the plan.
    assert "(2) Filter" not in plan and "* Filter" not in plan
    assert pruned.count() == docs.filter(F.col("dataset") == "2").count()


def test_salted_join_spreads_hot_keys(spark):
    plan = _plan(Q.j_salted_skew_join(spark, SF))
    # The salted key pair is the join key — no broadcast (that would
    # defeat the demo) and no nested loop.
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan
    assert "_salt" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q7_prunes_nations_before_fact_joins(spark):
    plan = _plan(Q.q7_nation_volume(spark, SF))
    # Both fact-side dimension joins broadcast; the nation pair filter
    # reached the nation scan (manual disjunction pruning).
    assert plan.count("BroadcastHashJoin") >= 3
    assert "n_name" in plan.split("PushedFilters")[1][:400] or "NATION_" in plan


def test_q16_anti_join_not_subquery_loop(spark):
    plan = _plan(Q.q16_supplier_parts(spark, SF))
    assert "LeftAnti" in plan
    # part dimension broadcast with its filters pushed to the scan
    assert "BroadcastHashJoin" in plan
    assert "p_size" in plan.split("PushedFilters", 2)[-1][:600] or "p_brand" in plan


def test_grouping_sets_single_pass(spark):
    plan = _plan(Q.a_grouping_sets(spark, SF))
    # Expand feeds ONE aggregation pipeline (partial+final), not one
    # job per grouping set.
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 2


def test_new_tpch_shapes_degrade_to_smj_not_nested_loop(spark):
    """With broadcast disabled (simulating dimensions too large to
    broadcast at 100x), the round-3 TPC-H shapes must degrade to
    sort-merge/shuffled-hash joins on their equi-keys — never a
    BroadcastNestedLoopJoin or cartesian product."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ["q8_market_share", "q10_returned_items",
                     "q12_priority_by_linestatus", "q21_waiting_suppliers",
                     "q17_small_qty_revenue"]:
            plan = _plan(Q.QUERIES[name](spark, SF))
            assert "BroadcastNestedLoopJoin" not in plan, name
            assert "CartesianProduct" not in plan, name
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, name
        # q2 explicitly broadcasts its selectivity-bounded sides
        # (filtered parts, filtered suppliers, per-part minima) — hints
        # legitimately override the threshold; just never a nested loop.
        plan = _plan(Q.QUERIES["q2_mincost_supplier"](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_scalar_cutoff_joins_stay_broadcast_even_when_disabled(spark):
    """The scalar-aggregate cutoffs (q11 total, q15 max) are 1-row
    subqueries the queries explicitly broadcast — they must stay
    broadcast-shaped regardless of the threshold config (a 1-row
    nested-loop join is correct and O(n))."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ["q11_important_parts", "q15_top_supplier"]:
            plan = _plan(Q.QUERIES[name](spark, SF))
            assert "Broadcast" in plan, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_neardup_headline_has_no_cartesian_or_bnlj(spark):
    """The exact neardup headline must run as the blocked equi-join
    grid (bounded tiles + BLAS compare), never as an unbounded
    crossJoin: no CartesianProduct or BroadcastNestedLoopJoin node may
    appear anywhere in the optimized plan."""
    plan = _plan(Q.QUERIES["sim_embedding_neardup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_analytics_windows_single_exchange_per_key(spark):
    """Rolling stats / SCD2: the user_id windows plan as one hash
    Exchange on user_id (reused by the chained windows), never an
    Exchange SinglePartition (a global sort would serialize the whole
    event log through one task)."""
    for name in ("w_rolling_stats", "o_scd2_history", "events_markov"):
        plan = _plan(Q.QUERIES[name](spark, SF))
        assert "Exchange SinglePartition" not in plan, name
        assert "hashpartitioning(user_id" in plan, name


def test_grouped_topk_is_distributed_not_driver_heap(spark):
    """Per-group top-k stays a partitioned window sort — no
    TakeOrderedAndProject (driver heap) and no single-partition
    exchange; sort run length is bounded by group size."""
    plan = _plan(Q.QUERIES["t_grouped_topk"](spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(o_orderpriority" in plan


def test_edit_distance_dedup_is_blocked_equi_join(spark):
    """Fuzzy Levenshtein dedup: candidates come from an equi-join on
    (lang, length-bucket) — never a cartesian/BNLJ — and the
    block-size cap join broadcasts."""
    plan = _plan(Q.QUERIES["dedup_edit_distance"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_chunk_dedup_no_udf_no_single_partition(spark):
    """Chunk dedup: slice fan-out is pure codegen (no Python UDF /
    mapInPandas on the path) and the first-occurrence window hashes
    on chunk_text."""
    plan = _plan(Q.QUERIES["text_chunk_dedup"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange SinglePartition" not in plan


def test_rfm_ntile_no_single_partition_exchange(spark):
    """RFM's three NTILEs go through the two-phase rank scheme — no
    global-window Exchange SinglePartition anywhere in the plan."""
    plan = _plan(Q.QUERIES["events_rfm"](spark, SF))
    assert "Exchange SinglePartition" not in plan


def test_interval_overlap_is_binned_equi_join(spark):
    """Interval×interval overlap joins on (custkey, bin) — never a
    cartesian/BNLJ from the inequality predicate."""
    plan = _plan(Q.QUERIES["j_interval_overlap"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_forward_single_key_exchange(spark):
    """Forward as-of: same sort-carry shape as backward — one hash
    Exchange on the key, no cross product."""
    plan = _plan(Q.QUERIES["j_asof_forward"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(user_id" in plan


def test_anomaly_mad_stats_broadcast(spark):
    """MAD anomaly: the per-type stats tables broadcast back onto the
    log (|event types| rows) — no sort-merge join of the log against
    itself."""
    plan = _plan(Q.QUERIES["events_anomaly_mad"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_bloom_probe_side_broadcast_no_cartesian(spark):
    """Bloom leak report: every bit-probe is a broadcast hash join of
    the eval stream against the tiny bitmap table — no cartesian and
    no sort-merge of the probe side before the final semi verify."""
    plan = _plan(Q.QUERIES["contamination_bloom"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3  # n_hashes probes


def test_heavy_hitters_recount_is_semi_join_partial_agg(spark):
    """Heavy hitters: the exact recount filters through a broadcast
    LEFT SEMI against the MG candidates and aggregates partial→final;
    the full stream is never hash-exchanged unfiltered."""
    plan = _plan(Q.QUERIES["a_heavy_hitters"](spark, SF))
    assert "LeftSemi" in plan
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_column_stats_no_expand(spark):
    """ANALYZE stats: per-column branches must NOT plan through the
    Expand operator (the multi-distinct row-duplication path — 6x
    slower measured); each branch is a plain partial/final agg over a
    single-column pruned scan."""
    plan = _plan(Q.QUERIES["o_analyze_stats"](spark, SF))
    assert "Expand" not in plan
    assert plan.count("HashAggregate") >= 2


def test_temperature_mix_is_broadcast_filter_no_corpus_shuffle(spark):
    plan = _plan(Q.sample_temperature_mix(spark, SF))
    # Rate table broadcasts back onto the corpus; the corpus itself is
    # never exchanged for the acceptance filter.
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cdc_apply_is_partial_final_aggregate_no_window(spark):
    plan = _plan(Q.o_cdc_apply(spark, SF))
    # max_by(struct) compiles to a two-phase (partial→final) sort-based
    # aggregate — each partition still reduces to ≤1 candidate per key
    # before the shuffle; no window, no single-partition funnel.
    assert "Window" not in plan
    assert (
        plan.count("HashAggregate")
        + plan.count("ObjectHashAggregate")
        + plan.count("SortAggregate")
        >= 2
    )
    assert "Exchange SinglePartition" not in plan


def test_filter_funnel_is_one_scan_one_aggregate(spark):
    plan = _plan(Q.quality_filter_funnel(spark, SF))
    # One corpus scan per repetition-signal branch (word + bigram)
    # feeds the whole funnel: every stage is a conditional sum in the
    # same aggregate, not a job per stage. (The formatted plan string
    # can render a node twice under AQE, hence <= 4.)
    assert 1 <= plan.count("Scan parquet") <= 4
    assert "CartesianProduct" not in plan


def test_random_projection_is_pure_narrow_projection(spark):
    plan = _plan(Q.sim_random_projection(spark, SF))
    # No shuffle, no UDF: the sign matrix is a plan literal and the
    # folds are Catalyst HOFs pipelined into the scan.
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lm_score_counts_reduce_before_probe_joins(spark):
    plan = _plan(Q.text_lm_score(spark, SF))
    # Train count tables partial-aggregate before their shuffles, and
    # the scalar vocab size joins as a broadcast, never a cartesian
    # blowup of the eval side.
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan
    # Exactly one nested-loop join shape: the 1-row scalar V
    # broadcast. (The formatted string may render the node twice.)
    assert 1 <= plan.count("BroadcastNestedLoopJoin") <= 2


def test_decon_split_probe_and_evict_are_hash_joins(spark):
    plan = _plan(Q.pipeline_decon_split(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_copurchase_topk_is_heap_not_global_sort(spark):
    plan = _plan(Q.events_copurchase_pairs(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_vocab_coverage_vocab_probe_broadcasts(spark):
    plan = _plan(Q.text_vocab_coverage(spark, SF))
    # The top-N vocab is a heap, and the corpus-side probe against it
    # is a broadcast join (the vocab is N rows, never shuffled-with).
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_resample_ffill_windows_are_keyed(spark):
    plan = _plan(Q.j_resample_ffill(spark, SF))
    for frag in plan.split("Arguments: ")[1:]:
        head = frag.split("\n")[0]
        if "windowspecdefinition" in head:
            assert "user_id" in head
    assert "CartesianProduct" not in plan


def test_grouped_zscore_is_broadcast_join_no_window(spark):
    plan = _plan(Q.a_grouped_zscore(spark, SF))
    # Group stats come back via broadcast; the per-row z needs no
    # window at all.
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition" not in plan


def test_winsorize_threshold_join_broadcasts(spark):
    plan = _plan(Q.a_winsorize(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition" not in plan


def test_new_returning_no_cartesian(spark):
    plan = _plan(Q.events_new_returning(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial/final combine


def test_cosine_topk_guards_oversized_query_broadcast(spark, sf_dir):
    """cosine_topk must refuse to broadcast an over-limit query set
    (VERDICT r4 item 3): the plan never reaches execution, so no
    BroadcastExchange of a corpus-sized query matrix can occur."""
    import pytest

    from razulibs_spark import tables
    from razulibs_spark.operators.similarity import cosine_topk

    e = tables.load(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="max_broadcast_queries"):
        cosine_topk(e, e, k=5, max_broadcast_queries=10)


def test_pq_topk_guards_oversized_query_lut(spark, sf_dir):
    """pq_topk / ivfpq_topk build a per-query ADC LUT on the driver
    (VERDICT r5 item 2): an over-limit query set must raise with
    batching advice BEFORE codebook training or any collect runs."""
    import pytest

    from razulibs_spark import tables
    from razulibs_spark.operators.similarity import ivfpq_topk, pq_topk

    e = tables.load(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="Batch the query set"):
        pq_topk(e, e, k=5, max_broadcast_queries=10)
    with pytest.raises(ValueError, match="Batch the query set"):
        ivfpq_topk(e, e.limit(4), e, k=5, max_broadcast_queries=10)


def test_broadcast_guard_optout_skips_probe(spark, sf_dir):
    """max_broadcast_queries=None must skip the probe job entirely
    (ADVICE r5): a query frame bigger than any default limit is
    accepted when the caller opts out."""
    from razulibs_spark.operators.similarity import _guard_broadcast_queries

    class _Boom:
        def limit(self, n):  # probe would call this
            raise AssertionError("probe executed despite opt-out")

    _guard_broadcast_queries(_Boom(), None, "op", "advice")


def test_jsonld_docs_single_owner_exchange(spark, sf_dir):
    """The streaming doc builder shuffles ONCE on the owning entity
    and crosses the Python boundary ONCE — no per-entity grouping
    operator, no second Exchange."""
    from razulibs_spark.queries import _o2_triples_full
    from razulibs_spark.sources.jsonld import jsonld_docs

    plan = _plan(jsonld_docs(_o2_triples_full(spark, SF)))
    # Exactly one hash shuffle, keyed on the owning entity (the widen
    # upstream is RoundRobin and only exists for single-split inputs).
    assert plan.count("hashpartitioning(") == 1
    assert "_owner" in plan.split("hashpartitioning(")[1][:40]
    # One Arrow stage (MapInPandas), not a grouped applyInPandas.
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" in plan


def test_multimodal_decode_no_join_no_cartesian(spark):
    """Synth + decode is two narrow Arrow passes over one scan: no
    join of any kind can appear in the plan."""
    plan = _plan(Q.multimodal_decode(spark, SF))
    for bad in ("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoop"):
        assert bad not in plan


def test_peak_concurrency_single_sessionize(spark, sf_dir):
    """Boundary points explode from ONE traversal of the session
    table: exactly one user-keyed window Exchange feeds the point
    generator (a 3-branch union would show three). Pinned on the
    points subplan: the final query's cumsum checkpoints its input,
    which hides this stage from the end-to-end explain."""
    from razulibs_spark import tables
    from razulibs_spark.operators.analytics import session_boundary_points

    plan = _plan(
        session_boundary_points(tables.load(spark, SF, "events"))
    )
    assert plan.count("hashpartitioning(user_id") == 1, plan[:2000]


def test_source_cap_single_scan_partial_topk(spark):
    """source_cap computes the quality score inline (ONE parquet scan,
    no self-join) and the keyed rank compiles to WindowGroupLimit —
    Spark's two-phase top-k that prunes per partition BEFORE the
    source shuffle, the shape that keeps mega-hosts from flooding the
    exchange at 100 TB."""
    plan = _plan(Q.curate_source_cap(spark, SF))
    # one scan detail block == one parquet scan (no self-join rescan)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan[:1500]
    assert "WindowGroupLimit" in plan
    assert plan.count("hashpartitioning(source") == 1


def test_hash_classifier_codegen_single_agg_shuffle(spark):
    """hash_classifier stays JVM-side end-to-end (no Python eval in
    the plan), builds bigrams with zip_with inside codegen, and the
    score is one partial->final aggregate — a single doc_id shuffle
    for the whole corpus pass."""
    plan = _plan(Q.text_hash_classifier(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "zip_with" in plan
    assert plan.count("HashAggregate") >= 2
    assert plan.count("hashpartitioning(doc_id") <= 1, plan[:2000]


def test_dsir_importance_broadcasts_bucket_table(spark):
    """dsir_importance never shuffles the corpus on a feature key:
    the ≤1024-row bucket-weight table BROADCASTS back onto the token
    stream (two scans of the corpus, the 100 TB-correct trade vs
    caching a corpus-sized token stream), stays JVM-side, and the
    only wide exchange is the doc-keyed sum."""
    plan = _plan(Q.text_dsir_importance(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "BroadcastExchange" in plan
    assert plan.count("hashpartitioning(b#") == 1  # bucket-count agg only


def test_multitouch_attribution_windows_keyed(spark):
    """The credit-split count window is keyed by purchase id and the
    join is an equi-join on user (with time-range refinement) — no
    global window, no nested-loop product."""
    plan = _plan(Q.events_multitouch_attribution(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "hashpartitioning(p_id" in plan


def test_orc_roundtrip_prunes_partitions_and_pushes_filters(spark):
    """The ORC re-read must prune to the two selected priority
    partitions (no full-directory scan) and push the price predicate
    into the ORC reader — format parity with the parquet posture."""
    plan = _plan(Q.io_orc_roundtrip(spark, SF))
    scan = plan[plan.index("Scan orc") :]
    assert "PartitionFilters" in scan
    assert "o_orderpriority" in scan.split("PartitionFilters")[1][:300]
    assert "GreaterThan(o_totalprice" in scan.split("PushedFilters")[1][:300]


def test_avro_roundtrip_prunes_lang_partitions(spark):
    """The Avro re-read must prune to the three selected lang
    partitions (no full-directory scan) — the hive-partition layout
    prunes for any file source, Avro included."""
    plan = _plan(Q.io_avro_roundtrip(spark, SF))
    scan = plan[plan.index("Scan avro") :]
    assert "PartitionFilters" in scan
    assert "lang" in scan.split("PartitionFilters")[1][:300]
    # column pruning: the re-read projects only the 3 needed columns
    read_schema = scan.split("ReadSchema:")[1][:120]
    assert "n_chars" in read_schema and "text" not in read_schema


def test_kmeans_assignment_is_single_narrow_map(spark):
    """kmeans_lloyd's assignment stage inlines the centroid literals:
    the returned plan must hold no Exchange, no Join, and no Python
    boundary — one codegen'd map over the scan."""
    plan = _plan(Q.sim_kmeans_lloyd(spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_orc_store_keyed_by_sf_dir(spark):
    """The ORC write is eager but the read is lazy: two constructions
    at different scale factors must not clobber each other's store."""
    a = Q.io_orc_roundtrip(spark, "/root/testdata/sf0.001")
    b = Q.io_orc_roundtrip(spark, "/root/testdata/sf0.01")
    n_a = sum(r.n_orders for r in a.collect())
    n_b = sum(r.n_orders for r in b.collect())
    direct = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter("o_orderpriority IN ('1-URGENT','2-HIGH') AND o_totalprice > 100000")
        .count()
    )
    assert n_a == direct  # still reads ITS OWN store after b's write
    assert n_b > n_a


def test_triangle_count_uses_equi_joins_only(spark):
    """Wedge building and closure probing must be equi-joins —
    a CartesianProduct or nested loop over EDGE-sized inputs is
    quadratic death on a 100 TB edge list. The only nested-loop
    joins allowed are the two 1-row × 1-row stat-assembly
    crossJoins (n_nodes × n_edges × n_triangles)."""
    import re

    from razulibs_spark.operators.graph import _triangle_stats, canonical_edges

    edges = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select(
            Q.F.col("l_orderkey").alias("src"),
            Q.F.col("l_partkey").alias("dst"),
        )
    )
    plan = _plan(_triangle_stats(canonical_edges(edges)))
    assert "CartesianProduct" not in plan
    # formatted plans list each operator twice (tree + detail header);
    # count the detail headers. The only nested-loop joins are the two
    # 1-row × 1-row stat-assembly crossJoins.
    bnlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(bnlj) == 2
    # the degree attach broadcasts (node-sized), never an edge shuffle
    assert "BroadcastHashJoin" in plan
    # no wedge materialization: exactly the adjacency explodes remain
    assert "Generate" in plan


def test_jsonl_gz_reads_with_explicit_schema(spark):
    """The JSONL re-read must use the provided schema (no inference
    scan) and the store must actually be gzip-compressed."""
    import glob

    df = Q.io_jsonl_gz_roundtrip(spark, SF)
    df.collect()
    files = glob.glob(scratch_path("jsonl_gz_sf0.001/*.json.gz"))
    assert files, "expected gzip-compressed part files"
    assert [f.name for f in df.schema.fields] == [
        "lang", "n_docs", "sum_chars", "n_sources"
    ]


def test_schema_evolution_merges_and_buckets_legacy(spark):
    """mergeSchema must surface the union schema — legacy files yield
    NULL for the added column, never a dropped row or a failed read."""
    df = Q.io_schema_evolution(spark, SF)
    rows = {r.priority: r.n_orders for r in df.collect()}
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    n_legacy = orders.filter("month(o_orderdate) <= 6").count()
    assert rows["<legacy>"] == n_legacy
    assert sum(rows.values()) == orders.count()


def test_url_canonical_single_shuffle_no_udf(spark):
    """URL dedup: the canonical key is a pure codegen expression in
    the scan stage — exactly one Exchange (the canonical-key groupBy)
    and no Python evaluation node anywhere."""
    plan = _plan(Q.dedup_url_canonical(spark, SF))
    # one Exchange node = two mentions (tree line + detail header)
    assert plan.count("Exchange") == 2
    assert "Python" not in plan and "ArrowEval" not in plan


def test_ewma_single_window_exchange_no_udf(spark):
    """Bounded EWMA: one user-keyed window exchange, fold stays a
    JVM higher-order function — no UDF, no extra shuffle."""
    plan = _plan(Q.w_ewma(spark, SF))
    # one Exchange / one Window node = two mentions each (tree+detail)
    assert plan.count("Exchange") == 2
    assert plan.count("Window") == 2
    # the frame array materializes ONCE (a second window expression
    # would appear as _we1 in the Window node's argument list)
    assert "_we1" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_partitioned_pruning_entry_plan(spark):
    """The driver-visible hive-layout entry: the source predicate
    resolves as a PartitionFilter on the re-read (directory pruning),
    never a per-row data filter."""
    plan = _plan(Q.io_partitioned_pruning(spark, SF))
    seg = plan.split("PartitionFilters")[1][:120]
    assert "src7" in seg
    # nothing row-level survives: no Filter node, and the scan prints
    # no PushedFilters line at all (explain omits it when the data
    # filter list is empty)
    assert "PushedFilters" not in plan
    assert ") Filter" not in plan


def test_substring_spans_partial_agg_no_cartesian(spark):
    """Span stats: the occurrence count must partial-aggregate
    (map-side combine absorbs hot boilerplate spans), membership is a
    semi join, nothing is a cross product, and the mask/fan-out stays
    UDF-free codegen."""
    plan = _plan(Q.dedup_substring_spans(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("HashAggregate") >= 2  # partial -> final somewhere
    assert "LeftSemi" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_substring_multik_no_extra_scans_no_cartesian(spark):
    """Multi-k sweep: same posture as the fixed-k plan (partial agg,
    semi-join membership, zero UDF/cross product) and the SAME
    scan/explode counts as the fixed-k plan — all three k's ride one
    flattened window array, not one plan subtree per k."""
    plan = _plan(Q.dedup_substring_multik(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("HashAggregate") >= 2
    assert "LeftSemi" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    fixed = _plan(Q.dedup_substring_spans(spark, SF))
    assert plan.count("Scan parquet") == fixed.count("Scan parquet")
    assert plan.count("Generate") == fixed.count("Generate")


def test_substring_cut_mask_is_codegen_no_udf(spark):
    plan = _plan(Q.dedup_substring_cut(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "LeftSemi" in plan


def test_minhash_lsh_ml_precision_check_is_bounded(spark):
    """The ml-LSH bound-contract query: the only nested-loop join is
    the 1-row precision-boolean compose (broadcast), and the planted
    left join stays an equi join."""
    plan = _plan(Q.dedup_minhash_lsh_ml(spark, SF))
    assert "CartesianProduct" not in plan


def test_minhash_ml_reverted_persists_stay_out(spark):
    """r13 measured and REVERTED two persist points inside the ml
    minhash pipeline: persisting ``vecs`` cost 8.9 → 25.4 s (the
    InMemoryRelation hides runtime stats, so approxSimilarityJoin's
    internal joins lose their AQE broadcast conversion) and the
    pre-HashingTF aggregate variant regressed the 8-core posture ~40%.
    r14 additionally measured a full hand-rolled banded replacement
    (ReusedExchange self-join, inline int-array verify): NOT faster —
    the doubled subtree is not the bottleneck (closing writeup in
    OPTIMIZATION_r14.md). VERDICT r13 next #10: guard the operator's
    plan so a future round cannot silently re-land a persist."""
    from razulibs_spark.operators import dedup
    from razulibs_spark.tables import load

    docs = load(spark, SF, "documents")
    plan = _plan(dedup.minhash_lsh_ml(docs, threshold=0.9))
    assert "InMemoryTableScan" not in plan
    assert "InMemoryRelation" not in plan


def test_triangle_count_closure_probe_stays_broadcast(spark):
    """r13 measured and REVERTED the AQE-decided closure probe in
    graph_triangle_count (6.2 → 10.0 s: without the forced broadcast
    the probe planned sort-merge and shuffled every wedge-stream row
    with its full adjacency array attached). The query's own plan is
    an ExistingRDD (the stats row collects at construction), so the
    guard targets the internal stats frame on the small-graph path:
    the probe must be a broadcast hash join, never sort-merge."""
    from pyspark.sql import functions as F

    from razulibs_spark.operators import graph
    from razulibs_spark.tables import load

    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    edges = li.select(
        F.col("l_orderkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    canon = graph.canonical_edges(edges, "src", "dst")
    adj = graph._forward_adjacency(canon)
    plan = _plan(graph._stats_from_adj(canon, adj, broadcast_adj=True))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_frontier_assembly_broadcasts_robots_no_cartesian(spark):
    """The crawl capstone: the per-host robots dim must broadcast, the
    seen-probe is an equi join on the canonical url, and nothing in
    the chain is a cross product or row-at-a-time Python."""
    plan = _plan(Q.pipeline_frontier_assembly(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_crawl_schedule_broadcasts_delays_window_per_host(spark):
    """The politeness schedule: delay dim broadcasts (tiny per-host),
    the offset window partitions BY HOST (never a global sort), and
    the only Python is the pandas_udf over the robots dim — the
    frontier fact path stays codegen."""
    plan = _plan(Q.pipeline_crawl_schedule(spark, SF))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # window partitioning carries the host key, not an empty clause
    assert "partitionBy" not in plan.lower() or "host" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_cdx_index_single_parse_pass_no_cartesian(spark):
    """CDX construction must be pure projection over ONE parsed-record
    pass: exactly one binaryFile scan, no join, no cross product."""
    import os

    # the entry writes its store before returning the frame; plan it
    df = Q.pipeline_cdx_index(spark, SF)
    plan = _plan(df)
    # formatted plans list each node twice (tree + detail section):
    # one scan == exactly two occurrences
    assert plan.count("Scan binaryFile") == 2
    assert "CartesianProduct" not in plan
    assert "Join" not in plan


def test_streaming_warc_ingest_shares_batch_parse(spark, tmp_path):
    """The streaming reader reuses the exact batch row function —
    one implementation of the record grammar (the vocab-lesson applied
    to crawl ingestion)."""
    from razulibs_spark.sources.warc import (
        _file_records,
        read_warc_stream,
    )

    df = read_warc_stream(spark, str(tmp_path))
    assert df.isStreaming
    # the shared row function is the module-level function, not a copy
    import razulibs_spark.sources.warc as w

    assert w._file_records is _file_records


def test_markdown_extract_zero_exchange_zero_python(spark):
    """The whole entry is a scan projection: no shuffle, no Python
    stage — markdown_to_text must stay pure codegen."""
    plan = _plan(Q.text_markdown_extract(spark, SF))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_url_blocklist_zero_exchange_zero_python(spark):
    """PSL walk + blocklist verdict ride the scan projection."""
    plan = _plan(Q.curate_url_blocklist(spark, SF))
    assert "Exchange" not in plan
    assert "MapInPandas" not in plan


def test_exact_lines_two_hashed_shuffles_no_cartesian(spark):
    """Line dedup: count-distinct keyed by md5(line) + doc-keyed
    reassembly — hash-partitioned exchanges only, no cartesian, no
    single-partition window, and the join key is the 32-hex digest
    (never the page-width line)."""
    plan = _plan(Q.dedup_exact_lines(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "hashpartitioning(lh" in plan
    assert "Window" not in plan


def test_wat_derive_single_arrow_pass_no_join(spark):
    """WAT metadata comes from ONE extract_page pass — a regression
    to the two-pass shape reintroduces a join and an extra Python
    stage over every page."""
    df = Q.pipeline_wat_derive(spark, SF)
    plan = _plan(df)
    assert "Join" not in plan
    assert "InMemoryTableScan" not in plan  # no .cache()


def test_noindex_gate_verdict_rides_meta_pass(spark):
    """The directive parse is codegen over the head-meta output: one
    Python stage (the extractor), no payload shuffle. The r13
    conditional widen may add ONE round-robin exchange of the narrow
    fixture input (a no-op at cluster scale where the scan is already
    wide); a hash exchange of the synthesized payload is still a
    regression."""
    plan = _plan(Q.pipeline_noindex_gate(spark, SF))
    # detail section: "(n) MapInPandas" once per node
    assert plan.count(") MapInPandas") == 2  # synthesize + extract
    assert "hashpartitioning" not in plan
    assert "SinglePartition" not in plan
    # any exchange present must be the round-robin widen
    assert plan.count("Exchange") == 0 or "RoundRobinPartitioning" in plan


def test_incremental_agg_delta_filter_pushed(spark):
    """The refresh must read only the delta: the ts >= cutover
    predicate reaches the parquet scan (at scale: partition pruning
    on the date-partitioned events table)."""
    plan = _plan(Q.o_incremental_agg(spark, SF))
    pushed = [
        seg.split("\n")[0]
        for seg in plan.split("PushedFilters: ")[1:]
    ]
    assert any("ts" in p and "GreaterThanOrEqual" in p for p in pushed), pushed
    assert "CartesianProduct" not in plan


def test_new_format_extractors_single_arrow_pass(spark):
    """XLSX/RTF/ODT extraction entries are each ONE Arrow pipeline —
    synthesis and parse fuse into consecutive MapInPandas stages over
    the documents scan with no payload shuffle. The r13 conditional
    widen may add ONE round-robin exchange of the narrow fixture input
    (no-op at cluster scale); a hash exchange is a regression."""
    for entry in (Q.text_xlsx_extract, Q.text_rtf_extract,
                  Q.text_odt_extract, Q.text_pptx_extract):
        plan = _plan(entry(spark, SF))
        assert "hashpartitioning" not in plan, entry.__name__
        assert "SinglePartition" not in plan, entry.__name__
        assert plan.count("Exchange") == 0 or "RoundRobinPartitioning" in plan, entry.__name__
        # formatted explain names each node twice (tree + details)
        assert plan.count("MapInPandas") == 4, entry.__name__
        assert "BatchEvalPython" not in plan, entry.__name__


def test_turtle_grouped_write_block_capped(spark):
    """write_turtle_grouped: term formatting is codegen and the
    grouping keys are salted by windowed block ids, so the plan has
    NO unbounded per-subject aggregation — every collect_list groups
    on a key that includes a block id, every aggregation buffer is
    bounded by obj_cap·pred_cap, and no Python stage appears. The
    window sorter spills; the r10 scale hazard (one multi-GB
    collect_list row for a super-node subject) is structurally
    impossible."""
    from razulibs_spark.operators.rdf import TRIPLE_SCHEMA
    from razulibs_spark.sources.turtle_full import grouped_turtle_blocks

    t = spark.createDataFrame(
        [("http://e/s", "http://e/p", "v", "literal", None, None)],
        TRIPLE_SCHEMA,
    )
    blocks = grouped_turtle_blocks(t, obj_cap=1024, pred_cap=64)
    plan = _plan(blocks)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # both grouping keys carry their block-id salt
    assert "obj_blk" in plan and "pred_blk" in plan
    assert "ObjectHashAggregate" in plan
    # two windows (the block-id row_numbers) feed the two aggregations
    import re as _re

    windows = _re.findall(r"\(\d+\) Window", plan)
    assert len(windows) == 2, plan[:600]


def test_turtle_grouped_super_subject_splits(spark):
    """A subject with ≫obj_cap objects spills across multiple blocks
    (Turtle permits repeated subjects), each block holds at most
    obj_cap·pred_cap terms, and the union of blocks is exactly the
    input objects — the cap changes layout, never triples."""
    from pyspark.sql import Row

    from razulibs_spark.operators.rdf import TRIPLE_SCHEMA
    from razulibs_spark.sources.turtle_full import grouped_turtle_blocks

    rows = [
        ("http://e/hub", "http://e/member", f"http://e/m{i:04d}",
         "uri", None, None)
        for i in range(57)
    ] + [
        ("http://e/hub", f"http://e/p{j}", f"v{j}", "literal", None, None)
        for j in range(9)
    ]
    t = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    out = [
        r.asDict()
        for r in grouped_turtle_blocks(t, obj_cap=10, pred_cap=3)
        .collect()
    ]
    # 57 members / 10 per objectList = 6 object blocks, + 9 literal
    # predicates = 15 predicate entries / 3 per block = 5 blocks
    assert len(out) == 5
    assert all(r["sj"] == "<http://e/hub>" for r in out)
    terms: list[str] = []
    for r in out:
        for entry in r["po"].split(" ;\n    "):
            pd, objs = entry.split(" ", 1)
            for ob in objs.split(", "):
                terms.append((pd, ob))
                assert len(objs.split(", ")) <= 10
    assert len(terms) == len(set(terms)) == 57 + 9
    member_objs = sorted(
        ob for pd, ob in terms if pd == "<http://e/member>"
    )
    assert member_objs == [f"<http://e/m{i:04d}>" for i in range(57)]


def test_bloom_reduction_all_broadcast_no_smj(spark):
    """The runtime-filter entry must never shuffle the fact side for
    a join: the bit-position dim and the exact-audit dim are both
    broadcast; the only Exchanges are the dim-side distincts and the
    final 1-row aggregates."""
    plan = _plan(Q.j_bloom_semijoin_reduction(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" not in plan


def test_zorder_and_compaction_no_python_stage(spark):
    """Layout arithmetic is pure codegen — no Python anywhere."""
    for entry in (Q.io_zorder_pruning, Q.io_compaction_plan):
        plan = _plan(entry(spark, SF))
        assert "ArrowEvalPython" not in plan, entry.__name__
        assert "MapInPandas" not in plan, entry.__name__
        assert "BatchEvalPython" not in plan, entry.__name__


def test_sharded_single_file_reassembly_bounded(spark, tmp_path):
    """read_mbox_sharded: the ONLY shuffle is the split scan's stitch
    of boundary fragments (at most two per split, bounded by message
    size, never file size); parsing is an Arrow stage, never row-wise
    Python; fragments order by split inside the aggregation
    (sort_array), not by a global Sort."""
    from razulibs_spark.operators.eml import encode_eml
    from razulibs_spark.operators.mbox import (
        _FROM_LINE,
        mbox_escape,
        mbox_message_stats,
        read_mbox_sharded,
    )

    p = tmp_path / "s.mbox"
    p.write_text(
        "\n".join(
            _FROM_LINE + "\n"
            + mbox_escape(encode_eml(d, ["w1", "w2"]).decode())
            for d in range(4)
        )
    )
    # the rd dialect IS the single-shuffle shape; the CL dialects add
    # the (metadata-sized) stitch exchanges and are plan-guarded in
    # test_mbox_cl_stitch_fully_distributed below. Before r13 the
    # default (auto) path hid its extra shuffles by running them
    # EAGERLY at construction time behind a driver collect.
    df = mbox_message_stats(
        read_mbox_sharded(spark, str(p), dialect="rd")
    )
    plan = _plan(df)
    import re as _re

    exchanges = _re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan[:500]
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan
    assert "ObjectHashAggregate" in plan  # collect_list w/ partials
    # no global Sort node — ordering is per-group sort_array
    assert _re.search(r"\(\d+\) Sort\b", plan) is None, plan[:500]


def test_mbox_cl_stitch_fully_distributed(spark, tmp_path):
    """r13 (VERDICT r12 next #1) removed the O(corpus) driver collect;
    r14 (VERDICT r13 next #6) distributed the fold for large spools,
    size-adaptively: a spool of more input splits than
    defaultParallelism routes to the sync-point scan — the only
    collects in operators/mbox.py are O(partitions) summary tuples
    off ``mapPartitionsWithIndex`` (the turtle-sharded prefix-scan
    posture — source-level guard below) and the cross-partition
    segments fold as parallel GROUPED applyInPandas, while a bounded
    spool keeps the one-task fold over its (cluster-constant-bounded)
    metadata. Both paths: no line is shuffled on its own (fragments
    come from the split scan, whose only shuffle is the boundary
    stitch), and message assembly regroups fragments."""
    import inspect
    import re as _re

    from razulibs_spark.operators import mbox as mbox_mod
    from razulibs_spark.operators.eml import encode_eml
    from razulibs_spark.operators.mbox import (
        _FROM_LINE,
        mbox_escape,
        read_mbox_sharded,
    )

    src = inspect.getsource(mbox_mod)
    for line in src.splitlines():
        if ".collect()" in line:
            # every collect is a per-split summary — O(partitions),
            # never row data
            assert "mapPartitionsWithIndex" in line, line

    p = tmp_path / "s.mbox"
    p.write_text(
        "\n".join(
            _FROM_LINE + "\n"
            + mbox_escape(encode_eml(d, ["w1", "w2"]).decode())
            for d in range(4)
        )
    )
    par = spark.sparkContext.defaultParallelism
    # force more splits than cores: the distributed-scan path
    df = read_mbox_sharded(
        spark, str(p), min_partitions=par + 2, dialect="auto"
    )
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan  # the per-segment fold
    assert "BatchEvalPython" not in plan
    assert _re.search(r"Scan ExistingRDD", plan), plan[:300]
    # bounded spool: the one-task fold over metadata (still a grouped
    # fold node, single group); its mapping broadcasts into the join
    df_small = read_mbox_sharded(spark, str(p), dialect="auto")
    plan_small = _plan(df_small)
    assert "FlatMapGroupsInPandas" in plan_small
    exchanges = _re.findall(r"\(\d+\) Exchange", plan_small)
    assert len(exchanges) <= 4, plan_small[:500]


def test_example_packing_windows_partitioned_no_global_sort(spark):
    """pipeline_example_packing: the ranking window is PARTITIONED BY
    (source, len_class) — never global — and the rollup is hash
    aggregation; no Python stage anywhere."""
    import re as _re

    plan = _plan(Q.pipeline_example_packing(spark, SF))
    for m in _re.finditer(
        r"windowspecdefinition\((.*?)\)", plan
    ):
        assert "source" in m.group(1), m.group(0)[:120]
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
