"""Physical-plan quality gates (SURVEY.md §4): predicate pushdown reaches the
parquet scan, projections prune columns, small dims broadcast, global top-k
avoids a full sort, and the LWW semijoin never shuffles the wide payload.
These assertions are the '.explain and iterate' loop frozen into tests."""

import os

import pytest

from openlogreplicator_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.exists(os.path.join(SF_DIR, "part.parquet")),
    reason="driver testdata not present",
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_filter_pushdown(spark):
    df = QUERIES["tpch_q1_pricing"](spark, SF_DIR)
    f = formatted(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in f, f


def test_column_pruning(spark):
    df = QUERIES["part_type_stats"](spark, SF_DIR)
    f = formatted(df)
    scan = f[f.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema:"): scan.index("\n", scan.index("ReadSchema:"))]
    assert "p_type" in read_schema and "p_retailprice" in read_schema
    assert "p_name" not in read_schema and "p_brand" not in read_schema, read_schema


def test_dim_joins_broadcast(spark):
    df = QUERIES["revenue_by_nation"](spark, SF_DIR)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p, p


def test_top_k_avoids_global_sort(spark):
    df = QUERIES["top100_orders"](spark, SF_DIR)
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p, p


def test_lww_catalog_is_two_phase(spark):
    p = plan_of(QUERIES["cdc_lww_latest"](spark, SF_DIR))
    n_aggs = p.count("HashAggregate") + p.count("ObjectHashAggregate") + p.count("SortAggregate")
    assert "max_by" in p and n_aggs >= 2, p


def test_semijoin_lww_payload_not_shuffled(spark, events_dir):
    """The wide (html) side must reach the join via scan, not an Exchange —
    the whole point of the semijoin strategy."""
    from pyspark.sql import functions as F

    from openlogreplicator_spark.operators.decode import EVENTS_DDL, dml_events
    from openlogreplicator_spark.operators.lww import lww_compact_semijoin

    df = dml_events(
        spark.read.schema(EVENTS_DDL).parquet(events_dir)
    ).withColumnRenamed("seq", "_seq")
    out = lww_compact_semijoin(df, "url")
    p = plan_of(out)
    # strict pair: the winner semijoin must BE a broadcast hash join, and must
    # never degrade to a nested-loop or sort-merge join of the payload.
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoop" not in p, p
    assert "SortMergeJoin" not in p, p
    join_idx = p.index("BroadcastHashJoin")
    probe_side = p[join_idx:]
    assert "Scan parquet" in probe_side  # payload flows scan->join directly


def test_merge_into_reconcile_scans_narrow_winners(spark, events_dir, tmp_path):
    """merge_into's steady-state reconcile must keep the semijoin shape: the
    winner search runs on narrow (url, warc_ts, _seq) columns and the stored
    payload reaches the final projection via broadcast semijoin, not a
    sort-merge shuffle of the wide rows."""
    from pyspark.sql import functions as F

    from openlogreplicator_spark.lake.table import LakeTable
    from openlogreplicator_spark.operators.lww import lww_compact_semijoin
    from openlogreplicator_spark.streaming.pipeline import TARGET_BASE_FIELDS, CdcPipeline

    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"))
    p.run_batch_replay()
    table = LakeTable.load(spark, str(tmp_path / "t"))
    current = table.read(None).withColumn("_bucket", table.bucket_expr())
    batch = current.limit(50)
    merged = lww_compact_semijoin(
        current.unionByName(batch), key="url", order=("warc_ts", "_seq")
    )
    plan = plan_of(merged)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_events_scan_prunes_for_ddl_collect(spark, events_dir):
    from openlogreplicator_spark.operators.decode import EVENTS_DDL, ddl_events

    df = ddl_events(spark.read.schema(EVENTS_DDL).parquet(events_dir))
    f = formatted(df)
    assert "PushedFilters: [IsNotNull(op), EqualTo(op,ddl)]" in f, f
    scan = f[f.index("Scan parquet"):]
    rs = scan[scan.index("ReadSchema:"):scan.index("\n", scan.index("ReadSchema:"))]
    assert "html" not in rs and "text" not in rs, rs


def test_zipf_head_is_distributed_top_k(spark):
    """docs_zipf_fit ranks only a TakeOrdered top-100 head — the global
    row_number window must never sort the full vocabulary."""
    p = plan_of(QUERIES["docs_zipf_fit"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p


def test_bigram_pmi_top20_is_distributed_top_k(spark):
    """docs_bigram_pmi's final top-20 is TakeOrderedAndProject (no global
    sort of the scored bigram table) and the 1-row totals ride explicit
    broadcast cross joins."""
    p = plan_of(QUERIES["docs_bigram_pmi"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastNestedLoopJoin" in p, p


def test_recrawl_interval_scan_is_narrow(spark):
    """cdc_recrawl_interval reads only (url, warc_ts, seq) + filter columns
    from the wide replay log — the html/text payload must never be scanned."""
    f = formatted(QUERIES["cdc_recrawl_interval"](spark, SF_DIR))
    scan = f[f.index("Scan parquet"):]
    rs = scan[scan.index("ReadSchema:"):scan.index("\n", scan.index("ReadSchema:"))]
    assert "url" in rs and "warc_ts" in rs and "seq" in rs, rs
    assert "html" not in rs and "text" not in rs and "before" not in rs, rs


def test_dup_ngram_share_joins_are_equi(spark):
    """docs_dup_ngram_share's dup-gram membership is a left-semi equi-join
    on gram; no cartesian/nested-loop join may appear anywhere in the plan."""
    p = plan_of(QUERIES["docs_dup_ngram_share"](spark, SF_DIR))
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_source_mix_totals_are_broadcast(spark):
    """docs_source_mix_entropy joins per-source rows to a ONE-ROW corpus
    total via a broadcast cross join (never a shuffle), and its scan must
    prune the text payload — only source/lang/n_chars are read."""
    f = formatted(QUERIES["docs_source_mix_entropy"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in f, f
    scan = f[f.index("Scan parquet"):]
    rs = scan[scan.index("ReadSchema:"):scan.index("\n", scan.index("ReadSchema:"))]
    assert "source" in rs and "lang" in rs and "n_chars" in rs, rs
    assert "text" not in rs, rs


def test_ddl_timeline_scan_is_narrow(spark):
    """cdc_ddl_timeline aggregates version spans from (schema_ver, seq,
    warc_ts, url) — the html/text/before payloads must be pruned."""
    f = formatted(QUERIES["cdc_ddl_timeline"](spark, SF_DIR))
    scan = f[f.index("Scan parquet"):]
    rs = scan[scan.index("ReadSchema:"):scan.index("\n", scan.index("ReadSchema:"))]
    assert "schema_ver" in rs and "seq" in rs and "url" in rs, rs
    assert "html" not in rs and "text:" not in rs and "before" not in rs, rs


def test_changed_columns_has_no_join(spark):
    """cdc_changed_columns compares undo vs redo on the SAME row (explode of
    the before map) — there must be no join anywhere in the plan, and the
    html payload must not be scanned."""
    f = formatted(QUERIES["cdc_changed_columns"](spark, SF_DIR))
    assert "Join" not in f, f
    assert "Generate" in f, f
    scan = f[f.index("Scan parquet"):]
    rs = scan[scan.index("ReadSchema:"):scan.index("\n", scan.index("ReadSchema:"))]
    assert "html" not in rs, rs


def test_template_prefix_has_no_explode(spark):
    """docs_template_prefix_dups derives the prefix as a pure expression —
    O(1) per document, never an O(tokens) Generate/explode."""
    p = plan_of(QUERIES["docs_template_prefix_dups"](spark, SF_DIR))
    assert "Generate" not in p, p
    n_aggs = p.count("HashAggregate") + p.count("ObjectHashAggregate")
    assert n_aggs >= 2, p


def test_shared_span_never_all_pairs(spark):
    """docs_shared_span_dups: the candidate join must be an equi-join on the
    seed gram (never cartesian), and islands detection must be windowed."""
    p = plan_of(QUERIES["docs_shared_span_dups"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Window" in p, p


def test_exact_substr_removal_never_pairwise(spark):
    """docs_exact_substr_removal: occurrence classification is a gram-hash
    aggregate + equi-joins — never a pair join (no cartesian, no window, no
    global sort; the rebuild orders inside the aggregate)."""
    p = plan_of(QUERIES["docs_exact_substr_removal"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Window" not in p, p


def test_minhash_calibration_joins_are_equi(spark):
    """docs_minhash_est_vs_exact: estimate + exact passes touch candidate
    pairs via equi-joins only — no cartesian anywhere in the plan."""
    p = plan_of(QUERIES["docs_minhash_est_vs_exact"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_scd2_single_window_exchange(spark):
    # row_number and lead must share ONE window spec over (url, warc_ts, seq):
    # exactly one shuffle, one Window operator, no join.
    p = plan_of(QUERIES["cdc_scd2_history"](spark, SF_DIR))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("Window") == 1, p
    assert "Join" not in p, p


def test_out_of_order_profile_shape(spark):
    # One per-url window exchange; the share window runs over the 5
    # aggregated bucket rows (SinglePartition), never the raw events.
    p = plan_of(QUERIES["cdc_out_of_order_profile"](spark, SF_DIR))
    assert p.count("Exchange hashpartitioning") >= 1, p
    assert "Exchange SinglePartition" in p, p
    assert "Join" not in p, p


def test_semdedup_no_pairwise_join(spark):
    # The pairwise pass is the per-cell Arrow kernel — the plan must contain
    # the applyInPandas group map and NO join building explicit pairs.
    p = plan_of(QUERIES["docs_semdedup"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" in p or "FlatMapGroupsIn" in p, p
    assert "Join" not in p, p


def test_bloom_dedup_confirm_join_sees_prefiltered_input(spark):
    # The exact confirm anti-join must sit UNDER the bloom-probe filter
    # (only bloom-positive rows reach it), and the definitely-new branch
    # must bypass joins entirely (a union of the two paths).
    df = QUERIES["docs_bloom_incremental_dedup"](spark, SF_DIR)
    p = plan_of(df)
    assert "Union" in p, p
    join_at = p.index("Join")
    assert "might_contain" in p[join_at:], p


def test_seq_gaps_boundaries_via_anti_joins(spark):
    # Gap starts/ends come from two LEFT ANTI self equi-joins over the log
    # (distributed); the only sort-based windows run over boundary rows.
    p = plan_of(QUERIES["cdc_seq_gaps"](spark, SF_DIR))
    assert p.count("LeftAnti") == 2, p
    assert "CartesianProduct" not in p, p


def test_hot_keys_topk_is_distributed(spark):
    """cdc_hot_keys: the top-20 cut must be TakeOrderedAndProject (never a
    global sort of the per-key counts) and the corpus total must ride a
    broadcast — the single-partition cumulative window sees only 20 rows."""
    p = plan_of(QUERIES["cdc_hot_keys"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p


def test_emb_outliers_centroids_broadcast_and_topk(spark):
    """emb_outliers: centroid arrays (labels-sized) broadcast back to the
    corpus — the cosine is map-side — and the global bottom-20 is
    TakeOrderedAndProject, never a full sort of the scored corpus."""
    p = plan_of(QUERIES["emb_outliers"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_recall_eval_approx_side_is_equi_join(spark):
    """ann_recall_eval: the production (approx) side must stay the bucketed
    equi-join — no corpus-vs-corpus nested-loop anywhere; the only
    nested-loop allowed is the exact baseline's broadcast of the fixed
    32-query evaluation set."""
    p = plan_of(QUERIES["ann_recall_eval"](spark, SF_DIR))
    assert p.count("BroadcastNestedLoopJoin") <= 1, p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_dedup_rate_is_two_phase_distinct(spark):
    """docs_dedup_rate_by_source: distinct-per-group spelled as two stacked
    hash aggregations (partial-agg friendly) — no expand/countDistinct."""
    p = plan_of(QUERIES["docs_dedup_rate_by_source"](spark, SF_DIR))
    assert "Expand" not in p, p
    n_aggs = p.count("HashAggregate")
    assert n_aggs >= 4, p  # two phases x (partial + final)


def test_chunk_windows_is_shuffle_free(spark):
    """docs_chunk_windows claims a pure expression chain: no Exchange, no
    Window, no aggregate — one scan feeding generate/project only."""
    df = QUERIES["docs_chunk_windows"](spark, SF_DIR)
    p = plan_of(df)
    assert "Exchange" not in p, p
    assert "Window" not in p and "Aggregate" not in p, p
    f = formatted(df)
    scan = f[f.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema:"):
                       scan.index("\n", scan.index("ReadSchema:"))]
    assert "text" in read_schema and "lang" not in read_schema, read_schema


def test_skipgram_cooc_is_map_side_pairs(spark):
    """docs_skipgram_cooc: window pairs come from the token ARRAY map-side
    — no join anywhere before the aggregate (the O(len^2)-per-doc
    tokens-join-tokens anti-pattern), and the head is
    TakeOrderedAndProject, never a global sort."""
    p = plan_of(QUERIES["docs_skipgram_cooc"](spark, SF_DIR))
    assert "Join" not in p, p
    assert "TakeOrderedAndProject" in p, p


def test_quality_classifier_broadcasts_totals_only(spark):
    """docs_quality_classifier: the one-row totals ride a broadcast
    nested-loop crossJoin; the vocab-keyed llr scoring join must be a real
    equi-join (hash/sort), never a nested loop over the corpus."""
    p = plan_of(QUERIES["docs_quality_classifier"](spark, SF_DIR))
    assert p.count("BroadcastNestedLoopJoin") <= 2, p  # totals x2 stages
    assert ("SortMergeJoin" in p or "ShuffledHashJoin" in p
            or "BroadcastHashJoin" in p), p


def test_user_sequences_single_exchange(spark):
    """events_user_sequences: ordering happens INSIDE the aggregate — one
    groupBy shuffle, no Window, no global Sort above the aggregate."""
    p = plan_of(QUERIES["events_user_sequences"](spark, SF_DIR))
    assert p.count("Exchange") == 1, p
    assert "Window" not in p, p


def test_ewma_is_fold_not_window(spark):
    """events_ewma_daily_rate: the recursion rides a HOF fold over the
    collected day array — no Window operator, two aggregation phases
    (daily counts, then per-type fold)."""
    p = plan_of(QUERIES["events_ewma_daily_rate"](spark, SF_DIR))
    assert "Window" not in p, p
    assert "aggregate(" in p or "HashAggregate" in p or "SortAggregate" in p, p


def test_ab_lift_single_partial_agg(spark):
    """events_ab_lift: variant splits ride as conditional aggregates in ONE
    groupBy over event_type — no join, no window; exactly one shuffle."""
    p = plan_of(QUERIES["events_ab_lift"](spark, SF_DIR))
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert p.count("Exchange") == 1, p


def test_matryoshka_is_map_side_folds(spark):
    """emb_matryoshka_error: the k fan-out is a 3-element literal explode,
    never a join; the rollup is one partial-agg groupBy."""
    p = plan_of(QUERIES["emb_matryoshka_error"](spark, SF_DIR))
    assert "Join" not in p, p
    assert p.count("Exchange") == 1, p


def test_url_canonical_dedup_no_join(spark):
    """docs_url_canonical_dedup: canonicalization is a pure map-side
    expression chain; the distinct-variant count is the two-phase shape
    (partial agg on (canonical, url), then rollup) — two exchanges, no
    join, no window."""
    p = plan_of(QUERIES["docs_url_canonical_dedup"](spark, SF_DIR))
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert p.count("Exchange") == 2, p


def test_partial_update_state_single_exchange(spark, tmp_path):
    """engine_partial_update_state's fold: the (key, life) fill window and
    the key-ordered pick window both run on the ONE key exchange
    (HashPartitioning(url) satisfies the refined clustering), so the full
    history shuffles exactly once — plus the scan-side union only."""
    import datetime as dt

    from openlogreplicator_spark.operators.decode import EVENTS_DDL
    from openlogreplicator_spark.operators.merge import read_state_partial
    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    d = str(tmp_path)
    rows = [(i, dt.datetime(2020, 1, 1, 0, 0, i), "c",
             f"https://s.example/{i % 3}", None, "t", "en", None, None, 1,
             False, None, None, None, None) for i in range(6)]
    p = CdcPipeline(spark, "unused", os.path.join(d, "t"),
                    os.path.join(d, "c"), merge_mode="mor", compact_every=0,
                    partial_updates=True)
    p.apply_epoch(spark.createDataFrame(rows, EVENTS_DDL), epoch_id=0)
    from openlogreplicator_spark.lake.table import LakeTable

    plan = plan_of(read_state_partial(LakeTable.load(spark, p.table_path)))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_hll_is_fixed_keyspace_aggs(spark):
    """events_hll_distinct: no Window and no global Sort — the sketch is a
    64-bucket partial agg (register max), a register fold, and the exact
    countDistinct riding alongside; rho is integer bit math, so nothing in
    the plan leaves whole-stage codegen for Python."""
    p = plan_of(QUERIES["events_hll_distinct"](spark, SF_DIR))
    assert "Window" not in p, p
    assert "Sort " not in p or "TakeOrdered" in p, p
    assert "pythonUDF" not in p and "BatchEvalPython" not in p, p


def test_sampled_quantiles_topk_is_distributed(spark):
    """events_sampled_quantiles: the md5 sample is TakeOrderedAndProject
    (distributed top-k), never a global Sort of the table."""
    p = plan_of(QUERIES["events_sampled_quantiles"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p
    assert "Window" not in p, p


def test_json_messages_is_pure_map(spark):
    """cdc_json_messages: message build is filter + to_json projection over
    the scan — zero exchanges, no join, no window, no Python."""
    p = plan_of(QUERIES["cdc_json_messages"](spark, SF_DIR))
    assert p.count("Exchange") == 0, p
    assert "Join" not in p and "Window" not in p, p
    assert "pythonUDF" not in p and "BatchEvalPython" not in p, p


def test_dsir_sample_is_take_ordered(spark):
    """Gumbel-top-k selection must be a TakeOrderedAndProject over the
    weight aggregate — never a global sort of all keyed docs."""
    p = plan_of(QUERIES["docs_dsir_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p


def test_c4_clean_is_single_pass(spark):
    """C4 line cleaning is a pure map-side expression chain: no exchange,
    no aggregate, no Python eval in the plan."""
    p = plan_of(QUERIES["docs_c4_clean"](spark, SF_DIR))
    assert "Exchange" not in p and "Aggregate" not in p, p
    assert "Python" not in p, p


def test_tpch_q3_broadcasts_dims_and_takeordered(spark):
    """tpch_q3: the BUILDING customer set broadcasts (the fact side is
    never shuffled for the dim), the date predicates reach the scans, and
    the top-10 is TakeOrderedAndProject — never a global sort."""
    df = QUERIES["tpch_q3_shipping_priority"](spark, SF_DIR)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p, p
    assert "TakeOrderedAndProject" in p, p
    f = formatted(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in f, f


def test_tpch_q6_all_predicates_pushed(spark):
    """tpch_q6: every predicate is parquet-pushable and the scan reads only
    the filter+agg columns."""
    f = formatted(QUERIES["tpch_q6_forecast_revenue"](spark, SF_DIR))
    scan = f[f.index("Scan parquet"):]
    pushed = scan[scan.index("PushedFilters:"): scan.index("\n", scan.index("PushedFilters:"))]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    read_schema = scan[scan.index("ReadSchema:"): scan.index("\n", scan.index("ReadSchema:"))]
    assert "l_extendedprice" in read_schema and "l_returnflag" not in read_schema, read_schema


def test_textrank_edges_are_map_side(spark):
    """docs_textrank_keywords: co-occurrence edges come from the token
    ARRAY map-side (no tokens-join-tokens); joins exist only on the
    vocab-bounded edge relation, and the head is TakeOrderedAndProject."""
    df = QUERIES["docs_textrank_keywords"](spark, SF_DIR)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "TakeOrderedAndProject" in p, p
    # every Scan of documents reads ONLY text (the edge build projects early)
    f = formatted(df)
    for seg in f.split("Scan parquet")[1:]:
        if "ReadSchema:" not in seg:
            continue
        rs = seg[seg.index("ReadSchema:"): seg.index("\n", seg.index("ReadSchema:"))]
        assert "doc_id" not in rs, rs


def test_feature_hashing_single_shuffle(spark):
    """docs_feature_hashing: token explode -> ONE partial-agg groupBy on
    (doc_id, bucket); no join (the whole point of the hashing trick is
    that no vocabulary relation ever exists)."""
    p = plan_of(QUERIES["docs_feature_hashing"](spark, SF_DIR))
    assert "Join" not in p, p
    assert p.count("Exchange") == 1, p


def test_session_stats_single_exchange(spark):
    """events_session_stats: lag + running sum + the session rollup reuse
    ONE (user_id) hash exchange — Catalyst plans a single shuffle."""
    p = plan_of(QUERIES["events_session_stats"](spark, SF_DIR))
    assert p.count("Exchange") == 1, p


def test_link_graph_no_join(spark):
    """docs_link_graph: href explode + host rollup is a pure expression
    chain into partial aggs — never a join; the linking-page distinct is
    the only extra exchange."""
    p = plan_of(QUERIES["docs_link_graph"](spark, SF_DIR))
    assert "Join" not in p, p
    assert p.count("Exchange") <= 2, p


def test_tpch_q5_dims_broadcast_cycle_in_join(spark):
    """tpch_q5: all four dims broadcast (the fact is shuffled only for
    lineitem⋈orders), the date window reaches the orders scan, and the
    cyclic c_nationkey = s_nationkey edge rides the supplier JOIN —
    never a post-join filter over a wider product (no nested-loop/
    cartesian anywhere)."""
    df = QUERIES["tpch_q5_local_supplier_volume"](spark, SF_DIR)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert p.count("BroadcastHashJoin") >= 4, p
    f = formatted(df)
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in f, f


def test_position_attribution_shares_one_window_exchange(spark):
    """Both attribution windows (row_number + count) run over ONE
    purchase-keyed exchange; the candidate join is equi-keyed on user
    (never a cartesian / nested-loop shape for the range predicate)."""
    p = plan_of(QUERIES["events_position_attribution"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert p.count("hashpartitioning(purchase_id") == 1, p


def test_knn_graph_topk_is_group_limited(spark):
    """The per-vector top-3 rank filter pushes down as WindowGroupLimit
    (partial per-partition top-k before the window shuffle) — the plan
    that keeps dup-saturated neighborhoods from shuffling whole."""
    p = plan_of(QUERIES["emb_knn_graph"](spark, SF_DIR))
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_triangles_are_equi_join_only(spark):
    """Degree-ordered triangle enumeration: wedge build and closure are
    equi-joins — a cartesian or OR-join closure probe would be the
    all-pairs shape the orientation exists to avoid. No window/global
    sort anywhere either."""
    p = plan_of(QUERIES["docs_host_triangles"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert "Window" not in p, p


def test_trigram_paths_single_window_exchange(spark):
    """events_trigram_paths: BOTH leads ride ONE per-user window exchange
    and the rank-20 cut is TakeOrderedAndProject — no global sort."""
    p = plan_of(QUERIES["events_trigram_paths"](spark, SF_DIR))
    assert p.count("hashpartitioning(user_id") == 1, p
    assert p.count("Window") == 1, p
    assert "TakeOrderedAndProject" in p, p


def test_ab_cuped_no_window_no_cartesian(spark):
    """events_ab_cuped: the covariate join is equi-keyed on user, the
    types-sized moment stats come back as a broadcast — no window, no
    cartesian anywhere."""
    p = plan_of(QUERIES["events_ab_cuped"](spark, SF_DIR))
    assert "Window" not in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_user_gini_scan_is_narrow(spark):
    """events_user_gini: the only columns leaving the events scan are the
    key — the rank identity folds everything else away before any shuffle
    (the rank itself is now a distributed prefix sum; see
    test_gini_and_pareto_have_no_global_window)."""
    f = formatted(QUERIES["events_user_gini"](spark, SF_DIR))
    scan = f[f.index("Scan parquet"):]
    rs = scan[scan.index("ReadSchema:"): scan.index("\n", scan.index("ReadSchema:"))]
    assert "user_id" in rs and "props" not in rs and "value" not in rs, rs


def test_centroid_drift_is_broadcast_only(spark):
    """emb_holdout_centroid_drift: everything after the (label, side, pos)
    partial-agg runs on the tiny centroid relation — broadcast joins only,
    no sort-merge, no cartesian."""
    p = plan_of(QUERIES["emb_holdout_centroid_drift"](spark, SF_DIR))
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_heaps_fit_is_two_phase_agg_only(spark):
    """docs_heaps_fit: per-doc type/token counts are a two-phase partial
    agg; the regression is one reduce — no join, no window anywhere."""
    p = plan_of(QUERIES["docs_heaps_fit"](spark, SF_DIR))
    assert "Join" not in p, p
    assert "Window" not in p, p


def test_intrinsic_dim_topk_is_group_limited(spark):
    """emb_intrinsic_dim: the per-vector top-2 rank filter pushes down as
    WindowGroupLimit (the emb_knn_graph contract); candidates stay
    equi-join-only."""
    p = plan_of(QUERIES["emb_intrinsic_dim"](spark, SF_DIR))
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p, p


def test_staleness_horizon_is_one_row_broadcast(spark):
    """cdc_staleness_histogram: per-key max + days-bounded histogram; the
    horizon rides as a one-row broadcast (nested-loop on a single row is
    the intended shape), never a sort-merge join or window."""
    p = plan_of(QUERIES["cdc_staleness_histogram"](spark, SF_DIR))
    assert "SortMergeJoin" not in p, p
    assert "Window" not in p, p


def test_clip_calibration_bounds_broadcast_back(spark):
    """emb_clip_calibration: the 64-row bounds relation broadcasts back for
    the counting pass — no sort-merge join, no window."""
    p = plan_of(QUERIES["emb_clip_calibration"](spark, SF_DIR))
    assert "SortMergeJoin" not in p, p
    assert "Window" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_conversion_lag_no_window(spark):
    """events_conversion_lag: min-after-signup folds inside equi-joined
    partial aggs — never a window over raw events."""
    p = plan_of(QUERIES["events_conversion_lag"](spark, SF_DIR))
    assert "Window" not in p, p
    assert "CartesianProduct" not in p, p


def test_tpch_q4_is_left_semi(spark):
    """tpch_q4_order_priority: the correlated EXISTS plans as ONE left
    semi join (each order counted once — an inner join + distinct would
    shuffle lineitem multiplicity), with the quarter filter pushed into
    the orders scan."""
    p = plan_of(QUERIES["tpch_q4_order_priority"](spark, SF_DIR))
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_tpch_q7_q8_broadcast_all_dims(spark):
    """q7/q8: every dim side (supplier/customer/part + nation->region map)
    broadcasts; the only sort-merge-eligible shuffle is lineitem x orders
    on orderkey."""
    for name in ("tpch_q7_volume_shipping", "tpch_q8_market_share"):
        p = plan_of(QUERIES[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in p, (name, p)
        assert "CartesianProduct" not in p, (name, p)


def test_tpch_q18_takeordered_after_having(spark):
    """q18: the top-20 cut is TakeOrderedAndProject (never a global sort)
    and the HAVING side aggregates before any join."""
    p = plan_of(QUERIES["tpch_q18_large_orders"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p
    assert "Sort " not in p.replace("TakeOrderedAndProject", ""), p


def test_tpch_q19_disjunction_not_cartesian(spark):
    """q19: the OR'd brand/size/quantity groups stay an equi-join on
    partkey with the disjunction as residual — never a cartesian — and
    Catalyst infers a pushable superset predicate for the part scan."""
    df = QUERIES["tpch_q19_disjunctive_revenue"](spark, SF_DIR)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p
    f = formatted(df)
    assert "PushedFilters" in f, f


def test_tpch_q22_anti_join_broadcast_threshold(spark):
    """q22: the one-row average broadcasts (no collect) and the dormancy
    check is a LEFT ANTI join against the date-pruned orders scan."""
    p = plan_of(QUERIES["tpch_q22_dormant_customers"](spark, SF_DIR))
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p


def test_bm25_topk_is_group_limited(spark):
    """docs_bm25_search: the per-query top-5 pushes down as
    WindowGroupLimit, and the query-token relation broadcasts so tf/df
    never aggregate the full vocabulary."""
    p = plan_of(QUERIES["docs_bm25_search"](spark, SF_DIR))
    assert "WindowGroupLimit" in p, p
    assert "BroadcastHashJoin" in p, p


def test_survival_km_windows_are_months_sized(spark):
    """customer_survival_km: the only shuffle over data is the custkey
    partial agg; every window/sort runs on the months-bounded exit
    relation (no window keyed by raw order rows)."""
    p = plan_of(QUERIES["customer_survival_km"](spark, SF_DIR))
    assert "hashpartitioning(o_custkey" in p, p
    assert "CartesianProduct" not in p, p


def test_knn_label_accuracy_reuses_group_limit(spark):
    """emb_knn_label_accuracy: rides emb_knn_graph's WindowGroupLimit
    top-k; label decoration and truth join broadcast (labels are a dim)."""
    p = plan_of(QUERIES["emb_knn_label_accuracy"](spark, SF_DIR))
    assert "WindowGroupLimit" in p, p
    assert "SortMergeJoin" not in p, p


def test_holt_forecast_single_data_shuffle(spark):
    """events_holt_forecast: one day-keyed partial agg over the events
    scan; the fold runs on a one-row days-bounded array — no window, no
    join at all."""
    p = plan_of(QUERIES["events_holt_forecast"](spark, SF_DIR))
    assert "Window" not in p, p
    assert "Join" not in p, p


def test_cusum_runs_on_types_days_relation(spark):
    """events_cusum_changepoint: stats broadcast back onto the (type, day)
    relation — never a sort-merge join — and no window anywhere (the
    prefix fold replaces it)."""
    p = plan_of(QUERIES["events_cusum_changepoint"](spark, SF_DIR))
    assert "SortMergeJoin" not in p, p
    assert "Window" not in p, p


def test_psi_drift_runs_on_week_bucket_grid(spark):
    """events_psi_drift: one (week, bucket) partial agg over the scan;
    the lag window runs on the weeks x 9 grid, and the grid build is a
    broadcast cross join (never a sort-merge join over data)."""
    p = plan_of(QUERIES["events_psi_drift"](spark, SF_DIR))
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_s_curve_band_joins_bounded(spark):
    """docs_lsh_band_s_curve: both band specs and the exact-Jaccard verify
    are equi-joins — never a cartesian/nested-loop all-pairs shape."""
    p = plan_of(QUERIES["docs_lsh_band_s_curve"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p, p


def test_rollup_is_single_expand_agg(spark):
    """events_type_day_rollup: the three grouping sets ride ONE Expand +
    partial agg + single shuffle — never three jobs."""
    p = plan_of(QUERIES["events_type_day_rollup"](spark, SF_DIR))
    assert "Expand" in p, p
    assert p.count("Exchange") <= 2, p


def test_pivot_is_single_agg_no_extra_scan(spark):
    """events_daily_type_pivot: the explicit value list compiles to one
    partial+final aggregate over one scan — no distinct-values job, no
    join."""
    p = plan_of(QUERIES["events_daily_type_pivot"](spark, SF_DIR))
    assert "Join" not in p, p
    assert p.count("Scan parquet") == 1, p


def test_rolling_dau_range_join_on_bounded_relation(spark):
    """events_rolling_7d_dau: the range join runs days x (day,user) — both
    post-dedup bounded relations — never against raw events."""
    p = plan_of(QUERIES["events_rolling_7d_dau"](spark, SF_DIR))
    assert "HashAggregate" in p, p


def test_tpch_q13_left_outer_keeps_zero_bucket(spark):
    """q13: the priority filter must ride INSIDE the left outer join
    condition — the plan stays LeftOuter (a WHERE would turn it inner and
    silently drop the zero-order customers)."""
    p = plan_of(QUERIES["tpch_q13_customer_distribution"](spark, SF_DIR))
    assert "LeftOuter" in p, p


def test_tpch_q21_plans_semi_plus_anti(spark):
    """q21: the correlated EXISTS / NOT EXISTS pair plans as one semi and
    one anti join on orderkey — never a per-row subquery or cartesian."""
    p = plan_of(QUERIES["tpch_q21_waiting_orders"](spark, SF_DIR))
    assert "LeftSemi" in p and "LeftAnti" in p, p
    assert "CartesianProduct" not in p, p


def test_ohlc_single_groupby_no_window(spark):
    """events_value_ohlc: open/close ride min_by/max_by in ONE groupBy —
    no Window operator, one data exchange."""
    p = plan_of(QUERIES["events_value_ohlc"](spark, SF_DIR))
    assert "Window" not in p, p
    assert "min_by" in p and "max_by" in p, p


def test_tpch_q16_anti_join_broadcast(spark):
    """q16: the supplier blocklist is a broadcast anti join; the distinct
    is two-phase (partial+final aggregate), never a countDistinct."""
    p = plan_of(QUERIES["tpch_q16_supplier_variety"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p, p


def test_tpch_q17_rejoin_broadcasts_aggregate(spark):
    """q17: the parts-sized per-part average broadcasts back onto the fact
    scan — the correlated scalar agg never becomes a shuffle join."""
    p = plan_of(QUERIES["tpch_q17_small_quantity_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_hard_negatives_ranks_are_group_limited(spark):
    """emb_hard_negatives: both rn=1 cuts push down as per-partition group
    limits BEFORE the window shuffle (the emb_knn_graph plan contract)."""
    p = plan_of(QUERIES["emb_hard_negatives"](spark, SF_DIR))
    assert "WindowGroupLimit" in p, p


def test_lpa_iteration_is_join_agg_window_only(spark):
    """docs_host_communities_lpa: no cartesian product and no global sort
    anywhere in the 3-round trajectory — each round is equi-join +
    partial agg + per-host window."""
    p = plan_of(QUERIES["docs_host_communities_lpa"](spark, SF_DIR))
    assert "CartesianProduct" not in p, p


def test_funnel_stage_lags_single_user_exchange(spark):
    """events_funnel_stage_lags: the three stacked stage windows share ONE
    hash exchange on user_id (the events_funnel plan contract)."""
    df = QUERIES["events_funnel_stage_lags"](spark, SF_DIR)
    p = plan_of(df)
    assert p.count("hashpartitioning(user_id") <= 1, p


def test_gini_and_pareto_have_no_global_window(spark):
    # round-5 verdict task 3: the keys-scale rank windows are replaced by
    # the distributed prefix-sum idiom — a Window with no PARTITION BY
    # moves the whole relation to one task and must not appear in either
    # plan at any relation size
    for name in ("events_user_gini", "orders_pareto_share"):
        p = plan_of(QUERIES[name](spark, SF_DIR))
        assert "Window" not in p, f"{name} still plans a window:\n{p}"
        # the prefix-sum's mapInPandas scan is the expected shape
        assert "MapInPandas" in p, f"{name} lost the prefix-sum shape:\n{p}"
