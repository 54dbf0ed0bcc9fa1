"""Plan-shape assertions — the 100 TB design contract: filters push
down to the scan, columns prune, small joins broadcast, top-k avoids
global sort, aggregations combine map-side."""

from __future__ import annotations

from pyspark.sql import functions as F

from vega_spark.plans import inspect as I
from vega_spark.tables import load_table


def test_filter_pushdown_to_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    assert I.has_pushed_filter(q, "l_orderkey"), I.plan_text(q)


def test_column_pruning_reaches_reader(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select("l_orderkey", "l_quantity")
    assert I.scan_reads_only(q, {"l_orderkey", "l_quantity"}, "lineitem"), \
        I.plan_text(q)


def test_small_join_broadcasts(spark, sf_dir):
    from vega_spark.operators.joins import join
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    q = join(li, o, on=F.col("l_orderkey") == F.col("o_orderkey"),
             broadcast_right=True)
    assert I.uses_broadcast_join(q), I.plan_text(q)


def test_topk_plans_take_ordered(spark, sf_dir):
    from vega_spark.operators.topk import top
    li = load_table(spark, sf_dir, "lineitem")
    q = top(li.select("l_extendedprice"), 10, ["l_extendedprice"])
    assert I.uses_take_ordered(q), I.plan_text(q)


def test_groupby_has_partial_aggregate(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    assert I.has_partial_aggregate(q), I.plan_text(q)


def test_registry_flagship_plan_is_one_exchange(spark, sf_dir):
    # weblog_agg: scan → partial agg → single exchange → final agg
    from vega_spark.registry import QUERIES
    q = QUERIES["weblog_agg"](spark, sf_dir)
    assert I.count_exchanges(q) <= 1, I.plan_text(q)


def test_tpch_q3_broadcasts_dimensions(spark, sf_dir):
    from vega_spark.registry import QUERIES
    q = QUERIES["tpch_q3_shipping"](spark, sf_dir)
    txt = I.plan_text(q)
    assert "BroadcastHashJoin" in txt, txt
    assert "SortMergeJoin" not in txt, txt


def test_range_join_is_equi_not_theta(spark, sf_dir):
    # the bucketed plan must be a hash/broadcast equi-join — a theta
    # join would plan CartesianProduct/BroadcastNestedLoop and die at scale
    from vega_spark.registry import QUERIES
    q = QUERIES["range_join"](spark, sf_dir)
    txt = I.plan_text(q)
    assert "CartesianProduct" not in txt, txt
    assert "BroadcastNestedLoopJoin" not in txt, txt


def test_tpch_q1_scan_agg_shape(spark, sf_dir):
    # canonical scan-heavy agg: shipdate filter reaches the parquet
    # scan, partial agg before the single exchange
    from vega_spark.registry import QUERIES
    q = QUERIES["tpch_q1_pricing_summary"](spark, sf_dir)
    assert I.has_pushed_filter(q, "l_shipdate"), I.plan_text(q)
    assert I.has_partial_aggregate(q), I.plan_text(q)
    assert I.count_exchanges(q) <= 1, I.plan_text(q)


def test_tpch_q9_broadcasts_dims_filtered(spark, sf_dir):
    # part/supplier/nation broadcast; the p_name LIKE filter must sit
    # BELOW the broadcast exchange (filter-before-broadcast) so only
    # surviving part rows ship to executors
    from vega_spark.registry import QUERIES
    q = QUERIES["tpch_q9_profit_by_nation"](spark, sf_dir)
    txt = I.plan_text(q)
    assert txt.count("BroadcastHashJoin") >= 3, txt
    assert I.has_pushed_filter(q, "p_name"), txt


def test_asof_join_single_shuffle(spark, sf_dir):
    # core operator: union of the two sides + one window over the key
    # = exactly one hash exchange, no join operator at all
    from vega_spark.operators.joins import asof_join
    ev = load_table(spark, sf_dir, "events")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.select("user_id", "ts", F.col("value").alias("px"))
    q = asof_join(left, right, ["user_id"], "ts", ["px"])
    txt = I.plan_text(q)
    assert "Join" not in txt, txt
    assert I.count_exchanges(q) <= 1, txt


def test_sort_global_is_range_partitioned(spark, sf_dir):
    from vega_spark.operators.topk import sort_global
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    q = sort_global(li, [F.col("l_extendedprice").desc()])
    txt = I.plan_text(q)
    assert "rangepartitioning" in txt.lower(), txt
    assert "Sort" in txt, txt


def test_tpch_q6_pure_scan_no_join_no_exchange_but_agg(spark, sf_dir):
    # Q6 is the pushdown poster child: every predicate reaches the
    # scan, no join anywhere, single exchange for the 1-row final agg.
    from vega_spark.registry import QUERIES
    q = QUERIES["tpch_q6_forecast_revenue"](spark, sf_dir)
    txt = I.plan_text(q)
    assert "Join" not in txt, txt
    assert I.has_pushed_filter(q, "l_shipdate"), txt
    assert I.has_pushed_filter(q, "l_quantity"), txt
    assert I.scan_reads_only(
        q, {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"},
        "lineitem"), txt


def test_tpch_q8_dims_all_broadcast(spark, sf_dir):
    # 7-join market-share query: every dimension side broadcast; the
    # only sort-merge candidate is the lineitem⋈orders spine (AQE may
    # still convert it; assert no more than one non-broadcast join).
    from vega_spark.registry import QUERIES
    q = QUERIES["tpch_q8_market_share"](spark, sf_dir)
    txt = I.plan_text(q)
    assert txt.count("BroadcastHashJoin") >= 5, txt
    assert txt.count("SortMergeJoin") <= 1, txt


def test_tpch_q4_exists_is_semi_join(spark, sf_dir):
    from vega_spark.registry import QUERIES
    q = QUERIES["tpch_q4_order_priority"](spark, sf_dir)
    txt = I.plan_text(q)
    assert "LeftSemi" in txt, txt


def test_tpch_q22_not_exists_is_anti_join_with_pushed_date(spark, sf_dir):
    from vega_spark.registry import QUERIES
    q = QUERIES["tpch_q22_global_sales_opportunity"](spark, sf_dir)
    txt = I.plan_text(q)
    assert "LeftAnti" in txt, txt
    assert I.has_pushed_filter(q, "o_orderdate"), txt


def test_tpch_q17_window_decorrelation_single_shuffle_on_partkey(spark, sf_dir):
    # the correlated per-part AVG decorrelates into ONE hash exchange
    # on l_partkey feeding the window; broadcast join adds none.
    from vega_spark.registry import QUERIES
    q = QUERIES["tpch_q17_small_qty_revenue"](spark, sf_dir)
    txt = I.plan_text(q)
    assert txt.count("hashpartitioning(l_partkey") == 1, txt
    assert "BroadcastHashJoin" in txt, txt


def test_tpch_q21_single_window_pass(spark, sf_dir):
    # both correlated subqueries fold into one window over l_orderkey:
    # exactly one hash exchange on l_orderkey before the window.
    from vega_spark.registry import QUERIES
    q = QUERIES["tpch_q21_waiting_suppliers"](spark, sf_dir)
    txt = I.plan_text(q)
    assert txt.count("hashpartitioning(l_orderkey") == 1, txt


def test_clean_corpus_shuffle_excludes_text(spark, sf_dir):
    # the dedup exchange must carry only (digest, id, features) —
    # document content never enters a shuffle (100 TB contract).
    import re
    from vega_spark.registry import QUERIES
    q = QUERIES["pipeline_clean_corpus"](spark, sf_dir)
    txt = I.plan_text(q)
    blocks = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", txt)
    assert blocks, txt
    for cols in blocks:
        assert "text#" not in cols and "__toks" not in cols, cols


def test_per_key_sample_uses_window_group_limit(spark, sf_dir):
    from vega_spark.operators.sampling import sample_deterministic_per_key
    docs = load_table(spark, sf_dir, "documents")
    q = sample_deterministic_per_key(docs, "source", 5, "doc_id")
    # Spark 4 rewrites rank<=k into WindowGroupLimit: map-side top-k
    # heaps before the exchange, the skew-proof shape
    assert "WindowGroupLimit" in I.plan_text(q), I.plan_text(q)


def test_centroid_distance_broadcasts_centroids(spark, sf_dir):
    from vega_spark.functions.embeddings import (
        centroid_distance,
        label_centroids,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q = centroid_distance(emb, label_centroids(emb))
    assert I.uses_broadcast_join(q), I.plan_text(q)


def test_zipf_topn_avoids_global_sort(spark, sf_dir):
    from vega_spark.functions.text import zipf_rank_frequency
    docs = load_table(spark, sf_dir, "documents")
    q = zipf_rank_frequency(docs, "text", top_n=50)
    assert I.uses_take_ordered(q), I.plan_text(q)


def test_cooccurrence_single_scan_two_exchanges(spark, sf_dir):
    from vega_spark.functions.analytics import cooccurrence_pairs
    li = load_table(spark, sf_dir, "lineitem")
    q = cooccurrence_pairs(li, "l_orderkey", "l_partkey", min_count=2)
    import re
    txt = I.plan_text(q)
    # pair fan-out is contained in the basket row: exactly one scan of
    # the base table (the self-join formulation would scan twice);
    # formatted plans list each scan node once in the tree and once in
    # the detail section, so count node ids, not substrings
    assert len(re.findall(r"\(\d+\) Scan parquet", txt)) == 1, txt
    assert I.count_exchanges(q) == 2, txt


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    from vega_spark.registry import QUERIES
    q = QUERIES["bucketed_join_priority_revenue"](spark, sf_dir)
    # join itself is exchange-free (bucket layout provides the
    # partitioning); the only exchange is the tiny final groupBy
    txt = I.plan_text(q)
    n_ex = I.count_exchanges(q)
    assert n_ex <= 1, txt
    assert "SortMergeJoin" in txt, txt


def test_decontamination_broadcasts_eval_grams(spark, sf_dir):
    from vega_spark.registry import QUERIES
    q = QUERIES["decontaminate_against_eval"](spark, sf_dir)
    assert I.uses_broadcast_join(q), I.plan_text(q)


def test_scd2_single_exchange(spark, sf_dir):
    from vega_spark.functions.analytics import scd2_from_events
    ev = load_table(spark, sf_dir, "events")
    q = scd2_from_events(ev)
    assert I.count_exchanges(q) == 1, I.plan_text(q)


def test_rolling_time_sum_single_exchange(spark, sf_dir):
    from vega_spark.functions.analytics import rolling_time_sum
    ev = load_table(spark, sf_dir, "events")
    q = rolling_time_sum(ev, "user_id", F.expr("ts div 1000"), "value",
                         3_600_000_000)
    assert I.count_exchanges(q) == 1, I.plan_text(q)


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    from vega_spark.registry import QUERIES
    q = QUERIES["partitioned_scan_prune"](spark, sf_dir)
    txt = I.plan_text(q)
    # the date predicate must bind as a PartitionFilter (directory
    # pruning), not merely a row-level pushed filter
    import re
    m = re.search(r"PartitionFilters: \[[^\]]*event_date", txt)
    assert m, txt


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.orderBy("l_extendedprice")
    txt = I.plan_text(q)
    # a global sort must sample range boundaries, not hash-partition
    # (hash would interleave ranges across reducers)
    assert "rangepartitioning" in txt.lower(), txt


def test_zip_with_index_has_no_window(spark, sf_dir):
    # VERDICT r01 scale fix: the old plan ranked via an unpartitioned
    # Window (all rows through one task). The scalable plan is
    # range-partition + per-partition offsets — no WindowExec at all.
    # r9 opt: zip_with_index checkpoints the sorted frame, so its
    # final plan is an ExistingRDD scan + broadcast offset join — the
    # range-partitioning contract is asserted on the pre-checkpoint
    # pipeline (the plan the checkpoint job actually materializes).
    from vega_spark.operators.joins import (_range_sorted_local_index,
                                            zip_with_index)
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    pre = _range_sorted_local_index(c, ["c_custkey"])
    pre_txt = I.plan_text(pre)
    assert "Window" not in pre_txt, pre_txt
    assert "rangepartitioning" in pre_txt.lower(), pre_txt
    q = zip_with_index(c, ["c_custkey"], "idx")
    txt = I.plan_text(q)
    assert "Window" not in txt, txt
    # offsets must attach by broadcast — re-shuffling the data side
    # on __pid would defeat the materialize-once design
    assert "BroadcastHashJoin" in txt or "BroadcastExchange" in txt, txt


def test_build_vocab_ranked_head_is_bounded(spark, sf_dir):
    # VERDICT r01 scale fix: top-`size` cut must plan as
    # TakeOrderedAndProject BEFORE the id-assigning window, so the
    # single-partition stage is bounded by vocab size, not corpus
    # vocabulary.
    from vega_spark.functions.text import build_vocab
    docs = load_table(spark, sf_dir, "documents")
    q = build_vocab(docs, "text", size=100)
    assert I.uses_take_ordered(q), I.plan_text(q)


def test_web_blocklist_is_broadcast_anti_join(spark, sf_dir):
    # the blocklist must ride a broadcast: corpus-side never shuffles
    from vega_spark.functions import web as W
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit("https://"), F.col("source"),
                           F.lit(".com/p")).alias("url"))
    q = W.filter_blocked_domains(docs, ["src0.com"])
    txt = I.plan_text(q)
    assert "BroadcastHashJoin" in txt and "LeftAnti" in txt, txt
    assert I.count_exchanges(q) == 0, txt


def test_line_filter_is_narrow_no_exchange(spark, sf_dir):
    from vega_spark.functions import web as W
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    q = W.line_filter(docs)
    assert I.count_exchanges(q) == 0, I.plan_text(q)


def test_kmv_sketch_window_is_partitioned(spark, sf_dir):
    # the bottom-k prune must never be a global single-task window
    from vega_spark.operators.sketches import kmv_sketch
    o = load_table(spark, sf_dir, "orders")
    q = kmv_sketch(o, "o_custkey", k=64)
    txt = I.plan_text(q)
    assert "No Partition Defined" not in txt
    # window partitioned by the partition id, final top-k is a sort+limit
    assert "partitionBy" not in txt or "__pid" in txt, txt
    assert I.uses_take_ordered(q), txt


def test_semantic_dedup_assignment_is_narrow(spark, sf_dir):
    # centroid assignment adds no exchange beyond the rank window and
    # the within-cluster self-join (both keyed by cluster)
    from vega_spark.functions.dedup import semantic_dedup_flags
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cents = [list(r["embedding"])
             for r in emb.filter(F.col("vec_id") < 4).collect()]
    q = semantic_dedup_flags(emb, cents, eps=0.4)
    txt = I.plan_text(q)
    assert "No Partition Defined" not in txt, txt
    assert "CartesianProduct" not in txt, txt


def test_triangle_count_no_cartesian(spark, sf_dir):
    from vega_spark.functions.graph import triangle_count
    li = load_table(spark, sf_dir, "lineitem").limit(2000)
    e = li.select(F.col("l_orderkey").alias("u"),
                  F.col("l_partkey").alias("v"))
    q = triangle_count(e, "u", "v")
    assert "CartesianProduct" not in I.plan_text(q), I.plan_text(q)


def test_pq_scan_reads_codes_not_embeddings(spark, sf_dir):
    # the ADC candidate stage must not carry the embedding column —
    # only (id, code) reach the Arrow kernel
    from vega_spark.functions import similarity as S
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding")
    cbs = S.train_pq_codebooks(emb, dim=dim, m=8, nbits=4, iters=1,
                               n_train=500)
    enc = S.pq_encode(emb, cbs).localCheckpoint(eager=True)
    cand = enc.select("vec_id", "pq_code")
    # the candidate projection prunes the embedding column entirely
    assert "embedding" not in cand.schema.fieldNames()
    out = S.pq_adc_topk(enc, queries, cbs, k=3, refine=2)
    assert out.count() > 0


def test_ewma_single_exchange(spark, sf_dir):
    from vega_spark.functions.analytics import ewma_by_key
    ev = load_table(spark, sf_dir, "events")
    q = ewma_by_key(ev, "user_id", [F.expr("ts div 1000"), F.col("event_id")],
                    "value", alpha=0.3, window_rows=8)
    assert I.count_exchanges(q) == 1, I.plan_text(q)
    assert "No Partition Defined" not in I.plan_text(q)


def test_attribution_single_exchange(spark, sf_dir):
    from vega_spark.functions.analytics import attribution_touch
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts div 1000").alias("ts"),
        "event_id")
    q = attribution_touch(ev)
    assert I.count_exchanges(q) == 1, I.plan_text(q)


def test_stratified_sample_is_narrow_pushed_scan(spark, sf_dir):
    from vega_spark.operators.sampling import stratified_sample_deterministic
    docs = load_table(spark, sf_dir, "documents")
    q = stratified_sample_deterministic(docs, "lang", {"en": 0.5},
                                        "doc_id")
    assert I.count_exchanges(q) == 0, I.plan_text(q)


def test_advisor_flags_global_window_and_cartesian(spark):
    import pytest
    from pyspark.sql.window import Window
    from vega_spark.plans.advisor import analyze_plan, assert_scale_safe
    df = spark.range(100).withColumnRenamed("id", "a")
    bad = df.withColumn("rn", F.row_number().over(Window.orderBy("a")))
    codes = {f["code"] for f in analyze_plan(bad)}
    assert "global-window" in codes
    with pytest.raises(AssertionError, match="global-window"):
        assert_scale_safe(bad)
    # partitioned window: clean
    good = df.withColumn("rn", F.row_number().over(
        Window.partitionBy(F.col("a") % 10).orderBy("a")))
    assert "global-window" not in {f["code"] for f in analyze_plan(good)}
    assert_scale_safe(good)
    # cross joins: a side Catalyst PROVES tiny (range(5) has
    # maxRows=5) is the benign scalar-attach shape -> INFO, not WARN
    cj = df.crossJoin(spark.range(5).withColumnRenamed("id", "b"))
    codes = {f["code"] for f in analyze_plan(cj)}
    assert "bounded-cross-broadcast" in codes and "cross-nlj" not in codes


def test_advisor_unpushed_filter_detection(spark, sf_dir):
    # Spark 4 omits the PushedFilters line entirely when nothing
    # pushes, so the original "PushedFilters: []" literal was a DEAD
    # check (r6 audit). The rewritten detector is structural: a
    # Filter (even through a Python-eval node) directly on a scan
    # whose section shows no pushed/partition filters.
    from pyspark.sql.functions import udf
    from vega_spark.plans.advisor import analyze_plan
    from vega_spark.tables import load_table
    li = load_table(spark, sf_dir, "lineitem")
    bad = li.filter(udf(lambda x: x > 5, "boolean")(F.col("l_quantity")))
    assert "unpushed-filter" in {f["code"] for f in analyze_plan(bad)}
    # a plain comparison pushes (PushedFilters non-empty) -> clean
    good = li.filter(F.col("l_quantity") > 5)
    assert "unpushed-filter" not in {f["code"] for f in analyze_plan(good)}
    # HAVING-shape filters sit on aggregates, not scans -> clean
    having = li.groupBy("l_returnflag").count().filter(F.col("count") > 10)
    assert "unpushed-filter" not in {f["code"]
                                     for f in analyze_plan(having)}


def test_advisor_cross_nlj_unbounded_side_still_warns(spark, sf_dir):
    # a cross join against a real table scan (maxRows undefined on
    # a parquet relation) cannot be proven bounded -> stays WARN;
    # hint the broadcast so the physical plan is the NLJ shape the
    # advisor matches rather than a FATAL CartesianProduct
    from vega_spark.plans.advisor import analyze_plan
    from vega_spark.tables import load_table
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    cj = nat.crossJoin(F.broadcast(reg))
    codes = {f["code"] for f in analyze_plan(cj)}
    assert "cross-nlj" in codes and "bounded-cross-broadcast" not in codes


def test_advisor_flags_row_udf_not_arrow(spark):
    from pyspark.sql.functions import pandas_udf, udf
    from vega_spark.plans.advisor import analyze_plan
    df = spark.range(100).withColumnRenamed("id", "a")
    slow = df.withColumn("b", udf(lambda x: x + 1, "long")(F.col("a")))
    assert "row-python-udf" in {f["code"] for f in analyze_plan(slow)}

    fast = pandas_udf(lambda s: s + 1, "long")
    ok = df.withColumn("b", fast(F.col("a")))
    assert "row-python-udf" not in {f["code"] for f in analyze_plan(ok)}


def test_advisor_clean_on_registry_flagships(spark, sf_dir):
    # every showcase plan in PLANS.md must pass the catch-all gate
    from vega_spark.plans.advisor import assert_scale_safe
    from vega_spark.registry import QUERIES
    for name in ("weblog_agg", "tpch_q3_shipping", "dedup_exact",
                 "kmv_distinct_jaccard", "semantic_dedup_flags",
                 "triangle_count_parts", "web_url_dedup_pipeline",
                 "ewma_user_values", "attribution_first_last_touch"):
        assert_scale_safe(QUERIES[name](spark, sf_dir))


def test_advisor_clean_on_round2_continuation_queries(spark, sf_dir):
    # the model-eval / ML-prep / text families added after the 216-
    # query state: all scale-gated (no global windows, no cartesian,
    # no row-Python UDFs)
    from vega_spark.plans.advisor import assert_scale_safe
    from vega_spark.registry import QUERIES
    for name in ("roc_auc_purchase_value", "ks_drift_purchase_view",
                 "dp_noisy_event_counts", "k_anonymity_docs",
                 "feature_vector_events", "target_encode_orders_priority",
                 "naive_bayes_lang_confusion", "holt_forecast_hourly",
                 "html_extract_docs", "ols_price_qty_discount",
                 "stump_return_price", "markov_next_event",
                 "calibration_value_purchase", "decile_lift_purchase",
                 "readability_docs", "profile_orders", "bigram_lm_docs"):
        assert_scale_safe(QUERIES[name](spark, sf_dir))


def test_advisor_accepts_partitioned_unordered_window(spark):
    # regression: a partitioned-but-UNORDERED window has only two
    # argument groups in the formatted plan; the advisor must not
    # mistake it for a global window (funnel/q17 shape)
    from pyspark.sql.window import Window
    from vega_spark.plans.advisor import analyze_plan
    df = spark.range(100).withColumnRenamed("id", "a")
    ok = df.withColumn("mx", F.max("a").over(
        Window.partitionBy(F.col("a") % 10)))
    assert "global-window" not in {f["code"] for f in analyze_plan(ok)}


def test_scale_audit_whole_registry_no_fatals(spark, sf_dir):
    # the repo-wide sweep: every registry query's plan must be free
    # of global windows and cartesian products (tools/scale_audit.py
    # is the CLI twin of this test)
    from vega_spark.plans.advisor import analyze_plan
    from vega_spark.registry import QUERIES
    fatals = []
    for name, fn in QUERIES.items():
        findings = analyze_plan(fn(spark, sf_dir))
        fatals += [(name, f["code"]) for f in findings
                   if f["severity"] == "FATAL"]
    assert fatals == []


def test_tpch_plan_build_launches_no_job(spark, sf_dir, jobs_launched):
    # a table's parquet schema is inferred once (one job) and cached;
    # building a plan afterwards must not run any Spark job
    from vega_spark.registry import QUERIES
    for q in ("tpch_q3_shipping", "tpch_q9_profit_by_nation"):
        QUERIES[q](spark, sf_dir)  # warm: loads each table once
        _, n = jobs_launched(lambda: QUERIES[q](spark, sf_dir))
        assert n == 0, q


def test_partitioned_scan_rebuild_launches_no_job(spark, sf_dir,
                                                  jobs_launched):
    # the partitioned copy is written and its schema inferred on the
    # first build; later builds re-read it with that schema, no job
    from vega_spark.registry import QUERIES
    q = "partitioned_scan_prune"
    QUERIES[q](spark, sf_dir)  # warm: writes the copy, caches its schema
    _, n = jobs_launched(lambda: QUERIES[q](spark, sf_dir))
    assert n == 0


def test_parquet_roundtrip_build_launches_one_job(spark, sf_dir,
                                                   jobs_launched):
    # the read-back passes the written frame's schema, so building the
    # query runs the write and nothing else (no footer-inference job)
    from vega_spark.registry import QUERIES
    q = "save_parquet_partitioned_roundtrip"
    QUERIES[q](spark, sf_dir)  # warm: caches the orders schema
    _, n = jobs_launched(lambda: QUERIES[q](spark, sf_dir))
    assert n == 1
