"""Physical-plan regression tests — the 100 TB posture, asserted.

Correctness tests say the answers are right; these say the *plans* are the
ones that survive a 1000-executor cluster: filters and projections reach
the parquet scan, small dimensions broadcast, top-k never global-sorts,
and scalar stats aggregate partially before the shuffle.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from ddf_flink_spark.registry import QUERIES

from .conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_filter_pushdown_and_partial_agg(spark):
    p = plan_of(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # partial (map-side) aggregation before the exchange
    assert p.count("HashAggregate") >= 2
    # column pruning: only the referenced columns reach the scan
    read_schema = next(line for line in p.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q03_column_pruning(spark):
    p = plan_of(spark, "q03_project_filter")
    read_schema = next(line for line in p.splitlines() if "ReadSchema" in line)
    for col in ("l_returnflag", "l_shipdate", "l_tax"):
        assert col not in read_schema, f"{col} should be pruned from the scan"
    assert "GreaterThan(l_quantity,45.0)" in p


def test_q05_broadcasts_customer_dim(spark):
    p = plan_of(spark, "q05_join_inner")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_q11_multiway_all_broadcast(spark):
    """Star-schema join: every dim side is broadcast — zero shuffle joins."""
    p = plan_of(spark, "q11_multiway_join")
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_q13_topk_never_global_sorts(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    top-k + merge), never a global Sort — the reference's parallelism=1
    sort (``utils/package.scala:369,378``) is the anti-pattern."""
    p = plan_of(spark, "q13_topk")
    assert "TakeOrderedAndProject" in p


def test_q19_single_pass_summary(spark):
    """getSummary is ONE aggregation job (one scan), not per-stat jobs."""
    p = plan_of(spark, "q19_summary_stats")
    # formatted explain prints each node twice (tree line + detail block)
    assert p.count("Scan parquet") <= 2


def test_q46_scaling_reads_scan_once_per_job(spark):
    """Min-max scaling: the rescale projection itself must not contain a
    window-over-all-rows exchange (the tiny min/max agg was collected
    driver-side instead)."""
    p = plan_of(spark, "q46_scale_minmax")
    assert "Window" not in p


def test_no_cartesian_anywhere(spark):
    """No registered relational query may plan a cartesian product.
    (Similarity brute-force legitimately crosses against a tiny seed set —
    exempted explicitly, it is a bounded k×n expansion. Streaming queries
    are exempt only because building them executes the whole stream.)"""
    exempt = {
        "q40_similarity_bruteforce",
        "q41_embedding_neardup",
        "q42_similarity_lsh",
        "q253_filtered_ann",
        "q70_stream_tumbling",
        "q71_stream_sliding",
        "q72_stream_sessions",
        "q73_stream_dedup",
        "q74_stream_stateful",
    }
    for name in QUERIES:
        if name in exempt:
            continue
        try:
            p = plan_of(spark, name)
        except Exception as ex:  # a query that cannot even build is a failure
            pytest.fail(f"{name} failed to build: {ex!r}")
        assert "CartesianProduct" not in p, f"{name} plans a cartesian product"


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """Bucketing both sides of a recurring join key pre-co-locates the
    data: the join plans with ZERO shuffle exchanges — the tool for
    repeated 100 TB fact-fact joins where broadcast is impossible."""
    import uuid

    tag = uuid.uuid4().hex[:8]
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force non-broadcast
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable(
        f"orders_b_{tag}"
    )
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable(
        f"lineitem_b_{tag}"
    )
    ob = spark.table(f"orders_b_{tag}")
    lb = spark.table(f"lineitem_b_{tag}")
    joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        joined.explain("formatted")
    p = buf.getvalue()
    try:
        assert "Exchange" not in p, "bucketed join must not shuffle"
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE orders_b_{tag}")
        spark.sql(f"DROP TABLE lineitem_b_{tag}")


def test_partitioned_sink_prunes(spark, tmp_path_factory):
    """Reading a Hive-partitioned sink with a partition predicate must
    prune at the partition level (PartitionFilters), not post-scan."""
    from pyspark.sql import functions as F

    from ddf_flink_spark.registry import t

    target = str(tmp_path_factory.mktemp("part_sink"))
    t(spark, SF_DIR, "orders").write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).parquet(target)
    back = spark.read.parquet(target).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain("formatted")
    p = buf.getvalue()
    line = next(l for l in p.splitlines() if "PartitionFilters" in l)
    assert "IN (1-URGENT,2-HIGH)" in line, line


def test_q96_topk_per_group_rank_limit_pushdown(spark):
    """Grouped top-k must use WindowGroupLimit (per-partition rank limit
    BEFORE the shuffle — partial + final), never rank-then-filter over the
    full window input."""
    p = plan_of(spark, "q96_topk_per_group")
    # formatted explain prints each node twice (tree + detail); two distinct
    # WindowGroupLimit nodes (Partial + Final) therefore appear 4 times
    assert p.count("WindowGroupLimit") >= 4, p


def test_q100_q5_pushdown_and_broadcasts(spark):
    """TPC-H Q5: the date range reaches the orders scan, the region
    predicate reaches the region scan, and every dimension joins as a
    broadcast (the only shuffle join permitted is fact-fact)."""
    p = plan_of(spark, "q100_tpch_q5_local_supplier")
    assert "GreaterThanOrEqual(o_orderdate" in p and "LessThan(o_orderdate" in p
    assert "EqualTo(r_name,ASIA)" in p
    assert p.count("BroadcastHashJoin") >= 3
    # at most ONE shuffle join (fact-fact; one node = two formatted lines)
    assert p.count("SortMergeJoin") <= 2, p


def test_q103_q3_topk_and_pushdown(spark):
    """TPC-H Q3: both date predicates reach their scans; the top-10 is a
    per-partition heap (TakeOrderedAndProject), never a global sort."""
    p = plan_of(spark, "q103_tpch_q3_shipping_priority")
    assert "TakeOrderedAndProject" in p
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in p
    assert "GreaterThan(l_shipdate" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p


def test_q105_q18_aggregates_before_join(spark):
    """TPC-H Q18: the lineitem rollup + HAVING filter must run BEFORE the
    joins (aggregate-then-join), so only qualifying orderkeys are joined.
    The formatted tree prints parent-then-children depth-first, so an
    aggregate feeding a join appears AFTER (deeper than) the join line;
    a regressed join-then-aggregate plan would print the aggregate above
    (before) every join."""
    p = plan_of(spark, "q105_tpch_q18_large_orders")
    filter_line = next(
        line for line in p.splitlines() if "Condition" in line and "sum_qty" in line
    )
    assert "250" in filter_line
    assert "TakeOrderedAndProject" in p
    tree = p.split("\n\n")[0].splitlines()  # the tree section only
    join_idx = min(
        i for i, l in enumerate(tree) if "Join" in l
    )
    agg_idx = min(i for i, l in enumerate(tree) if "HashAggregate" in l)
    assert join_idx < agg_idx, (
        "lineitem aggregate must be a join INPUT (printed under the join), "
        f"but first HashAggregate at line {agg_idx} precedes first join at {join_idx}"
    )


def test_q108_heavy_hitters_partial_agg(spark):
    """Token counting must partially aggregate map-side (Zipf-skewed keys
    collapse before the shuffle) and take the top-20 via heap, not sort."""
    p = plan_of(spark, "q108_heavy_hitters")
    assert "partial_count" in p
    assert "TakeOrderedAndProject" in p


def test_q109_no_global_sort(spark):
    """Distribution analytics partition by o_orderstatus — the window must
    sort within hash-distributed partitions, never range-repartition the
    whole table through one global sort."""
    p = plan_of(spark, "q109_window_distribution")
    assert "Window" in p
    assert "hashpartitioning(o_orderstatus" in p


def test_q110_subquery_decorrelates_to_join(spark):
    """The correlated MIN subquery must decorrelate into a grouped
    aggregate joined back on the correlation key — never a per-outer-row
    subquery execution."""
    p = plan_of(spark, "q110_correlated_min_subquery")
    assert "Join" in p
    assert "min(p_retailprice" in p


def test_q112_salted_join_spreads_key(spark):
    """The salted join must shuffle on (key, salt) — the hot-key spread is
    visible in the exchange's partitioning — and must NOT broadcast."""
    p = plan_of(spark, "q112_salted_join")
    assert "SortMergeJoin" in p
    assert "hashpartitioning(l_orderkey" in p and "__salt" in p
    assert "BroadcastHashJoin" not in p


def test_q126_q19_disjunction_pushes_per_side(spark):
    """The OR-of-AND-groups predicate mixes columns from both join sides;
    Catalyst must extract each side's disjunction and push it into that
    side's parquet scan (3 brands' parts, bounded quantities) instead of
    filtering after the join."""
    p = plan_of(spark, "q126_tpch_q19_disjunctive")
    assert "GreaterThanOrEqual(l_quantity,1.0)" in p  # lineitem-side Or pushed
    assert "EqualTo(p_brand,Brand#12)" in p  # part-side Or pushed
    assert "CartesianProduct" not in p


def test_q127_q21_single_fact_exchange(spark):
    """The single-pass Q21 reformulation must shuffle lineitem exactly
    once: one hash(l_orderkey) exchange feeding all four window passes
    (the (l_orderkey, l_suppkey) window reuses the coarser partitioning
    via subset clustering — a sort, not an exchange), dims broadcast,
    never a cartesian product or the old semi+anti lineitem rescans."""
    p = plan_of(spark, "q127_tpch_q21_waiting_supplier")
    assert "CartesianProduct" not in p
    assert "LeftSemi" not in p and "LeftAnti" not in p  # old 3-scan shape gone
    assert p.count("lineitem.parquet") == 1  # one fact scan
    assert "EqualTo(o_orderstatus,F)" in p  # status filter reaches the scan
    # exactly one shuffle before the final group-by: the fact exchange
    import re
    non_broadcast = [
        ln for ln in p.splitlines()
        if re.search(r"\bExchange hashpartitioning", ln)
    ]
    assert len(non_broadcast) <= 2, non_broadcast  # fact + final agg only


def test_q130_decontamination_broadcasts_benchmark(spark):
    """The benchmark shingle index must broadcast (it is corpus-size
    independent) and the source split must reach the parquet scans, so
    the corpus pass is a shuffle-free single scan."""
    p = plan_of(spark, "q130_decontamination")
    assert "BroadcastHashJoin LeftSemi" in p
    assert "In(source, [src0,src1])" in p
    assert "Not(In(source, [src0,src1]))" in p


def test_q132_dynamic_partition_pruning_fires(spark):
    """The year-partitioned fact scan must carry a runtime
    dynamicpruning partition filter fed by the dim side — at 100 TB this
    is the difference between scanning 5 and 14 year directories."""
    p = plan_of(spark, "q132_dynamic_partition_pruning")
    assert "dynamicpruning" in p.lower()


def test_q133_bloom_filter_injects_under_conf(spark):
    """With broadcast off (the too-big-to-broadcast dim regime), the
    optimizer must inject a bloom_filter_agg on the selective dim's keys
    and a might_contain probe on the fact side below its shuffle."""
    from ddf_flink_spark.registry import BLOOM_JOIN_CONF, bloom_join_frame

    saved = {k: spark.conf.get(k) for k in BLOOM_JOIN_CONF}
    for k, v in BLOOM_JOIN_CONF.items():
        spark.conf.set(k, v)
    try:
        j = bloom_join_frame(spark, SF_DIR)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt
        assert "might_contain" in opt
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_kmeans_assignment_is_shuffle_free(spark):
    """Lloyd assignment is a pure map (array_min argmin over plan-time
    centroid literals): no Exchange anywhere — the corpus vectors are
    never shuffled, only the k·d centroid values move (as literals)."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from ddf_flink_spark.ml.kmeans import _assign

    emb = (
        QUERIES["q146_kmeans_fixed_iters"].__globals__["t"](spark, SF_DIR, "embeddings")
        .select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
    )
    assigned = _assign(emb, [[0.0] * 64, [1.0] * 64])
    buf = io.StringIO()
    with redirect_stdout(buf):
        assigned.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_srp_signature_is_shuffle_free(spark):
    """q151's sign-random-projection signature is one codegen'd map pass:
    plan-time literal hyperplanes, no explode/join/Exchange."""
    import io
    from contextlib import redirect_stdout

    from ddf_flink_spark.functions.similarity import srp_signature_crossengine
    from ddf_flink_spark.registry import t

    sigs = srp_signature_crossengine(t(spark, SF_DIR, "embeddings"))
    buf = io.StringIO()
    with redirect_stdout(buf):
        sigs.explain("formatted")
    p = buf.getvalue()
    assert "Exchange" not in p
    assert "Generate" not in p  # no explode


def test_scale_audit_catches_seeded_hazards(spark):
    """Each hazard class the auditor knows is caught on a plan built to
    contain it."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ddf_flink_spark.plans.audit import audit_plan

    a = spark.range(100)
    b = spark.range(100).withColumnRenamed("id", "jd")

    cart = a.crossJoin(b)
    assert any(f.startswith("cartesian-product") for f in audit_plan(cart))

    gw = a.withColumn("rs", F.sum("id").over(Window.orderBy("id")))
    assert any(f.startswith("single-partition") for f in audit_plan(gw))

    from pyspark.sql.functions import udf

    slow = a.withColumn("u", udf(lambda x: x + 1, "long")("id"))
    assert any(f.startswith("python-row-udf") for f in audit_plan(slow))


def test_scale_audit_headliners_clean(spark):
    """The TPC-H headline plans audit clean — no cartesian products,
    no single-partition funnels, no Python row UDFs, filters pushed.
    (Queries whose OUTPUT is a 1-row aggregate legitimately end in a
    single-partition final agg and are not in this list.)"""
    from ddf_flink_spark.registry import QUERIES
    from ddf_flink_spark.plans.audit import audit_plan

    for name in ["q01_pricing_summary", "q100_tpch_q5_local_supplier",
                 "q103_tpch_q3_shipping_priority", "q124_tpch_q13_custdist",
                 "q127_tpch_q21_waiting_supplier"]:
        findings = audit_plan(QUERIES[name](spark, SF_DIR))
        assert findings == [], f"{name}: {findings}"


# --------------------------------------------------------- suite-wide audit
# Per-query audit exemptions: the finding KINDS each query is allowed to
# raise, with the reason. Anything not listed here must audit clean.
# (See PERF.md "Scale-audit exemptions" for the full rationale.)
AUDIT_EXEMPT: dict[str, set[str]] = {
    # O(1)-output global aggregates / global scalar subqueries: the
    # SinglePartition exchange carries 1..k rows, not the dataset.
    "q18_correlation": {"single-partition"},
    "q19_summary_stats": {"single-partition"},
    "q20_quantiles": {"single-partition"},
    "q49_five_num": {"single-partition"},
    "q54_load_csv_dialect": {"single-partition"},  # 25-row nation round-trip
    "q57_vector_stats": {"single-partition"},
    "q58_simple_summary": {"single-partition"},
    "q66_dropna_columns_fill_dict": {"single-partition"},  # global agg fills
    "q90_ntile_binning": {"single-partition"},  # exact global NTILE semantics
    "q93_scalar_subquery": {"single-partition"},
    "q117_funnel": {"single-partition"},  # final 1-row conversion summary
    "q126_tpch_q19_disjunctive": {"single-partition"},  # 1-row revenue agg
    "q128_tpch_q22_dormant_customers": {"single-partition"},  # global AVG subquery
    "q137_tpch_q6_revenue_filter": {"single-partition"},  # 1-row agg
    # manifest-store box/point scans end in a 1-row global aggregate
    # (count + sums over the pruned read) — O(1) output, map-side
    # partials; the exchange carries one row per partition
    "q281_snapshot_zonemap_skipping": {"single-partition"},
    "q286_snapshot_pruned_serve": {"single-partition"},
    "q289_snapshot_bloom_point_lookup": {"single-partition"},
    # Spark's InjectRuntimeFilter builds a bloom filter for the
    # codes⋈candidates join: bloom_filter_agg's single-partition
    # exchange carries ONE buffer row (O(1) output) — the engine's own
    # runtime-filter machinery, not a data funnel
    "q243_ivfadc_residual": {"single-partition"},
    # in-engine ADC LUT build: Q·nprobe query-residual rows × the
    # BROADCAST m·k codebook frame (16 rows — MODEL parameters, not
    # data; measured below). The cross shape is the LUT definition.
    "q244_ivfadc_batch_serving": {"cartesian-product"},
    "q245_ivfadc_index_persistence": {"cartesian-product"},
    "q250_ivfadc_exact_rerank": {"cartesian-product"},  # same LUT cross via q244
    # same LUT cross (broadcast m·k = 16-row codebook frame) through
    # ivfadc_index_search in the round-8 lifecycle queries
    "q255_index_delete_compact": {"cartesian-product"},
    "q256_filtered_ann_persisted": {"cartesian-product"},
    "q259_ivfadc_persisted_serve": {"cartesian-product"},
    # the same broadcast LUT cross through ivfadc_index_search, served
    # from the manifest store instead of the directory layout
    "q282_manifest_ann_serve": {"cartesian-product"},
    # MaxSim: the broadcast side is the Q=5 query-vector frame (model-
    # sized); the non-equi (id != qid) cross over it is the pair scoring
    "q257_maxsim_chunk_retrieval": {"cartesian-product"},
    # index health census: the 1-row total rides back as a broadcast
    # crossJoin; the census agg itself is the n_lists-row funnel
    "q262_index_health": {"single-partition", "cartesian-product"},
    # 4-row tuning table: per-nprobe 1-row hit aggregates crossJoined
    # with the 1-row query-count aggregate
    "q252_ivf_recall_sweep": {"single-partition", "cartesian-product"},
    # contract-row assembly: the cluster-size aggregate (1 row)
    # crossJoined with the corpus-count aggregate (1 row)
    "q204_ml_kmeans_kmeanspp": {"single-partition", "cartesian-product"},
    "q140_tpch_q15_top_supplier": {"single-partition"},  # global MAX subquery
    "q141_tpch_q17_small_qty_revenue": {"single-partition"},  # 1-row agg
    "q143_morton_layout": {"single-partition"},  # 1-row box aggregate
    "q158_cv_kfold_deterministic": {"single-partition"},  # 5-row fold sizes
    # 1-row sample aggregate crossJoined with the broadcast 1-row
    # realness (semi-join count) aggregate
    "q65_sample_exact": {"single-partition", "cartesian-product"},
    # corpus token total is a 1-row aggregate crossJoined broadcast into
    # the per-(doc,word) term computation
    "q223_kl_novelty_outliers": {"single-partition", "cartesian-product"},
    # 1-row fidelity-checksum aggregate over the compacted table
    "q227_small_file_compaction": {"single-partition"},
    # global (lo,hi) is a broadcast 1-row crossJoin; the non-equi
    # cum>=target pick joins |groups|x4 targets against |groups|x<=256
    # cumulative bins
    "q236_grouped_quantile_sketch": {"single-partition", "cartesian-product"},
    # sources x vocabulary grid (vocab-bounded by design; rest-only
    # words need p=0 rows) + the 1-row corpus-total broadcast
    "q237_js_divergence_sources": {"single-partition", "cartesian-product"},
    # unigram/bigram mass totals are 1-row aggregates crossJoined
    # broadcast into the PMI scoring
    "q238_pmi_collocations": {"single-partition", "cartesian-product"},
    # non-equi join against the fixed 4-row threshold side (broadcast)
    "q239_dedup_threshold_sweep": {"cartesian-product"},
    # the whole query IS one 1-row corpus aggregate (O(1) output)
    "q240_corpus_fingerprint": {"single-partition"},
    # window over VOCAB (≪ corpus); non-equi join against the fixed 4-row
    # coverage-levels side (bounded broadcast)
    "q165_vocab_coverage": {"single-partition", "cartesian-product"},
    # Deliberately bounded non-equi joins: one side is a fixed seed set /
    # k centroids / k range bounds — the documented brute-force baselines.
    "q40_similarity_bruteforce": {"cartesian-product"},
    "q41_embedding_neardup": {"cartesian-product"},
    "q253_filtered_ann": {"cartesian-product"},  # q40's bounded 20-query cross
    "q59_range_join": {"cartesian-product"},
    "q98_nearest_centroid": {"cartesian-product"},
    "q157_user_profile_similarity": {"cartesian-product"},
    # Genuinely imperative UDTF demo, input capped at 500 docs.
    "q149_udtf_repeated_spans": {"python-row-udf"},
    # Global-fraction HAVING: the scalar grand-total branch is a 1-row agg.
    "q172_tpch_q11_important_stock": {"single-partition"},
    # KMV sketch: final agg folds the k=256-row sketch (O(k) output);
    # exact-count witness crossJoins a broadcast 1-row frame.
    "q174_kmv_distinct_sketch": {"single-partition", "cartesian-product"},
    # BM25: corpus scalars (N, total_tokens) are a broadcast 1-row frame
    # crossJoined into the scoring side; their agg is the 1-row funnel.
    "q175_bm25_retrieval": {"single-partition", "cartesian-product"},
    # Triangle count: the three result scalars are 1-row aggregates
    # crossJoined as broadcast 1-row frames.
    "q178_triangle_count": {"single-partition", "cartesian-product"},
    # Streaming CMS: final 1-row rollup folds the 4096-cell grid.
    "q184_stream_countmin": {"single-partition"},
    "q206_stream_countmin_stateful": {"single-partition"},
    # Bloom decontamination: the three count scalars are 1-row
    # aggregates crossJoined back as broadcast 1-row frames.
    "q207_bloom_decontamination": {"single-partition", "cartesian-product"},
    # Histogram quantile sketch: the cumulative window + quantile picks
    # run over <=512 bin rows (O(B) state); (min,max,n) and the exact
    # percentiles are broadcast 1-row crossJoins; the non-equi
    # cum>=target join is 5 x 512 rows.
    "q209_histogram_quantile_sketch": {"single-partition", "cartesian-product"},
    # Temperature mixture: arithmetic over |sources| x |taus| rows; the
    # tau window and the taus crossJoin are both bounded-tiny.
    "q210_mixture_temperature": {"single-partition", "cartesian-product"},
    # LSH recall witness: the three count scalars are 1-row aggregates
    # crossJoined back as broadcast 1-row frames.
    "q213_lsh_recall_witness": {"single-partition", "cartesian-product"},
    # Embedding diversity: moment scalars are 1-row aggregates
    # crossJoined back; the brute-force leg is a bounded 100-vector
    # witness (the metric itself is the one-pass moment formula).
    "q217_embedding_diversity": {"single-partition", "cartesian-product"},
    # Skew report: distribution scalars are a 1-row agg over key
    # frequencies, crossJoined back as a broadcast 1-row frame.
    "q187_join_skew_report": {"single-partition", "cartesian-product"},
    # RRF fusion: the semantic leg is q40's bounded 1-query crossJoin;
    # the rank windows order the two ≤100-row top-k lists.
    "q189_hybrid_search_rrf": {"single-partition", "cartesian-product"},
    # Hybrid BM25×MaxSim RRF: q175's 1-row corpus-scalar crossJoin +
    # q257's broadcast 1-query non-equi pair scoring; the rank windows
    # order the two ≤101-row top-k lists (runtime-measured below).
    "q270_hybrid_bm25_maxsim_rrf": {"single-partition", "cartesian-product"},
    # Recall sweep: the brute ground-truth leg is q257's broadcast
    # 5-query non-equi pair scoring; per-nprobe hit counts are 1-row
    # aggregates unioned into the 4-row tuning table.
    "q274_maxsim_recall_sweep": {"single-partition", "cartesian-product"},
    # ADC MaxSim: the dot-product LUT is the Q-row query frame crossed
    # with the BROADCAST m·k codebook frame (128 rows — MODEL
    # parameters); q277 adds the same LUT cross inside its shortlist
    # stage. Both runtime-measured below.
    "q276_maxsim_adc_serve": {"cartesian-product"},
    "q277_maxsim_adc_rerank": {"cartesian-product"},
    # TF-IDF keywords: n_sources is a 1-row agg crossJoined broadcast.
    "q190_tfidf_keywords": {"single-partition", "cartesian-product"},
    # Quality report: the whole report is ONE 1-row aggregate (by design
    # — one scan for all columns), unpivoted to 4 rows.
    "q191_data_quality_report": {"single-partition"},
    # PSI drift: window totals and the PSI sum fold the 10-row bin
    # table; both ride back as broadcast 1-row crossJoins.
    "q198_distribution_drift_psi": {"single-partition", "cartesian-product"},
    # Gini: the rank window and aggregates run over the ~|sources|-row
    # size table; the two scalars crossJoin as broadcast 1-row frames.
    "q199_source_concentration": {"single-partition", "cartesian-product"},
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_scale_audit_suite_wide(spark, name):
    """EVERY registry query's physical plan must audit clean of 100 TB
    hazards, except the explicitly exempted (kind, reason) pairs above —
    a new query that introduces a cartesian product, a single-partition
    funnel, a row-Python UDF, or an unpushed filter fails here the day
    it lands."""
    from ddf_flink_spark.plans.audit import audit_plan

    findings = audit_plan(QUERIES[name](spark, SF_DIR))
    kinds = {f.split(":")[0] for f in findings}
    allowed = AUDIT_EXEMPT.get(name, set())
    assert kinds <= allowed, (
        f"{name}: unexempted scale hazards {kinds - allowed}: {findings}"
    )


def test_lsh_banding_materializes_signatures_once(spark):
    """The MinHash banding bucket join and the SimHash block join must
    read a MATERIALIZED (checkpointed) signature frame on both sides —
    before this fix each side re-ran the whole signature pipeline
    (shingle explode + hashing + aggregation), visible as two
    hashpartitioning(id) exchanges feeding the self-join. The final plan
    must contain ZERO signature-aggregation exchanges (the signature job
    ran once, at checkpoint time) and scan the checkpoint RDD instead."""
    from ddf_flink_spark.functions.dedup import (
        minhash_lsh_candidates,
        simhash_near_duplicates,
    )

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for build in (
        lambda: minhash_lsh_candidates(d, num_hashes=32, bands=8),
        lambda: simhash_near_duplicates(d, max_hamming=3),
    ):
        df = build()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the signature groupBy exchanges on the bare `id` key; the only
        # legitimate exchange left is the pair-distinct on (id_a, id_b)
        assert "hashpartitioning(id#" not in plan, (
            "signature aggregation re-planned inside the self-join:\n"
            + plan[:2000]
        )
        assert "ExistingRDD" in plan


# The q90 global NTILE is deliberately data-sized: it IS the exactness
# path (single total-order window), documented as such — the scale
# default for equal-frequency work is the GK sketch. Every other
# exemption claims an O(1)/O(k) bound, checked below at runtime.
RUNTIME_UNBOUNDED: dict[str, str] = {
    "q90_ntile_binning": "exact global NTILE is data-sized by design",
}

RUNTIME_BOUND_ROWS = 10_000


@pytest.mark.parametrize("name", sorted(set(AUDIT_EXEMPT) - set(RUNTIME_UNBOUNDED)))
def test_audit_exemptions_are_bounded_at_runtime(spark, name):
    """Every AUDIT_EXEMPT entry asserts in prose that its
    single-partition funnel / nested-loop join is 'bounded' ('1-row
    aggregate', 'k centroids', 'fixed seed set'). This test MEASURES the
    claim at sf0.1: execute the query and read the runtime SQL metrics —
    shuffle records written into each SinglePartition exchange, and the
    broadcast side's row count for each BroadcastNestedLoopJoin (the
    output of a 1-row-broadcast join is input-sized, which is fine; the
    hazard would be a large broadcast side). Anything above
    RUNTIME_BOUND_ROWS means the exemption's justification no longer
    holds and must be re-adjudicated, not re-worded."""
    from ddf_flink_spark.plans.audit import measure_bounded_hazards
    from ddf_flink_spark.storage import release_all_storage

    measures = measure_bounded_hazards(QUERIES[name](spark, "/root/testdata/sf0.1"))
    release_all_storage(spark)
    over = [(k, n, r) for k, n, r in measures if r > RUNTIME_BOUND_ROWS or r < 0]
    assert not over, (
        f"{name}: exempted hazards exceed the measured bound "
        f"({RUNTIME_BOUND_ROWS} rows): {over}; all measures: {measures}"
    )


def test_no_constant_temp_paths_in_registry():
    """Every sink path under the system temp dir must be per-process
    (``_session_tmp`` / ``mkdtemp`` / applicationId-scoped), never a
    constant like ``/tmp/ddf_q233``: two concurrent gate/bench sessions
    on one box would interleave overwrite/read on a shared sink and
    surface as a false oracle mismatch (round-5 VERDICT defect #2)."""
    import re
    from pathlib import Path

    src = (
        Path(__file__).resolve().parents[1] / "ddf_flink_spark" / "registry.py"
    ).read_text()
    # constant string literal joined to gettempdir(): forbid both the
    # os.path.join form and the f-string form unless the literal embeds
    # a per-process discriminator further on the same line
    offenders = []
    for i, line in enumerate(src.splitlines(), 1):
        if "gettempdir()" not in line:
            continue
        if re.search(r"gettempdir\(\),\s*\"[^\"{]+\"\s*\)", line) or re.search(
            r"gettempdir\(\)\}/[A-Za-z0-9_]+\"", line
        ):
            if "getpid()" not in line and "applicationId" not in line:
                offenders.append((i, line.strip()))
    assert not offenders, f"constant temp-dir sink paths: {offenders}"


@pytest.fixture
def skew_confs(spark):
    """Temporarily lower AQE's skew thresholds so the test-sized corpus
    triggers the same skew-join machinery that production sizes trigger
    at the defaults (256 MB partitions) — the MECHANISM is what's under
    test, the thresholds scale with the data. The shuffle-partition
    count is pinned too: the session default follows the host's cores,
    and with a 20%-hot key over P partitions the hot partition is
    ≈ 1 + P/4 times the median — exactly the factor 2 at P = 4, where
    AQE (which splits only partitions strictly above factor × median)
    cannot engage."""
    saved = {}
    overrides = {
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _executed_plan(df) -> str:
    """Final (post-AQE) physical plan — only valid AFTER an action on
    this exact frame (a noop write plans a fresh QueryExecution)."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_skew_join_split_engages_on_hot_key(skew_confs):
    """One hot key holding 20% of the fact rows — the failure mode that
    kills shuffle joins at 100 TB. With AQE skew-join on (session.py
    default), the runtime must SPLIT the oversized partition:
    SortMergeJoin(skew=true) in the executed plan, and the result is
    identical to the unskewed computation."""
    from pyspark.sql import functions as F

    spark = skew_confs
    # payload must be HIGH-ENTROPY: shuffle sizes are measured on
    # lz4-compressed map outputs, and a repetitive hot-key payload
    # compresses so well (~2 B/row measured) that the hot partition
    # never crosses the skew factor — md5(id) keeps bytes ∝ rows
    fact = spark.range(300_000).select(
        F.when(F.col("id") % 5 == 0, 0)
        .otherwise(F.col("id") % 10_000)
        .alias("k"),
        F.concat(F.md5(F.col("id").cast("string")), F.md5((F.col("id") + 1).cast("string"))).alias(
            "p"
        ),
    )
    dim = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    dim2 = spark.range(10_000).select(F.col("id").alias("v2"))
    # q11-shape multiway at 100 TB: the big fact⋈dim runs as a shuffle
    # join (skew-splittable), the second small dim broadcasts — chaining
    # a SECOND shuffle join instead makes OptimizeSkewedJoin bail (it
    # refuses plans where splitting might add a shuffle, and
    # forceOptimizeSkewedJoin is off by default). The aggregate must
    # consume `p`, or Catalyst prunes it pre-shuffle and only the
    # (compressible) key bytes are measured for skew.
    j = (
        fact.join(dim, "k")
        .join(F.broadcast(dim2), F.col("v") % 10_000 == F.col("v2"))
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sk"),
            F.sum(F.length("p")).alias("sp"),
        )
    )
    row = j.collect()[0]
    assert row["n"] == 300_000
    assert row["sk"] == sum((0 if i % 5 == 0 else i % 10_000) for i in range(300_000))
    assert row["sp"] == 300_000 * 64
    plan = _executed_plan(j)
    assert "skew=true" in plan, f"AQE skew split did not engage:\n{plan[:2000]}"


def test_lsh_bucket_degenerate_skew(skew_confs):
    """A degenerate inverted-index bucket — one shingle present in EVERY
    document — is the mega-bucket that kills dedup runs at scale. Two
    defenses, both asserted: (a) the stop-shingle guard
    (max_shingle_freq) drops the universal shingle BEFORE the self-join,
    so the candidate pair space collapses back to the true near-dups;
    (b) with the guard OFF, AQE's skew split engages on the bucket
    self-join so the mega-bucket is at least spread across tasks rather
    than serialized into one."""
    from pyspark.sql import functions as F

    from ddf_flink_spark.functions.dedup import jaccard_candidates

    spark = skew_confs
    # 1500 docs, all sharing the universal prefix "common shared prefix";
    # tails are distinct high-entropy md5 words (the shuffled (id, g)
    # rows of the mega-bucket are identical strings + distinct ids, so a
    # compressible tail would hide the skew from the byte-based
    # detector) — except ids 0/1, which are exact copies
    docs = spark.range(1_500).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("common shared prefix "),
            F.md5(
                F.when(F.col("id") <= 1, F.lit("0")).otherwise(
                    F.col("id").cast("string")
                )
            ),
            F.lit(" "),
            F.md5(
                F.when(F.col("id") <= 1, F.lit("7")).otherwise(
                    (F.col("id") + 7).cast("string")
                )
            ),
        ).alias("text"),
    )

    # (a) guard ON: universal shingles dropped, only the planted dup pair
    guarded = jaccard_candidates(docs, threshold=0.5, n=3, max_shingle_freq=100)
    assert [(r["id_a"], r["id_b"]) for r in guarded.collect()] == [(0, 1)]

    # (b) guard OFF: the bucket join sees the mega-bucket. The shingle
    # self-join sits mid-pipeline (join → agg → two size joins), and in
    # a chained-shuffle-join plan the default OptimizeSkewedJoin BAILS
    # (it refuses any split that may add a shuffle). The operating
    # guidance at scale is forceOptimizeSkewedJoin=true for dedup
    # candidate pipelines: one extra shuffle is noise next to a
    # serialized mega-bucket. Assert the force path engages.
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    # the mega-bucket is ~1500 compressed (id, g) rows ≈ 8 KB — drop the
    # thresholds under it (mechanism under test; thresholds scale with data)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2k")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
    try:
        unguarded = jaccard_candidates(docs, threshold=0.99, n=3)
        assert {(r["id_a"], r["id_b"]) for r in unguarded.collect()} == {(0, 1)}
        plan = _executed_plan(unguarded)
        assert "skew=true" in plan, (
            f"AQE skew split did not engage on the degenerate bucket:\n{plan[:2000]}"
        )
    finally:
        spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")


def test_ensure_compute_parallelism_conditions(spark):
    """The explode-parallelism guard must fire ONLY where it pays: a
    big (≥2 MiB estimated) under-partitioned frame gets repartitioned
    to core count; a small frame and an already-parallel frame pass
    through plan-identical (no exchange added — at real scale the
    guard must never add a shuffle to a well-partitioned pipeline)."""
    from pyspark.sql import functions as F

    from ddf_flink_spark.functions.dedup import ensure_compute_parallelism

    par = spark.sparkContext.defaultParallelism

    big = spark.range(200_000).coalesce(1).select(
        F.col("id"),
        F.concat(*[F.md5((F.col("id") + i).cast("string")) for i in range(4)]).alias(
            "text"
        ),
    )
    assert big.rdd.getNumPartitions() == 1
    out = ensure_compute_parallelism(big)
    assert out.rdd.getNumPartitions() == par, "big 1-partition input must spread"

    small = spark.range(50).coalesce(1).select(
        F.col("id"), F.col("id").cast("string").alias("text")
    )
    assert ensure_compute_parallelism(small) is small, "sub-2MiB input passes through"

    wide = spark.range(200_000).repartition(par).select(
        F.col("id"),
        F.concat(*[F.md5((F.col("id") + i).cast("string")) for i in range(4)]).alias(
            "text"
        ),
    )
    assert ensure_compute_parallelism(wide) is wide, "already-parallel input passes through"


def test_chunk_embedding_is_shuffle_free(spark):
    """hash_chunk_embeddings (q257/q263/q264) must plan as a pure map
    with row expansion — ZERO exchanges: window starts are a sequence,
    token hashes a transform, components aggregate folds, one
    posexplode. The earlier explode+groupBy formulation shuffled a
    corpus-tokens-sized exchange; this lock keeps it from coming back
    (and is what makes the same expression legal on a streaming frame —
    q264's ingest)."""
    from ddf_flink_spark.functions.retrieval import hash_chunk_embeddings

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        hash_chunk_embeddings(d)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:1500]


def test_maxsim_corpus_exchange_is_conditional(spark):
    """q257/q263's entry points must NOT round-robin an already-parallel
    corpus (round-8 verdict #1: the prior unconditional repartition both
    paid a full exchange of raw text and COLLAPSED the compute-dense
    chunk-hash pass to defaultParallelism tasks at real scale) — and
    must still spread a big single-partition corpus past its file
    layout."""
    from pyspark.sql import functions as F

    from ddf_flink_spark.functions.retrieval import maxsim_topk

    par = spark.sparkContext.defaultParallelism
    qdf = spark.createDataFrame(
        [(900001, "alpha beta gamma delta")], "doc_id long, text string"
    )

    wide = spark.range(60_000).repartition(par, "id").select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.md5((F.col("id") + i).cast("string")) for i in range(8)]
        ).alias("text"),
    )
    assert wide.rdd.getNumPartitions() >= par
    plan = (
        maxsim_topk(qdf, wide)._jdf.queryExecution().executedPlan().toString()
    )
    assert "RoundRobinPartitioning" not in plan, (
        "already-parallel corpus must not be round-robined:\n" + plan[:1500]
    )

    narrow = spark.range(60_000).coalesce(1).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.md5((F.col("id") + i).cast("string")) for i in range(8)]
        ).alias("text"),
    )
    assert narrow.rdd.getNumPartitions() == 1
    plan2 = (
        maxsim_topk(qdf, narrow)._jdf.queryExecution().executedPlan().toString()
    )
    assert "RoundRobinPartitioning" in plan2, (
        "big 1-partition corpus must spread past its file layout:\n"
        + plan2[:1500]
    )


def test_maxsim_persisted_probe_partition_pruned(spark, tmp_path):
    """q266's scale contract: with static_probe=True the probe frontier
    lands in the chunk parquet scan as PartitionFilters (a 100 TB probe
    reads nprobe cell directories, never the corpus), and the pruned
    path serves rows identical to the lazy join path."""
    import random
    import re

    from ddf_flink_spark.functions.index_store import load_chunk_index
    from ddf_flink_spark.functions.retrieval import (
        build_chunk_index,
        maxsim_persisted_topk,
    )

    rng = random.Random(266)
    vocab = [f"w{i}" for i in range(200)]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(90))) for i in range(40)
    ]
    cdf = spark.createDataFrame(docs, "doc_id long, text string")
    base = str(tmp_path / "chunkidx")
    build_chunk_index(cdf, base, n_lists=4)
    chunks, coarse = load_chunk_index(spark, base)
    q = cdf.filter("doc_id < 3")

    pruned = maxsim_persisted_topk(
        q, chunks, coarse, k=3, nprobe=2, static_probe=True
    )
    rows_pruned = sorted(map(tuple, pruned.collect()))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "list_id" in m.group(1), (
        "probe must reach the chunk scan as PartitionFilters:\n" + plan[:1500]
    )

    lazy = maxsim_persisted_topk(
        q, chunks, coarse, k=3, nprobe=2, static_probe=False
    )
    assert rows_pruned == sorted(map(tuple, lazy.collect()))
    assert rows_pruned, "serve must return rows"
