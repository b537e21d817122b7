"""Physical-plan regression tests (SURVEY.md §4): the scale properties
the engine is designed around must be visible in the plans Catalyst
actually produces — filters reaching the parquet scan, column pruning,
broadcast joins for dims, distributed top-k, equi-join (not cross-join)
candidate generation for LSH ops, and no Python row UDFs on hot paths.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from deltasink_spark import registry

registry.load_all()


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def q(name, spark, sf):
    return registry.QUERIES[name](spark, sf)


def test_scan_pushdown_and_pruning(spark, sf_small):
    p = plan(q("scan_parquet", spark, sf_small))
    assert "PushedFilters: [" in p and "l_orderkey" in p.split("PushedFilters")[1][:200]
    # only the 3 projected columns reach the reader
    rs = p.split("ReadSchema")[1][:300]
    assert "l_quantity" in rs and "l_extendedprice" not in rs


def test_flagship_filter_pushed(spark, sf_small):
    p = plan(q("agg_hash", spark, sf_small))
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:300]
    # partial (map-side) + final aggregation
    assert p.count("HashAggregate") >= 2


def test_dim_join_broadcasts(spark, sf_small):
    p = plan(q("join_broadcast", spark, sf_small))
    assert "BroadcastHashJoin" in p


def test_limit_is_distributed_topk(spark, sf_small):
    p = plan(q("limit_n", spark, sf_small))
    assert "TakeOrderedAndProject" in p


def test_lsh_candidates_are_equi_joins(spark, sf_small):
    """The 100 TB design point: LSH candidate generation must reach
    Catalyst as equi-joins on band/bucket hashes, never a cartesian.
    dedup_minhash_lsh's registered callable returns the memoized
    (checkpointed) pair frame whose plan is an opaque RDD scan, so the
    underlying constructor is planned directly."""
    from deltasink_spark.operators.minhash import minhash_dedup_pairs
    from deltasink_spark.tables import load

    raw_pairs = minhash_dedup_pairs(
        load(spark, sf_small, "documents"), "doc_id", "text", n=3, threshold=0.6
    )
    for op, df in (("dedup_minhash_lsh", raw_pairs), ("sim_ann_lsh", None)):
        p = plan(df if df is not None else q(op, spark, sf_small))
        assert "CartesianProduct" not in p, op
        # the candidate self-join is a real equi join (hash or sort-merge)
        assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
            "BroadcastHashJoin" in p
        ), op


def test_no_python_udf_on_builtin_paths(spark, sf_small):
    """Core operator families stay JVM-side (whole-stage codegen);
    Python only appears in the explicitly-UDF ops and the
    Arrow-vectorized LSH signature/dot stages (below)."""
    from deltasink_spark.operators.minhash import minhash_dedup_pairs
    from deltasink_spark.tables import load

    # dedup_minhash_lsh's registered callable is the memoized
    # checkpointed frame (opaque RDD scan) — plan the raw constructor
    # so a Python UDF slipping into the minhash pipeline still fails
    frames = {
        "dedup_minhash_lsh": minhash_dedup_pairs(
            load(spark, sf_small, "documents"), "doc_id", "text", n=3, threshold=0.6
        )
    }
    for op in ("agg_hash", "fn_array", "text_tfidf", "dedup_minhash_lsh",
               "json_parse"):
        p = plan(frames.get(op) or q(op, spark, sf_small))
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, op
    # the pairwise-similarity family runs its signature matmul + pair
    # dot through Arrow-vectorized pandas UDFs BY DESIGN (r6: the
    # Catalyst HOF form is interpreted, ~2048 ops/row + multi-second
    # analyzer cost); row-at-a-time Python must never appear
    for op in ("sim_cosine_pairs", "ts_similarity", "dedup_embedding_cosine"):
        p = plan(q(op, spark, sf_small))
        assert "BatchEvalPython" not in p, op
        assert "ArrowEvalPython" in p, op


def test_wholestage_codegen_present(spark, sf_small):
    # AQE wraps the plan pre-execution, hiding codegen subtrees from
    # explain; disable it just for this plan inspection.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(q("agg_hash", spark, sf_small), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    n = int(p.split("Found ")[1].split(" WholeStageCodegen")[0])
    assert n >= 2  # scan+partial-agg fused; final-agg+sort fused


def test_asof_join_is_not_cartesian(spark, sf_small):
    p = plan(q("join_asof", spark, sf_small))
    assert "CartesianProduct" not in p


def test_bucketed_join_is_shuffle_free(spark, sf_small):
    """Both sides bucketed by the join key -> SortMergeJoin with no
    Exchange on either input (the 100 TB co-location design point)."""
    df = q("join_bucketed", spark, sf_small)
    p = plan(df)
    join_part = p.split("SortMergeJoin")[0]
    assert "SortMergeJoin" in p
    # no hash-partition shuffle feeds the join inputs; the only
    # exchange allowed in the whole plan is the post-join aggregation's
    assert "Exchange hashpartitioning(l_orderkey" not in join_part
    assert "SelectedBucketsCount" in p


def test_partition_pruning_on_partitioned_output(spark, sf_small, tmp_path):
    """A dt-partitioned write read back with a partition predicate must
    prune at planning time: PartitionFilters carries the predicate and
    no data filter remains (the layout the streaming sink produces for
    downstream readers)."""
    from pyspark.sql import functions as F

    from deltasink_spark.tables import load

    out = str(tmp_path / "by_dt")
    ev = load(spark, sf_small, "events").withColumn(
        "dt", F.to_date(F.date_trunc("day", F.col("ts")))
    )
    ev.write.mode("overwrite").partitionBy("dt").parquet(out)
    one_day = spark.read.parquet(out).filter(F.col("dt") == "2024-01-03")
    p = plan(one_day)
    part = p.split("PartitionFilters")[1][:200]
    assert "dt" in part and "2024-01-03" in part


def test_write_partitioned_prunes(spark, sf_small):
    """The write_partitioned op's read-back filter must resolve against
    partition directories (PartitionFilters), not row data."""
    p = plan(q("write_partitioned", spark, sf_small))
    part = p.split("PartitionFilters")[1][:200]
    assert "o_orderstatus" in part and "F" in part
    # no residual data filter on the partition column: either no pushed
    # data filters at all, or an empty list
    assert "PushedFilters" not in p or "PushedFilters: []" in p


def test_ann_ivf_no_cartesian_candidates(spark, sf_small):
    """IVF candidate generation joins on the list id (equi-join); the
    only nested-loop allowed is the K-row broadcast codebook assign."""
    p = plan(q("ann_ivf", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_contamination_probe_is_broadcast(spark, sf_small):
    """The eval-set n-gram membership probe must broadcast the
    benchmark side, never shuffle the train grams for the join."""
    p = plan(q("contamination_check", spark, sf_small))
    assert "BroadcastHashJoin" in p


def test_zorder_is_range_partitioned_sorted(spark, sf_small):
    p = plan(q("zorder_cluster", spark, sf_small), "simple")
    assert "rangepartitioning(zkey" in p
    # in-partition sort (global flag false), not a global sort
    assert "Sort [zkey" in p and "], false, 0" in p


def test_seq_pack_window_is_per_source(spark, sf_small):
    """Packing cumsum must be partitioned by source — a global
    single-partition window would serialize at scale."""
    p = plan(q("seq_pack", spark, sf_small))
    assert "partitionBy=[source" in p or "hashpartitioning(source" in p


def test_range_join_is_equi_not_theta(spark, sf_small):
    """The bucketed interval join must reach Catalyst as an equi-join
    on (user_id, bucket) — no nested-loop / cartesian pair stage."""
    p = plan(q("join_range_bucketed", spark, sf_small))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or (
        "BroadcastHashJoin" in p
    )


def test_argmax_is_single_agg_no_window(spark, sf_small):
    p = plan(q("agg_argmax", spark, sf_small))
    assert "Window" not in p
    # struct-max plans as SortAggregate: still partial + final (map-side
    # combined), never a per-group window over the full row set
    assert p.count("SortAggregate") + p.count("HashAggregate") >= 2


def test_tpch_q6_predicates_reach_scan(spark, sf_small):
    """Q6 is the pure-scan benchmark: shipdate/discount/quantity
    predicates must all push into the parquet reader."""
    p = plan(q("tpch_q6", spark, sf_small))
    pushed = p.split("PushedFilters")[1][:400]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_tpch_q3_limit_is_distributed_topk(spark, sf_small):
    p = plan(q("tpch_q3", spark, sf_small))
    assert "TakeOrderedAndProject" in p


def test_tpch_q5_broadcasts_dims_no_cartesian(spark, sf_small):
    p = plan(q("tpch_q5", spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_q18_preaggregates_before_join(spark, sf_small):
    """The HAVING agg over lineitem must sit BELOW the orders join:
    the first join input is the aggregated (filtered) frame, so the
    shuffle moves ~1%% of orders, not every lineitem row."""
    p = plan(q("tpch_q18", spark, sf_small))
    # partial+final agg over lineitem exists, and the HAVING threshold
    # appears as a post-agg filter (Catalyst must not drop it): the
    # joins then consume the ~1% surviving orders, not raw lineitem.
    assert p.count("HashAggregate") >= 2
    assert "250" in p and "Filter" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_q22_anti_join(spark, sf_small):
    p = plan(q("tpch_q22", spark, sf_small))
    assert "LeftAnti" in p or "left_anti" in p


def test_tpch_q1_is_one_scan_one_agg(spark, sf_small):
    """Q1 must be scan -> partial agg -> final agg: the shipdate filter
    reaches the reader and no join/exchange beyond the 6-group agg."""
    p = plan(q("tpch_q1", spark, sf_small))
    assert "l_shipdate" in p.split("PushedFilters")[1][:300]
    assert p.count("HashAggregate") >= 2
    assert "Join" not in p


def test_tpch_q9_broadcasts_dims_no_cartesian(spark, sf_small):
    p = plan(q("tpch_q9", spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_tpch_q11_threshold_is_broadcast_scalar(spark, sf_small):
    """The global-total threshold must arrive as a broadcast 1-row
    frame, never a CartesianProduct of two big sides."""
    p = plan(q("tpch_q11", spark, sf_small))
    assert "Broadcast" in p
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 4  # per-part + total, partial+final


def test_tpch_q16_anti_join_and_distinct_agg(spark, sf_small):
    p = plan(q("tpch_q16", spark, sf_small))
    assert "LeftAnti" in p or "left_anti" in p
    assert p.count("HashAggregate") >= 2  # COUNT(DISTINCT) two-level expansion
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_q21_decorrelates_to_equi_joins(spark, sf_small):
    """Canon Q21 is a triple theta self-join of lineitem; this variant
    must compile to per-order hash aggs + equi-joins only."""
    p = plan(q("tpch_q21", spark, sf_small))
    assert p.count("HashAggregate") + p.count("SortAggregate") >= 4
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_trainprep_ops_no_cartesian_no_python_udf(spark, sf_small):
    """The r4 training-prep batch must stay pure codegen DataFrame
    algebra: no cartesian blow-ups, no Python row UDFs."""
    for op in (
        "text_bm25", "text_unigram_logprob", "text_boilerplate_ngrams",
        "dedup_containment", "embedding_quantize", "sample_temperature",
    ):
        p = plan(q(op, spark, sf_small))
        assert "CartesianProduct" not in p, op
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, op


def test_sample_temperature_is_pure_filter_after_broadcast(spark, sf_small):
    """The keep decision must be row-local: the rate table broadcasts
    onto the documents scan, and the corpus-sized side never hash-
    shuffles (the only hash exchanges carry the ~|sources|-row count
    aggregates; the final orderBy range-partitions the survivors)."""
    import re

    p = plan(q("sample_temperature", spark, sf_small))
    assert "BroadcastHashJoin" in p
    hash_shuffles = re.findall(r"hashpartitioning\((\w+)", p)
    assert all(col.startswith("source") for col in hash_shuffles), hash_shuffles


def test_count_min_sketch_is_broadcast_and_bounded(spark, sf_small):
    """The CMS must reach estimation as a broadcast (d x w rows); the
    corpus side contributes hash aggs only, never a cartesian."""
    p = plan(q("agg_count_min", spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_temporal_lookup_is_equi_join_union(spark, sf_small):
    """Both interval branches must be equi-joins (month-bucketed for
    closed, key for open) — the theta join only exists in the oracle."""
    p = plan(q("join_temporal_lookup", spark, sf_small))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Union" in p


def test_bottom_k_sample_is_distributed_topk(spark, sf_small):
    p = plan(q("sample_bottom_k", spark, sf_small))
    assert "TakeOrderedAndProject" in p


def test_ewma_is_single_window_pass(spark, sf_small):
    """All 16 lags share one window spec: exactly one per-user sort
    below the window, no joins at all."""
    p = plan(q("ts_ewma", spark, sf_small))
    assert "Join" not in p
    assert p.count("Window") >= 1


@pytest.mark.parametrize("op", ["dedup_containment", "dedup_ngram_jaccard"])
def test_pairwise_dedup_self_join_is_df_capped(spark, sf_small, op):
    """The r4 verdict's scale fix: the shared-shingle self equi-join
    must consume df-capped shingles (stop-shingles with document
    frequency > 64 dropped), never the raw shingle table — one
    boilerplate shingle in 10^5 docs would otherwise emit 10^10 pairs.
    The op's localCheckpoint truncates its plan above the join, so the
    cap filter is asserted on the shared capped-shingle stage both ops
    build on (df_capped_shingles), and the op plan is asserted
    cartesian-free."""
    p = plan(q(op, spark, sf_small))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_df_capped_shingles_filter_reaches_plan(spark, sf_small):
    from deltasink_spark.operators.minhash import df_capped_shingles, shingle_table
    from deltasink_spark.tables import fanout, load

    d = load(spark, sf_small, "documents")
    sh = df_capped_shingles(
        shingle_table(fanout(d, "doc_id"), "doc_id", "text", 3), "doc_id", 64
    )
    p = plan(sh)
    # the cap reaches the plan as a stop-shingle filter (gdf > 64)
    # feeding a LEFT ANTI join against the big shingle table
    assert "> 64" in p, "df-cap filter missing from capped-shingle plan"
    assert "LeftAnti" in p, "stop-shingle exclusion is not an anti-join"


def test_embedding_pq_single_agg_no_window(spark, sf_small):
    """PQ coding must be one broadcast codebook cross-join + ONE hash
    agg: the per-subspace argmin is folded into MIN over (dist*K+cid)
    keys, so no window (per-vector sort) appears anywhere."""
    p = plan(q("embedding_pq", spark, sf_small))
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert p.count("HashAggregate") >= 2  # partial + final of the one agg


def test_sim_pq_adc_scan_side_no_cartesian(spark, sf_small):
    """The ADC scan joins melted codes against the broadcast LUT on
    (m, code) — an equi-join. The only nested-loop allowed is the
    160-row LUT build (queries x codebook); the code-melt side must
    join by hash."""
    p = plan(q("sim_pq_adc", spark, sf_small))
    assert "BroadcastHashJoin" in p


def test_knn_graph_no_cartesian_no_broadcast_of_table_side(spark, sf_small):
    """knn_graph's candidate stage must be a shuffled self-equi-join on
    (table, bucket) — with BOTH sides the full table, neither a
    cartesian nor a broadcast of the table side survives 100 TB."""
    p = plan(q("knn_graph", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "PythonUDF" not in p


def test_dedup_paragraph_keeper_is_agg_not_window(spark, sf_small):
    """First-occurrence selection must be the map-side-combinable
    MIN(struct) hash agg, not a row_number sort-window over the
    paragraph partition (boilerplate paragraphs skew those sorts)."""
    p = plan(q("dedup_paragraph", spark, sf_small))
    assert "CartesianProduct" not in p
    # windows appear once for the ordered reassembly? no — reassembly is
    # array_sort(collect_list); the only acceptable Window count is 0.
    assert p.count("Window") == 0
    assert "HashAggregate" in p or "ObjectHashAggregate" in p


def test_ts_rollup_multi_single_raw_scan(spark, sf_small):
    """The rollup pyramid re-aggregates finer levels: exactly one scan
    of the events file may appear per union branch ancestry, and the
    hour/day levels must hang off the minute agg, not re-scan raw.
    The minute level is localCheckpoint-materialized, so the physical
    plan holds exactly one scan of the raw events file."""
    p = plan(q("ts_rollup_multi", spark, sf_small))
    assert p.count("events.parquet") <= 1


def test_scan_text_binaryfile_xml_no_python(spark, sf_small):
    """The r5 scan surface parses in codegen expressions, not Python."""
    for op in ("scan_text", "scan_xml", "scan_binaryfile"):
        p = plan(q(op, spark, sf_small))
        assert "PythonUDF" not in p, op
        assert "CartesianProduct" not in p, op


def test_fn_url_is_pure_project(spark, sf_small):
    p = plan(q("fn_url", spark, sf_small))
    assert "Exchange" not in p
    assert "PythonUDF" not in p


def test_dedup_substring_span_semi_join_no_cartesian(spark, sf_small):
    """Gram marking must be a semi-join (never multiplies rows even on
    mega-df boilerplate grams) and no cartesian anywhere."""
    p = plan(q("dedup_substring_span", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p or "Semi" in p
    assert "PythonUDF" not in p


def test_rollup_incremental_merges_partials(spark, sf_small):
    """The merge agg must consume two pre-reduced branches: three
    HashAggregate pairs (history partial, delta partial, merge), no
    join, no window."""
    p = plan(q("rollup_incremental", spark, sf_small))
    assert "Join" not in p
    assert "Window" not in p
    assert p.count("HashAggregate") >= 4


def test_table_stats_single_scan_no_expand(spark, sf_small):
    """All four columns' statistics must come from one scan of the
    table, and NEVER via N count_distincts in one agg — that plans an
    Expand multiplying every row N-fold before the shuffle (the r1
    agg_approx_distinct lesson; cost this op 5.7 s in its first
    form). The melt + two-phase agg keeps both shuffles bounded."""
    p = plan(q("table_stats", spark, sf_small))
    assert p.count("lineitem.parquet") == 1
    assert "Join" not in p
    assert "Expand" not in p


def test_dq_checks_fk_single_pass_conditional_agg(spark, sf_small):
    """The FK check is a row-count-preserving broadcast LEFT join
    against the unique parent keys + a null count folded into the SAME
    combining agg as n_checked (r15: the anti-join form scanned orders
    twice and cross-joined the two scalar counts)."""
    p = plan(q("dq_checks", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "LeftAnti" not in p
    assert "BroadcastHashJoin" in p


def test_python_datasource_filter_pushed_into_source(spark, sf_small):
    """The custom Python data source must accept the doc_id bound via
    pushFilters — the plan shows it in the BatchScan's PushedFilters,
    so no full-table Filter runs Spark-side."""
    p = plan(q("source_python_ds", spark, sf_small))
    assert "BatchScan fixture_docs" in p
    pushed = p.split("PushedFilters")[1][:120]
    assert "GreaterThanOrEqual(doc_id,100)" in pushed


def test_bpe_merge_step_vocab_collapse_and_broadcast_pair(spark, sf_small):
    """Pair counting must run over the vocabulary (groupBy(word) agg
    first), and the winning pair must broadcast — never a shuffle join
    of the vocabulary against a 1-row frame."""
    p = plan(q("bpe_merge_step", spark, sf_small))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dataset_split_is_projection_plus_one_agg(spark, sf_small):
    p = plan(q("dataset_split", spark, sf_small))
    assert "Join" not in p and "Window" not in p
    assert p.count("HashAggregate") >= 2  # partial + final


def test_attribution_no_range_join(spark, sf_small):
    """Attribution must be the union-window carry-forward — a range
    join (purchase x clicks-in-window) would be quadratic per user."""
    p = plan(q("attribution_last_touch", spark, sf_small))
    assert "Join" not in p
    assert p.count("Window") >= 1


def test_join_lateral_decorrelates(spark, sf_small):
    """The LATERAL per-row subquery must reach Catalyst de-correlated
    (rank/window or equi-join plan) — never a per-outer-row nested
    loop over the inner table."""
    p = plan(q("join_lateral", spark, sf_small))
    assert "CartesianProduct" not in p
    assert ("Window" in p) or ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p)


def test_attribution_first_touch_single_window_no_join(spark, sf_small):
    p = plan(q("attribution_first_touch", spark, sf_small))
    assert "Join" not in p
    assert p.count("Window") >= 1


def test_win_running_distinct_two_window_passes_no_collect_set(spark, sf_small):
    """The scalable form: two window passes over flags — never a
    collect_set whose per-row state grows with seen values."""
    p = plan(q("win_running_distinct", spark, sf_small))
    assert "collect_set" not in p
    assert p.count("Window") >= 2 or "row_number" in p


def test_pipeline_web_prep_no_cartesian_no_python(spark, sf_small):
    p = plan(q("pipeline_web_prep", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "PythonUDF" not in p


def test_variant_and_try_families_pure_projection(spark, sf_small):
    for op in ("json_variant", "fn_try", "fn_collate", "xml_parse"):
        p = plan(q(op, spark, sf_small))
        assert "Exchange" not in p, op
        assert "PythonUDF" not in p, op


def test_pairwise_cosine_ops_are_lsh_bucketed(spark, sf_small):
    """The r5 verdict's remaining scale gap: the three formerly
    all-pairs broadcast pairwise ops must now generate candidates via
    the sign-LSH (table, bucket) self-EQUI-join — no cartesian, no
    full-table broadcast nested-loop join anywhere in the plan."""
    for op in ("sim_cosine_pairs", "dedup_embedding_cosine", "ts_similarity"):
        p = plan(q(op, spark, sf_small))
        assert "CartesianProduct" not in p, op
        assert "BroadcastNestedLoopJoin" not in p, op
        # bucket-mate candidates surface as a join keyed on the bucket
        assert "bucket" in p, op


def test_lsh_bits_keeps_bucket_occupancy_bounded():
    """Geometry parameterization (r5 verdict item 4): expected bucket
    occupancy N / 2^lsh_bits(N) must stay <= TARGET_BUCKET_ROWS at any
    corpus size — including a 100x (and 10^6x) blow-up — while the
    fixture scales keep the 8-bit floor so oracle literals are stable."""
    from deltasink_spark.operators.vectors import (
        FLOOR_BITS,
        TARGET_BUCKET_ROWS,
        lsh_bits,
    )

    assert lsh_bits(500) == FLOOR_BITS == 8  # sf0.01 embeddings
    assert lsh_bits(2_000) == 8  # sf0.1 embeddings (oracle geometry)
    for n in (1, 64, 1_000, 16_384, 200_000, 2_000_000, 10**9):
        k = lsh_bits(n)
        assert k >= FLOOR_BITS
        assert n / (1 << k) <= TARGET_BUCKET_ROWS, n
    # monotone: a bigger corpus never gets fewer bits
    bits = [lsh_bits(n) for n in (10**3, 10**5, 10**7, 10**9)]
    assert bits == sorted(bits) and bits[-1] > bits[0]


def test_lsh_doubled_bits_shrinks_buckets(spark, sf_small):
    """Empirical occupancy check on real fixture vectors: growing K by
    4 bits (the lsh_bits() response to a ~16x corpus) cuts the max
    bucket size — i.e. occupancy actually tracks 2^-K on this data,
    so the parameterization is load-bearing, not cosmetic."""
    from pyspark.sql import functions as F

    from deltasink_spark.operators.vectors import bucket, hyperplanes, quantized
    from deltasink_spark.tables import load

    e = load(spark, sf_small, "embeddings").select(
        "vec_id", quantized(F.col("embedding")).alias("iv")
    )
    sizes = {}
    for k in (8, 12):
        planes = hyperplanes(64, k, seed=2024)
        sizes[k] = (
            e.select(bucket(F.col("iv"), planes).alias("b"))
            .groupBy("b")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]["mx"]
        )
    assert sizes[12] < sizes[8]


def test_text_c4_clean_zero_shuffle(spark, sf_small):
    """C4 cleaning is per-document HOF algebra — the plan must contain
    NO exchange, join, or Python UDF: it cleans at scan speed."""
    p = plan(q("text_c4_clean", spark, sf_small))
    assert "Exchange" not in p
    assert "Join" not in p
    assert "PythonUDF" not in p


def test_quality_gopher_hash_aggs_no_window(spark, sf_small):
    p = plan(q("quality_gopher", spark, sf_small))
    assert "Window" not in p  # repetition rule is aggs, not a sort+window
    assert p.count("HashAggregate") >= 2  # partial + final per agg stage
    assert "CartesianProduct" not in p


def test_dsir_select_topk_and_broadcast_stats(spark, sf_small):
    """Top-K must be a distributed heap (TakeOrderedAndProject), and
    the 256-row bucket-stat frame must broadcast back onto the bigram
    stream, never shuffle it."""
    p = plan(q("dsir_select", spark, sf_small))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


def test_cdc_chunk_window_is_per_doc(spark, sf_small):
    p = plan(q("cdc_chunk", spark, sf_small))
    assert "CartesianProduct" not in p
    # running-sum window partitioned by doc_id: bounded partitions,
    # never a corpus-wide sort
    assert "Window" in p
    assert "doc_id" in p.split("Window", 1)[1][:400]


def test_hashing_vectorizer_two_aggs_no_join(spark, sf_small):
    p = plan(q("text_hashing_vectorizer", spark, sf_small))
    assert "Join" not in p and "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2


def test_ccnet_bins_broadcast_lm_and_thresholds(spark, sf_small):
    """The LM join and the 1-row tercile threshold frame must both
    broadcast — the corpus-sized side is never shuffled for either."""
    p = plan(q("quality_ccnet_bins", spark, sf_small))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_event_pattern_match_single_window_pass(spark, sf_small):
    """The fixed-length pattern compiles to LEADs over ONE per-user
    window — one shuffle, no joins, no cartesian."""
    p = plan(q("event_pattern_match", spark, sf_small))
    assert "Join" not in p and "CartesianProduct" not in p
    # exactly one Window node in the tree (formatted mode prints each
    # node once in the tree and once in the detail section)
    nodes = [ln for ln in p.splitlines() if ln.strip().endswith(")") and "Window (" in ln]
    assert len(nodes) == 1, nodes
    # the window spec itself must partition by user_id (a global window
    # would serialize all events through one partition)
    assert "windowspecdefinition(user_id" in p


def test_dedup_apply_keep_best_agg_not_window(spark, sf_small):
    """Keeper selection must be a MAX(struct) hash agg (map-side
    combinable), never a per-cluster row_number window that would
    serialize boilerplate mega-clusters."""
    p = plan(q("dedup_apply_keep_best", spark, sf_small))
    assert "row_number" not in p
    assert "CartesianProduct" not in p


def test_sql_pipe_syntax_compiles_to_normal_agg_plan(spark, sf_small):
    """Pipe stages must produce the standard scan->partial->final agg
    plan with the shipdate filter pushed to parquet."""
    p = plan(q("sql_pipe_syntax", spark, sf_small))
    assert p.count("HashAggregate") >= 2
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:300]


def test_sql_recursive_cte_no_cartesian(spark, sf_small):
    p = plan(q("sql_recursive_cte", spark, sf_small))
    assert "CartesianProduct" not in p


def test_poisson_bootstrap_single_agg(spark, sf_small):
    """All replicate sums must come from ONE map-side-combining hash
    agg over one scan — no per-replicate shuffles, no rng exchange."""
    p = plan(q("stats_poisson_bootstrap", spark, sf_small))
    # exactly two agg NODES in the tree: one partial + one final
    nodes = [
        ln for ln in p.splitlines()
        if ln.strip().endswith(")") and "HashAggregate (" in ln
    ]
    assert len(nodes) == 2, nodes
    assert "Join" not in p and "CartesianProduct" not in p


def test_asof_tolerance_single_window_no_range_join(spark, sf_small):
    """Tolerance as-of must keep join_asof's shape: one union + one
    per-key window, the tolerance as a codegen predicate — never a
    range/theta join pair stage."""
    p = plan(q("join_asof_tolerance", spark, sf_small))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    nodes = [ln for ln in p.splitlines() if ln.strip().endswith(")") and "Window (" in ln]
    assert len(nodes) == 1


def test_schema_merge_scan_unions_footers(spark, sf_small):
    p = plan(q("scan_parquet_schema_merge", spark, sf_small))
    assert "Scan parquet" in p
    assert "o_totalprice" in p.split("ReadSchema")[-1][:300]


def test_percentile_disc_broadcast_counts(spark, sf_small):
    """The per-group count frame must broadcast onto the ranked rows;
    the only sort is the per-group window's."""
    p = plan(q("agg_percentile_disc", spark, sf_small))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_bpe_train_iterations_checkpoint_lineage(spark, sf_small):
    """Each of the K merge iterations must broadcast its 1-row winner
    (never a shuffle/cartesian of the vocab against it), and the final
    plan must NOT contain the full K-deep recomputation tree — the
    per-step localCheckpoint truncates lineage, so the union of step
    rows scans checkpointed RDDs instead of re-deriving the corpus
    K times."""
    p = plan(q("bpe_train", spark, sf_small))
    assert "CartesianProduct" not in p
    # lineage truncation: the plan reads checkpointed step frames, not
    # the documents parquet K times over
    assert p.count("Scan parquet") <= 1, p.count("Scan parquet")


def test_tokenizer_encode_is_equijoin_plus_agg(spark, sf_small):
    """Encoding must be an equi-join of the token stream against the
    vocabulary plus one combining hash agg — no window, no cartesian."""
    p = plan(q("tokenizer_encode", spark, sf_small))
    assert "CartesianProduct" not in p and "Window" not in p
    assert "HashAggregate" in p


def test_join_asof_nearest_no_pair_explosion(spark, sf_small):
    """Nearest as-of composes the two union+window primitives: two
    windows, zero inequality joins, zero cartesian."""
    p = plan(q("join_asof_nearest", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # formatted plans list each node in the tree AND the detail
    # section, so count the "(n) Window" node headers
    import re

    assert len(re.findall(r"\(\d+\) Window", p)) == 2


def test_sql_udf_inlines_no_python_eval(spark, sf_small):
    """SQL-defined functions must inline into the calling plan: no
    BatchEvalPython / ArrowEvalPython node, pushdown intact."""
    p = plan(q("sql_udf", spark, sf_small))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "PushedFilters" in p


def test_dq_drift_psi_two_hash_aggs_broadcast_stats(spark, sf_small):
    """The drift monitor must be combining hash aggs + broadcast stats
    frames — no window, no cartesian, no sort-based shuffle of the
    feed."""
    p = plan(q("dq_drift_psi", spark, sf_small))
    assert "Window" not in p and "CartesianProduct" not in p
    assert "HashAggregate" in p
    assert "BroadcastHashJoin" in p


def test_agg_regression_single_hash_agg(spark, sf_small):
    """The regression moments must be ONE map-side-combining hash agg
    (partial + final), no window, no join."""
    p = plan(q("agg_regression", spark, sf_small))
    assert "Join" not in p and "Window" not in p
    assert p.count("HashAggregate") >= 2


def test_sample_weighted_is_distributed_topk(spark, sf_small):
    """Weighted sampling must plan per-partition heaps merged on the
    driver (TakeOrderedAndProject) — never a global sort."""
    p = plan(q("sample_weighted", spark, sf_small))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_minhash_union_two_hash_aggs_shared_tall(spark, sf_small):
    """Sketch build must be combining hash aggs over the shared tall
    frame — no window, no join, no cartesian."""
    p = plan(q("minhash_union", spark, sf_small))
    assert "Window" not in p and "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_scan_csv_malformed_single_pass(spark, sf_small):
    """PERMISSIVE corrupt-record capture must ride the splittable CSV
    scan itself — one scan, no join, no extra pass."""
    p = plan(q("scan_csv_malformed", spark, sf_small))
    assert "Scan csv" in p
    assert "Join" not in p


def test_quality_classifier_no_join_no_python(spark, sf_small):
    """The model-based quality scorer must be scan + codegen map + ONE
    combining hash agg: no join (the weight vector folds into the
    projection as an array literal), no window, no Python boundary."""
    p = plan(q("quality_classifier_score", spark, sf_small))
    assert "Join" not in p and "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("HashAggregate") >= 2  # partial + final


def test_ann_ivf_pq_query_broadcast_lut_no_table_cross(spark, sf_small):
    """IVFADC: the LUT and centroid tables broadcast; the only cross
    joins are against the broadcast K/NPROBE-row codebooks (map-side),
    never table x table; candidates reach ADC via equi-joins."""
    p = plan(q("ann_ivf_pq_query", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    # ADC totals are a combining hash agg keyed (qid, vec_id)
    assert "HashAggregate" in p


def test_dedup_image_phash_bucketed_not_all_pairs(spark, sf_small):
    """Perceptual-hash near-dup must generate candidates via the band
    self equi-join (shuffle on (j, bv)) — no cartesian, no broadcast of
    the full table side, hash computed in one codegen projection (no
    Python, no extra agg before banding)."""
    p = plan(q("dedup_image_phash", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_quality_classifier_train_two_hash_aggs_no_window(spark, sf_small):
    """The gradient step must be two combining hash aggs (scores,
    gradient scatter) + the 32-row spine join — no window, no
    cartesian, no Python."""
    p = plan(q("quality_classifier_train", spark, sf_small))
    assert "Window" not in p and "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "HashAggregate" in p


def test_sample_weighted_union_direct_is_topk(spark, sf_small):
    """The mergeability proof's direct branch must stay a distributed
    top-K (per-partition heaps), never a global sort of the corpus."""
    p = plan(q("sample_weighted_union", spark, sf_small))
    assert "TakeOrderedAndProject" in p


def _assert_kmv_raw_build_shape(spark, sf_small):
    """Shared raw-build assertion for the KMV family: the checkpoint
    cut hides the sketch build behind 'Scan ExistingRDD' in every
    consumer's final plan, so each family test ALSO pins the raw
    (checkpoint=False) build shape — one per-type top-K window, no
    cartesian (the r15 ADVICE item: asserting it only in the
    intersect test left difference/union unpinned)."""
    from deltasink_spark.queries.sketches import _kmv_frame

    b = plan(_kmv_frame(spark, sf_small, checkpoint=False))
    assert "Window" in b  # the per-type top-K rank
    assert "CartesianProduct" not in b


def test_agg_kmv_intersect_sketch_sized_joins(spark, sf_small):
    """The KMV build is one distinct + per-type window; everything
    downstream joins |types| x K sketch rows — no cartesian against
    the events scan. The build is lazily checkpointed (r15: each
    family op consumes it 3x — theta + both join sides — and AQE
    re-sorted the reused distinct exchange per consumer), so the final
    plan shows the cut and the window shape is pinned on the raw
    build frame."""
    p = plan(q("agg_kmv_intersect", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # the checkpointed sketch build
    _assert_kmv_raw_build_shape(spark, sf_small)


def test_hilbert_cluster_range_partition_no_global_sort(spark, sf_small):
    """The Hilbert layout must be range repartition + in-partition
    sort (like zorder_cluster) — one sampled-boundary shuffle, never a
    global sort, key arithmetic fused into codegen projections."""
    p = plan(q("hilbert_cluster", spark, sf_small), "simple")
    assert "rangepartitioning(hkey" in p
    # in-partition sort (global flag false), not a global sort
    assert "Sort [hkey" in p and "], false, 0" in p
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_markov_transitions_single_scan_no_join(spark, sf_small):
    """The transition matrix must scan the event log ONCE: one lag
    window (shuffle on user_id), one combining hash agg, and the
    row-normalize as a second window over the |types|^2 frame — no
    join (a totals join would re-derive the lag pipeline; Catalyst
    has no DAG CSE)."""
    p = plan(q("markov_transitions", spark, sf_small), "simple")
    assert p.count("Scan parquet") == 1
    assert "Join" not in p and "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_stats_welch_ttest_single_scan_no_join(spark, sf_small):
    """Both samples accumulate in ONE conditional hash agg over one
    scan — a per-sample-subquery join would scan orders twice and
    shuffle twice for the same seven numbers per group."""
    p = plan(q("stats_welch_ttest", spark, sf_small), "simple")
    assert p.count("Scan parquet") == 1
    assert "Join" not in p and "Window" not in p
    assert "HashAggregate" in p


def test_stats_chi2_windows_on_cell_frame_only(spark, sf_small):
    """The fact table collapses to |types|x|cohorts| cells in one hash
    agg; marginals/totals are windows over that constant-size frame —
    no join back to the scan, no second scan."""
    p = plan(q("stats_chi2_independence", spark, sf_small), "simple")
    assert p.count("Scan parquet") == 1
    assert "Join" not in p
    assert "HashAggregate" in p and "Window" in p


def test_stats_ks_bucketed_prefix_no_global_window(spark, sf_small):
    """The ECDF must be the two-level distributed prefix sum: the
    per-value cumulative window is PARTITIONED by the range bucket
    (parallel), the only unpartitioned window runs on the
    |buckets|-sized frame, and the bucket-prefix/total joins are
    broadcast — never a sort-merge join or cartesian."""
    p = plan(q("stats_ks_two_sample", spark, sf_small), "simple")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    # the big per-value window is partitioned on the bucket column
    assert "windowspecdefinition(b" in p
    assert "BroadcastHashJoin" in p


def test_stats_mannwhitney_bucketed_ranks(spark, sf_small):
    """Average ranks come from the bucket-partitioned prefix sum plus
    a broadcast bucket offset — the per-value window must be
    partitioned on b (parallel at scale) and all joins broadcast;
    the final statistic is one global hash agg, not a sort."""
    p = plan(q("stats_mannwhitney_u", spark, sf_small), "simple")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert "windowspecdefinition(b" in p
    assert "BroadcastHashJoin" in p
    assert "HashAggregate" in p


def test_stats_mutual_information_broadcast_only(spark, sf_small):
    """Everything after the one cell-building hash agg runs on
    constant-size frames glued with broadcast joins — no window at
    all, no shuffle join, no second fact-table scan."""
    p = plan(q("stats_mutual_information", spark, sf_small), "simple")
    assert "SortMergeJoin" not in p and "Window" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_ts_changepoint_cusum_two_level_prefix(spark, sf_small):
    """Both running aggregates (cumsum and the ROW_NUMBER substitute)
    are windows partitioned by day; the serial exclusive-offset
    window touches only the |days| frame; offsets/totals return via
    broadcast; argmax is a TakeOrdered limit, not a global sort."""
    p = plan(q("ts_changepoint_cusum", spark, sf_small), "simple")
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert "windowspecdefinition(d" in p
    assert "TakeOrderedAndProject" in p


def test_stats_anova_single_pass_no_join(spark, sf_small):
    """ANOVA is two chained hash aggs (fact -> groups -> one row) —
    no join, no window, nothing else touches the fact table."""
    p = plan(q("stats_anova_oneway", spark, sf_small), "simple")
    assert "Join" not in p and "Window" not in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_ts_autocorrelation_equi_join_no_window(spark, sf_small):
    """The lag structure is an equi-join of the hourly frame against
    itself on hr + lag — never a window over the series and never a
    cross product; the lag fan-out is a Generate (explode)."""
    p = plan(q("ts_autocorrelation", spark, sf_small), "simple")
    assert "CartesianProduct" not in p and "Window" not in p
    assert "Generate" in p
    assert "Join" in p


def test_graph_components_no_cartesian(spark, sf_small):
    """Component rounds are equi-join/agg star contractions over the
    checkpointed edge list; the size attach is an un-hinted equi-join
    (component count is O(nodes) on sparse graphs — AQE may broadcast
    at runtime, but the plan must never FORCE it)."""
    p = plan(q("graph_components", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    assert "Join" in p


def test_graph_triangle_count_equi_joins_only(spark, sf_small):
    """The wedge step is a self-EQUI-join on the star center u and
    the closing step an equi-join on (v1, v2) — no cartesian anywhere
    in the triangle plan. (The degree-attach broadcast joins sit
    behind the oriented-edge checkpoint boundary, so the visible plan
    starts at the wedge join.)"""
    p = plan(q("graph_triangle_count", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    # wedge join keyed on the star center; closing join keyed on the pair
    assert "SortMergeJoin [u#" in p or "ShuffledHashJoin [u#" in p or (
        "BroadcastHashJoin [u#" in p
    )
    assert "HashAggregate" in p


def test_rank_fusion_rrf_takeordered_lists(spark, sf_small):
    """Both retriever lists end in distributed top-50s and the final
    fused cut is itself a TakeOrderedAndProject; the only cross join
    is the broadcast single-row probe vector."""
    p = plan(q("rank_fusion_rrf", spark, sf_small), "simple")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_join_interval_overlap_equi_on_bucket(spark, sf_small):
    """Both interval sides are fact-sized, so the overlap join MUST
    decompose to an equi-join: explode into covering buckets
    (Generate), join keyed on bk, exact predicate + count-once rule
    as residual filters — never a nested-loop/cartesian theta join."""
    p = plan(q("join_interval_overlap", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Generate" in p
    assert "bk" in p


def test_ann_recall_ground_truth_broadcast_panel(spark, sf_small):
    """Ground truth broadcasts the 5-query panel against one corpus
    scan (BroadcastNestedLoopJoin on the panel is the eval-by-design
    cost); the ANN side stays the bucket equi-join — no full-corpus
    cartesian anywhere."""
    p = plan(q("ann_recall_at_k", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_stats_proportions_single_agg_no_join(spark, sf_small):
    """The whole test is one conditional hash agg + scalar algebra on
    the |groups| frame — no join, no window, one fact scan."""
    p = plan(q("stats_proportions_ztest", spark, sf_small), "simple")
    assert "Join" not in p and "Window" not in p
    assert "HashAggregate" in p


def test_exact_median_windows_on_tiny_frames_only(spark, sf_small):
    """Both prefix windows run AFTER a hash agg (bucket histogram /
    in-bucket value histogram) — the raw fact table is never
    windowed or sorted; the second pass is gated by a broadcast
    1-row target."""
    p = plan(q("agg_exact_median_twopass", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # windows exist, but each Window's child chain includes an agg
    assert "Window" in p and "HashAggregate" in p
    # no global sort of the fact table: Sort nodes only under Window
    assert "TakeOrderedAndProject" not in p


def test_islands_windows_partitioned_by_customer(spark, sf_small):
    """Both gaps-and-islands windows (running max, island cumsum)
    must partition by the island key (the customer) — a global
    interval ordering would serialize; the island rollup is a hash
    agg."""
    p = plan(q("intervals_merge_islands", spark, sf_small), "simple")
    assert "windowspecdefinition(key" in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_mad_outliers_rank_windows_per_source(spark, sf_small):
    """Both exact-median rank windows partition by source; the median
    and MAD frames return via broadcast joins; no global sort."""
    p = plan(q("stats_mad_outliers", spark, sf_small), "simple")
    assert "windowspecdefinition(source" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "TakeOrderedAndProject" not in p


def test_seasonal_decompose_two_level_agg_no_window(spark, sf_small):
    """Facts -> hourly -> 24 slots is two chained hash aggs; the
    variance algebra runs on constant-size frames glued by a
    broadcast — no window, no shuffle join, one fact scan."""
    p = plan(q("ts_seasonal_decompose", spark, sf_small), "simple")
    assert "Window" not in p and "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_zipf_top500_is_takeordered(spark, sf_small):
    """The vocab cut is a distributed top-k; the regression windows
    touch only the 500-row frame; one token scan."""
    p = plan(q("text_zipf_slope", spark, sf_small), "simple")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_neyman_rank_window_per_stratum(spark, sf_small):
    """The draw's rank window partitions by source and the allocation
    returns via broadcast joins — no global ordering of the corpus."""
    p = plan(q("sample_stratified_neyman", spark, sf_small), "simple")
    assert "windowspecdefinition(source" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_seasonal_anomaly_broadcast_stats_filter(spark, sf_small):
    """The per-hod stats side is constant-size and broadcasts onto the
    hourly frame; the 3-sigma test is a codegen filter — no window,
    no shuffle join."""
    p = plan(q("ts_seasonal_anomaly", spark, sf_small), "simple")
    assert "BroadcastHashJoin" in p
    assert "Window" not in p and "CartesianProduct" not in p


def test_funnel_delay_median_window_per_segment(spark, sf_small):
    """The median rank window partitions by segment; the per-segment
    counts and the customer dim return via broadcast joins."""
    p = plan(q("funnel_time_to_convert", spark, sf_small), "simple")
    assert "windowspecdefinition(segment" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_dedup_rate_report_no_cartesian(spark, sf_small):
    """Pair generation is the LSH equi-join machinery; the report's
    own joins are broadcast-size."""
    p = plan(q("dedup_rate_report", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_langid_confusion_single_agg(spark, sf_small):
    """The eval collapses predictions to |langs|x|guesses| cells in
    one hash agg; the global accuracy frame broadcasts back."""
    p = plan(q("eval_langid_confusion", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_cohens_kappa_one_scan_no_join(spark, sf_small):
    """The 2x2 agreement table is one conditional hash agg over one
    scan — no join, no window."""
    p = plan(q("stats_cohens_kappa", spark, sf_small), "simple")
    assert "Join" not in p and "Window" not in p
    assert "HashAggregate" in p


def test_simhash_eval_band_equi_join(spark, sf_small):
    """Candidate generation is the band-bucket EQUI-join (never
    all-pairs); the Hamming verify and truth join are keyed."""
    p = plan(q("eval_simhash_banding", spark, sf_small), "simple")
    assert "CartesianProduct" not in p


def test_funnel_window_strict_equi_joins_only(spark, sf_small):
    """Each funnel level is a min-agg over an equi-join on user_id
    with the time bound as a residual predicate — never a time-range
    join explosion or a per-event window."""
    p = plan(q("funnel_window_strict", spark, sf_small), "simple")
    assert "CartesianProduct" not in p and "Window" not in p
    assert "HashAggregate" in p


def test_percentile_vector_shares_one_histogram(spark, sf_small):
    """All four quantile targets resolve against ONE bucket-histogram
    prefix (tiny-frame windows only); the second pass is gated by the
    broadcast target list — the fact table is never globally sorted."""
    p = plan(q("agg_exact_percentiles_multiprobe", spark, sf_small), "simple")
    assert "TakeOrderedAndProject" not in p
    assert "BroadcastHashJoin" in p
    # the ONE nested-loop join allowed is the broadcast (BuildRight)
    # of the 4-row percentile-target frame against the bucket prefix —
    # never a shuffle-side CartesianProduct over fact rows
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin BuildRight" in p
    assert "HashAggregate" in p


def test_kcore_output_from_checkpointed_rounds(spark, sf_small):
    """The peel rounds are checkpointed (the visible plan starts at
    the final round's edge frame); the core degree is a hash agg and
    the convergence flag joins as a broadcast single row."""
    p = plan(q("graph_kcore", spark, sf_small), "simple")
    assert "Scan ExistingRDD" in p
    assert "HashAggregate" in p


def test_spearman_rank_joins_no_cartesian(spark, sf_small):
    """The quantity rank table broadcasts onto the fact; the price
    rank join is a hash equi-join on the value; moments are one
    combining hash agg — no cartesian, no global-sort rank."""
    p = plan(q("stats_spearman", spark, sf_small), "simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "HashAggregate" in p
    assert "TakeOrderedAndProject" not in p


def test_incremental_dedup_bucketed_not_all_pairs(spark, sf_small):
    """Candidates come from the (band_id, band_hash) equi-join of the
    delta probe against the band index — never a document cross
    join."""
    p = plan(q("dedup_minhash_incremental", spark, sf_small), "simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_kneser_ney_model_join_no_cartesian(spark, sf_small):
    """The KN model joins onto the doc bigram stream as hash
    equi-joins; the only nested-loop allowed is the 1-row |types|
    broadcast."""
    p = plan(q("text_kneser_ney_bigram", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_longest_streak_windows_are_per_user(spark, sf_small):
    """Both windows (island key, winner pick) must be partitioned by
    user_id — never a one-task global sort. Asserted on the window
    SPEC itself (first windowspecdefinition argument), not on plan
    text that mentions user_id for other reasons."""
    import re

    p = plan(q("ts_longest_streak", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    specs = re.findall(r"windowspecdefinition\(([^)]*)", p)
    assert len(specs) >= 2  # island key + winner pick
    assert all(s.strip().startswith("user_id") for s in specs), specs


def test_referential_integrity_single_pass_left_joins(spark, sf_small):
    """n_child and n_orphans come from ONE left join + one combining
    agg per relationship (the anti-join form scanned each child
    twice); no cartesian, no windows."""
    p = plan(q("dq_referential_integrity", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert "LeftOuter" in p
    assert "LeftAnti" not in p


def test_referential_integrity_parents_are_not_forced_to_broadcast(spark, sf_small):
    """customer, orders, part and supplier all grow with the scale
    factor, so the planner decides their joins: with broadcasting off,
    no parent is broadcast by a hint."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        p = plan(q("dq_referential_integrity", spark, sf_small), "simple")
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" not in p
    assert "LeftOuter" in p


def test_join_size_estimate_sample_path_shapes(spark, sf_small):
    """The estimator is two hash aggs + one sample-sized equi-join;
    the true-size frame glues on as a 1-row broadcast — no cartesian,
    no window, no global sort."""
    p = plan(q("join_size_estimate_sampled", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert "HashAggregate" in p


def test_event_path_topk_is_distributed(spark, sf_small):
    """Per-user rank window (hash-partitioned), bounded path
    assembly, TakeOrdered top-10 — never a global sort of paths."""
    p = plan(q("event_path_topk", spark, sf_small), "simple")
    assert "CartesianProduct" not in p
    assert "hashpartitioning(user_id" in p
    assert "TakeOrderedAndProject" in p


def test_hll_intersect_broadcasts_and_hash_aggs(spark, sf_small):
    """Inclusion-exclusion rides three sketch hash aggs; the exact
    side's semi-join and the 1-row estimate frames broadcast — no
    sort-merge join, no cartesian, no window."""
    p = plan(q("agg_hll_intersect", spark, sf_small), "simple")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "Window" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "HashAggregate" in p


def test_unigram_encode_broadcast_join_per_doc_agg(spark, sf_small):
    """ENCODE is one broadcast equi-join of the exploded token stream
    against the vocab-sized segmentation table plus one combining
    per-doc hash agg — the corpus is touched once, never sort-merged."""
    p = plan(q("tokenizer_unigram_encode", spark, sf_small), "simple")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "HashAggregate" in p


def test_agg_kmv_difference_sketch_sized_joins(spark, sf_small):
    """A-not-B rides the same sketch shape as the intersect: one
    distinct + per-type top-K window builds the KMV samples, then
    every join (pairs, anti vs b, estimate) runs on |types| x K rows
    — no cartesian against the events scan."""
    p = plan(q("agg_kmv_difference", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "Scan ExistingRDD" in p  # the checkpointed sketch build
    _assert_kmv_raw_build_shape(spark, sf_small)


def test_agg_kmv_union_sketch_sized_merge(spark, sf_small):
    """The union's pool + re-truncate runs on |types|^2 x K sketch
    rows — two windows (per-type build, per-pair re-rank), never a
    cartesian against the events scan."""
    p = plan(q("agg_kmv_union", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "Window" in p  # the per-pair re-rank (the per-type build
    # window sits behind the checkpoint cut)
    assert "Scan ExistingRDD" in p
    _assert_kmv_raw_build_shape(spark, sf_small)


def test_attribution_linear_no_range_join(spark, sf_small):
    """Linear attribution must ride ONE per-user range-frame window —
    never a purchase-x-click range join (quadratic on a hot user)."""
    p = plan(q("attribution_linear", spark, sf_small), "simple")
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Window" in p
    assert p.count("Scan parquet") == 1


def test_attribution_position_based_no_range_join(spark, sf_small):
    p = plan(q("attribution_position_based", spark, sf_small), "simple")
    assert "Join" not in p and "CartesianProduct" not in p
    assert "Window" in p
    assert p.count("Scan parquet") == 1


def test_graph_lpa_rounds_are_equi_joins(spark, sf_small):
    """Every LPA round is an equi-join + hash agg + per-node top-1
    window — no cartesian anywhere in the unrolled plan."""
    p = plan(q("graph_label_propagation", spark, sf_small))
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p and "Window" in p


def test_wordpiece_train_checkpoint_lineage(spark, sf_small):
    """The K WordPiece rounds mirror bpe_train's shape: each round's
    1-row likelihood-ratio winner broadcasts (never a cartesian of the
    vocab against it), and the per-round localCheckpoint truncates
    lineage so the final union reads checkpointed frames, not the
    corpus K times over."""
    p = plan(q("tokenizer_wordpiece_train", spark, sf_small))
    assert "CartesianProduct" not in p
    assert p.count("Scan parquet") <= 1, p.count("Scan parquet")


def test_wordpiece_encode_is_equijoin_plus_agg(spark, sf_small):
    """WordPiece encoding = equi-join of the exploded token stream
    against the distinct-word segmentation table + one combining hash
    agg — no window, no cartesian."""
    p = plan(q("tokenizer_wordpiece_encode", spark, sf_small))
    assert "CartesianProduct" not in p and "Window" not in p
    assert "HashAggregate" in p


def test_tokenizer_vocab_topk_is_distributed_heap(spark, sf_small):
    """The top-500 vocabulary cut must be a TakeOrderedAndProject
    (per-partition heaps) with the ranking window confined to the
    500-row frame — never a global sort of the full vocabulary."""
    p = plan(q("tokenizer_vocab", spark, sf_small))
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p


def test_exact_dedup_is_single_shuffle_hash_agg(spark, sf_small):
    """The skew-safe exact-dedup shape (r14 verdict's perf-weak
    conversion): ONE exchange, NO sort, NO window — partial
    aggregation collapses a mega-duplicate cluster map-side. A
    row_number() keep-first would show Window + Sort here and
    serialize the cluster into one task."""
    p = plan(q("dedup_exact_hash", spark, sf_small))
    assert p.count("+- Exchange") == 1, p  # the tree's one shuffle
    assert "Window" not in p and "Sort" not in p
    assert p.count("HashAggregate") >= 2  # partial + final


def test_arrow_udfs_not_duplicated_by_filter_pushdown(spark, sf_small):
    """Guide §4.4 regression pin (r15): a filter on a pandas-UDF
    column pushed below the computing projection CLONES the UDF —
    one ArrowEvalPython for the filter, another for the projection —
    doubling the Python-boundary work per row. The dot and signature
    UDFs are marked nondeterministic (they are pure; the marker only
    blocks the clone), so each logical call site must surface as
    EXACTLY one ArrowEvalPython node: signature once per self-join
    side + dot once for the scoring ops, signature once + dot once
    for the tall-frame ops."""
    for op, nodes in (
        ("sim_cosine_pairs", 3),
        ("ts_similarity", 3),
        ("dedup_embedding_cosine", 3),
        ("sim_ann_lsh", 2),
        ("knn_graph", 2),
        ("ann_recall_at_k", 2),
    ):
        p = plan(q(op, spark, sf_small))
        got = p.count("ArrowEvalPython (")  # tree section, one per node
        assert got == nodes, (op, got, nodes)
