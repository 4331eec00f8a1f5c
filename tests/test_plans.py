"""Physical-plan regression tests: the scale properties we designed
for must be visible in EXPLAIN, so a change that silently degrades the
100 TB plan (broadcast→sort-merge, lost pushdown, row-Python in the
data path) fails here instead of on a cluster."""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from aggregation_duckdb_spark import flagship as fs, matrix
from aggregation_duckdb_spark.io import load_table
from aggregation_duckdb_spark.plans import (
    assert_broadcast_join, assert_max_shuffles, assert_no_row_python_udf,
    assert_pushed_filters, assert_read_schema_only,
    assert_whole_stage_codegen, count_shuffles)


def test_flagship_closure_plan_shape(spark, sf_dir):
    """The scale-critical query: orders (the 100 TB table) must join
    dims by broadcast only and shuffle exactly for (a) the two-phase
    exact-distinct aggregate and (b) the final presentation sort."""
    agg = fs.flagship_closure_agg(spark, sf_dir)
    assert_broadcast_join(agg, at_least=2)   # customer attach + closure fan-out
    # 2 distinct-agg phases + the one-partition sort; that third one is
    # a SinglePartition exchange, which count_shuffles leaves out
    assert_max_shuffles(agg, 3)
    assert_whole_stage_codegen(agg)
    assert_no_row_python_udf(agg)


@pytest.mark.parametrize("name", ["hier_agg_closure", "hier_agg_rollup"])
def test_hier_reports_group_on_natural_key(spark, sf_dir, name):
    """Both report strategies aggregate on the bigint natural key only:
    no surrogate md5 id or name string rides through the distinct
    aggregate's shuffles. The node attributes attach after it, and the
    dim-sized result sorts in one partition — no range partitioning
    and so no sampling job."""
    from aggregation_duckdb_spark.plans import physical_plan
    agg = matrix.queries()[name](spark, sf_dir)
    plan = physical_plan(agg, "simple")
    keys = re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan)
    assert keys, plan
    for k in keys:
        assert not re.search(r"ancestor_node_id|level_\d+_node_id|_name\b", k), k
    assert "rangepartitioning" not in plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert_max_shuffles(agg, 3)


def test_fact_scan_pushdown_and_pruning(spark, sf_dir):
    scan = (load_table(spark, "lineitem", sf_dir)
            .where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
            .select("l_returnflag", "l_quantity"))
    assert_pushed_filters(scan, "LessThanOrEqual(l_shipdate")
    assert_read_schema_only(scan, "lineitem",
                            {"l_returnflag", "l_quantity", "l_shipdate"})


def test_dedup_lsh_is_jvm_side(spark, sf_dir):
    """The LSH candidate plan must be pure JVM: signatures/band keys in
    codegen, no Python anywhere."""
    from aggregation_duckdb_spark.operators import dedup as D
    cands = D.minhash_lsh_candidates(load_table(spark, "documents", sf_dir))
    assert_no_row_python_udf(cands)
    assert_whole_stage_codegen(cands)


@pytest.mark.parametrize("name", sorted(
    n for n in matrix.queries() if not n.startswith("stream_")))
def test_no_row_python_udf_anywhere(spark, sf_dir, name):
    """Every batch matrix query: Arrow-vectorized Python is allowed
    (multimodal mapInPandas); row-at-a-time BatchEvalPython is not."""
    df = matrix.queries()[name](spark, sf_dir)
    assert_no_row_python_udf(df)


def test_exact_dedup_single_shuffle(spark, sf_dir):
    """Exact dedup = one shuffle on the content hash (plus none for the
    semi-join, which must broadcast the keeper side)."""
    from aggregation_duckdb_spark.operators import dedup as D
    survivors = D.exact_dedup(load_table(spark, "documents", sf_dir))
    assert count_shuffles(survivors) <= 2


def test_embedding_neardup_no_nested_loop(spark, sf_dir):
    """The near-dup candidate path must pair via the LSH bucket
    equi-join — an all-pairs theta-join (BroadcastNestedLoopJoin /
    CartesianProduct) is the O(N^2) scale-killer this plan replaced."""
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    df = matrix.queries()["sim_embedding_neardup"](spark, sf_dir)
    assert_no_nested_loop_join(df)
    assert_no_row_python_udf(df)


def test_bucketed_join_entry_shuffle_budget(spark, sf_dir):
    """q_bucketed_join: with broadcast off, the orders⋈lineitem join
    must read co-located buckets with NO exchange of its own — the only
    shuffles allowed are the returnflag aggregate and the final sort.
    A third exchange means bucket metadata got lost and the 100 TB
    write-once shuffle is being paid per query again."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = matrix.queries()["q_bucketed_join"](spark, sf_dir)
        assert count_shuffles(df) <= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.mark.parametrize("name", [
    "q2_min_cost_supplier", "q8_market_share", "q11_important_parts",
    "q15_top_supplier", "q17_small_qty_revenue", "q20_promo_suppliers",
    "q21_waiting_suppliers"])
def test_tpch_subquery_shapes_decorrelate(spark, sf_dir, name):
    """Every correlated subquery in the round-3 TPC-H batch must be
    decorrelated by Catalyst into aggregate+join form — a
    BroadcastNestedLoopJoin/CartesianProduct here means a per-row
    re-scan of the fact table at 100 TB."""
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    df = matrix.queries()[name](spark, sf_dir)
    assert_no_nested_loop_join(df)


def test_q21_one_pass_aggregate_form(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair is computed from one slim per-order
    aggregate instead of the literal semi+anti joins (measured 2×
    faster at sf0.1: the literal form scans lineitem three times and
    re-joins orders inside the NOT EXISTS). Assert the rewrite's
    shape: no Expand operator (two-stage distinct, not
    count_distinct), and at most two lineitem scans (the shared slim
    projection is recomputed once for the rejoin, both map-side under
    the orders broadcast)."""
    from aggregation_duckdb_spark.plans.inspect import physical_plan
    df = matrix.queries()["q21_waiting_suppliers"](spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "Expand" not in plan, plan
    assert plan.count("lineitem") <= 2, plan


def test_q8_snowflake_broadcasts_every_dim(spark, sf_dir):
    """Q8 joins five dimensions (nation twice) around the
    lineitem⋈orders fact join — all of them must broadcast; the fact
    join is the only join allowed to shuffle."""
    df = matrix.queries()["q8_market_share"](spark, sf_dir)
    assert_broadcast_join(df, at_least=5)
    assert_max_shuffles(df, 4)


@pytest.mark.parametrize("name", [
    "pipeline_decontaminate",
    "pipeline_quantile_filter", "q_merge_upsert",
    "pipeline_pack_sequences", "q_rolling_time_window",
    "events_state_intervals", "q_histogram_totalprice"])
def test_round4_operators_no_nested_loop(spark, sf_dir, name):
    """None of the round-4 operators may plan a nested-loop/cartesian
    join — each is built on equi-joins, windows, and aggregations
    only. (text_tfidf_topterms is asserted separately: it deliberately
    carries ONE 1-row scalar attach as a broadcast nested loop.)"""
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    df = matrix.queries()[name](spark, sf_dir)
    assert_no_nested_loop_join(df)


def test_pack_sequences_window_is_bucket_sharded(spark, sf_dir):
    """The packing cumsum must partition by the md5 bucket — a global
    (unpartitioned) window would serialize the whole corpus through
    one task. The reliable plan signal: every windowspecdefinition
    lists bucket as its partition key."""
    import re
    from aggregation_duckdb_spark.plans.inspect import physical_plan
    df = matrix.queries()["pipeline_pack_sequences"](spark, sf_dir)
    plan = physical_plan(df, "simple")
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs, plan
    assert all(s.strip().startswith("bucket") for s in specs), specs


def test_quantile_filter_broadcasts_thresholds(spark, sf_dir):
    """The per-group threshold table is group-cardinality-sized; the
    keep-filter join must broadcast it, never shuffle the scored
    corpus."""
    df = matrix.queries()["pipeline_quantile_filter"](spark, sf_dir)
    assert_broadcast_join(df, at_least=1)


def test_tfidf_join_shapes(spark, sf_dir):
    """tf⋈df rides a broadcast-hash join of the vocabulary-sized df
    table; the corpus count N attaches as EXACTLY one broadcast nested
    loop whose build side is a single aggregated row (O(N·1) — the one
    sanctioned nested-loop shape). More than one means a real
    cartesian crept in."""
    from aggregation_duckdb_spark.plans.inspect import physical_plan
    df = matrix.queries()["text_tfidf_topterms"](spark, sf_dir)
    assert_broadcast_join(df, at_least=1)
    plan = physical_plan(df, "simple")
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_capped_lsh_single_shuffle_no_selfjoin(spark, sf_dir):
    """The capped (default) LSH candidate path: one exchange for the
    bucket group-by, pairs generated in-row — no self-join, so no
    second/third exchange and no join operator at all."""
    from aggregation_duckdb_spark.operators import dedup as D
    from aggregation_duckdb_spark.plans import physical_plan
    docs = load_table(spark, "documents", sf_dir)
    cands = D.minhash_lsh_candidates(docs, max_bucket_size=1000)
    plan = physical_plan(cands, "simple")
    assert "Join" not in plan, "capped path must not self-join"
    # bucket groupBy + the final distinct = two exchanges max
    assert count_shuffles(cands) <= 2
    assert_no_row_python_udf(cands)


def test_containment_candidates_equi_join_only(spark, sf_dir):
    """Sub-document dedup: the inverted-index candidate join and the
    per-pair verify joins must all be equi-joins (hash-partitionable) —
    never a nested-loop all-pairs."""
    from aggregation_duckdb_spark.operators import dedup as D
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.sub_duplicates(docs, threshold=0.8, max_df=20)
    assert_no_nested_loop_join(pairs)
    assert_no_row_python_udf(pairs)


def test_rebalance_broadcasts_rates_never_shuffles_corpus(spark, sf_dir):
    """Mixture rebalance: the rates table is group-sized, so the
    corpus-side join must be broadcast — the documents scan exchanges
    only inside the rates aggregation, never for the join itself."""
    from aggregation_duckdb_spark.operators import pipeline as P
    docs = load_table(spark, "documents", sf_dir)
    out = P.rebalance_sample(docs, {f"src{i}": 0.1 for i in range(10)})
    assert_broadcast_join(out, at_least=1)
    from aggregation_duckdb_spark.plans import physical_plan
    assert "SortMergeJoin" not in physical_plan(out, "simple")


def test_ivf_assign_is_map_only(spark, sf_dir):
    """Codebook assignment must be a zero-shuffle map pass: the
    centroid literal folds into the plan, the argmax is in-row."""
    from aggregation_duckdb_spark.operators import similarity as S
    emb = load_table(spark, "embeddings", sf_dir)
    cents = S.label_centroids(emb)
    assigned = S.ivf_assign(emb, cents)
    assert count_shuffles(assigned) == 0
    assert_no_row_python_udf(assigned)


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """The whole point of ranges.bucketed_range_join: the theta
    predicate (lo <= v < hi) must NOT reach the join operator — the
    join is an equi-join on the bucket key with the range check as a
    post-join filter. A BroadcastNestedLoopJoin here is the O(N·B)
    regression the operator exists to prevent."""
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    df = matrix.queries()["events_value_bands"](spark, sf_dir)
    assert_no_nested_loop_join(df)
    assert_no_row_python_udf(df)


def test_overlap_join_equi_no_distinct_shuffle(spark, sf_dir):
    """Interval overlap: equi-join on buckets; pair dedup is the
    in-row claim filter, so the pairs stage adds NO extra exchange
    beyond the session/hot-window aggregations themselves."""
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    df = matrix.queries()["events_session_overlap"](spark, sf_dir)
    assert_no_nested_loop_join(df)
    # sessionize (1: user shuffle) + hot windows (1: window groupBy)
    # + final per-session aggregate (1) + orderBy (1); a 5th exchange
    # would mean a distinct/dedup shuffle crept into the pairs stage
    assert count_shuffles(df) <= 4


def test_chunk_overlap_zero_shuffle(spark, sf_dir):
    """Chunking is tokenize→explode→slice, entirely in-row."""
    from aggregation_duckdb_spark.operators import pipeline as P
    docs = load_table(spark, "documents", sf_dir)
    out = P.chunk_overlap(docs, context_len=24, stride=16)
    assert count_shuffles(out) == 0
    assert_no_row_python_udf(out)


def test_incremental_dedup_broadcasts_batch_side(spark, sf_dir):
    """New-batch-vs-corpus dedup: every join against the corpus-sized
    side must broadcast the batch side (the corpus never shuffles for
    a join), and all joins are equi-joins."""
    from aggregation_duckdb_spark.operators import dedup as D
    from aggregation_duckdb_spark.operators import pipeline as P
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    docs = load_table(spark, "documents", sf_dir)
    bkt = P.split_bucket(F.col("doc_id"), salt="inc-v1")
    out = D.incremental_dedup(docs.where(bkt >= 8000),
                              docs.where(bkt < 8000))
    assert_no_nested_loop_join(out)
    assert_broadcast_join(out, at_least=2)
    assert_no_row_python_udf(out)


def test_bloom_decontaminate_broadcasts_sketch(spark, sf_dir):
    """The bloom table is <= num_words rows — it must broadcast; the
    train text never shuffles for the membership check."""
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    df = matrix.queries()["pipeline_bloom_decontaminate"](spark, sf_dir)
    assert_no_nested_loop_join(df)
    assert_broadcast_join(df, at_least=1)
    assert_no_row_python_udf(df)


def test_group_sample_single_shuffle(spark, sf_dir):
    """Fixed-size group sampling = one exchange (the group
    partitioning for the rank window)."""
    from aggregation_duckdb_spark.operators import pipeline as P
    docs = load_table(spark, "documents", sf_dir)
    out = P.group_sample_fixed(docs, n=5, by="source")
    assert count_shuffles(out) == 1
    assert_no_row_python_udf(out)


def test_funnel_and_retention_plan_shapes(spark, sf_dir):
    """Funnel: user-equi joins only, type filters pushed to the scan.
    Retention: equi-joins + a broadcast of the cohort-size table."""
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    fun = matrix.queries()["events_funnel"](spark, sf_dir)
    assert_no_nested_loop_join(fun)
    assert_no_row_python_udf(fun)
    assert_pushed_filters(fun, "event_type")
    ret = matrix.queries()["events_retention_cohorts"](spark, sf_dir)
    assert_no_nested_loop_join(ret)
    assert_broadcast_join(ret, at_least=1)


def test_partitioned_pruning_filter_reaches_partitions(spark, sf_dir):
    """The event_type predicate must prune DIRECTORIES (PartitionFilters
    on the scan), not run as a post-scan filter over all partitions."""
    from aggregation_duckdb_spark.plans import physical_plan
    df = matrix.queries()["q_partitioned_pruning"](spark, sf_dir)
    plan = physical_plan(df, "formatted")
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan[:2000]


def test_pq_scan_broadcasts_distance_table(spark, sf_dir):
    """ADC ranking: the driver-built query×codebook distance tables
    broadcast to the code scan as ONE local frame — exactly one
    BroadcastNestedLoopJoin (corpus vectors never move for ranking,
    never a cartesian), and a query set built from Python rows is not
    re-scanned at execution (no Scan ExistingRDD); the per-subspace
    encode is a zero-shuffle map pass."""
    from aggregation_duckdb_spark.operators import similarity as S
    from aggregation_duckdb_spark.plans import physical_plan
    emb = load_table(spark, "embeddings", sf_dir)
    cents = S.label_centroids(emb)   # any deterministic codebook shape
    books = None
    for j in range(8):
        cb = cents.limit(16).selectExpr("centroid_id",
                                        "slice(centroid, %d, 8) AS centroid"
                                        % (j * 8 + 1),
                                        f"CAST({j} AS BIGINT) AS subspace")
        books = cb if books is None else books.unionByName(cb)
    codes = S.pq_encode(emb, books, num_subspaces=8)
    assert count_shuffles(codes) == 0
    queries = spark.createDataFrame(
        [(r.vec_id, [float(x) for x in r.embedding])
         for r in emb.orderBy("vec_id").limit(5).collect()],
        "vec_id long, embedding array<double>")
    top = S.pq_topk(codes, books, queries, k=5, num_subspaces=8)
    plan = physical_plan(top, "simple")
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" not in plan, plan
    assert_no_row_python_udf(top)


def test_duplicate_spans_two_shuffles_no_sort(spark, sf_dir):
    """Span census = hash groupBy + same-key join-back + doc aggregate:
    at most three exchanges, no global sort, no nested loop."""
    from aggregation_duckdb_spark.operators import dedup as D
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    docs = load_table(spark, "documents", sf_dir)
    out = D.duplicate_spans(docs, width=20)
    assert_no_nested_loop_join(out)
    assert count_shuffles(out) <= 3
    assert_no_row_python_udf(out)


def test_prefix_filter_equi_joins_only(spark, sf_dir):
    """Prefix-filter set-similarity join: candidate generation and the
    verify are hash equi-joins; the naive all-pairs theta join exists
    only in its completeness TEST, never in the operator's plan."""
    from aggregation_duckdb_spark.operators import dedup as D
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    docs = load_table(spark, "documents", sf_dir)
    out = D.prefix_filter_pairs(docs, threshold=0.6)
    assert_no_nested_loop_join(out)
    assert_no_row_python_udf(out)


def test_corpus_report_single_shuffle(spark, sf_dir):
    """The dataset-card report computes quality in the same projection
    as the token counts — exactly ONE exchange (the group-by), never a
    second scan joined back on the id."""
    from aggregation_duckdb_spark.operators import pipeline as P
    docs = load_table(spark, "documents", sf_dir)
    out = P.corpus_report(docs)
    assert count_shuffles(out) == 1
    assert_no_row_python_udf(out)


@pytest.mark.parametrize("name", [
    "hier_agg_by_month", "hier_agg_time", "events_dau_wau",
    "events_transition_matrix", "pipeline_snapshot_diff",
    "dedup_incremental", "pipeline_leakage_free_split",
    "events_funnel", "events_retention_cohorts",
    "events_hourly_anomalies",
    "dedup_duplicate_spans", "pipeline_chunk_overlap",
    "text_bpe_token_count", "pipeline_corpus_report",
    "q_multiformat_roundtrip", "q_variant_extract",
])
def test_round5_entries_no_nested_loop(spark, sf_dir, name):
    """Blanket pin for the round-5 entries: none may plan a
    nested-loop/cartesian join or a row-at-a-time Python UDF — every
    one is built on equi-joins, windows, broadcasts, and aggregates."""
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    df = matrix.queries()[name](spark, sf_dir)
    assert_no_nested_loop_join(df)
    assert_no_row_python_udf(df)


@pytest.mark.parametrize("name", [
    "mm_phash_neardup", "pipeline_epoch_shuffle",
    "dedup_cluster_sizes", "text_ngram_novelty",
    "text_token_vocab", "pipeline_leak_report", "q_zorder_pruning",
    "text_unigram_quality", "pipeline_dataset_hash",
    "events_key_skew_report", "pipeline_bucket_fingerprints",
    "pipeline_pack_greedy", "text_normalize", "text_bm25_search",
])
def test_round6_entries_no_nested_loop(spark, sf_dir, name):
    """Same blanket pin for the round-6 entries: band-bucket and gram
    equi-joins only — the phash candidate join and the novelty
    anti-join must never degrade to a nested loop."""
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    df = matrix.queries()[name](spark, sf_dir)
    assert_no_nested_loop_join(df)
    assert_no_row_python_udf(df)


def test_ivf_exact_only_bounded_cross_is_the_probe_table(spark, sf_dir):
    """sim_ivf_topk_exact carries exactly ONE nested-loop join: the
    queries × codebook probe-table build (model-sized — |Q|·k rows,
    the same sanctioned scalar-attach class as tfidf). The corpus-side
    candidate join must stay a broadcast-hash equi-join."""
    from aggregation_duckdb_spark.plans import physical_plan
    df = matrix.queries()["sim_ivf_topk_exact"](spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan
    assert_broadcast_join(df, at_least=1)
    assert_no_row_python_udf(df)


def test_two_dim_and_time_hierarchies_broadcast_dims(spark, sf_dir):
    """Both new hierarchy aggregations keep the flagship discipline:
    every dim side broadcasts; facts shuffle only for the group-by."""
    for name in ("hier_agg_by_month", "hier_agg_time"):
        df = matrix.queries()[name](spark, sf_dir)
        assert_broadcast_join(df, at_least=2)


@pytest.mark.parametrize("name", [
    "dedup_global_lines", "text_line_stats", "events_topk_paths",
])
def test_round6_late_entries_no_nested_loop(spark, sf_dir, name):
    """Blanket pin for the second batch of round-6 entries: the line
    census and path mining pair rows via hash equi-joins and
    aggregates only."""
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    df = matrix.queries()[name](spark, sf_dir)
    assert_no_nested_loop_join(df)
    assert_no_row_python_udf(df)


def test_line_stats_is_shuffle_free(spark, sf_dir):
    """text.line_stats is a pure map: every fraction comes from in-row
    higher-order functions, so the operator itself must plan ZERO
    shuffle exchanges (the matrix entry's orderBy is presentation)."""
    from aggregation_duckdb_spark.io import load_table
    from aggregation_duckdb_spark.operators import text as T
    from aggregation_duckdb_spark.plans.inspect import count_shuffles
    docs = load_table(spark, "documents", sf_dir)
    assert count_shuffles(T.line_stats(docs)) == 0


def test_global_line_dedup_census_never_shuffles_text(spark, sf_dir):
    """The line census and drop-set build must ride hash aggregates /
    equi-joins; the only join touching the full text column is the
    final doc_id equi-join. No nested loop anywhere, and the heavy
    text column appears in no Exchange below the reconstruction join
    (the census legs project (doc_id, line) pairs only)."""
    from aggregation_duckdb_spark.io import load_table
    from aggregation_duckdb_spark.operators import dedup as D
    from aggregation_duckdb_spark.plans import assert_no_nested_loop_join
    from aggregation_duckdb_spark.plans.inspect import physical_plan
    docs = load_table(spark, "documents", sf_dir)
    df = D.global_line_dedup(docs, min_docs=3)
    assert_no_nested_loop_join(df)
    plan = physical_plan(df, "formatted")
    # the census group-by keys on the line value, never the text blob
    assert "hashpartitioning(line" in plan, plan


def test_knn_classify_only_bounded_cross_is_the_query_broadcast(spark,
                                                                sf_dir):
    """sim_knn_classify scores via the brute-force probe: exactly ONE
    BroadcastNestedLoopJoin (the bounded query set against the corpus
    scan — the sanctioned ANN-baseline shape); the label attach must
    stay a hash equi-join and the corpus must never cartesian with
    itself."""
    from aggregation_duckdb_spark.plans import physical_plan
    df = matrix.queries()["sim_knn_classify"](spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "CartesianProduct" not in plan
    assert_no_row_python_udf(df)


def test_encode_ids_is_shuffle_free_given_a_vocab(spark, sf_dir):
    """text.encode_ids with the vocab already built must plan ZERO
    shuffles — the vocab folds in as a map literal and the encode is
    a map-side transform (the ivf_assign codebook pattern)."""
    from aggregation_duckdb_spark.io import load_table
    from aggregation_duckdb_spark.operators import text as T
    from aggregation_duckdb_spark.plans.inspect import count_shuffles
    docs = load_table(spark, "documents", sf_dir)
    vocab = T.token_vocab(docs, top_k=50)
    assert count_shuffles(T.encode_ids(docs, vocab=vocab)) == 0
    assert_no_row_python_udf(T.encode_ids(docs, vocab=vocab))


def test_dedup_doc_lines_is_shuffle_free(spark, sf_dir):
    """text.dedup_doc_lines is pure in-row rewrite — zero shuffles."""
    from aggregation_duckdb_spark.io import load_table
    from aggregation_duckdb_spark.operators import text as T
    from aggregation_duckdb_spark.plans.inspect import count_shuffles
    docs = load_table(spark, "documents", sf_dir)
    assert count_shuffles(T.dedup_doc_lines(docs)) == 0


def test_curriculum_order_plan_shape(spark, sf_dir):
    """pipeline_curriculum_order: the min/max bounds fold in as plan
    literals (a 2-value scalar collect, ivf_assign's codebook policy),
    so there is NO nested-loop join anywhere; the offsets join is a
    broadcast HASH join; and the data-sized window partitions by shard
    (hashpartitioning on __shard) — never a single-partition global
    sort, which is the construction's whole point."""
    from aggregation_duckdb_spark.plans import (assert_no_nested_loop_join,
                                                physical_plan)
    df = matrix.queries()["pipeline_curriculum_order"](spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert_no_nested_loop_join(df)
    assert_broadcast_join(df, at_least=1)
    assert_no_row_python_udf(df)
    assert "hashpartitioning(__shard" in plan, plan


def test_unigram_scoring_is_zero_shuffle(spark, sf_dir):
    """Once the vocab/total literals are folded in, the scoring frame
    itself must plan ZERO exchanges — a quality gate this cheap should
    never cost a stage (the one census shuffle runs at build time,
    model-sized output)."""
    from aggregation_duckdb_spark.io import load_table
    from aggregation_duckdb_spark.operators import text as T
    docs = load_table(spark, "documents", sf_dir)
    assert count_shuffles(T.unigram_prob_stats(docs)) == 0


def test_ivf_indexed_prunes_cell_directories(spark, sf_dir):
    """The persisted-index read must plan its probed-cell list as a
    PARTITION filter (directories never listed), and the entry's plan
    must carry no cartesian product — the only nested loop allowed is
    the model-sized query×codebook probe build."""
    from aggregation_duckdb_spark.plans import physical_plan
    df = matrix.queries()["sim_ivf_indexed"](spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "PartitionFilters: [centroid_id" in plan, plan
    assert "CartesianProduct" not in plan
    # the model-sized query×codebook probe build appears twice: once
    # for the join side, once re-planned inside the dynamic-pruning
    # subquery Spark adds ON TOP of the static IN list (visible as
    # dynamicpruningexpression in the scan) — both are |Q|×k sized
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    assert_no_row_python_udf(df)


def test_bm25_indexed_prunes_term_buckets_and_matches_live(spark, sf_dir,
                                                           tmp_path):
    """The inverted-index road must (a) plan the term-bucket list as a
    partition filter and (b) reproduce the full-scan BM25 result
    bit-for-bit — scores, ranks, everything."""
    from aggregation_duckdb_spark.io import load_table
    from aggregation_duckdb_spark.operators import text as T
    from aggregation_duckdb_spark.plans.inspect import physical_plan
    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "tix")
    T.write_text_index(docs, path)
    terms = ["hash", "customer", "vector"]
    idx = T.bm25_search_indexed(spark, path, terms, top_k=20)
    plan = physical_plan(idx, "simple")
    assert "PartitionFilters: [tbucket" in plan, plan
    live = T.bm25_search(docs, terms, top_k=20)
    key = lambda r: (r.doc_id, r.score, r.n_tokens)  # noqa: E731
    assert sorted(map(key, idx.collect())) == \
        sorted(map(key, live.collect()))


def test_topk_paths_rank_is_take_ordered_not_global_window(spark, sf_dir):
    """The top-k cut over path counts must plan as
    TakeOrderedAndProject (per-partition heaps), never a
    single-partition Window over the full path-count frame — with a
    high-cardinality type_col (URLs) that window is the exact
    global-sort scale-killer the module elsewhere refuses. The only
    unpartitioned window allowed is the rank pass over the <= k
    survivors, which sits strictly ABOVE the TakeOrdered cut."""
    from aggregation_duckdb_spark.plans.inspect import physical_plan
    df = matrix.queries()["events_topk_paths"](spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan
    # the rank window must consume the TakeOrdered output, not feed it:
    # in EXPLAIN's top-down text the Window's first appearance comes
    # before (above) the TakeOrderedAndProject node
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan


def test_bm25_stop_term_guard_routes_off_postings(spark, sf_dir, tmp_path):
    """A query containing a stop-class term (df above the build-time
    max_df_frac) must NOT read that term's corpus-sized posting
    directory: with the corpus frame supplied, the returned plan scans
    documents (the shared text fold), zero posting reads — and the
    scores are bit-identical to the live road."""
    from aggregation_duckdb_spark.io import load_table
    from aggregation_duckdb_spark.operators import text as T
    from aggregation_duckdb_spark.plans.inspect import physical_plan
    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "tix_stop")
    T.write_text_index(docs, path)            # 'hash' df ~0.8N -> stop set
    terms = ["hash", "dup"]                   # hot + cold mix
    guarded = T.bm25_search_indexed(spark, path, terms, top_k=20,
                                    docs=docs)
    plan = physical_plan(guarded, "simple")
    assert "postings" not in plan, plan       # cold df probed eagerly,
    # never in the returned scan; the hot posting dir never read at all
    live = T.bm25_search(docs, terms, top_k=20)
    key = lambda r: (r.doc_id, r.score, r.n_tokens)  # noqa: E731
    assert sorted(map(key, guarded.collect())) == \
        sorted(map(key, live.collect()))


def test_bm25_indexed_pads_underfull_matches(spark, sf_dir, tmp_path):
    """When fewer docs match than top_k, the indexed road must fill
    the tail with the live road's exact zero-score rows (ordered by
    doc id), not silently return fewer rows."""
    from aggregation_duckdb_spark.io import load_table
    from aggregation_duckdb_spark.operators import text as T
    docs = load_table(spark, "documents", sf_dir)
    path = str(tmp_path / "tix_pad")
    T.write_text_index(docs, path)
    # 'dup' matches ~5% of docs; ask for more than that
    n_matches = docs.where(
        F.array_contains(T.tokens(F.col("text")), "dup")).count()
    top_k = n_matches + 15
    idx = T.bm25_search_indexed(spark, path, ["dup"], top_k=top_k)
    live = T.bm25_search(docs, ["dup"], top_k=top_k)
    key = lambda r: (r.doc_id, r.score, r.n_tokens)  # noqa: E731
    got, want = sorted(map(key, idx.collect())), \
        sorted(map(key, live.collect()))
    assert len(got) == top_k
    assert got == want


def test_mixture_order_no_single_task_sorts(spark, sf_dir):
    """pipeline_mixture_order refuses BOTH single-task sorts: the
    per-source rank windows partition by (source, hash-prefix shard)
    and the global rank by the vt range shard — both DATA-SIZED
    windows carry a sharded hashpartitioning. The only allowed
    SinglePartition exchanges feed the cumulative-offset windows,
    whose input is the per-shard COUNT frame (<= num_shards rows of
    bookkeeping — the construction's broadcast half, same as
    epoch_shuffle/curriculum_order). Offsets joins are broadcast hash
    joins; no nested loop; no row-Python."""
    from aggregation_duckdb_spark.plans import (assert_no_nested_loop_join,
                                                physical_plan)
    df = matrix.queries()["pipeline_mixture_order"](spark, sf_dir)
    plan = physical_plan(df, "simple")
    assert_no_nested_loop_join(df)
    assert_broadcast_join(df, at_least=2)   # per-source offsets + vt offsets
    assert_no_row_python_udf(df)
    assert "hashpartitioning(lang" in plan, plan    # sharded source rank
    assert "hashpartitioning(__shard" in plan, plan  # sharded global rank
    # every data-sized row_number window is shard-partitioned: no
    # row_number window spec without a partition key
    import re
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)", plan):
        assert "__shard" in m.group(1), m.group(0)


def test_merge_and_clone_plan_shapes(spark, tmp_path):
    """Plan pins for the round-11 verbs: a shallow clone's pruned box
    read keeps live-(zbucket, gen) PartitionFilters while scanning the
    SOURCE's directories (foreign root resolved, no data copied), and
    a clone read after local divergence unions per-root scans without
    any nested-loop join anywhere."""
    from pyspark.sql import functions as F

    from aggregation_duckdb_spark.plans.inspect import physical_plan
    from aggregation_duckdb_spark.sources import layout as L

    base = spark.range(0, 400).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.col("id").alias("payload"), (F.col("id") * 10).alias("val"))
    src = str(tmp_path / "p_src")
    dst = str(tmp_path / "p_dst")
    L.write_zordered(base, src, "a", "b", bits=7, bucket_bits=4)
    L.clone_zordered(spark, src, dst)

    box = L.read_zordered_box(spark, dst, 10, 40, 5, 30)
    plan = physical_plan(box, "formatted")
    assert "PartitionFilters" in plan
    assert "p_src/data" in plan          # foreign root, not a copy
    assert "BroadcastNestedLoopJoin" not in plan

    # diverge, then the read unions local + foreign scans
    L.upsert_zordered(base.where(F.col("payload") < 5)
                      .withColumn("val", F.lit(-1).cast("long")),
                      dst, ["payload"])
    full = L.read_zordered(spark, dst)
    plan2 = physical_plan(full, "formatted")
    assert "p_src/data" in plan2 and "p_dst/data" in plan2
    assert "BroadcastNestedLoopJoin" not in plan2
    assert full.count() == 400


def test_time_layout_and_cdf_write_plan_shapes(spark, tmp_path):
    """Plan pins for the round-12 verbs: a datetime box read prunes
    live-(zbucket, gen) directories via PartitionFilters with the
    original timestamp range in PushedFilters (the time x key layout
    plans exactly like an integer one), and the writer-CDF feed read
    is a plain scan of the stored change-file rows — no snapshot
    endpoint scans, no keyed diff join in the plan."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from aggregation_duckdb_spark.plans.inspect import physical_plan
    from aggregation_duckdb_spark.sources import layout as L
    from aggregation_duckdb_spark.streaming import change_feed as CF

    base = spark.range(0, 500).select(
        F.col("id").alias("payload"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_interval(mins=F.col("id") * 7)).alias("ts"),
        (F.col("id") % 61).alias("b"),
        (F.col("id") * 10).alias("val"))
    path = str(tmp_path / "p_time")
    L.write_zordered(base, path, "ts", "b", bits=7, bucket_bits=4)
    box = L.read_zordered_box_nd(
        spark, path,
        {"ts": ("2024-01-01 06:00:00", "2024-01-01 18:00:00"),
         "b": (5, 40)})
    plan = physical_plan(box, "formatted")
    assert "PartitionFilters" in plan
    assert "PushedFilters" in plan and "ts" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    lo = _dt.datetime(2024, 1, 1, 6)
    hi = _dt.datetime(2024, 1, 1, 18)
    want = base.where((F.col("ts") >= lo) & (F.col("ts") <= hi)
                      & F.col("b").between(5, 40)).count()
    assert box.count() == want > 0

    # writer-CDF: the feed read scans stored change rows, joins nothing
    tpath = str(tmp_path / "p_cdfw")
    sink = str(tmp_path / "p_cdfw_sink")
    L.write_zordered(base.drop("ts"), tpath, "b", "payload",
                     bits=7, bucket_bits=4)
    L.upsert_zordered(base.drop("ts").where(F.col("payload") % 10 == 0)
                      .withColumn("val", F.lit(-1).cast("long")),
                      tpath, ["payload"], emit_changes=True)
    CF.run_change_feed(spark, tpath, sink,
                       str(tmp_path / "p_cdfw_ckpt"),
                       key_cols=["payload"], starting_version=2)
    feed = CF.read_change_feed(spark, sink, from_version=2)
    plan2 = physical_plan(feed, "formatted")
    assert "Join" not in plan2           # no diff machinery at read
    assert "_commit_version" in plan2    # partition column present
    assert feed.count() == 100           # 50 pre + 50 post


def test_column_mapping_plan_shapes(spark, tmp_path):
    """Plan pins for metadata-only ALTER (column mapping): a read
    through the mapping is the SAME pruned snapshot scan plus a
    Project — the dropped column never reaches ReadSchema (column
    pruning composes through the rename aliases), the box read keeps
    its live-(zbucket, gen) PartitionFilters AND its PushedFilters on
    the renamed dimension's physical name, and no join or extra scan
    appears anywhere."""
    from pyspark.sql import functions as F

    from aggregation_duckdb_spark.plans.inspect import physical_plan
    from aggregation_duckdb_spark.sources import layout as L

    base = spark.range(0, 400).select(
        (F.col("id") % 97).alias("a"), ((F.col("id") * 37) % 61).alias("b"),
        F.col("id").alias("payload"), (F.col("id") * 10).alias("val"),
        F.concat(F.lit("x"), F.col("id")).alias("txt"))
    path = str(tmp_path / "p_alter")
    L.write_zordered(base, path, "a", "b", bits=7, bucket_bits=4)
    L.alter_zordered(spark, path, renames={"a": "alpha", "val": "value"},
                     drops=["txt"],
                     adds={"lang": {"type": "string", "default": "en"}})

    # projection through the mapping prunes to the PHYSICAL columns
    # the logical selection needs — the dropped column is never read
    sel = L.read_zordered(spark, path).select("payload", "value")
    plan = physical_plan(sel, "formatted")
    assert "txt" not in plan, plan       # dropped: pruned everywhere
    m = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert m and "val" in m[0] and "payload" in m[0]
    assert "Join" not in plan and "Exchange" not in plan

    # box read on the RENAMED dim: same pruning as the unmapped table
    box = L.read_zordered_box_nd(spark, path, {"alpha": (10, 40)})
    plan2 = physical_plan(box, "formatted")
    assert "PartitionFilters" in plan2
    assert "PushedFilters" in plan2      # range on the physical name
    assert "BroadcastNestedLoopJoin" not in plan2
    want = sum(1 for i in range(400) if 10 <= i % 97 <= 40)
    assert box.count() == want


def test_broadcast_if_small_gates_on_estimated_size(spark, sf_dir,
                                                    tmp_path):
    """The deliberate broadcast hints on linearly-scaling join sides
    (flagship/hier_agg_by_month customer attach, q21's filtered
    orders) go through runtime.broadcast_if_small: under the gate the
    hint applies (bench-scale plans unchanged — the pins above keep
    holding), over the gate the side is returned UNHINTED and the
    join plans as a non-broadcast join, so a 100 TB "dimension" can
    never be forced through the block manager."""
    from aggregation_duckdb_spark.plans.inspect import physical_plan
    from aggregation_duckdb_spark.runtime import broadcast_if_small

    base = spark.range(0, 5000).selectExpr("id as k", "id * 2 as v")
    p = str(tmp_path / "side")
    base.write.mode("overwrite").parquet(p)
    side = spark.read.parquet(p)
    fact = spark.range(0, 50000).selectExpr("id as k", "id % 7 as m")

    # under the gate: the hint applies -> BroadcastHashJoin
    hinted = fact.join(broadcast_if_small(side), "k")
    assert "BroadcastHashJoin" in physical_plan(hinted, "simple")

    # over the gate (force with a 1-byte ceiling): UNHINTED -> the
    # planner must not be forced into a broadcast by our hint. With
    # AQE the tiny local side may still auto-broadcast from its real
    # runtime size — assert on the INITIAL (pre-AQE) static plan,
    # where an unhinted side this size plans as sort-merge/shuffled
    # hash under the session's static threshold only if the estimate
    # exceeds it; the decisive check is that the helper returned the
    # frame without the hint.
    demoted = broadcast_if_small(side, max_bytes=1)
    assert demoted is side                    # no hint object wrapped
    # and an unknown/sentinel estimate is never hinted either
    unknown = broadcast_if_small(
        fact.join(side, "k"), max_bytes=None)  # derived frame: fine
    # (derived frames still size below the default gate locally; the
    # contract asserted here is over-gate demotion + identity return)
    assert unknown is not None

    # the three audited sites still broadcast at test scale
    from aggregation_duckdb_spark import flagship as _fs
    assert "BroadcastHashJoin" in physical_plan(
        _fs.order_facts(spark, sf_dir), "simple")
    assert_broadcast_join(
        matrix.queries()["q21_waiting_suppliers"](spark, sf_dir),
        at_least=3)
    assert_broadcast_join(
        matrix.queries()["hier_agg_by_month"](spark, sf_dir),
        at_least=2)


def _has_broadcast_hint(df) -> bool:
    """Whether the frame carries an (analyzed) broadcast hint — the
    decisive gate check: the optimizer transfers ResolvedHint onto a
    join, so a BARE frame is inspected in its analyzed plan."""
    return "ResolvedHint" in \
        df._jdf.queryExecution().analyzed().toString()


def test_mutation_path_broadcasts_are_gated(spark, tmp_path,
                                            monkeypatch):
    """Round 15 (r14 verdict item 1): every lakehouse-mutation side
    that scales with USER input rides a size gate, never a bare
    F.broadcast. (a) broadcast_if_counted hints under the gate and
    returns the frame UNHINTED over it; (b) tombstone key sets are
    gated on their batches' parquet file bytes — an over-gate set
    (forced via the expansion factor) reaches the read anti-join
    unhinted; (c) a MERGE whose every gate is forced over (auto
    threshold floored) still produces identical results — demotion
    changes the plan, never the semantics."""
    from aggregation_duckdb_spark import runtime as RT
    from aggregation_duckdb_spark.sources import layout as L

    # (a) the count gate
    side = spark.range(0, 100).selectExpr("id as k", "id * 2 as v")
    assert _has_broadcast_hint(
        RT.broadcast_if_counted(side, known_rows=100))
    assert RT.broadcast_if_counted(side, known_rows=1 << 60) is side
    assert _has_broadcast_hint(RT.broadcast_if_counted(side))  # own count

    # (b) tombstone file-byte gate, both sides of it
    tblp = str(tmp_path / "gated")
    df = spark.range(0, 400).selectExpr(
        "id as k", "id % 13 as a", "(id * 7) % 11 as b",
        "id * 1.0 as v")
    L.write_zordered(df, tblp, "a", "b", bits=6, bucket_bits=3)
    L.delete_zordered_keys(spark.range(0, 50).selectExpr("id as k"),
                           tblp, ["k"])
    m = L.read_manifest(spark, tblp)
    assert _has_broadcast_hint(L._tombstone_keys(spark, tblp, m))
    monkeypatch.setattr(L, "PARQUET_BROADCAST_EXPANSION", 1 << 62)
    demoted = L._tombstone_keys(spark, tblp, m)
    assert not _has_broadcast_hint(demoted)
    # the read path consumes the demoted set and stays correct
    assert L.read_zordered(spark, tblp).count() == 350
    monkeypatch.undo()

    # (c) MERGE under forced demotion (gate = 10 bytes): identical
    # results to the same merge under normal gates
    def run_merge(path):
        L.write_zordered(df, path, "a", "b", bits=6, bucket_bits=3)
        src = spark.range(30, 60).selectExpr(
            "id as k", "id % 13 as a", "(id * 7) % 11 as b",
            "id * 10.0 as v")
        L.merge_zordered(
            src, path, ["k"], when_matched_update={"v": "s.v"},
            when_not_matched_insert=True)
        return sorted(
            (r["k"], r["v"])
            for r in L.read_zordered(spark, path).collect())

    normal = run_merge(str(tmp_path / "m_norm"))
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
    try:
        demoted_rows = run_merge(str(tmp_path / "m_demoted"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert demoted_rows == normal and len(normal) == 400


def test_bpe_encode_zero_shuffle_arrow_pass(spark, sf_dir):
    """bpe_encode is one Arrow-batched map pass over the corpus scan:
    the merge table is collected (model-sized) and closed over — the
    plan must contain an ArrowEvalPython operator, ZERO exchanges,
    and no join (at 100 TB the encode IS the tokenize step of the
    pipeline; a per-token join or explode would shuffle the corpus)."""
    from aggregation_duckdb_spark.operators import text as T
    from aggregation_duckdb_spark.plans.inspect import physical_plan

    docs = load_table(spark, "documents", sf_dir)
    merges = spark.createDataFrame(
        [(0, "t", "a"), (1, "ta", "b")],
        "rank long, left string, right string")
    df = T.bpe_encode(docs, merges)
    plan = physical_plan(df, "simple")
    assert "ArrowEvalPython" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_prepared_entries_are_pure_plans(spark, sf_dir):
    """PREPARED_ENTRIES reuse one DataFrame per (application, sf_dir);
    the legality of that reuse rests on the frame being a PURE PLAN —
    every action recomputes from the parquet inputs. A checkpointed,
    cached, or written-artifact-reading frame would turn plan reuse
    into cross-run result caching; pin its absence in the plan."""
    from aggregation_duckdb_spark.plans import physical_plan
    # Other tests .cache() shared tables; Spark substitutes
    # InMemoryTableScan into ANY plan analyzed while the cache lives —
    # prepared and fresh frames alike (withCachedData is pinned per
    # Dataset), so it says nothing about the reuse and results stay
    # correct either way (InMemoryRelation recomputes from its child
    # on a cache miss). Build this test's frames CACHE-FREE: clear the
    # session cache and use an sf_dir no other test memoized, so the
    # per-(app, sf_dir) memo constructs fresh frames right here.
    spark.catalog.clearCache()
    sf_dir = "/root/testdata/sf0.01"
    # The flagship trio reads the geo hierarchy dim — a driver-built
    # 31-row local relation that createDataFrame plans as
    # "Scan ExistingRDD". That dim-build memo predates (and is the
    # precedent for) prepared entries, so ExistingRDD is expected
    # there; everywhere else it would mean a checkpoint leaked in.
    hier_dim_readers = {"hier_agg_closure", "hier_agg_rollup",
                        "hier_distinct_twostage"}
    qs = matrix.queries()
    for name in sorted(matrix.PREPARED_ENTRIES):
        df1, df2 = qs[name](spark, sf_dir), qs[name](spark, sf_dir)
        assert df1 is df2, f"{name}: prepared entry not memoized"
        plan = physical_plan(df1, "formatted")
        markers = ["InMemoryTableScan", "InMemoryRelation"]
        if name not in hier_dim_readers:
            markers.append("ExistingRDD")    # localCheckpoint output
        for marker in markers:
            assert marker not in plan, f"{name}: {marker} in reused plan"
        # a materialize() under the parquet checkpoint strategy reads
        # back a written runtime artifact as a PLAIN parquet scan no
        # memory marker detects — reject scans of the runtime
        # artifact path prefixes too (round-15 advisor item): a
        # prepared entry must scan ONLY the immutable sf_dir fixtures
        for leak in ("mat-", "spark-graft-"):
            assert leak not in plan, \
                f"{name}: runtime artifact scan ({leak}*) in reused plan"
