"""Scale-audit regression tests: pin the physical-plan properties that
make these queries viable at 100 TB — filter pushdown into the Parquet
scan, column pruning, broadcast dim joins. A change that silently
regresses one of these passes correctness but fails here."""

from __future__ import annotations

from rdbms_scala_spark.plans import scan_pushdown, uses_broadcast_join
from rdbms_scala_spark.registry import all_queries

SPECS = all_queries()


def _scans(name, spark, sf_dir):
    return [s for s in scan_pushdown(SPECS[name].fn(spark, sf_dir)) if s["location"]]


def test_q6_filters_reach_scan(spark, sf_dir):
    scans = _scans("tpch_q6", spark, sf_dir)
    li = next(s for s in scans if "lineitem" in s["location"])
    assert "l_shipdate" in li["pushed_filters"]
    assert "l_discount" in li["pushed_filters"]
    assert "l_quantity" in li["pushed_filters"]


def test_q6_prunes_columns(spark, sf_dir):
    li = next(s for s in _scans("tpch_q6", spark, sf_dir) if "lineitem" in s["location"])
    # only the 4 referenced columns of lineitem's 11 are read
    assert li["read_schema"].count(":") == 4
    assert "l_returnflag" not in li["read_schema"]


def test_q3_pushes_per_table_filters(spark, sf_dir):
    scans = {s["location"].rsplit("/", 1)[-1]: s for s in _scans("tpch_q3", spark, sf_dir)}
    assert "EqualTo(c_mktsegment,BUILDING)" in scans["customer.parquet"]["pushed_filters"]
    assert "o_orderdate" in scans["orders.parquet"]["pushed_filters"]
    assert "l_shipdate" in scans["lineitem.parquet"]["pushed_filters"]


def test_q3_broadcasts_filtered_dims(spark, sf_dir):
    assert uses_broadcast_join(SPECS["tpch_q3"].fn(spark, sf_dir))


def test_broadcast_dim_join_is_broadcast(spark, sf_dir):
    assert uses_broadcast_join(SPECS["join_broadcast_dim"].fn(spark, sf_dir))


def test_scan_project_prunes(spark, sf_dir):
    part = next(s for s in _scans("scan_project", spark, sf_dir) if "part" in s["location"])
    assert part["read_schema"].count(":") == 4  # 4 of part's 6 columns


def test_q5_broadcasts_dims(spark, sf_dir):
    assert uses_broadcast_join(SPECS["tpch_q5"].fn(spark, sf_dir))


def test_q8_broadcasts_dims_and_prunes(spark, sf_dir):
    df = SPECS["tpch_q8"].fn(spark, sf_dir)
    assert uses_broadcast_join(df)
    li = next(s for s in scan_pushdown(df) if s["location"] and "lineitem" in s["location"])
    # q8 touches 5 of lineitem's 11 columns; the scan must not read more
    assert li["read_schema"].count(":") == 5


def test_two_phase_skew_join_replicates_only_hot_keys(spark):
    """The salted phase must replicate S x |right rows with hot keys|,
    not S x |right|: plant one heavy-hitter key among 100 cold keys
    and check (a) the hot-key detector finds exactly it, (b) the
    replicated volume is salt_factor x 1, (c) the two-phase result
    equals the plain join."""
    from pyspark.sql import functions as F

    from rdbms_scala_spark.operators.joins import (
        _SALT_FACTOR,
        hot_keys,
        two_phase_skew_join,
    )

    left = spark.range(0, 2000).select(
        F.when(F.col("id") < 1000, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(0, 100).select(F.col("id").alias("rk"), (F.col("id") * 10).alias("rv"))

    hot = hot_keys(left, "k", threshold=500)
    assert [r.k for r in hot.collect()] == [7]

    replicated = (
        right.join(hot.withColumnRenamed("k", "rk"), "rk", "left_semi").count()
        * _SALT_FACTOR
    )
    assert replicated == _SALT_FACTOR  # 8 x 1 hot key, vs 800 for full-table salting

    got = (
        two_phase_skew_join(left, right, "k", "rk", hot_threshold=500)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rv").alias("s"))
    )
    want = (
        left.join(right, left.k == right.rk)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rv").alias("s"))
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_two_phase_skew_join_right_and_both_sided(spark):
    """Keys hot only on the right, and hot on both sides, must also
    come out exact: key 3 is right-heavy, key 5 is heavy on both, the
    rest are cold — the three salted paths plus cold union to the
    plain join."""
    from pyspark.sql import functions as F

    from rdbms_scala_spark.operators.joins import two_phase_skew_join

    left = spark.range(0, 1200).select(
        F.when(F.col("id") < 600, F.lit(5)).otherwise(F.col("id") % 10).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(0, 1500).select(
        F.when(F.col("id") < 500, F.lit(3))
        .when(F.col("id") < 1000, F.lit(5))
        .otherwise(F.col("id") % 10)
        .alias("rk"),
        (F.col("id") * 7).alias("rv"),
    )
    got = (
        two_phase_skew_join(left, right, "k", "rk", hot_threshold=300)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rv").alias("s"), F.sum("lv").alias("t"))
    )
    want = (
        left.join(right, left.k == right.rk)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rv").alias("s"), F.sum("lv").alias("t"))
    )
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}


def test_bruteforce_topk_window_reads_local_topk_not_corpus(spark, sf_dir):
    """The exact top-k must execute two-level: a PARTIAL
    WindowGroupLimit below the query_id exchange prunes each scan
    partition to its local top-k per query, so the per-query reducer
    sorts k x P rows, never the corpus — the single-reducer-per-query
    shape flagged in round 2. The physical tree prints top-down:
    Final group-limit above the exchange, Partial below it."""
    df = SPECS["similarity_topk_bruteforce"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    fi = plan.find("WindowGroupLimit")
    assert fi != -1 and "Final" in plan[fi : plan.find("\n", fi)], plan
    ex = plan.find("Exchange hashpartitioning(query_id")
    pi = plan.find("WindowGroupLimit", fi + 1)
    assert pi != -1 and "Partial" in plan[pi : plan.find("\n", pi)], plan
    assert fi < ex < pi, "Partial group-limit must prune BELOW the query_id shuffle"


def test_q22_prunes_orders_scan(spark, sf_dir):
    scans = _scans("tpch_q22", spark, sf_dir)
    o = next(s for s in scans if "orders" in s["location"])
    # the 1999+ anti-join build side pushes its date filter into the scan
    assert "o_orderdate" in o["pushed_filters"]


def test_q9_all_dim_joins_broadcast(spark, sf_dir):
    """tpch_q9's 6-way join must be broadcast-shaped at this scale: no
    SortMergeJoin anywhere (part/partsupp/supplier/nation broadcast;
    orders rides AQE's broadcast conversion), so lineitem is never
    shuffled for a dimension."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["tpch_q9"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunking_is_map_only(spark, sf_dir):
    """text_chunk_documents claims zero shuffles beyond the gate's
    deterministic orderBy: exactly one rangepartitioning Exchange (the
    sort) and NO hashpartitioning Exchange (a hash exchange would mean
    the chunk fan-out started shuffling corpus bytes)."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["text_chunk_documents"].fn(spark, sf_dir))
    assert "hashpartitioning" not in plan, "chunking must not hash-shuffle"
    assert plan.count("rangepartitioning") == 1, "expected exactly the sort exchange"


def test_pack_sequences_windows_per_shard(spark, sf_dir):
    """text_pack_sequences' prefix sum must partition by shard — a
    window over an empty/global partitioning would single-reduce the
    corpus. The exchange feeding the window hashes on shard."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["text_pack_sequences"].fn(spark, sf_dir))
    assert "hashpartitioning(shard" in plan


def test_partition_pruned_scan_has_partition_filters(spark, sf_dir):
    """scan_partition_pruned's date predicate must land in the scan's
    PartitionFilters (directory-level pruning: 7 of ~30 day dirs
    listed), not just PushedFilters — and the partition column must
    not appear in the data ReadSchema (it lives in the directory
    names)."""
    scans = _scans("scan_partition_pruned", spark, sf_dir)
    part = next(s for s in scans if "events_partitioned_" in s["location"])
    assert "event_date" in part["partition_filters"], part
    assert "event_date" not in part["read_schema"], part


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    """scan_dynamic_partition_pruning's fact scan must carry a
    dynamicpruningexpression in its PartitionFilters — the runtime
    dim-driven directory skip, not a statically-propagated constraint
    (the campaign predicate is opaque to static analysis, so if DPP
    did not fire the fact side would list every day directory)."""
    scans = _scans("scan_dynamic_partition_pruning", spark, sf_dir)
    fact = next(s for s in scans if "events_partitioned_" in s["location"])
    assert "dynamicpruning" in fact["partition_filters"].lower(), fact


def test_point_lookup_pushes_key_to_both_scans(spark, sf_dir):
    """scan_point_lookup's key must reach BOTH Parquet scans as an
    EqualTo pushed filter (both sides filter on the key explicitly —
    this test certifies the pushdown, not constant propagation) — the
    row-group-skip analog of the reference's hash-index probe."""
    scans = {s["location"].rsplit("/", 1)[-1]: s for s in _scans("scan_point_lookup", spark, sf_dir)}
    assert "EqualTo(o_orderkey,42)" in scans["orders.parquet"]["pushed_filters"]
    assert "EqualTo(l_orderkey,42)" in scans["lineitem.parquet"]["pushed_filters"]


def test_bloom_filter_runtime_pruning_plan(spark, sf_dir):
    """join_bloom_pruned's physical plan must evaluate the runtime
    Bloom filter inside the lineitem scan side (InjectRuntimeFilter):
    `bloom_filter_agg` on the build side, `might_contain` on the
    probe side, and the join a shuffle (not broadcast) join — the
    at-scale shape the operator exists for."""
    from rdbms_scala_spark.operators.joins import join_bloom_pruned

    from pyspark.sql import functions as F

    df = join_bloom_pruned(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    # the build side aggregates a bloom_filter_agg; the probe side
    # evaluates might_contain against its scalar-subquery result
    assert "bloom_filter_agg" in plan and "might_contain" in plan, plan[:2000]
    # correctness of the pruned result against the unpruned join
    from rdbms_scala_spark.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    expected = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).count()
    got = df.agg(F.sum("n_lines")).first()[0]
    assert got == expected


def test_upsert_scans_orders_once(spark, sf_dir):
    """pipeline_upsert_snapshot materializes its derived update batch
    (localCheckpoint) before the merge, so the final plan scans the
    orders parquet exactly ONCE — without it, the batch's lineage is
    re-evaluated at every reference and the base is scanned 5x."""
    scans = _scans("pipeline_upsert_snapshot", spark, sf_dir)
    orders_scans = [s for s in scans if "orders" in s["location"]]
    assert len(orders_scans) == 1, [s["location"] for s in scans]


def test_two_phase_skew_join_auto_threshold(spark, sf_dir):
    """hot_threshold=None derives the threshold from the per-reducer
    row budget; on this corpus (max 7 lines/order) the hot sets come
    out empty, every row takes the cold path, and the result still
    equals the plain join."""
    from pyspark.sql import functions as F

    from rdbms_scala_spark.catalog import load_table
    from rdbms_scala_spark.operators.joins import hot_keys, two_phase_skew_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    derived = max(100_000, max(li.count(), orders.count()) // parts)
    assert derived >= 100_000
    assert hot_keys(li, "l_orderkey", derived).count() == 0
    joined = two_phase_skew_join(
        li, orders, "l_orderkey", "o_orderkey", hot_threshold=None
    )
    got = joined.count()
    want = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).count()
    assert got == want
    # round-12 fast path: with empty hot sets the function returns the
    # PLAIN join — no 4-branch salted union may appear in the plan
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(joined)
    assert "Union" not in plan, plan


def test_two_phase_skew_join_auto_nonempty_hot(spark):
    """The auto-threshold path with a key that genuinely overflows the
    100k-row floor (round 13: hot keys are collected ONCE and rebuilt
    as local relations for the branch plans — this pins that path,
    which the corpus-based auto test above can never reach because no
    real order has 100k lines): result must equal the plain join and
    the plan must contain the 4-branch salted Union."""
    from pyspark.sql import functions as F

    from rdbms_scala_spark.operators.joins import two_phase_skew_join
    from rdbms_scala_spark.plans import physical_plan

    left = spark.range(160_000).select(
        F.when(F.col("id") < 150_000, F.lit(1))
        .otherwise(F.col("id") % 100)
        .cast("long")
        .alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(100).select(
        F.col("id").alias("rk"), (F.col("id") * 10).alias("rv")
    )
    joined = two_phase_skew_join(left, right, "k", "rk", hot_threshold=None)
    want = left.join(right, left["k"] == right["rk"])
    assert joined.count() == want.count()
    assert (
        joined.agg(F.sum("lv")).collect()[0][0]
        == want.agg(F.sum("lv")).collect()[0][0]
    )
    plan = physical_plan(joined)
    assert "Union" in plan, plan


def test_bucketed_colocated_join_plan_shape(spark, sf_dir):
    """join_bucketed_colocated: both scans must be bucketed and feed the
    sort-merge join with NO exchange on either input — the only
    exchanges in the whole plan are the post-join 5-group
    re-aggregation and the final ordering. The bare join (no agg) must
    contain no Exchange at all."""
    from rdbms_scala_spark.plans import physical_plan
    from rdbms_scala_spark.sources.files import (
        _bucketed_orders_lineitem,
        join_bucketed_colocated,
    )

    bo, bl = _bucketed_orders_lineitem(spark, sf_dir)
    bare = physical_plan(bo.hint("merge").join(bl, bo.o_orderkey == bl.l_orderkey))
    assert "SortMergeJoin" in bare
    assert "Exchange" not in bare, f"bucketed join inputs must not shuffle:\n{bare}"

    full = physical_plan(join_bucketed_colocated(spark, sf_dir))
    assert full.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in full


def test_metadata_count_pushes_aggregation_to_footer(spark, sf_dir):
    """scan_metadata_count: the whole aggregate must reach the parquet
    scan as PushedAggregation — a metadata-only query that decodes no
    data pages."""
    from rdbms_scala_spark.plans import physical_plan
    from rdbms_scala_spark.sources.files import scan_metadata_count

    plan = physical_plan(scan_metadata_count(spark, sf_dir))
    assert "PushedAggregation: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)]" in plan


def test_bm25_filters_terms_before_postings_exchange(spark, sf_dir):
    """BM25's posting build must filter exploded tokens to the query
    terms BEFORE the (doc, term) aggregation exchange — the shuffle
    carries only matching positions, not the full token stream. The
    corpus is scanned exactly twice (1-row stats aggregate + posting
    build — dlen rides through the explode, dft is a window over the
    tiny postings, so there is NO corpus-sized join); the 1-row
    stats broadcast via BroadcastNestedLoopJoin and the top-k
    collapses via TakeOrderedAndProject, not a global sort."""
    df = SPECS["text_bm25_search"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    fi = plan.find("Filter tok")
    assert fi != -1 and " IN (" in plan[fi : plan.find("\n", fi)], plan
    # top-down print: the postings exchange appears above (before)
    # the IN filter
    post_ex = plan.find("Exchange hashpartitioning(doc_id")
    assert post_ex != -1 and post_ex < fi, plan
    assert plan.count("FileScan parquet") == 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_gram_matrix_shuffles_only_partials(spark, sf_dir):
    """The Gram matrix's corpus-sized work must stay inside
    MapInPandas (one d x d integer GEMM partial per batch); the only
    hash exchange aggregates those partials — there must be NO
    exchange between the scan and the MapInPandas node, and no
    posexplode-style Generate anywhere."""
    df = SPECS["embeddings_gram_matrix"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    mp = plan.find("MapInPandas")
    assert mp != -1, plan
    # top-down print: any hashpartitioning exchange appears above
    # (before) MapInPandas; none between MapInPandas and the scan
    assert "Generate" not in plan, plan
    assert plan.find("Exchange hashpartitioning", mp) == -1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_lateral_join_decorrelates_to_partial_group_limit(spark, sf_dir):
    """The correlated LIMIT-2 lateral must decorrelate into a window
    rank plan (no per-outer-row re-execution): WindowGroupLimit
    Partial below the correlation-key exchange, Final above — same
    two-level shape as the brute-force top-k."""
    df = SPECS["join_lateral"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    fi = plan.find("WindowGroupLimit")
    assert fi != -1 and "Final" in plan[fi : plan.find("\n", fi)], plan
    ex = plan.find("Exchange hashpartitioning(c_nationkey")
    pi = plan.rfind("WindowGroupLimit")
    assert pi > ex > fi and "Partial" in plan[pi : plan.find("\n", pi)], plan


def test_unigram_model_join_is_broadcast(spark, sf_dir):
    """The token→unigram-model join must broadcast the vocabulary-
    sized model side so the corpus-sized token stream is never
    shuffled for the join (its only exchange is the per-doc mean)."""
    df = SPECS["text_unigram_logprob"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    bj = plan.find("BroadcastHashJoin [token")
    assert bj != -1, plan


def test_histogram_is_two_aggregation_passes(spark, sf_dir):
    """The equi-width histogram must be two map-side-combinable
    aggregations with the 1-row bounds broadcast — no sort or window
    over the data, no data-sized exchange beyond the k-row bucket
    aggregate."""
    df = SPECS["maintenance_column_histogram"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("partial_") >= 2, plan


def test_rfm_has_no_global_window(spark, sf_dir):
    """Round-7 rewrite pin: RFM quintile scoring must contain NO
    window operator at all — scores come from percentile cut points
    broadcast-cross-joined back (the previous ntile formulation put
    the whole user table through a single-partition WindowExec three
    times)."""
    df = SPECS["events_rfm_segments"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "percentile" in plan, plan


def test_ltv_deciles_have_no_global_window(spark, sf_dir):
    """Same discipline for the LTV decile bucketing: cut points via
    one percentile aggregate + broadcast, zero window operators."""
    df = SPECS["customer_ltv_deciles"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_star_schema_join_broadcasts_every_dim(spark, sf_dir):
    """The star join must broadcast all three dimensions (no
    SortMergeJoin, no fact-table shuffle before the aggregate): the
    fact scan feeds three back-to-back BroadcastHashJoins."""
    df = SPECS["join_star_schema"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_multi_distinct_uses_single_expand(spark, sf_dir):
    """Three COUNT(DISTINCT) columns must compile to ONE Expand-based
    aggregation, not one aggregation pass per distinct clause."""
    df = SPECS["agg_multi_distinct"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") >= 1, plan


def test_knn_vote_group_limit_before_exchange(spark, sf_dir):
    """embeddings_knn_vote inherits the certified top-k shape: the
    neighbor ranking must execute as a WindowGroupLimit with a
    Partial phase BEFORE the query_id exchange (per-partition top-k,
    so the per-query reducer sees k x partitions rows, not the
    corpus), and the query block must broadcast."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["embeddings_knn_vote"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan[:2000]
    assert "BroadcastExchange" in plan


def test_session_paths_single_user_sort(spark, sf_dir):
    """events_session_paths' sessionize windows and the path collect
    must all ride ONE user_id exchange (the lag, running-sum and
    groupBy share the hash partitioning), and the final top-20 must
    execute as TakeOrderedAndProject, never a full sort."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["events_session_paths"].fn(spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1, plan[:2000]
    assert "TakeOrderedAndProject" in plan


def test_source_signature_group_limit(spark, sf_dir):
    """text_source_signature_terms' per-source top-k must execute as
    a two-level WindowGroupLimit (partial below the source exchange)
    — vocabulary-sized input, k x partitions per reducer."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["text_source_signature_terms"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan[:2000]


def test_reservoir_exact_k_is_take_ordered(spark, sf_dir):
    """sample_reservoir_exact_k must compile to TakeOrderedAndProject
    (per-partition partial top-k, k rows per partition to the driver)
    — a global Sort would be the single-reducer shape the hash-rank
    reservoir exists to avoid."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["sample_reservoir_exact_k"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Sort " not in plan, plan[:2000]


def test_jl_projection_is_map_only(spark, sf_dir):
    """embeddings_jl_projection is a pure per-row pass: no Exchange
    (shuffle), no Python evaluation — the +-1 sums stay in JVM
    codegen."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["embeddings_jl_projection"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]


def test_span_dedup_shuffles_only_aggregated_spans(spark, sf_dir):
    """dedup_span_exact: span assembly (Generate over array slices)
    must sit BELOW a partial aggregate, so only combined (span,
    doc_id, count) rows ever shuffle — token rows are never moved
    just to be reassembled. The two exchanges are Spark's standard
    COUNT(DISTINCT) expansion: (span, doc_id) dedup phase, then the
    span phase."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["dedup_span_exact"].fn(spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning(span") == 2, plan[:2000]
    assert "partial_count" in plan, plan[:2000]


def test_bitmap_retention_aggregates_users_not_events(spark, sf_dir):
    """events_bitmap_retention: the lag fan-out must sit ABOVE the
    user-keyed bit_or aggregate (explode over user rows, not event
    rows), and the anchor must arrive by broadcast."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["events_bitmap_retention"].fn(spark, sf_dir))
    assert "BroadcastExchange" in plan, plan[:2000]
    # one exchange for the user aggregate, one for the 7-row lag agg
    assert plan.count("Arguments: hashpartitioning") <= 2, plan[:2000]


def test_burstiness_single_user_exchange(spark, sf_dir):
    """events_user_burstiness: the user-partitioned lag window and the
    per-user moment aggregate must share ONE user_id exchange — the
    events_session_paths discipline; a second shuffle would mean the
    aggregate failed to reuse the window's partitioning."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["events_user_burstiness"].fn(spark, sf_dir))
    assert plan.count("Arguments: hashpartitioning") == 1, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]


def test_cosine_histogram_no_cartesian(spark, sf_dir):
    """embeddings_cosine_histogram: the offset fan-out must arrive by
    broadcast and the pair derivation must stay an equi-join on
    vec_id + k — never a CartesianProduct, and never Python eval (the
    dot stays in JVM codegen)."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["embeddings_cosine_histogram"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastExchange" in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]


def test_winnowing_window_is_doc_partitioned(spark, sf_dir):
    """The winnowing fingerprint DERIVATION (the lazy
    winnow_fingerprints plan the session cache materializes) must
    partition its window-min by doc_id — never an empty-partition
    global window; the full query must aggregate the pair join with a
    partial count below the shuffle and stay cartesian-free."""
    from rdbms_scala_spark.catalog import load_table
    from rdbms_scala_spark.pipeline.dedup import winnow_fingerprints
    from rdbms_scala_spark.plans import physical_plan

    deriv = physical_plan(winnow_fingerprints(load_table(spark, sf_dir, "documents")))
    assert "windowspecdefinition(doc_id" in deriv, deriv[:2000]
    plan = physical_plan(SPECS["dedup_winnowing_pairs"].fn(spark, sf_dir))
    assert "partial_count" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_semdedup_cluster_bounded_pair_join(spark, sf_dir):
    """SemDeDup must never materialize pair rows (r16): centroid
    assignment broadcasts the seed set (never a CartesianProduct
    against the corpus), and the keeper decision is the per-cluster
    Arrow GEMM (FlatMapGroupsInPandas) fed by ONE exchange on cent_id
    — no pair join of any kind, no row-at-a-time Python."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["dedup_semdedup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastExchange" in plan, plan[:2000]
    assert "FlatMapGroupsInPandas" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "ShuffledHashJoin" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]


def test_gopher_rules_single_pass(spark, sf_dir):
    """The Gopher-rules report is one map-only flag pass + one global
    aggregate: no join, no window, no Python eval — the cheapest
    corpus-readout plan shape."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["text_gopher_rules"].fn(spark, sf_dir))
    assert "Join" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]


def test_winnowing_incremental_probe_shape(spark, sf_dir):
    """The incremental probe must stay an equi-join pipeline (store
    probe on h, split via broadcast 1-row cross join) with partial
    aggregation below the shuffles — cartesian-free."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["dedup_winnowing_incremental"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "partial_count" in plan, plan[:2000]


def test_dsir_importance_broadcast_topk(spark, sf_dir):
    """DSIR importance scoring must stay shuffle-lean: the 256-row
    bucket model joins the per-doc counts as a BROADCAST (never a
    shuffled join against the token relation), the per-doc weight
    aggregate runs partial below the exchange, and the top-k is
    TakeOrderedAndProject — no global sort, no Python, no cartesian
    against the corpus."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["sample_dsir_importance"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastExchange" in plan, plan[:2000]
    assert "TakeOrdered" in plan, plan[:2000]
    assert "partial_count" in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]


def test_kcenter_coreset_broadcast_result(spark, sf_dir):
    """The k-center traversal's published relation joins the 8-row
    selection to the corpus as a broadcast equi-join; the per-round
    scans (exercised by running the fn) bake centers into codegen
    literals, so the final plan must show no cartesian and no Python
    eval."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["embeddings_kcenter_coreset"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastExchange" in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]


def test_audio_energy_arrow_map_only(spark, sf_dir):
    """The audio analysis pass is Arrow-batched mapInPandas (never
    row-at-a-time BatchEvalPython) with no join anywhere — decode and
    frame math happen where the bytes live; only the presentation
    sort shuffles the 8-rows-per-asset result."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["multimodal_audio_energy"].fn(spark, sf_dir))
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_coverage_greedy_gain_pass_shape(spark, sf_dir):
    """The max-coverage greedy's per-round marginal-gain pass must be
    a BROADCAST left-anti join (the covered set is <= k docs' shingles)
    over the shingle relation feeding a partial-count aggregate, with
    the top-1 a TakeOrderedAndProject — no shuffled anti-join, no
    cartesian, no Python."""
    from rdbms_scala_spark.pipeline.dedup import shingles_df
    from rdbms_scala_spark.pipeline.sampling import coverage_gain_pass
    from rdbms_scala_spark.plans import physical_plan

    from rdbms_scala_spark.catalog import load_table

    sh = shingles_df(load_table(spark, sf_dir, "documents"), n=3)
    plan = physical_plan(coverage_gain_pass(sh, [0, 1]).limit(1))
    assert "BroadcastExchange" in plan, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]
    assert "partial_count" in plan, plan[:2000]
    assert "TakeOrdered" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_kmeans_parallel_init_weighting_shape(spark, sf_dir):
    """The k-means|| final weighting rides the loop's cached argmin
    relation (r16): the weights are collected as bounded model state
    during the build, so the RETURNED plan is a local relation — no
    corpus re-scan, no cartesian pairing, no Python, no join at all."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(
        SPECS["similarity_kmeans_parallel_init"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]
    assert "Scan parquet" not in plan, plan[:2000]
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan, plan[:2000]


def test_kmeans_parallel_init_weights_match_bruteforce(spark, sf_dir):
    """The fold-maintained argmin weights must equal an independent
    brute-force recomputation: assign every corpus row to its
    (d2, cent_id)-lexicographic-min center over the FULL final center
    set (the r15 broadcast + min_by shape this rewrite replaced) and
    compare counts per center."""
    from pyspark.sql import functions as F

    from rdbms_scala_spark.pipeline.similarity import _KC_Q

    out = SPECS["similarity_kmeans_parallel_init"].fn(spark, sf_dir)
    rows = out.collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qcorpus = emb.selectExpr(
        "vec_id",
        f"transform(embedding, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {_KC_Q}, 0) AS BIGINT)) AS qv",
    )
    cent = spark.createDataFrame(
        [(r.cent_id,) for r in rows], "cent_id long"
    ).join(
        qcorpus.select(F.col("vec_id").alias("cent_id"), F.col("qv").alias("qc")),
        "cent_id",
    )
    d2 = F.expr(
        "aggregate(zip_with(qv, qc, (a, b) -> (a - b) * (a - b)), "
        "0L, (acc, x) -> acc + x)"
    )
    brute = (
        qcorpus.crossJoin(F.broadcast(cent))
        .select("vec_id", "cent_id", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min_by("cent_id", F.struct("d2", "cent_id")).alias("cent_id"))
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bmap = {r.cent_id: r.n for r in brute.collect()}
    for r in rows:
        assert r.weight == bmap.get(r.cent_id, 0), (
            f"center {r.cent_id}: fold weight {r.weight} != "
            f"brute-force {bmap.get(r.cent_id, 0)}"
        )


def test_minhash_bbit_reuses_candidates_no_python(spark, sf_dir):
    """The b-bit readout must stay on the shared candidate relation:
    per-pair zip_with counts in codegen over the session-cached
    (signatures, candidates) pair set — no cartesian, no Python, and
    no new aggregation below the presentation sort."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["dedup_minhash_bbit"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]


def test_minhash_lsh_and_sweep_read_only_candidates(spark, sf_dir):
    """The candidate relation carries each pair's signature-match
    count, so the accepted pairs and the threshold histogram are a
    filter / aggregate over that one checkpoint: no signature join,
    no source scan."""
    from rdbms_scala_spark.plans import physical_plan

    for name in ("dedup_minhash_lsh", "dedup_threshold_sweep"):
        plan = physical_plan(SPECS[name].fn(spark, sf_dir), "simple")
        assert "Join" not in plan, (name, plan[:2000])
        assert "Scan parquet" not in plan, (name, plan[:2000])
        assert plan.count("Scan ExistingRDD") == 1, (name, plan[:2000])


def test_simhash_histogram_rides_production_pairs(spark, sf_dir):
    """The Hamming histogram must consume the production simhash pair
    relation (same banding ladder, same caps) and add only an 11-key
    aggregate + an 11-row cumulative window: no cartesian, no Python;
    the lone global window is the bounded histogram relation
    (allowlisted in scripts/plan_audit.py with the bound named)."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(
        SPECS["dedup_simhash_hamming_histogram"].fn(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "EvalPython" not in plan, plan[:2000]
    assert "partial_count" in plan, plan[:2000]


def test_naive_bayes_scoring_broadcasts_model(spark, sf_dir):
    """NB scoring must join the tf relation against the BROADCAST
    (src, word) model — never a shuffle join — and keep the whole
    pass free of row-at-a-time Python and cartesian products (the
    class fan-out is a broadcast nested loop over the |classes|-row
    zero table, which is the intended shape)."""
    from rdbms_scala_spark.pipeline.text import _nb_score_predictions
    from rdbms_scala_spark.plans import physical_plan

    # audit the LAZY scoring pipeline: the registered query consumes
    # it through the session checkpoint (nb_doc_predictions), whose
    # plan is an ExistingRDD scan that hides the scoring shape
    plan = physical_plan(_nb_score_predictions(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]
    # and the registered confusion matrix must ride the checkpointed
    # relation (the session-cache discipline, as link prediction does)
    SPECS["text_naive_bayes_source"].fn(spark, sf_dir).count()
    plan2 = physical_plan(SPECS["text_naive_bayes_source"].fn(spark, sf_dir))
    assert "ExistingRDD" in plan2 or "Scan ExistingRDD" in plan2, plan2[:2000]


def test_image_resize_is_map_only_arrow(spark, sf_dir):
    """The resize pass must be one Arrow mapInPandas over the image
    subset: no join, no shuffle exchange before the map (only the
    final presentation sort's exchange is allowed), no row-python."""
    from rdbms_scala_spark.plans import physical_plan

    plan = physical_plan(SPECS["multimodal_image_resize"].fn(spark, sf_dir))
    assert "MapInPandas" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]


def test_link_prediction_family_shares_cached_pairs(spark, sf_dir):
    """Both link-prediction scores must consume the session-cached
    co-purchase pair relation: after one call builds it, the next
    query's plan scans an ExistingRDD (the checkpoint) instead of
    re-deriving from lineitem."""
    from rdbms_scala_spark.plans import physical_plan
    from rdbms_scala_spark.queries.behavior import copurchase_graph

    copurchase_graph(spark, sf_dir)  # build/ensure the cache
    plan = physical_plan(SPECS["graph_adamic_adar"].fn(spark, sf_dir))
    assert "ExistingRDD" in plan, plan[:2000]
    assert "lineitem" not in plan, plan[:2000]
