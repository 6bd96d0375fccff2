"""Scale-shape checks: plan assertions (pushdown, broadcast,
TakeOrdered, single-shuffle dedup), salted aggregation equivalence, and
bucketed co-located joins."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from usajobs_etl_service_spark.operators.stats import group_counts, salted_group_counts
from usajobs_etl_service_spark.session import read_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_salted_counts_match_plain(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    plain = {r["event_type"]: r["job_count"] for r in group_counts(events, "event_type").collect()}
    salted = {r["event_type"]: r["job_count"] for r in salted_group_counts(events, "event_type").collect()}
    assert salted == plain


def test_topk_plans_take_ordered(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    p = _plan(events.orderBy(F.col("value").desc()).limit(5))
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p  # no full-shuffle sort for a top-k


def test_parquet_pushdown(spark, sf_dir):
    part = read_table(spark, sf_dir, "part")
    p = _plan(part.filter(F.col("p_name").startswith("small")).select("p_partkey"))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert m and "StringStartsWith(p_name,small)" in m.group(1)
    m = re.search(r"ReadSchema: ([^\n,]*)", p)
    assert "p_retailprice" not in p.split("ReadSchema")[1][:200]  # pruned


def test_merge_broadcasts_batch(spark, sf_dir):
    from usajobs_etl_service_spark.sinks.upsert import merge_upsert

    orders = read_table(spark, sf_dir, "orders")
    batch = orders.limit(10)
    p = _plan(merge_upsert(orders, batch, ["o_orderkey"]))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_merge_preserve_never_broadcasts_base(spark, sf_dir):
    """With preserve_cols, everything broadcast must derive from the
    (small) batch side — the base table only appears under scans and
    semi-join probe sides, never as a broadcast build of its full key
    projection."""
    from usajobs_etl_service_spark.sinks.upsert import merge_upsert

    orders = read_table(spark, sf_dir, "orders")
    batch = orders.limit(10).withColumn("o_orderpriority", F.lit("X"))
    merged = merge_upsert(orders, batch, ["o_orderkey"], preserve_cols=["o_orderdate"])
    p = _plan(merged)
    # base rows: 1500; batch: 10. Every BroadcastExchange subtree must sit
    # below a join whose other side is the full scan — cheap proxy: the
    # plan has no SortMergeJoin and row counts stay correct.
    assert "SortMergeJoin" not in p
    assert merged.count() == orders.count()
    row = merged.filter(F.col("o_orderkey") == batch.first()["o_orderkey"]).first()
    assert row["o_orderpriority"] == "X"


def test_merge_key_unique_batch_no_aggregate_no_shuffle(spark, sf_dir):
    """The merge takes a key-unique batch as it is: in the pipeline's
    shape (preserve_cols + observation) the plan holds no aggregate and
    no shuffle, only the base scan and broadcasts of the batch side."""
    from pyspark.sql import Observation

    from usajobs_etl_service_spark.sinks.upsert import merge_upsert

    orders = read_table(spark, sf_dir, "orders")
    batch = orders.filter(F.col("o_orderkey") < 100).withColumn("o_orderpriority", F.lit("X"))
    p = _plan(
        merge_upsert(orders, batch, ["o_orderkey"], preserve_cols=["o_orderdate"], observation=Observation())
    )
    assert "BroadcastHashJoin" in p
    assert "Aggregate" not in p
    assert re.search(r"(?<!Broadcast)Exchange", p) is None


def test_dedup_single_shuffle(spark, sf_dir):
    from usajobs_etl_service_spark.operators.dedup import dedup_first_wins

    events = read_table(spark, sf_dir, "events")
    p = _plan(dedup_first_wins(events, ["user_id"], "event_id"))
    assert p.count("Exchange") == 1


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides on the join key pre-shuffles at write time;
    the join plan then has no Exchange — the repeated-join 100 TB
    pattern (bucket once, join many times)."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    # hint forces sort-merge (at test scale Spark would broadcast); at
    # real scale sort-merge is the default and the bucketing pays off
    joined = spark.table("b_lineitem").hint("merge").join(
        spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    try:
        p = _plan(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # co-located: no shuffle on either side
        n = joined.count()
        assert n == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_minhash_plan_single_signature_pass(spark, sf_dir):
    """The LSH candidate stage must not recompute the signature
    aggregate: the banding/verify rewrite references the signature
    frame three times (band keys + both verify sides), so the frame is
    PERSISTED — every textual copy of the lane aggregate in the plan
    must be the print-out of a cached-relation scan (one real
    execution), never an uncached duplicate subtree.

    Round-8 lesson (closes round 7's only red test): once the cached
    relation is MATERIALIZED, AQE's toString prints each cached child
    plan TWICE (`== Initial Plan ==` + `== Final Plan ==` sections), so
    a warm session shows 2x the aggregate text with zero recompute —
    the round-7 failure was this print artifact, verified by locating
    every partial_min hit inside an InMemoryRelation subtree. The
    invariant is therefore: no signature aggregate OUTSIDE a cached
    subtree, and at most two prints per cache scan. Cache state is
    cleared first so the check is order-independent in the suite."""
    import __spark_entry__ as e

    agg_re = r"HashAggregate\(keys=\[id#\d+L\], functions=\[partial_min"
    spark.catalog.clearCache()
    try:
        # cold: plan not yet materialized — one print per cache scan
        p = _plan(e.q24_minhash_near_dup(spark, sf_dir))
        n_agg = len(re.findall(agg_re, p))
        n_cache = p.count("InMemoryTableScan")
        assert n_agg == 1 or (n_cache >= 1 and n_agg == n_cache), (n_agg, n_cache, p[:500])
        # warm: materialize the cache, re-plan. All aggregate text must
        # sit inside cached subtrees (none before the first cache scan,
        # i.e. in the main tree), bounded by AQE's dual print.
        e.q24_minhash_near_dup(spark, sf_dir).count()
        p2 = _plan(e.q24_minhash_near_dup(spark, sf_dir))
        n_agg2 = len(re.findall(agg_re, p2))
        n_cache2 = p2.count("InMemoryTableScan")
        assert n_cache2 >= 1, p2[:500]
        first_scan = p2.index("InMemoryTableScan")
        assert not re.findall(agg_re, p2[:first_scan]), p2[:first_scan]
        assert n_agg2 <= 2 * n_cache2, (n_agg2, n_cache2)
    finally:
        spark.catalog.clearCache()


def test_simhash_plan_single_signature_pass(spark, sf_dir):
    import __spark_entry__ as e

    p = _plan(e.q25_simhash_near_dup(spark, sf_dir))
    assert len(re.findall(r"functions=\[partial_count\(1\), partial_sum", p)) == 1


def test_srp_near_dup_plan_no_quadratic_joins(spark, sf_dir):
    """The label-free SRP near-dup must stay equi-join shaped end to
    end: candidate generation is bucket windows + collect_list (no
    self-join of the vector table), verification is two hash equi-joins
    on id — a cartesian or nested-loop join anywhere means the LSH
    blocking silently degraded to all-pairs."""
    import __spark_entry__ as e

    p = _plan(e.q82_embedding_srp_near_dup(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # hot-bucket cap present: the count window runs before pair expansion
    assert re.search(r"Window \[count\(1\)", p), "bucket-size cap window missing"


def test_repetition_filter_zero_shuffle(spark, sf_dir):
    """Gopher repetition rules are scan-stage expressions: no Exchange."""
    from usajobs_etl_service_spark.operators.repetition import repetition_signals

    docs = read_table(spark, sf_dir, "documents")
    assert "Exchange" not in _plan(repetition_signals(docs))


def test_source_mix_no_global_window(spark, sf_dir):
    """q74's normalizers must be broadcast scalars, not empty-partition
    windows (source cardinality is unbounded at web scale)."""
    import __spark_entry__ as e

    p = _plan(e.q74_source_mix_weights(spark, sf_dir))
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_salted_topk_bounds_per_task_input_under_extreme_skew(spark):
    """Measured skew evidence, not design prose: one key holds 50% of
    all rows. Under the plain window partitioning that key's task reads
    half the dataset; under phase-1's (key, salt) partitioning no task
    reads more than ~2x the mean. Rows-per-partition is measured with
    spark_partition_id() under the same hash partitioning the window
    stage uses — the salt is a content hash, so the distribution is
    deterministic run-to-run. Results must still equal the plain window."""
    from pyspark.sql import Window

    from usajobs_etl_service_spark.operators.salting import _salt, salted_topk_per_key

    n = 200_000
    buckets = 64
    P = 32
    hot = spark.range(n // 2).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
    cold = spark.range(n // 2).select(
        F.concat(F.lit("c"), (F.col("id") % 2000).cast("string")).alias("k"), F.col("id").alias("v")
    )
    df = hot.unionByName(cold)

    def partition_rows(frame, *cols):
        dist = (
            frame.repartition(P, *cols)
            .select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
        )
        return [r["count"] for r in dist.collect()]

    unsalted = partition_rows(df, "k")
    assert max(unsalted) >= n // 2, "the unsalted shape must actually be melted"

    salted = df.withColumn("__salt", _salt(df, buckets))
    per_task = partition_rows(salted, "k", "__salt")
    mean = sum(per_task) / len(per_task)
    assert max(per_task) <= 2 * mean, (max(per_task), mean, sorted(per_task)[-5:])

    # equivalence under the same skew
    order = [F.col("v").desc(), F.col("k").asc()]
    w = Window.partitionBy("k").orderBy(*order)
    plain = {
        (r["k"], r["rank"]): r["v"]
        for r in df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3).collect()
    }
    got = {
        (r["k"], r["rank"]): r["v"]
        for r in salted_topk_per_key(df, ["k"], order, 3, salt_buckets=buckets).collect()
    }
    assert got == plain


def test_connected_components_star_graph_hub_skew(spark):
    """CC on the skew-adversarial graph: a single hub adjacent to half
    the node population (one key = 50% of all edges). Large-star
    resolves a star in O(1) rounds — the hub's window partition holds
    its degree for exactly one round, then every spoke is attached to
    the minimum id and the edge set collapses — so the skew cannot
    compound across rounds. Labels must be exact."""
    from usajobs_etl_service_spark.operators.clustering import connected_components

    spokes = 50_000
    pairs = spark.range(1, spokes + 1).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b")
    )
    labels, rounds = connected_components(pairs, return_rounds=True, small_graph_edges=0)
    comp = labels.groupBy("cluster_id").count().collect()
    assert len(comp) == 1 and comp[0]["cluster_id"] == 0 and comp[0]["count"] == spokes + 1
    assert rounds <= 3, f"a star must collapse in O(1) rounds, took {rounds}"


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling: a join where one key holds ~all the rows
    must replan with a skew-split (OptimizeSkewedJoin), complementing
    the salted-aggregation operators (AQE covers join-side skew only).
    Verified via the adaptive plan string; thresholds are lowered so the
    toy frame qualifies as skewed."""
    old = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        from pyspark.sql import functions as F

        big = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("pad"),
        )
        dim = spark.range(5_000).select(F.col("id").alias("k"), F.lit("d").alias("v"))
        joined = big.join(dim, "k")
        # collect() on the SAME DataFrame: count()/write build separate
        # query executions and this one would stay isFinalPlan=false
        n = len(joined.collect())
        assert n > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan or "AQEShuffleRead" in plan, plan[:800]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
