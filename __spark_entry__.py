"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``  — flagship query (the reference's ``job_statistics``
scalar multi-aggregate, A1-A5) on sf0.001.
``queries()``     — one runnable query per implemented operator from
SURVEY.md §2 (operator IDs in each key's docstring/name).
``oracle_sql()``  — DuckDB-equivalent SQL per query.

Conventions for hash-stable comparison with the DuckDB oracle:
- every computed column is aliased identically on both sides;
- timestamps rendered to 'yyyy-MM-dd HH:mm:ss[.SSSSSS]' strings;
- double aggregates rounded (sums: 2dp; similarities: 4dp);
- any top-k ordering carries an id tiebreaker on both sides;
- date anchors are data-derived (max date), never wall-clock.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from usajobs_etl_service_spark.functions import text as TX
from usajobs_etl_service_spark.functions import transforms as X
from usajobs_etl_service_spark.operators import similarity as SIM
from usajobs_etl_service_spark.operators.dedup import dedup_first_wins
from usajobs_etl_service_spark.operators.stats import group_counts, metric_value_union, summary_stats
from usajobs_etl_service_spark.operators.topk import top_k
from usajobs_etl_service_spark.sinks.upsert import merge_metrics, merge_upsert
from usajobs_etl_service_spark.sources.ingest import flatten_postings, parse_api_pages

SF0001 = "/root/testdata/sf0.001"

TS_FMT = "yyyy-MM-dd HH:mm:ss"
TS_FMT_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from usajobs_etl_service_spark.session import read_table

    return read_table(spark, sf_dir, name)


def _ts(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``_t`` + scale-adaptive parallelism on-ramp (plans/spread.py):
    for queries whose FIRST stage is heavy per-row compute (signature
    folds, gram explodes, distance arithmetic) — a small single-split
    input would otherwise pin that stage on one core. No-op whenever
    the scan already yields >= cores splits (any production-size
    input), so the plan is unchanged at scale. Used only by the
    compute-heavy queries; cheap scans keep the plain ``_t`` (the
    spread's ~10 ms driver probe and its exchange would be pure
    overhead there)."""
    from usajobs_etl_service_spark.plans.spread import spread_for_compute

    return spread_for_compute(_t(spark, sf_dir, name))


def _max_date(spark: SparkSession, sf_dir: str, table: str, ts_col: str):
    """Anchor-date probe (max date of a timestamp column). Served from
    parquet row-group statistics on the driver when they are exact
    (int/timestamp physical types; the parquet_row_count posture — no
    Spark job at construction time, which bench.py times), falling back
    to the Spark aggregate otherwise. The INT64-nanos case applies the
    same div-1000 truncation read_table applies before taking the UTC
    date, so both paths yield the identical value."""
    import datetime as _dt

    from usajobs_etl_service_spark.session import parquet_col_stat

    v = parquet_col_stat(sf_dir, table, ts_col, "max")
    if isinstance(v, int) and v >= 0:
        # INT64 TIMESTAMP(NANOS) read as long (read_table: ts div 1000
        # -> micros); non-negative guard keeps py floor-div == SQL div
        micros = v // 1000
        v = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=micros)
    if isinstance(v, _dt.datetime):
        return v.date()  # session tz is pinned UTC; stats are stored UTC
    if isinstance(v, _dt.date):
        return v
    return _t(spark, sf_dir, table).agg(F.max(F.to_date(ts_col))).first()[0]


def _qvec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list:
    """The query-vector construction probe: a single-row unique-key
    lookup on the embeddings table, served from the parquet input via
    pyarrow on the driver (~5 ms vs ~180 ms for the Spark
    filter+first — a construction-time job bench.py times on every
    repeat), Spark fallback for non-parquet layouts."""
    from usajobs_etl_service_spark.session import parquet_lookup_value

    row = parquet_lookup_value(sf_dir, "embeddings", "vec_id", vec_id, "embedding")
    if row is None:
        row = (
            _t(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .first()[0]
        )
    return [float(x) for x in row]


# ---------------------------------------------------------------------------
# entry — flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's job_statistics view (A1-A5) on sf0.001."""
    return q01_job_statistics(spark, SF0001)


# ---------------------------------------------------------------------------
# Queries (Spark side)
# ---------------------------------------------------------------------------

def q01_job_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A5 + F8: scalar multi-aggregate (init.sql:60-70) on orders."""
    orders = _t(spark, sf_dir, "orders")
    anchor = _max_date(spark, sf_dir, "orders", "o_orderdate")
    out = summary_stats(
        orders,
        org_col="o_custkey",
        dept_col="o_orderpriority",
        ts_col="o_orderdate",
        anchor_date=F.lit(anchor),
    )
    return out.select(
        "total_jobs",
        "unique_organizations",
        "unique_departments",
        "jobs_today",
        "jobs_this_week",
        "jobs_this_month",
        F.date_format("last_job_date", TS_FMT).alias("last_job_date"),
        F.date_format("first_job_date", TS_FMT).alias("first_job_date"),
    )


def q02_metric_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 + F9: monitor.sh labelled metric/value UNION ALL shape, computed
    as one aggregate pass + unpivot."""
    events = _t(spark, sf_dir, "events")
    anchor = _max_date(spark, sf_dir, "events", "ts")
    return metric_value_union(
        events,
        [
            ("Total Events", F.count(F.lit(1))),
            ("Events This Week", F.count(F.when(F.to_date("ts") >= F.date_sub(F.lit(anchor), 7), 1))),
            ("Unique Users", F.countDistinct("user_id")),
        ],
    )


def q03_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: GROUP BY + COUNT (test_performance.py:377)."""
    return group_counts(_t(spark, sf_dir, "events"), "event_type")


def q04_top_k_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: ORDER BY ts DESC LIMIT k -> TakeOrderedAndProject (init.sql:57)."""
    events = _t(spark, sf_dir, "events")
    out = events.orderBy(F.col("ts").desc(), F.col("event_id").desc()).limit(100)
    return out.select("event_id", F.date_format("ts", TS_FMT_US).alias("ts_s"), "event_type")


def q05_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/J2: deterministic first-wins dedup by key (etl.py:452-465)."""
    events = _t(spark, sf_dir, "events")
    first = dedup_first_wins(events, ["user_id"], "event_id")
    return first.select("user_id", "event_id", "event_type", F.date_format("ts", TS_FMT_US).alias("ts_s"))


def q06_dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (exact dedup at scale): md5 fingerprint of normalized
    text, first doc_id wins."""
    docs = _t(spark, sf_dir, "documents").withColumn("fp", TX.fingerprint_md5(F.col("text")))
    return dedup_first_wins(docs, ["fp"], "doc_id").select("doc_id", "fp")


def q07_recent_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5: recent_job_postings view shape — trailing-30d filter plus
    column projection (init.sql:44-57) on events."""
    events = _t(spark, sf_dir, "events")
    anchor = _max_date(spark, sf_dir, "events", "ts")
    return (
        events.filter(F.to_date("ts") >= F.date_sub(F.lit(anchor), 30))
        .select("event_id", "user_id", "event_type", F.date_format("ts", TS_FMT_US).alias("ts_s"))
    )


def q08_like_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: LIKE-prefix predicate (test_performance.py:375-376)."""
    part = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_name").like("small%")).select("p_partkey", "p_name", "p_type")


def q09_key_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: equality lookup by unique key (test_integration.py:140-147)."""
    from usajobs_etl_service_spark.session import parquet_col_stat

    orders = _t(spark, sf_dir, "orders")
    # exact int64 min from the parquet footer stats (no construction job)
    min_key = parquet_col_stat(sf_dir, "orders", "o_orderkey", "min")
    if min_key is None:
        min_key = orders.agg(F.min("o_orderkey")).first()[0]
    return orders.filter(F.col("o_orderkey") == F.lit(min_key)).select(
        "o_orderkey", "o_custkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )


def q10_location_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: location render golden semantics ("Washington, DC, US";
    missing-key US default; empty -> 'Location not specified')."""
    cust = _t(spark, sf_dir, "customer")
    country = (
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("string"))
        .when(F.col("c_custkey") % 3 == 1, F.lit(""))
        .otherwise(F.lit("US"))
    )
    loc_arr = F.when(
        F.col("c_custkey") % 7 == 0, F.lit(None).cast("array<struct<CityName:string,StateCode:string,CountryCode:string>>")
    ).otherwise(
        F.array(
            F.struct(
                F.col("c_name").alias("CityName"),
                F.col("c_mktsegment").alias("StateCode"),
                country.alias("CountryCode"),
            )
        )
    )
    return cust.select("c_custkey", X.render_location(loc_arr).alias("rendered_location"))


def q11_remuneration_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3+F13: remuneration render goldens ('$80,000 - $120,000 Per Year',
    '$80,000+ Per Year', 'Not specified'; truncation not rounding)."""
    part = _t(spark, sf_dir, "part")
    minv = F.floor(F.col("p_retailprice") * 100).cast("long").cast("string")
    maxv = F.floor(F.col("p_retailprice") * 150).cast("long").cast("string")
    min_raw = F.when(F.col("p_partkey") % 5 == 0, F.lit("not-a-number")).otherwise(minv)
    rem_arr = F.when(
        F.col("p_partkey") % 3 == 2,
        F.lit(None).cast("array<struct<MinimumRange:string,MaximumRange:string,RateIntervalCode:string>>"),
    ).otherwise(
        F.array(
            F.struct(
                min_raw.alias("MinimumRange"),
                F.when(F.col("p_partkey") % 3 == 0, maxv).otherwise(F.lit(None).cast("string")).alias(
                    "MaximumRange"
                ),
                F.lit("Per Year").alias("RateIntervalCode"),
            )
        )
    )
    return part.select("p_partkey", X.render_remuneration(rem_arr).alias("rendered_remuneration"))


def q12_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: ISO date parse incl. 7-digit fractional + 'Z' suffix + invalid
    -> NULL (etl.py:340-348)."""
    events = _t(spark, sf_dir, "events")
    iso = (
        F.when(F.col("event_id") % 5 == 0, F.lit("invalid-date"))
        .when(F.col("event_id") % 5 == 1, F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")))
        .otherwise(F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit(".0000000")))
    )
    return events.select("event_id", X.parse_iso_date(iso).alias("parsed_date"))


def q13_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: full-text term match parity for the PG GIN tsvector index."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(X.text_matches(F.col("text"), "the data")).select("doc_id", "lang")


def q14_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join surface: orders⋈customer⋈nation with broadcast dims, grouped
    revenue per nation (J-surface per SURVEY §2.3)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


def q15_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join surface: left_anti (NOT EXISTS) — customers without orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select("c_custkey", "c_name")


def _merge_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = _t(spark, sf_dir, "orders")
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn("o_orderpriority", F.lit("UPDATED"))
    )
    inserts = (
        orders.filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10000000)
        .withColumn("o_orderpriority", F.lit("NEW"))
    )
    return orders, updates.unionByName(inserts)


def q16_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/J1: join-based upsert — last-writer-wins per key against the
    table (ON CONFLICT DO UPDATE parity, etl.py:467-488)."""
    base, batch = _merge_inputs(spark, sf_dir)
    merged = merge_upsert(base, batch, ["o_orderkey"])
    return merged.select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "o_orderpriority")


def q17_merge_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: inserted/updated/total merge metrics (xmax-flag parity,
    etl.py:514-515)."""
    base, batch = _merge_inputs(spark, sf_dir)
    return merge_metrics(base, batch, ["o_orderkey"])


def q18_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (similarity search): exact brute-force top-20 cosine
    against the vec_id=0 embedding."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir)
    return SIM.topk_cosine(emb.filter(F.col("vec_id") != 0), qvec, k=20, round_digits=4)


def q19_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (text analysis): char/token counts per document."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = TX.token_count_ws(F.col("text"))
    return docs.select(
        "doc_id",
        TX.char_count(F.col("text")).alias("chars"),
        n_tokens.alias("tokens_ws"),
        # try_divide: a 0-token (empty/whitespace) document reports
        # NULL, not an ANSI divide-by-zero abort (fuzz-sweep find)
        F.round(F.try_divide(F.length("text").cast("double"), n_tokens), 3).alias("chars_per_token"),
    )


def q20_flatten_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+P1+P2+F1-F7: nested JSON ingest -> explode -> transform ->
    validate, exercised end-to-end by synthesizing API documents from
    orders, then flattening with the production path."""
    # the single parquet file reads as one input partition; spread the
    # JSON build+parse across cores (real ingest has many page files)
    orders = _t(spark, sf_dir, "orders").repartition(spark.sparkContext.defaultParallelism)
    md = F.struct(
        F.concat(F.lit("Order "), F.col("o_orderkey")).alias("PositionTitle"),
        F.concat(F.lit("http://orders/"), F.col("o_orderkey")).alias("PositionURI"),
        F.array(
            F.struct(
                F.concat(F.lit("City "), (F.col("o_custkey") % 10)).alias("CityName"),
                F.lit("ST").alias("StateCode"),
                F.lit("US").alias("CountryCode"),
            )
        ).alias("PositionLocation"),
        F.array(
            F.struct(
                F.floor("o_totalprice").cast("long").cast("string").alias("MinimumRange"),
                (F.floor("o_totalprice") + 5000).cast("long").cast("string").alias("MaximumRange"),
                F.lit("Per Year").alias("RateIntervalCode"),
            )
        ).alias("PositionRemuneration"),
        F.col("o_orderpriority").alias("OrganizationName"),
        F.col("o_orderstatus").alias("DepartmentName"),
        F.concat(F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss"), F.lit(".0000000")).alias(
            "PositionStartDate"
        ),
        F.lit(None).cast("string").alias("PositionEndDate"),
        F.array(F.struct(F.lit("Information Technology").alias("Name"))).alias("JobCategory"),
        F.array(F.struct(F.lit("GS-13").alias("Code"))).alias("JobGrade"),
    )
    payload = F.to_json(
        F.struct(
            F.struct(
                F.lit(1).alias("SearchResultCount"),
                F.lit(1).alias("SearchResultCountAll"),
                F.array(F.struct(md.alias("MatchedObjectDescriptor"))).alias("SearchResultItems"),
            ).alias("SearchResult")
        )
    )
    raw = orders.select(F.col("o_orderkey").alias("page"), payload.alias("payload"))
    flat = flatten_postings(parse_api_pages(raw))
    return flat.select(
        "position_title",
        "position_uri",
        "position_location",
        "position_remuneration",
        "position_start_date",
        "organization_name",
        "department_name",
        "job_category",
        "job_grade",
    )


def q21_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window surface (§2.5): running per-user sum ordered by time."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


def q22_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (near-dup, embeddings): blocked self-join on label +
    exact cosine — the block stands in for an IVF/LSH bucket at scale."""
    from usajobs_etl_service_spark.operators.neardup import embedding_near_dup_pairs

    emb = _ts(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, block_col="label", threshold=0.4)


def q23_ngram_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (near-dup, n-gram Jaccard): exact 3-gram Jaccard for
    adjacent doc_id pairs (stand-in candidate set)."""
    from usajobs_etl_service_spark.operators.neardup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select(F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")).join(
        docs.select(F.col("doc_id").alias("id_b")), "id_b", "left_semi"
    )
    return ngram_jaccard_pairs(docs, pairs, n=3)


def q24_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (near-dup, MinHash+LSH). Deterministic signatures; no
    SQL oracle (LSH banding is not SQL-expressible) -> rows-only check;
    recall/precision covered by tests/test_neardup.py on planted dups."""
    from usajobs_etl_service_spark.operators.neardup import minhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(docs, threshold=0.5, num_hashes=64, bands=16)


def q25_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (near-dup, SimHash): banded 64-bit signatures, Hamming
    <= 3. Rows-only (tests cover planted dups)."""
    from usajobs_etl_service_spark.operators.neardup import simhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, max_hamming=3)


def q26_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (text analysis): stopword-marker language ID."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", TX.lang_id(F.col("text")).alias("lang_pred"))


def q27_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (text analysis): deterministic 0-1 quality score from
    length/alpha/digit/punct/stopword signals."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


def q28_global_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: deterministic full sort, materialized as a global rank so the
    order itself is value-checked (test_integration.py:93,549).

    The rank is computed by operators/distributed_order.py — range-
    partitioned parallel local ranks + broadcast carry-in offsets — not
    a no-partition window, so no stage ever holds the full table in one
    task (the pre-round-6 form did; output is hash-identical)."""
    from usajobs_etl_service_spark.operators.distributed_order import global_row_number

    events = _t(spark, sf_dir, "events")
    ranked = global_row_number(
        events.select("event_id", F.round("value", 3).alias("value_r")),
        [F.col("value_r").desc(), F.col("event_id").asc()],
        out_col="rank_l",
    )
    return ranked.select(
        "event_id", "value_r", F.col("rank_l").cast("int").alias("rank")
    )


def q29_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate surface: ROLLUP with subtotals + grand total."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q30_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate surface: pivot events by type (explicit value list ->
    no extra distinct-discovery pass — the 100 TB form)."""
    events = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = events.groupBy("user_id").pivot("event_type", types).agg(F.round(F.sum("value"), 2))
    return out.select("user_id", *[F.col(t).alias(f"sum_{t}") for t in types])


def q31_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op surface: UNION (distinct) + EXCEPT over label sets."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("label"))
    pri = _t(spark, sf_dir, "orders").select(F.col("o_orderpriority").alias("label"))
    return cust.union(pri).distinct().exceptAll(
        _t(spark, sf_dir, "events").select(F.col("event_type").alias("label")).distinct()
    )


def q32_monitor_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10+F11+O1: monitor.sh recent-rows probe — LEFT() truncation,
    ::date cast, top-5 (monitor.sh:47-56)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(5)
        .select(
            "event_id",
            F.substring("event_type", 1, 3).alias("type_short"),
            F.to_date("ts").alias("date"),
        )
    )


def q33_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface: JSON property extraction + grouped avg
    (events.props is a JSON string column)."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


def q34_views_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+P4+P5: the SQL view surface — flatten orders into job_postings
    (q20 path), register the reference views, query through Spark SQL."""
    from usajobs_etl_service_spark.plans.views import register_views

    flat = q20_flatten_ingest(spark, sf_dir).withColumn("created_at", F.current_timestamp()).withColumn(
        "updated_at", F.current_timestamp()
    )
    register_views(spark, flat)
    return spark.sql(
        "SELECT count(*) AS n_recent, count(DISTINCT organization_name) AS n_orgs FROM recent_job_postings"
    )


def q35_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 at scale: HLL approx_count_distinct (rows-only: approximate by
    construction; accuracy asserted in tests)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.approx_count_distinct("o_custkey").alias("approx_custs"),
        F.countDistinct("o_custkey").alias("exact_custs"),
    )


def q36_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (similarity, scale path): IVF-bucketed ANN probe of the
    vec_id=0 query (rows-only: approximate; recall asserted in tests)."""
    from usajobs_etl_service_spark.operators.similarity import ivf_build, ivf_topk_cosine

    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir)
    index, cents = ivf_build(emb.filter(F.col("vec_id") != 0), n_centroids=16)
    return ivf_topk_cosine(index, cents, qvec, k=10, nprobe=4)


def q37_rest_scan_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1-S4 + A6 end-to-end through the driver harness: deterministic
    in-process REST transport -> paginated scan -> spool -> flatten ->
    first-wins dedup. The oracle is the literal expected output
    (VALUES), so the whole source+transform path is value-checked."""
    import shutil
    import tempfile

    from usajobs_etl_service_spark.operators.dedup import dedup_first_wins
    from usajobs_etl_service_spark.sources.rest_api import RestPageSource, RetryPolicy, scan_to_dataframe

    def md(title, uri, loc=None, rem=None, org=None, start=None):
        d = {"PositionTitle": title, "PositionURI": uri}
        if loc is not None:
            d["PositionLocation"] = loc
        if rem is not None:
            d["PositionRemuneration"] = rem
        if org is not None:
            d["OrganizationName"] = org
        if start is not None:
            d["PositionStartDate"] = start
        return {"MatchedObjectDescriptor": d}

    pages = {
        1: [
            md(
                "  Data Engineer ",
                "https://jobs.example/1",
                loc=[{"CityName": "Washington", "StateCode": "DC", "CountryCode": "US"}],
                rem=[{"MinimumRange": "80000", "MaximumRange": "120000", "RateIntervalCode": "Per Year"}],
                org="DoD",
                start="2023-01-01T00:00:00.0000000",
            ),
            md("Analyst", "ftp://bad-uri"),  # filtered by P2
            md("SRE", "https://jobs.example/2", rem=[{"MinimumRange": "90000", "RateIntervalCode": "Per Year"}]),
        ],
        2: [
            md("Shadow Duplicate", "https://jobs.example/1"),  # dropped by A6 first-wins
            md("PM", "https://jobs.example/3", loc=[]),
        ],
    }

    def transport(params):
        items = pages.get(params["Page"], [])
        return {
            "SearchResult": {
                "SearchResultCount": len(items),
                "SearchResultCountAll": 5,
                "SearchResultItems": items,
            }
        }

    src = RestPageSource(
        transport=transport, page_size=3, max_pages=5,
        retry=RetryPolicy(sleep=lambda s: None), sleep=lambda s: None,
    )
    # one spool dir per process, cleared on each call: the previous call's
    # pages go, and repeated calls never pile up temp dirs
    spool = os.path.join(tempfile.gettempdir(), f"q37_spool_{os.getpid()}")
    shutil.rmtree(spool, ignore_errors=True)
    flat, _ = scan_to_dataframe(spark, src, "data engineering", spool_dir=spool)
    deduped = dedup_first_wins(flat, ["position_uri"], "ingest_seq")
    return deduped.select(
        "position_title",
        "position_uri",
        "position_location",
        "position_remuneration",
        "position_start_date",
        "organization_name",
    )


def q38_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical wide-agg scan
    (filter pushdown + partial agg over 2 group keys)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q39_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: 3-way join + grouped revenue + top-10
    (broadcast dims, TakeOrdered on the grouped result)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q40_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-training-data story end-to-end as ONE declarative plan:
    exact dedup (md5 fingerprint, first-wins) -> quality gate -> keep
    identified languages -> emit curation columns. Single pipeline =
    single scan + one dedup shuffle; every stage is a codegen'd
    expression, so Catalyst fuses the gates into the scan."""
    from usajobs_etl_service_spark.operators.dedup import dedup_first_wins
    from usajobs_etl_service_spark.plans.spread import spread_for_compute

    docs = _t(spark, sf_dir, "documents")
    fingerprinted = docs.withColumn("fp", TX.fingerprint_md5(F.col("text")))
    deduped = dedup_first_wins(fingerprinted, ["fp"], "doc_id")
    # AQE coalesces the tiny dedup exchange back to one partition, so
    # the per-row gate expressions below would run single-core on a
    # small input; spread is a structural no-op at scale (spread.py).
    curated = (
        spread_for_compute(deduped).withColumn("lang_pred", TX.lang_id(F.col("text")))
        .withColumn("quality", TX.quality_score(F.col("text")))
        .withColumn("tokens", TX.token_count_ws(F.col("text")))
        .filter((F.col("quality") >= 0.5) & (F.col("lang_pred") != "und"))
    )
    return curated.select("doc_id", "lang_pred", "quality", "tokens")


def q41_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event_type
    (operators/timeseries.windowed_event_counts)."""
    from usajobs_etl_service_spark.operators.timeseries import windowed_event_counts

    events = _t(spark, sf_dir, "events")
    out = windowed_event_counts(events, window_duration="1 day")
    return out.select(
        F.date_format("window_start", TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def q42_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — Spark's stateful
    session_window vs a gaps-and-islands SQL oracle.

    Boundary semantics (fuzz-sweep seed-3 find): ``session_window``
    MERGES an event arriving EXACTLY ``gap`` after its predecessor
    (closed boundary — the oracle's island predicate is strictly
    ``>``), unlike the funnel/q240 gaps-and-islands family whose
    documented contract is ``>= gap`` starts a new island. Both are
    self-consistent engine/oracle pairs; they differ from each other
    only on the exact-gap knife edge."""
    from usajobs_etl_service_spark.operators.timeseries import sessionize

    events = _t(spark, sf_dir, "events")
    out = sessionize(events, gap="30 minutes")
    return out.select(
        F.date_format("session_start", TS_FMT_US).alias("session_start"),
        F.date_format("session_end", TS_FMT_US).alias("session_end"),
        "user_id",
        "n_events",
        "sum_value",
    )


def q43_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL surface: scalar subquery in a predicate (orders above the
    average price), through spark.sql over registered views."""
    from usajobs_etl_service_spark.session import load_tables

    load_tables(spark, sf_dir, ["orders"])
    return spark.sql(
        """
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)
        """
    )


def q44_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 + HAVING: group counts filtered on the aggregate."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .filter(F.col("n_orders") >= 15)
    )


def q45_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (multimodal): binary media columns -> Arrow-batched
    feature extraction (deterministic fake codec). Rows-only: the codec
    layer is a stub by design; plumbing is value-tested in
    tests/test_multimodal.py."""
    from usajobs_etl_service_spark.operators.multimodal import extract_image_features, synth_media

    media = synth_media(spark, n=30)
    return extract_image_features(media).select("media_id", "width", "height", "n_pixels")


def q46_native_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S3 as a native Python DataSource: spark.read.format with one
    input partition per API page, generated executor-side (synthetic
    pages), flattened through the production S4 path. The oracle
    reproduces the formulaic mock corpus with generate_series.

    Parity demo ONLY: the Python DataSource API yields rows from Python
    per partition — right for a rate-limited HTTP source where network
    dominates, never for bulk ingest (that path is the spool +
    distributed JSON read, rest_api.py)."""
    from usajobs_etl_service_spark.sources.datasource import read_rest_jobs

    flat = read_rest_jobs(spark, mock_total=1200, results_per_page=500)
    return flat.select("position_title", "position_uri", "position_location", "position_remuneration")


def q47_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom operator (as-of/point-in-time join): for every event, the
    user's most recent signup at-or-before it. Implemented as
    union+window (single shuffle, no range cross-join); oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from usajobs_etl_service_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    signups = events.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("rts"), F.col("value").alias("signup_value")
    )
    out = asof_join(events, signups, on=["user_id"], left_ts="ts", right_ts="rts")
    return out.select(
        "event_id",
        F.round("signup_value_asof", 3).alias("signup_value_asof"),
        F.date_format("rts_asof", TS_FMT_US).alias("signup_ts"),
    )


def q48_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface in one pass: lag, lead, rank,
    dense_rank, and a 3-row moving average per user."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = Window.partitionBy("user_id").orderBy(F.round("value", 3).desc(), F.col("event_id").asc())
    return events.select(
        "event_id",
        "user_id",
        F.lag(F.round("value", 3)).over(w).alias("prev_value"),
        F.lead(F.round("value", 3)).over(w).alias("next_value"),
        F.rank().over(wr).alias("value_rank"),
        F.dense_rank().over(wr).alias("value_dense_rank"),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 3).alias("moving_avg_3"),
    )


def q49_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile aggregates: exact interpolated median/p90 per order
    priority (Spark `percentile` == DuckDB `quantile_cont`)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", 0.5), 2).alias("median_price"),
        F.round(F.percentile("o_totalprice", 0.9), 2).alias("p90_price"),
        F.count(F.lit(1)).alias("n"),
    )


def q50_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface: parse the JSON props column into
    map<string,int>, explode to key/value rows."""
    events = _t(spark, sf_dir, "events")
    parsed = events.select(
        "event_id", F.from_json("props", "map<string,int>").alias("m")
    )
    return parsed.select("event_id", F.explode("m").alias("key", "val"))


def q51_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 index path: materialized (term, doc_id) posting table +
    conjunctive term query — must return EXACTLY the docs the regex
    scan (q13) returns; the oracle is the scan-side semantics, so the
    hash-match proves index == scan."""
    from usajobs_etl_service_spark.operators.textindex import build_inverted_index, search_all_terms

    docs = _t(spark, sf_dir, "documents")
    index = build_inverted_index(docs)
    return search_all_terms(index, ["the", "data"]).join(docs, "doc_id").select("doc_id", "lang")


def q52_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: 6-table star join (customer/orders/lineitem/
    supplier/nation/region), same-nation customer+supplier constraint,
    region filter, grouped revenue. Dims broadcast; facts shuffle on
    the join keys once."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def q53_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total line quantity exceeds a
    threshold, with customer attribution."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


def q54_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner surface: correlated EXISTS subquery (customers holding at
    least one high-value urgent order)."""
    from usajobs_etl_service_spark.session import load_tables

    load_tables(spark, sf_dir, ["customer", "orders"])
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_totalprice > 300000
              AND o_orderpriority = '1-URGENT'
        )
        """
    )


def q55_activity_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous UNION ALL: one typed activity feed from two
    sources (orders + events), aggregated per kind."""
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    feed = orders.select(
        F.lit("order").alias("kind"), F.col("o_totalprice").alias("amount")
    ).unionByName(events.select(F.lit(F.concat(F.lit("event:"), F.col("event_type"))).alias("kind"), F.col("value").alias("amount")))
    return feed.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("amount"), 2).alias("total_amount")
    )


def q56_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort analysis: users grouped by first-activity date, distinct
    active users per (cohort, days-since-cohort) cell — first-event
    window + self-join-free aggregation."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    with_cohort = events.withColumn("cohort_date", F.min(F.to_date("ts")).over(w))
    return (
        with_cohort.withColumn("day_offset", F.datediff(F.to_date("ts"), F.col("cohort_date")))
        .groupBy("cohort_date", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def q57_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (similarity, correctness pin): IVF probe with nprobe == C
    must hash-equal exact brute-force top-k — this oracle-checks the whole
    IVF build/assign/probe path, leaving only recall-at-nprobe<C as the
    approximate (rows-only, test-asserted) part."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir, 1)
    index, cents = SIM.ivf_build(emb.filter(F.col("vec_id") != 1), n_centroids=16)
    return SIM.ivf_topk_cosine(index, cents, qvec, k=15, nprobe=16)


def q58_salted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (skew resilience): salted two-phase per-key top-k must
    equal the plain window — phase 1 top-k within (key, salt), phase 2
    re-rank survivors; no single reducer ever sorts a whole hot key
    (operators/salting.py)."""
    from usajobs_etl_service_spark.operators.salting import salted_topk_per_key

    events = _t(spark, sf_dir, "events")
    out = salted_topk_per_key(
        events, ["user_id"], [F.col("ts").desc(), F.col("event_id").asc()], 3, salt_buckets=8
    )
    return out.select("user_id", "event_id", "rank")


def q59_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution — left outer
    join (keeps zero-order customers) + two-level aggregation."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q60_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (priority, status) with grouping_id — all four
    aggregation granularities in one pass (extends q29's rollup)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select("o_orderpriority", "o_orderstatus", "gid", "n_orders", "total_price")
    )


def q61_distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions per user: ntile(4), percent_rank,
    cume_dist over event value (complements q48's lag/lead/rank)."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    # explicit NULLS FIRST: Spark's ASC default, which DuckDB must be
    # told about (its ASC default is NULLS LAST — fuzz-sweep find)
    w = Window.partitionBy("user_id").orderBy(
        F.round("value", 3).asc_nulls_first(), F.col("event_id").asc()
    )
    return events.select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q62_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (text analysis): TF-IDF top-3 terms per document.
    Shuffle shape: explode -> groupBy(doc_id, term) [one data shuffle];
    document frequency joins back on term with NO broadcast hint — an
    open-vocabulary aggregate is unbounded (web-scale text blows past
    any broadcast limit), so the join strategy is left to AQE, which
    still broadcasts when the dictionary actually fits; the corpus size
    joins as a broadcast scalar (always bounded). Ranking rounds before
    ordering so cross-engine float ties break identically."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TX.tokens_ws(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 4).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)


def q63_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (training-data prep): fixed-token chunking with overlap
    (32-token windows, stride 24) — expression-only, no shuffle/UDF
    (operators/chunking.py)."""
    from usajobs_etl_service_spark.operators.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap_tokens=8)


def q64_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (dedup at scale): duplicate-cluster resolution —
    connected components (iterative min-label propagation) over the
    embedding near-dup pair graph; oracle is a recursive-CTE transitive
    closure over the identical pair SQL."""
    from usajobs_etl_service_spark.operators.clustering import connected_components
    from usajobs_etl_service_spark.operators.neardup import embedding_near_dup_pairs

    emb = _ts(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, block_col="label", threshold=0.35)
    return connected_components(pairs.select("id_a", "id_b"))


def q65_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (training-data prep): greedy sequential packing of
    q63's chunks into 256-token context windows, 4 shards (pmod shard so
    the oracle can reproduce it; production default is hashed-doc).
    Returns per-bin packing stats (operators/packing.py)."""
    from usajobs_etl_service_spark.operators.chunking import chunk_documents
    from usajobs_etl_service_spark.operators.packing import pack_chunks, packing_stats

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, overlap_tokens=8)
    packed = pack_chunks(
        chunks, context_tokens=256, n_shards=4, shard_expr=F.pmod(F.col("doc_id"), F.lit(4))
    )
    return packing_stats(packed, context_tokens=256)


def q66_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (training-data hygiene): 8-gram benchmark
    decontamination — docs with doc_id % 10 == 0 stand in as the eval
    set; every other doc sharing any 8-gram with them is flagged.
    Spark side joins on hashed grams (8-byte longs, broadcast semi);
    the oracle compares gram strings — hash-collision-free agreement."""
    from usajobs_etl_service_spark.operators.decontam import contaminated_docs

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return contaminated_docs(corpus, bench, n=8)


def q67_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus mixing): deterministic hash-based stratified
    sampling — per-event-type keep rates, decided by md5(key#seed) so
    any engine reproduces the exact row set (operators/sampling.py).
    Returns per-stratum sampled counts."""
    from usajobs_etl_service_spark.operators.sampling import stratified_sample

    events = _t(spark, sf_dir, "events")
    rates = {"click": 1.0, "view": 0.5, "purchase": 0.25, "signup": 0.1}
    sampled = stratified_sample(events, "event_type", rates, key_col="event_id")
    return sampled.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_sampled"))


def q68_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (training-data hygiene): PII-shape redaction. Synthetic
    contact strings derived from doc_id guarantee every pattern fires;
    the oracle runs the identical RE2-safe regexes, so the hash compare
    verifies replacement semantics end-to-end."""
    from usajobs_etl_service_spark.functions.text import redact_pii

    docs = _t(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 415-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789 ip 10.0.0."),
        (F.col("doc_id") % 255).cast("string"),
    )
    return docs.select("doc_id", redact_pii(synth).alias("redacted"))


def q69_training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data prep story as ONE lazy plan: exact dedup
    (md5 fingerprint, first-wins) -> quality + language + repetition
    gates -> benchmark decontamination (8-gram, doc_id%10 eval set) ->
    deterministic stratified sampling (per-language mixing weights) ->
    chunk stats -> per-language corpus stats. Composes the
    q40/q66/q67/q72 operators; one corpus scan feeds the gates, one
    gram explode feeds decontam, and chunk stats are closed-form
    expressions (see below)."""
    from usajobs_etl_service_spark.operators.decontam import contaminated_docs
    from usajobs_etl_service_spark.operators.dedup import dedup_first_wins
    from usajobs_etl_service_spark.operators.sampling import stratified_sample

    docs = _ts(spark, sf_dir, "documents")
    fingerprinted = docs.withColumn("fp", TX.fingerprint_md5(F.col("text")))
    deduped = dedup_first_wins(fingerprinted, ["fp"], "doc_id")
    # Repetition gate fused into the main chain (no second corpus scan)
    # behind barrier_filter: the verdict is computed once as a projected
    # column (codegen + CSE), then filtered through a nondeterministic
    # gate that Catalyst can't substitute back into the projection (no
    # shuffle — see plans/barrier.py). Filtering on the raw verdict
    # column collapses it into the Filter, which leaves codegen and
    # re-evaluates the fold/gram HOF subtrees per reference (measured
    # ~40x slower; pushed into scan DataFilters, worse still) — see
    # operators/repetition.py's landmine note.
    #
    # The cheap eval-holdout filter (doc_id % 10 != 0) runs BEFORE the
    # expensive gates: a nondeterministic barrier also blocks downstream
    # pushdown, and row-wise predicates commute, so filtering early both
    # keeps it scan-adjacent and spares the HOF verdict on the holdout.
    # curation_gate (operators/repetition.py) is the stateless
    # quality/lang/repetition composition.
    from usajobs_etl_service_spark.operators.repetition import curation_gate

    curated = curation_gate(deduped.filter(F.col("doc_id") % 10 != 0))
    # contamination is a property of the RAW text — compute the bad-id
    # set from the plain corpus so the expensive curation expressions
    # (regex features, dedup window) are never evaluated on the gram
    # explode side, only once on the final chain
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    bad = contaminated_docs(docs.filter(F.col("doc_id") % 10 != 0), bench, n=8)
    clean = curated.join(bad, "doc_id", "left_anti")
    rates = {"en": 1.0, "fr": 0.5, "de": 0.5, "es": 0.25}
    sampled = stratified_sample(clean, "lang_pred", rates, key_col="doc_id")
    # chunk STATS are a pure function of the token count (starts every
    # 24 tokens up to n - overlap, each chunk covers min(32, n - start))
    # — no explode, no join back, no second evaluation of the curation
    # subtree. The materializing chunker itself is exercised and
    # oracle-checked by q63; quality >= 0.5 guarantees n > 0 here.
    n = TX.token_count_ws(F.col("text"))
    k = (F.floor((F.greatest(n - F.lit(8), F.lit(1)) - 1) / 24) + 1).cast("long")
    chunk_tokens = F.aggregate(
        F.sequence(F.lit(0), k - 1),
        F.lit(0).cast("long"),
        lambda acc, i: acc + F.least(F.lit(32).cast("long"), n.cast("long") - 24 * i),
    )
    return (
        sampled.withColumn("n_chunks", k)
        .withColumn("chunk_tokens", chunk_tokens)
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").alias("n_chunks"),
            F.sum("chunk_tokens").alias("total_chunk_tokens"),
        )
    )


def q70_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (operators/rangejoin.py): events counted into
    overlapping 3-day promo windows — the non-equi join Spark would
    otherwise plan as a nested loop, rewritten as explode-to-bucket +
    hash equi-join + exact filter. A point can match several windows
    (windows overlap), which the naive BETWEEN join also yields."""
    from usajobs_etl_service_spark.operators.rangejoin import point_in_interval_join

    events = _t(spark, sf_dir, "events")
    epoch = F.lit("1970-01-01").cast("date")
    wins = (
        events.select(F.to_date("ts").alias("d"))
        .distinct()
        .orderBy("d")
        .limit(8)
        .select("d", F.datediff(F.col("d"), epoch).alias("s"))
        .withColumn("e", F.col("s") + 3)
    )
    pts = events.select(F.datediff(F.to_date("ts"), epoch).alias("p"))
    joined = point_in_interval_join(pts, wins, point_col="p", start_col="s", end_col="e", bin_size=3)
    return joined.groupBy(F.col("d").alias("win_start")).agg(F.count(F.lit(1)).alias("n_events"))


def q71_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frames (value-range, not row-count — the
    frame q21/q48 don't cover): per user, rolling 1-hour sum/count over
    event time, plus first/last value in the rows frame."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    wr = Window.partitionBy("user_id").orderBy(sec.cast("long")).rangeBetween(-3600, 0)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(wr), 2).alias("hour_sum"),
        F.count(F.lit(1)).over(wr).alias("hour_n"),
        F.round(F.first("value").over(wo), 3).alias("first_val"),
        F.round(
            F.last("value").over(wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
            3,
        ).alias("last_val"),
    )


def q72_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (LLM quality filtering): Gopher-style repetition rules
    per document — duplicate-token fraction, modal-token fraction,
    duplicate-2gram fraction, keep verdict. Pure array expressions, no
    shuffle (operators/repetition.py; the token mode is a fold over the
    sorted token array, not an explode+groupBy)."""
    from usajobs_etl_service_spark.operators.repetition import repetition_signals

    docs = _ts(spark, sf_dir, "documents")
    return repetition_signals(docs)


def q73_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus curation): per-source document cap — keep each
    source's top-10 docs by (n_chars desc, doc_id). Runs through the
    skew-safe salted top-k (operators/salting.py): one hot domain (half
    the web is one CDN) cannot melt a single reducer; results equal the
    plain window rank."""
    from usajobs_etl_service_spark.operators.salting import salted_topk_per_key

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return salted_topk_per_key(
        docs, ["source"], [F.col("n_chars").desc(), F.col("doc_id").asc()], k=10
    )


def q74_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus mixing): per-source token shares and
    temperature-reweighted sampling weights w_s = p_s^0.7 / sum p^0.7
    (the multilingual/source-balancing rule). Normalizers are broadcast
    scalar aggregates, NOT empty-partition windows — a global window
    would funnel every source row through one task, and 'source' at web
    scale is millions of domains."""
    docs = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count_ws(F.col("text"))).alias("n_tokens"),
    )
    total = per_src.agg(F.sum("n_tokens").alias("tot"))
    shares = per_src.crossJoin(F.broadcast(total)).withColumn(
        "p", F.col("n_tokens") / F.col("tot")
    )
    ptsum = shares.agg(F.sum(F.pow(F.col("p"), F.lit(0.7))).alias("pt_sum"))
    return (
        shares.crossJoin(F.broadcast(ptsum))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("p"), 6).alias("token_share"),
            F.round(F.pow(F.col("p"), F.lit(0.7)) / F.col("pt_sum"), 6).alias("mix_weight"),
        )
    )


def q75_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (analytics): sessionized view->click->purchase funnel.
    Sessions are 30-minute-gap islands per user (q42's semantics); a
    session converts stepwise only if each stage strictly follows the
    previous one in event time. Three stacked window passes over one
    (user) shuffle+sort; no self-joins (operators/funnel.py,
    property-tested against a Python model)."""
    from usajobs_etl_service_spark.operators.funnel import funnel_counts

    events = _t(spark, sf_dir, "events")
    return funnel_counts(
        events,
        steps=("view", "click", "purchase"),
        step_aliases=("n_view", "n_view_click", "n_full_funnel"),
    )


def q76_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promo revenue share within a shipdate year.
    The date filter prunes lineitem at the scan; part broadcasts; one
    aggregate, no row shuffle of the fact side beyond the join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q77_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: bilateral shipping volume between two nations by
    shipdate year (supplier nation -> customer nation). Dims broadcast;
    the fact side shuffles once per join key."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    # decimal-sum the revenue: double summation is order-dependent and a
    # group landed exactly on the 2dp rounding boundary at sf0.01
    return (
        pairs.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            F.round(F.sum(rev.cast("decimal(18,6)")), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .filter(F.col("n_items") >= 5)
    )


def q78_disjunctive_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped: OR-of-ANDs selective predicate across the
    lineitem x part join (brand/size/quantity bands). Exercises complex
    predicate normalization: the common part of the filter pushes to
    the scans, the residual evaluates post-join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#11") & (F.col("p_size").between(1, 15)) & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#19") & (F.col("p_size").between(10, 30)) & (F.col("l_quantity").between(10, 35)))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(20, 50)) & (F.col("l_quantity").between(20, 50)))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.filter(cond).agg(
        F.round(F.sum(rev), 2).alias("revenue"), F.count(F.lit(1)).alias("n_items")
    )


def q79_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (sketching, scale path): per-event-type approximate
    quantiles via percentile_approx (Greenwald-Khanna, mergeable
    partials — one map-side-combined aggregation pass, vs q49's exact
    percentiles which sort each group). Rows-only check (sketch
    estimates are engine-specific); error bound vs exact is asserted in
    tests/test_sketches.py."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.percentile_approx("value", 0.5, 1000), 2).alias("p50_approx"),
        F.round(F.percentile_approx("value", 0.95, 1000), 2).alias("p95_approx"),
        F.round(F.percentile_approx("value", 0.99, 1000), 2).alias("p99_approx"),
        F.count(F.lit(1)).alias("n"),
    )


def q80_adaptive_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus curation): per-source ADAPTIVE quality gate —
    keep each source's top 75% of documents by quality score
    (operators/sampling.adaptive_quality_gate; a fixed global threshold
    can't express this when sources differ in baseline quality).

    This oracle entry runs the EXACT (cume_dist window) mode because its
    SQL-standard tie handling is what DuckDB can reproduce row-for-row.
    **Production at scale uses ``approx=True``** — the per-group window
    sort here is exactly what a dominant source would melt at 100 TB;
    the approx mode (percentile_approx threshold + null-safe broadcast
    join, plan-asserted shuffle-sort-free in tests/test_sampling.py)
    is the deployed shape and is benched as q81_adaptive_quality_approx.
    Returns per-source keep stats (count + min kept quality —
    order-insensitive aggregates only, so the DuckDB hash-compare is
    float-stable)."""
    from usajobs_etl_service_spark.operators.sampling import adaptive_quality_gate

    docs = _t(spark, sf_dir, "documents").withColumn("quality", TX.quality_score(F.col("text")))
    kept = adaptive_quality_gate(docs, group_col="source", score_col="quality", keep_frac=0.75)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("quality").alias("min_kept_quality"),
    )


def q81_adaptive_quality_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q80's PRODUCTION mode: the same per-source quality gate with
    ``approx=True`` — one percentile_approx aggregation (GK sketch,
    mergeable partials) + a null-safe broadcast threshold join, no
    per-group sort anywhere (plan-asserted in tests/test_sampling.py).
    Thresholds are estimated from a 10% deterministic hash sample
    (threshold_sample): the quality expression is the dominant scan
    cost, and without sampling the approx mode pays it twice (threshold
    agg + gating filter) — ~2x the exact mode at bench sf even though
    its shape wins at scale. Sampling cuts the threshold pass to ~scan
    cost; the estimate tightens exactly where this mode matters (large
    groups). Rows-only check: the sketch/sample threshold is
    engine-specific, so no DuckDB oracle; exact-vs-approx agreement is
    pinned by tests/test_sampling.py instead. Benched so the 100 TB
    path's cost is tracked next to the exact oracle mode (VERDICT r4
    item 2)."""
    from usajobs_etl_service_spark.operators.sampling import adaptive_quality_gate

    docs = _t(spark, sf_dir, "documents").withColumn("quality", TX.quality_score(F.col("text")))
    kept = adaptive_quality_gate(
        docs, group_col="source", score_col="quality", keep_frac=0.75, approx=True,
        threshold_sample=0.1, sample_key_col="doc_id",
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("quality").alias("min_kept_quality"),
    )


def q82_embedding_srp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (near-dup, embeddings, LABEL-FREE): banded
    sign-random-projection LSH candidates + exact-cosine verify
    (operators/neardup.embedding_srp_near_dup_pairs) — the blocking
    q22 gets from its label column, synthesized from the vectors
    themselves when no such attribute exists. Workload: the embeddings
    table unioned with a positively-scaled copy of itself (vec_id +
    10000000, x1.5; the offset clears any corpus with < 10M ids — asserted below) — scaling preserves every hyperplane sign, so each
    (original, copy) pair collides in ALL bands and LSH recall on the
    planted pairs is exactly 1.0, which is what makes this
    ORACLE-CHECKABLE: the LSH output provably equals the exact
    all-pairs cosine filter on this construction (random 64-dim pairs
    sit ~8 sigma below the 0.95 threshold). Precision needs no
    argument — the verify stage IS exact cosine.

    PRECONDITION for the oracle-equality claim: no (band, key) bucket
    exceeds ``max_bucket`` (default 1000) — a saturated bucket's pairs
    are dropped wholesale, planted pairs included. The operator now
    AUTO-SCALES its code width to the corpus (expected occupancy
    ~target_bucket, so saturation needs a ~250x-over-expectation hot
    bucket) and counts any drop via ``observe`` metrics;
    tests/test_oracle_parity.py asserts the counters are zero here.

    The auto-width's corpus size is threaded via ``n_rows_hint`` from
    the parquet FOOTER (2x the embeddings row count — the workload is
    the table plus one planted copy), so the operator's fallback
    ``df.count()`` pass over union+transform never runs (VERDICT r6
    #3: the registry query paid a full count every invocation)."""
    from usajobs_etl_service_spark.operators.neardup import embedding_srp_near_dup_pairs
    from usajobs_etl_service_spark.session import parquet_row_count

    emb = _ts(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.select(
        (F.col("vec_id") + 10000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    return embedding_srp_near_dup_pairs(
        emb.unionByName(planted),
        threshold=0.95,
        n_rows_hint=2 * parquet_row_count(sf_dir, "embeddings"),
    )


def q83_minhash_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (near-dup, ORACLE-ANCHORED MinHash+LSH — the q82
    playbook applied to q24's family): MinHash-LSH candidate
    generation (operators/neardup.minhash_near_dup_pairs) followed by
    an EXACT n-gram Jaccard verify (ngram_jaccard_pairs) at J = 1.0,
    over the documents table unioned with planted exact copies
    (doc_id + 10000000, identical text).

    Why this is provably oracle-equal, making the approximate family's
    candidate generator checkable against DuckDB:
    - Verify n = signature shingle_k = 5, over the same tokenizer: a
      pair has 5-gram Jaccard 1.0 iff its distinct shingle SETS are
      equal, which forces IDENTICAL MinHash signatures (each lane is a
      min over the same set), hence equal keys in EVERY band -> the
      pair shares a bucket and survives candidate generation. Recall
      on the J=1.0 population is therefore exactly 1.0 — candidates
      est_jaccard = 1.0 >= any threshold.
    - Precision is the exact verify itself: |A∩B| = |A∪B| iff A = B.
    - Oracle: gram-SET-equality self-join in DuckDB (an equi-join on
      the sorted distinct gram list — no all-pairs Jaccard needed).
    PRECONDITION (same as q82): no bucket saturates ``max_bucket``;
    planted copies only double bucket occupancy (dup groups in the
    test corpora are <= 2 docs), and the drop counters — asserted zero
    in tests/test_oracle_parity.py — make any violation loud. Gram
    hashing (xxhash64) is retained from the scale path; a hash
    collision merging two distinct grams has p ~ 1e-13 per corpus."""
    from usajobs_etl_service_spark.operators.neardup import (
        minhash_near_dup_pairs, ngram_jaccard_pairs,
    )

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select((F.col("doc_id") + 10000000).alias("doc_id"), "text")
    u = docs.unionByName(planted)
    cand = minhash_near_dup_pairs(
        u, threshold=0.9, num_hashes=64, bands=16
    ).select("id_a", "id_b")
    return (
        ngram_jaccard_pairs(u, cand, n=5)
        .filter(F.col("jaccard") == F.lit(1.0))
        .select("id_a", "id_b", "jaccard")
    )


def q84_simhash_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (near-dup, ORACLE-ANCHORED SimHash — q25's family):
    banded SimHash candidates at Hamming 0 + an EXACT verify on
    normalized-text equality, over documents unioned with planted
    exact copies (doc_id + 10000000).

    Equal normalized text -> equal token multiset -> identical 64-bit
    SimHash -> equal 16-bit keys in all 4 bands -> the pair shares a
    bucket: candidate recall on the equal-text population is exactly
    1.0, and the text-equality verify gives precision 1.0, so the
    output provably equals DuckDB's text-equality self-join.
    PRECONDITION: no band bucket saturates ``max_bucket`` (raised here
    to 4000 — SimHash band keys concentrate more than MinHash's 64-bit
    keys because the 30-word test vocabulary correlates signatures);
    drop counters asserted zero in tests/test_oracle_parity.py."""
    from usajobs_etl_service_spark.functions.text import normalized_text
    from usajobs_etl_service_spark.operators.neardup import simhash_near_dup_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.select((F.col("doc_id") + 10000000).alias("doc_id"), "text")
    u = docs.unionByName(planted)
    cand = simhash_near_dup_pairs(u, max_hamming=0, max_bucket=4000).select("id_a", "id_b")
    nt = u.select(F.col("doc_id"), normalized_text(F.col("text")).alias("nt"))
    return (
        cand.join(nt.select(F.col("doc_id").alias("id_a"), F.col("nt").alias("nt_a")), "id_a")
        .join(nt.select(F.col("doc_id").alias("id_b"), F.col("nt").alias("nt_b")), "id_b")
        .filter(F.col("nt_a") == F.col("nt_b"))
        .select("id_a", "id_b")
    )


def q85_quality_gate_exact_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q81's sampled/approx adaptive-quality gate run in its PROVABLY
    EXACT regime, which makes the production code path
    (hash_sample -> percentile_approx threshold -> null-safe broadcast
    threshold join; the identical plan shape q81 deploys) DuckDB-
    oracle-checkable:
    - ``threshold_sample=1.0``: the md5 hash sample keeps every row
      (sample_key < 1.0 always), so the sample IS the population.
    - GK exact regime: percentile_approx with accuracy (10000) >= the
      largest group (~250 rows/source at sf0.1, ~2500 at the 10x
      smoke) retains every value and returns the exact discrete
      quantile — measured equal to DuckDB ``quantile_disc`` across
      group sizes (rank = ceil(q * n) on the sorted multiset).
    The oracle is quantile_disc(quality, 0.25) per source + a
    score >= threshold filter. Same keep-stats output shape as
    q80/q81 (order-insensitive aggregates, float-stable compare)."""
    from usajobs_etl_service_spark.operators.sampling import adaptive_quality_gate

    docs = _ts(spark, sf_dir, "documents").withColumn("quality", TX.quality_score(F.col("text")))
    kept = adaptive_quality_gate(
        docs, group_col="source", score_col="quality", keep_frac=0.75, approx=True,
        threshold_sample=1.0, sample_key_col="doc_id",
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("quality").alias("min_kept_quality"),
    )


def q86_multimodal_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q45's multimodal family ORACLE-ANCHORED (the q85 exact-regime
    playbook): the SAME distributed decode path q45 runs — binary
    media column -> repartition(media_id) -> mapInPandas Arrow batches
    -> fake codec (operators/multimodal.extract_image_features) — over
    media whose content bytes are ASCII ("42:{i}",
    synth_media(content_mode="ascii")). The codec's geometry is pure
    digest arithmetic (h = 8 + sha256(content)[8] % 8, w = 8 +
    digest[9] % 8, multimodal.py:75-79), and with ASCII content DuckDB's
    ``sha256(VARCHAR)`` hashes the identical bytes — so an independent
    engine recomputes width/height/n_pixels value-for-value. The float
    pixel stats (numpy PCG draws) stay OUT of the oracle surface; the
    claim being checked is that the Spark-side plumbing — binary
    columns, partitioning, Arrow batch shape, UDF signature, the
    decode dispatch — delivers every row exactly once with the right
    bytes. q45 (opaque digest content, full feature row) remains the
    production-shaped rows-only entry."""
    from usajobs_etl_service_spark.operators.multimodal import extract_image_features, synth_media

    media = synth_media(spark, n=30, content_mode="ascii")
    return extract_image_features(media).select("media_id", "width", "height", "n_pixels")


def q87_hll_exact_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q35's HLL family in its CHECKABLE small-cardinality regime:
    ``approx_count_distinct`` (HyperLogLog++, mergeable register
    partials — the one-pass 100 TB shape) over two ~5-distinct columns,
    where the estimator is in linear counting (estimate =
    m*ln(m/V_empty), m = 512 registers at the default rsd 0.05) and
    returns the EXACT count whenever (i) no two distinct values hash
    to the same register — deterministic for a fixed corpus + Spark's
    fixed hash family, and violated here only for ~20+ distinct values
    (documents.source measures 19 vs 20) — and (ii) the linear-counting
    bias k^2/2m stays under the 0.5 rounding boundary (k <= ~22 at
    m = 512). Both columns sit at k = 5, far inside the regime; the
    oracle is plain exact COUNT(DISTINCT). q35 (exact-vs-approx on a
    150k-distinct key, error-bound-tested) remains the production-
    shaped rows-only entry."""
    docs = _t(spark, sf_dir, "documents")
    events = _t(spark, sf_dir, "events")
    a = docs.agg(F.approx_count_distinct("lang").alias("n_distinct")).select(
        F.lit("doc_langs").alias("metric"), "n_distinct"
    )
    b = events.agg(F.approx_count_distinct("event_type").alias("n_distinct")).select(
        F.lit("event_types").alias("metric"), "n_distinct"
    )
    return a.unionByName(b)


def q88_quantile_sketch_exact_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q79's GK-sketch family run in its PROVABLY EXACT regime (the
    q85 argument applied to the sketch directly): ``percentile_approx``
    with accuracy (100000) >= every group's row count (events/5 types:
    ~200 rows at sf0.001, ~2k at sf0.01, ~20k at sf0.1) retains enough
    of the multiset that the returned DISCRETE quantile (an actual data
    value) equals DuckDB ``quantile_disc`` (rank = ceil(q*n)) — measured
    equal across group sizes in q85's validation. Same plan shape as
    q79 (ONE map-side-combined aggregation pass, mergeable partials, no
    per-group sort); only the accuracy knob moves. q79 (accuracy 1000,
    the bounded-memory production setting) remains the rows-only entry
    with error-bound tests."""
    events = _t(spark, sf_dir, "events")
    acc = 100_000
    return events.groupBy("event_type").agg(
        F.round(F.percentile_approx("value", 0.5, acc), 2).alias("p50"),
        F.round(F.percentile_approx("value", 0.95, acc), 2).alias("p95"),
        F.round(F.percentile_approx("value", 0.99, acc), 2).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def q89_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (SemDeDup, Abbas et al. 2023): k-means-blocked
    embedding dedup — cluster, exact-cosine verify within cluster,
    drop every id that has a smaller same-cluster duplicate
    (operators/semdedup.semantic_dedup_drops). Same planted
    construction as q82 (positively-scaled copies at vec_id + 10M):
    scaling preserves direction, and cluster assignment scores the
    L2-NORMALIZED vector with 6-decimal score snapping — norm-invariant
    AND stable against near-identical sampled centroids (a duplicate
    pair can itself be sampled as two centroids; raw floating-point
    argmax measurably splits such pairs) — so each (original, copy)
    pair provably lands in ONE cluster and recall on the planted
    population is exactly 1.0; precision is the exact-cosine verify. Random 64-dim pairs sit
    ~8 sigma below the 0.95 threshold, so the drop set provably equals
    DuckDB's clustering-free all-pairs answer: every copy id dropped,
    kept_id = its original, max_cos = 1.0.

    The cluster count AUTO-SCALES with the corpus
    (semdedup.auto_n_clusters: constant ~200 expected occupancy — the
    lesson q82 taught about fixed code widths, applied on day one); at
    the oracle scale factors the derived codebook stays under
    LITERAL_CODEBOOK_MAX, so the provable literal-argmax path runs.
    PRECONDITION (cap discipline, as q82): no cluster exceeds
    ``max_cluster`` (10000, vs ~200 expected occupancy), and the
    observe() counters asserted zero in tests/test_oracle_parity.py
    make any violation loud."""
    from usajobs_etl_service_spark.operators.semdedup import semantic_dedup_drops
    from usajobs_etl_service_spark.session import parquet_row_count

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.select(
        (F.col("vec_id") + 10000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.5)).alias("embedding"),
    )
    return semantic_dedup_drops(
        emb.unionByName(planted),
        threshold=0.95,
        # union cardinality is knowable from the parquet footer — skips
        # the auto_n_clusters count() pass (same contract as q82's hint)
        n_rows_hint=2 * parquet_row_count(sf_dir, "embeddings"),
    )


def q90_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (cross-doc duplicated substrings, Lee et al. 2022):
    maximal spans of word 8-grams occurring in >= 2 distinct documents
    (operators/substring_dedup.duplicated_spans) — positional n-gram
    fingerprints, one gram-key shuffle, gaps-and-islands window merge.
    The documents table carries real planted duplication (near-dup
    copies share their whole base text; exact copies everything), so
    no synthetic construction is needed. Oracle: the same definition
    in DuckDB over gram STRINGS (the engine carries xxhash64
    fingerprints — equality up to a ~1e-13 collision, the q83
    argument)."""
    from usajobs_etl_service_spark.operators.substring_dedup import duplicated_spans

    docs = _ts(spark, sf_dir, "documents").select("doc_id", "text")
    return duplicated_spans(docs, n=8)


def q91_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (ranked retrieval): BM25 scores for the 3-term query
    {spark, window, merge} over the documents corpus
    (operators/retrieval.bm25_scores) — the ranked upgrade of q51's
    boolean inverted-index search. Per-query work shuffles only the
    queried terms' postings (isin filter inside the explode stage); doc
    lengths are one corpus aggregate (at 100 TB: a precomputed
    doc_stats table); df/N/avgdl ride as broadcasts. Scores round to 6
    before compare; the oracle repeats the identical float expression
    shape."""
    from usajobs_etl_service_spark.operators.retrieval import bm25_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_scores(docs, ["spark", "window", "merge"])


def q92_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (quality gate): per-document unigram-LM surprisal in
    nats/token (operators/retrieval.unigram_lm_scores) — the CCNet-
    style perplexity-proxy curation score, computed from the corpus's
    own unigram distribution. Joins per-(doc, term) tf rows (not token
    instances) against the open-vocabulary unigram table (no broadcast
    hint — AQE decides); the token total is a broadcast scalar."""
    from usajobs_etl_service_spark.operators.retrieval import unigram_lm_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_lm_scores(docs)


def q93_fuzzy_edit_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (fuzzy near-dup): blocked Levenshtein dedup
    (operators/neardup.edit_distance_near_dup_pairs) — record-linkage-
    style fuzzy matching on a 40-char normalized prefix key, blocked on
    the first three tokens, threshold 2 edits. The corpus is the
    documents table unioned with planted single-edit copies
    (doc_id + 10000000, char 38 of the trimmed text overwritten with
    'z' — inside the key, beyond the first three tokens, so every
    plant co-blocks with its original at distance <= 1). Levenshtein
    runs in the THRESHOLDED 3-arg form (banded, early-exit: O(d*n) not
    O(n^2) per pair). Blocking semantics are part of the contract (as
    q22): the oracle replicates the identical blocks, so equality is
    exact."""
    from usajobs_etl_service_spark.operators.neardup import edit_distance_near_dup_pairs

    # ASCII regime pin (fuzz-sweep find): Levenshtein UNITS diverge
    # across engines on non-ASCII text (JVM UTF-16 code units vs
    # DuckDB codepoints/bytes — an emoji edit costs 1 vs 2), so the
    # oracle-checked contract restricts to octet_length == length
    # (byte count == char count <=> pure ASCII, in both engines)
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.octet_length("text") == F.length("text"))
        .select("doc_id", F.trim("text").alias("t"))
    )
    planted = docs.select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(
            F.substring("t", 1, 37), F.lit("z"), F.expr("substring(t, 39)")
        ).alias("t"),
    )
    u = docs.unionByName(planted)
    return edit_distance_near_dup_pairs(
        u,
        key_col=F.substring("t", 1, 40),
        block_cols=[
            F.split_part(F.col("t"), F.lit(" "), F.lit(1)),
            F.split_part(F.col("t"), F.lit(" "), F.lit(2)),
            F.split_part(F.col("t"), F.lit(" "), F.lit(3)),
        ],
        max_dist=2,
    )


def q94_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (dataset assembly): deterministic hash-based
    train/val/test split — the sample_key uniform (sampling.py, engine-
    reproducible md5) thresholded at 0.9/0.95, audited as per-
    (lang, source, split) counts + char volume. Split membership is a
    pure function of doc_id: stable under repartitioning, re-runs, and
    engines (the DuckDB oracle derives identical assignments)."""
    from usajobs_etl_service_spark.operators.sampling import sample_key

    docs = _t(spark, sf_dir, "documents")
    u = sample_key(F.col("doc_id"), seed=7)
    split = (
        F.when(u < 0.9, "train").when(u < 0.95, "val").otherwise("test").alias("split")
    )
    return (
        docs.select("lang", "source", split, "n_chars")
        .groupBy("lang", "source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars"))
    )


def q95_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (vocabulary induction): top-50 adjacent-bigram
    collocations by PMI with min count 20
    (operators/retrieval.pmi_collocations) — the merge-candidate
    statistic of BPE-style tokenizer training. Bigram extraction is
    expression-only (token array zipped against its own tail — no
    posexplode self-join); ranking rounds before ordering so cross-
    engine float ties break identically."""
    from usajobs_etl_service_spark.operators.retrieval import pmi_collocations

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_collocations(docs, min_count=20, top_k=50)


def q96_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus diagnostics): least-squares Zipf fit —
    regr_slope/regr_intercept of ln(freq) ~ ln(rank) over terms with
    count >= 5 (operators/retrieval.zipf_fit). One open-vocabulary term
    aggregate, one bounded rank window, one scalar regression
    aggregate; a one-row corpus health check (natural text: slope near
    -1)."""
    from usajobs_etl_service_spark.operators.retrieval import zipf_fit

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return zipf_fit(docs, min_count=5)


def q97_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (mergeable sketches): per-source DataSketches-HLL
    distinct-lang sketches plus their register-wise UNION
    (operators/stats.sketch_distinct_by_group) — the storable/mergeable
    partial that q87's approx_count_distinct regime lacks: the 'ALL'
    row is computed by merging the 19 per-source sketches, never by
    re-scanning the raw column. Exact regime (q87's argument, one
    level stronger): lang cardinality is 5, so every sketch sits in
    DataSketches' exact coupon mode and union-of-exact is exact —
    the oracle is plain COUNT(DISTINCT) per source UNION ALL global."""
    from usajobs_etl_service_spark.operators.stats import sketch_distinct_by_group

    docs = _t(spark, sf_dir, "documents")
    return sketch_distinct_by_group(docs, "source", "lang")


def q98_pq_adc_exact_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (compressed-vector ANN, ORACLE-ANCHORED product
    quantization — Jegou et al. 2011): PQ encode + ADC top-50 probe
    (operators/pq.py) in its lossless exact regime. The corpus is the
    embeddings table mapped to SIGN vectors (x >= 0 -> +1.0 else -1.0):
    each 4-dim subspace then has at most 2^4 = 16 distinct subvectors,
    so pq_train_distinct's codebooks contain EVERY occurring subvector,
    encoding is lossless, and the ADC sum equals the true squared L2
    distance exactly (all quantities are small integers, exact in
    doubles). The oracle is DuckDB's direct 128 - 2*inner_product
    identity for +-1 vectors, ordered (dist, vec_id) LIMIT 50 — the
    same deterministic tiebreak as the engine's TakeOrdered. The
    production path (pq_train_kmeans + pq_search_rerank, approximate
    by construction) is recall-floor-tested in tests/test_pq.py."""
    from usajobs_etl_service_spark.operators.pq import pq_adc_topk, pq_encode, pq_train_distinct

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding").cast("array<double>"),
                    lambda x: F.when(x >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))).alias("embedding"),
    )
    # the sign transform above is elementwise, so the query row can be
    # read from parquet on the driver and sign-mapped in Python: the
    # same (x >= 0 -> 1.0, else/NULL/NaN -> -1.0) verdict per element
    from usajobs_etl_service_spark.session import parquet_lookup_value

    _raw0 = parquet_lookup_value(sf_dir, "embeddings", "vec_id", 0, "embedding")
    if _raw0 is None:
        q0 = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    else:
        q0 = [1.0 if (x is not None and float(x) >= 0) else -1.0 for x in _raw0]
    data = emb.filter(F.col("vec_id") != 0)
    books = pq_train_distinct(data, m=16)
    codes = pq_encode(data, books)
    return pq_adc_topk(codes, [float(x) for x in q0], books, k=50)


def q99_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (time series): hourly per-user resample with gap
    filling (operators/timeseries.resample_gapfill) — a dense bucket
    spine per user (sequence+explode, executor-side), event counts with
    0-filled gaps, and forward-filled last observed value. Every stage
    partitions on the user (or user+bucket) key; the spine is bounded
    by the one-month event range (~720 buckets/user)."""
    from usajobs_etl_service_spark.operators.timeseries import resample_gapfill

    events = _t(spark, sf_dir, "events")
    out = resample_gapfill(events, bucket="hour")
    return out.select(
        "user_id",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "n_events",
        "value_ff",
    )


def q100_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (warehouse modeling): SCD2 change intervals of each
    user's event_type over time (operators/timeseries.scd2_intervals) —
    lag marks change points, lead closes intervals; two window passes
    over one (user) hash partition; the open current interval keeps a
    NULL valid_to."""
    from usajobs_etl_service_spark.operators.timeseries import scd2_intervals

    events = _t(spark, sf_dir, "events")
    out = scd2_intervals(events)
    return out.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", TS_FMT_US).alias("valid_from"),
        F.date_format("valid_to", TS_FMT_US).alias("valid_to"),
    )


def q101_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (data quality): long-form profile of the documents
    table (operators/profiling.profile) — null/distinct/moment metrics
    per column in ONE aggregate pass (wide agg then stack; the
    multi-distinct plans via Expand — at 100 TB exact_distinct=False
    swaps in approx_count_distinct and the pass becomes plain mergeable
    partials). Profiles are the store-and-diff artifact for drift
    detection between pipeline runs."""
    from usajobs_etl_service_spark.operators.profiling import profile

    docs = _t(spark, sf_dir, "documents")
    return profile(
        docs,
        numeric_cols=["doc_id", "n_chars"],
        string_cols=["lang", "source", "text"],
    )


def q102_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (data quality): per-user z-score outliers on event
    values (operators/profiling.zscore_anomalies) — events more than 3
    sample standard deviations from their user's mean. One per-entity
    aggregate + an equi-join back (AQE broadcasts the 150-row stats
    side); zero-variance entities guarded."""
    from usajobs_etl_service_spark.operators.profiling import zscore_anomalies

    events = _t(spark, sf_dir, "events")
    return zscore_anomalies(events, threshold=3.0)


def q103_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped: returned-item revenue per customer — 4-way
    join (fact filtered before the join; customer and nation dims
    broadcast), grouped float revenue, top-20 via TakeOrdered with a
    custkey tiebreak."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01")) & (F.col("o_orderdate") < F.lit("1997-10-01"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q104_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: customers with orders totalling >= 250 units —
    a HAVING-filtered fact aggregate (partial map-side combine, then
    the tiny survivor set joins orders/customer with the survivors
    broadcast), ordered by totalprice."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") >= 250)
    )
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


def q105_textrank_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (graph / text analysis): TextRank keyword extraction —
    3 fixed PageRank power-method iterations over the symmetrized
    adjacent-token co-occurrence graph (operators/graphrank.py; the
    iterative-algorithm family next to q64's connected components).
    The oracle replays the SAME 3 iterations as chained CTEs with the
    identical float expression shape; rank rounds before ordering."""
    from usajobs_etl_service_spark.operators.graphrank import textrank_terms

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return textrank_terms(docs, min_cooccur=10, n_iter=3, top_k=20)


def q106_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus mixing): weighted sampling WITHOUT replacement
    — Efraimidis-Spirakis A-ES keys (ln(u)/w with the engine-
    reproducible md5 uniform from sampling.sample_key, w = n_chars, so
    longer documents are proportionally likelier) ranked per language
    through the skew-safe salted top-k (operators/salting.py: one hot
    language cannot melt a single reducer). Keys round to 9 before
    ranking so cross-engine float ties break identically via doc_id."""
    from usajobs_etl_service_spark.operators.salting import salted_topk_per_key
    from usajobs_etl_service_spark.operators.sampling import sample_key

    # A-ES requires w > 0: zero-length (and NULL-length) documents are
    # unsampleable by definition, and ln(u)/0 would abort under ANSI —
    # the predicate excludes them identically in both engines
    # (fuzz-sweep find: the fixed SFs carry no empty documents)
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("n_chars") > 0)
    )
    keyed = docs.withColumn(
        "es_key",
        F.round(
            F.log(sample_key(F.col("doc_id"), seed=11)) / F.col("n_chars").cast("double"), 9
        ),
    )
    return salted_topk_per_key(
        keyed, ["lang"], [F.col("es_key").desc(), F.col("doc_id").asc()], k=20
    ).select("lang", "doc_id", "n_chars", "es_key")


def q107_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (analytics): weekly cohort RETENTION RATES — q56's
    daily active-count matrix upgraded to the report analysts actually
    read: weekly cohorts, per-(cohort_week, week_offset) distinct
    returning users, and the share of the cohort they represent
    (cohort-size join + ratio). Two aggregates + one join; day
    arithmetic via date_diff so both engines bucket identically."""
    events = _t(spark, sf_dir, "events")
    ev = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct()
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    joined = ev.join(first, "user_id").select(
        "user_id",
        "cohort_wk",
        (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7).cast("int").alias("week_offset"),
    )
    counts = joined.groupBy("cohort_wk", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    sizes = first.groupBy("cohort_wk").agg(F.countDistinct("user_id").alias("cohort_size"))
    return (
        counts.join(sizes, "cohort_wk")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_users",
            "cohort_size",
            F.round(F.col("n_users") / F.col("cohort_size"), 4).alias("retention"),
        )
    )


def q108_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (reconciliation): keyed diff of two orders snapshots
    (operators/snapshot_diff.py) — the q16 merge batch replayed as a
    new version (updates on key%10, inserts at key+10M, deletes on
    key%7==3), diffed against the base: added/removed/changed with old
    and new values, null-safe change detection, one full outer join
    sized to the churn."""
    from usajobs_etl_service_spark.operators.snapshot_diff import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    new = (
        orders.filter(F.col("o_orderkey") % 7 != 3)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 10 == 0, F.col("o_totalprice") + 1000).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 100 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderpriority",
            )
        )
    )
    return snapshot_diff(
        orders, new, key_col="o_orderkey", compare_cols=["o_totalprice", "o_orderpriority"]
    )


def q109_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (profiling): equi-width histogram of event values per
    event type (operators/profiling.histogram) — floor bucketing as a
    pure expression + ONE aggregate."""
    from usajobs_etl_service_spark.operators.profiling import histogram

    events = _t(spark, sf_dir, "events")
    return histogram(events, value_col="value", width=50.0, group_cols=["event_type"])


def q110_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (OLAP surface, completes q29's ROLLUP): CUBE over
    (lang, source) with doc counts + char volume and an explicit
    grouping id so every aggregation level is distinguishable from
    genuine NULL dimension values."""
    docs = _t(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )


def q111_grouped_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface breadth (LISTAGG/string_agg): per language, the
    DETERMINISTICALLY ordered comma list of distinct sources + count.
    Spark has no ordered string_agg — the engine shape is
    array_join(array_sort(collect_set)) which is partition-order-
    independent by construction (collect order never matters)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        F.countDistinct("source").alias("n_sources"),
    )


def q112_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (behavioral analytics): top-15 within-session
    event-type paths (operators/funnel.session_paths) — q42's session
    islands + an ordered path string built by sorting collected
    (ts, event_id, type) structs (explicit order key, no ordered-window
    collect), then one path-count aggregate."""
    from usajobs_etl_service_spark.operators.funnel import session_paths

    events = _t(spark, sf_dir, "events")
    return session_paths(events, gap_seconds=1800, top_k=15)


def q113_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (behavioral analytics): within-session Markov
    transition matrix — P(next event_type | current), lead over the
    (user, session) ordering (one user shuffle, reusing
    funnel.assign_sessions), transition counts, and row-normalized
    probabilities via a per-source count join."""
    from usajobs_etl_service_spark.operators.funnel import assign_sessions

    events = _t(spark, sf_dir, "events")
    sess = assign_sessions(events, gap_seconds=1800, keep_cols=["event_type"])
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    pairs = (
        sess.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return pairs.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("row_total"), 4).alias("p"),
    )


def q114_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (collaborative-filtering shape): item-item similarity —
    for each event-type pair, the Jaccard of their user sets (distinct
    (item, user) table self-joined on user, intersection counts vs
    broadcast per-item user counts). The equi-join-on-user shape is the
    one that scales: candidate pairs come only from co-occurrence,
    never an item cross product."""
    events = _t(spark, sf_dir, "events")
    iu = events.select(F.col("event_type").alias("item"), "user_id").distinct()
    sizes = iu.groupBy("item").agg(F.count(F.lit(1)).alias("nu"))
    a = iu.withColumnRenamed("item", "item_a")
    b = iu.withColumnRenamed("item", "item_b")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("item").alias("item_a"), F.col("nu").alias("nu_a"))
    sb = sizes.select(F.col("item").alias("item_b"), F.col("nu").alias("nu_b"))
    return (
        inter.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .select(
            "item_a",
            "item_b",
            "n_both",
            F.round(
                F.col("n_both") / (F.col("nu_a") + F.col("nu_b") - F.col("n_both")), 4
            ).alias("jaccard"),
        )
    )


def q115_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (behavioral analytics): time-to-convert distribution —
    per funnel transition (q75's stepwise sessions), the count of
    converting sessions and EXACT interpolated p50/p90 of the
    microsecond latency (Spark `percentile` == DuckDB `quantile_cont`,
    verified bit-identical on interpolated values; microsecond integers
    keep both engines' inputs exactly equal). Exact percentile sorts
    only the converting-session latencies — a set already reduced by
    the funnel, not the event table."""
    from usajobs_etl_service_spark.operators.funnel import funnel_sessions

    events = _t(spark, sf_dir, "events")
    fs = funnel_sessions(events, steps=("view", "click", "purchase"))

    def stage(name: str, a: str, b: str) -> DataFrame:
        us = F.expr(f"timestampdiff(MICROSECOND, {a}, {b})")
        return (
            fs.filter(F.col(b).isNotNull())
            .select(us.alias("us"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.expr("percentile(us, 0.5)"), 4).alias("p50_us"),
                F.round(F.expr("percentile(us, 0.9)"), 4).alias("p90_us"),
            )
            .select(F.lit(name).alias("transition"), "n", "p50_us", "p90_us")
        )

    return stage("view_to_click", "t_0", "t_1").unionByName(
        stage("click_to_purchase", "t_1", "t_2")
    )


def q116_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (data quality): referential-integrity audit — orphan
    counts across the star schema's FK edges (lineitem->orders,
    orders->customer, customer->nation, supplier->nation) as one
    UNION-ed metric table. Each check is a left_anti join on the FK
    (dims broadcast where bounded); counts are the artifact a pipeline
    alerts on."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")

    def check(name: str, child: DataFrame, ck: str, parent: DataFrame, pk: str) -> DataFrame:
        orphans = child.join(parent, child[ck] == parent[pk], "left_anti")
        return orphans.agg(F.count(F.lit(1)).alias("n_orphans")).select(
            F.lit(name).alias("fk_edge"), "n_orphans"
        )

    return (
        check("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(check("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey"))
        .unionByName(check("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey"))
        .unionByName(check("supplier.s_nationkey->nation", supp, "s_nationkey", nation, "n_nationkey"))
    )


def q117_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (interval analytics): daily peak concurrent sessions —
    gap-based sessions (q42's islands) reduced to [first,last] intervals,
    then a sweep-line running sum split into per-day windows plus a
    broadcast carry-in so no window ever sees more than a day's
    endpoints in one partition (operators/sweepline.py). Closed
    intervals: a session ending the instant another starts overlaps."""
    from usajobs_etl_service_spark.operators.funnel import assign_sessions
    from usajobs_etl_service_spark.operators.sweepline import daily_peak_concurrency

    events = _t(spark, sf_dir, "events")
    sessions = (
        assign_sessions(events)
        .groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    peaks = daily_peak_concurrency(sessions)
    return peaks.select(
        F.col("bucket").alias("day"), "peak", "n_starts"
    ).orderBy("day")


def q118_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (§2.11 corpus statistics): exact heavy-hitter tokens —
    Misra-Gries bounded-memory candidate pass (no shuffle, O(k) state
    per partition) + broadcast-semi-join exact verify
    (operators/heavyhitters.py). The MG absence bound makes the final
    thresholded answer provably exact, so the oracle is a plain
    GROUP BY/HAVING over all tokens."""
    from usajobs_etl_service_spark.operators.heavyhitters import heavy_hitters_exact

    docs = _t(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters_exact(tokens, "token", phi=0.002).withColumnRenamed(
        "item", "token"
    )


def q119_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (distribution profiling): per-day Shannon entropy of the
    event-type mix — two chained aggregates (day,type) then (day), all
    expression-side; the natural drift alarm over a categorical column.
    Integer counts keep p = n/total bit-identical across engines."""
    events = _t(spark, sf_dir, "events")
    counts = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w_tot = counts.groupBy("day").agg(F.sum("n").alias("total"))
    p = F.col("n") / F.col("total")
    return (
        counts.join(F.broadcast(w_tot), "day")
        .groupBy("day")
        .agg(
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy_nats"),
            F.count(F.lit(1)).alias("n_types"),
        )
    )


def q120_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q17 shape): average yearly revenue lost to
    small orders — per-part 20%-of-average quantity threshold as a
    grouped aggregate joined back (the decorrelated form Catalyst would
    produce for the correlated subquery), brand dim filter broadcast.
    Integral quantities make the threshold bit-identical to DuckDB's."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    li_b = li.join(F.broadcast(brand_parts), li["l_partkey"] == F.col("p_partkey")).drop(
        "p_partkey"
    )
    thresh = li_b.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li_b.join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q121_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q22 shape): high-balance customers with no order
    in the trailing 180 days (anchor = data-derived max order date),
    grouped by nation — scalar positive-balance average via broadcast
    cross join (stays in-plan, no collect), dormancy via left_anti join
    on the date-pruned recent-orders slice."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max(F.to_date("o_orderdate")).alias("anchor"))
    recent = (
        orders.crossJoin(F.broadcast(anchor))
        .filter(F.to_date("o_orderdate") >= F.date_sub(F.col("anchor"), 180))
        .select("o_custkey")
        .distinct()
    )
    avg_pos = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust["c_custkey"] == recent["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


def q122_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (inequality / concentration profiling): Gini
    coefficient of per-customer revenue via the rank formula
    G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over ascending-sorted x.
    The global rank comes from operators/distributed_order.py (range-
    partitioned parallel ranks + broadcast offsets — no single-task
    sort). Tied revenues co-locate, and sum(rank*x) is invariant to
    tie order, so the statistic is exact."""
    from usajobs_etl_service_spark.operators.distributed_order import global_row_number

    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("revenue"))
    ranked = global_row_number(
        rev, [F.col("revenue").asc(), F.col("o_custkey").asc()], out_col="rn"
    )
    n = F.count(F.lit(1))
    return ranked.agg(
        F.round(
            (F.lit(2.0) * F.sum(F.col("rn") * F.col("revenue")))
            / (n * F.sum("revenue"))
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
        n.alias("n_customers"),
    )


def q123_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (distribution drift detection): two-sample
    Kolmogorov-Smirnov statistic between the `value` distributions of
    view vs purchase events — max |F_a(x) - F_b(x)| over the pooled
    support. Per-value counts aggregate first (one shuffle), then the
    running CDFs come from operators/distributed_order.py's ordered
    cumulative sum — no single-partition window over the support."""
    from usajobs_etl_service_spark.operators.distributed_order import ordered_cumsum

    events = _t(spark, sf_dir, "events")
    # NULL values are non-observations: engines disagree on where a
    # NULL group sorts in the CDF (Spark NULLS FIRST vs DuckDB NULLS
    # LAST on ASC) and a NULL is not a sample point (fuzz-sweep find)
    pts = (
        events.filter(F.col("event_type").isin("view", "purchase"))
        .filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("a"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("b"),
        )
    )
    cum = ordered_cumsum(pts, [F.col("value").asc()], ["a", "b"])
    totals = pts.agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_a") / F.col("na") - F.col("cum_b") / F.col("nb")
                    )
                ),
                6,
            ).alias("ks_stat"),
            F.first("na").alias("n_view"),
            F.first("nb").alias("n_purchase"),
        )
    )


def q124_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (multi-objective selection): 2-D skyline — parts not
    dominated on (p_retailprice, p_size), i.e. no other part is <= on
    both axes and < on at least one. O(n log n) shape instead of the
    oracle's O(n^2) NOT EXISTS: per-price min size (one shuffle), then
    a strict running min over ascending price (distributed_order's
    range-partitioned cummin — each row of that stream is a DISTINCT
    price, so row-strict == price-strict), and a part survives iff no
    strictly-cheaper part is as small (clause 1) and no equal-price
    part is smaller (clause 2). Identical (price,size) duplicates
    don't dominate each other and all survive."""
    from usajobs_etl_service_spark.operators.distributed_order import ordered_cummin

    # NULL coordinates leave the dominance order undefined: exclude
    # them from the skyline domain on both sides (fuzz-sweep find — a
    # NULL-price min poisoned the running min via NULLS FIRST while
    # the NOT-EXISTS oracle let every NULL row survive)
    part = _t(spark, sf_dir, "part").filter(F.col("p_retailprice").isNotNull())
    per_price = part.groupBy("p_retailprice").agg(F.min("p_size").alias("m"))
    with_min = ordered_cummin(
        per_price, [F.col("p_retailprice").asc()], ["m"], strict=True
    )
    return (
        part.join(with_min, "p_retailprice")
        .filter(
            (F.col("cummin_m").isNull() | (F.col("cummin_m") > F.col("p_size")))
            & (F.col("m") >= F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )


def q125_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (robust statistics): quantity-weighted lower median of
    lineitem extended price — ordered running weight sum
    (distributed_order, no single-task sort), then the least value
    whose cumulative weight crosses half the total. Integral double
    weights sum exactly, so the crossing test is bit-identical to the
    oracle's; value-tied rows accumulate in arbitrary order but a
    value qualifies iff its tie-group END cum crosses, which is
    order-invariant."""
    from usajobs_etl_service_spark.operators.distributed_order import ordered_cumsum

    # NULL prices are non-observations (their weights would otherwise
    # accumulate at engine-dependent ends of the CDF: Spark NULLS
    # FIRST vs DuckDB NULLS LAST — fuzz-sweep find)
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(F.col("l_extendedprice").alias("price"), F.col("l_quantity").alias("w"))
    )
    cum = ordered_cumsum(li, [F.col("price").asc()], ["w"])
    total = li.agg(F.sum("w").alias("tot_w"))
    return (
        cum.crossJoin(F.broadcast(total))
        .filter(F.col("cum_w") >= F.lit(0.5) * F.col("tot_w"))
        .agg(
            F.round(F.min("price"), 2).alias("weighted_median_price"),
            F.round(F.first("tot_w"), 2).alias("total_weight"),
        )
    )


def q126_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (categorical drift testing): chi-square statistic for
    independence of event_type x day-of-week — observed cell counts vs
    expected row_total*col_total/N, all from three chained aggregates
    with the two marginal tables broadcast back onto the (tiny) cell
    grid. The heavy input is touched once."""
    events = _t(spark, sf_dir, "events")
    cells = events.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    row_tot = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    col_tot = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    n_tot = cells.agg(F.sum("o").alias("n"))
    e = F.col("rt") * F.col("ct") / F.col("n")
    return (
        cells.join(F.broadcast(row_tot), "event_type")
        .join(F.broadcast(col_tot), "dow")
        .crossJoin(F.broadcast(n_tot))
        .agg(
            F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 4).alias("chi2"),
            F.count(F.lit(1)).alias("n_cells"),
        )
    )


def q127_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (quantile bucketing at scale): decile table of
    per-customer revenue. The bucket comes from the EXPLICIT formula
    ((rn-1)*10) div n over the distributed global row number — integer
    arithmetic on both engines, sidestepping ntile()'s
    bigger-buckets-first tie rules AND the single-task sort ntile
    would force."""
    from usajobs_etl_service_spark.operators.distributed_order import global_row_number

    orders = _t(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("revenue"))
    ranked = global_row_number(
        rev, [F.col("revenue").asc(), F.col("o_custkey").asc()], out_col="rn"
    )
    n = rev.agg(F.count(F.lit(1)).alias("n_cust"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .withColumn("decile", F.expr("(rn - 1) * 10 div n_cust + 1").cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("revenue"), 2).alias("sum_revenue"),
            F.round(F.min("revenue"), 2).alias("min_revenue"),
            F.round(F.max("revenue"), 2).alias("max_revenue"),
        )
    )


def q128_correlation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (statistical profiling): per-returnflag Pearson
    correlation / sample covariance / sample stddev over lineitem
    measures — one partial+final aggregate pass, all JVM co-moment
    accumulators (corr is denominator-convention invariant, so Spark
    and DuckDB agree to fp noise; 4dp rounding absorbs it)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_discount"), 4).alias("stddev_discount"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q129_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (skew diagnostics, companion to operators/salting.py):
    log2-bucketed histogram of per-user event counts — the measurement
    that decides whether a key needs salting before a join/agg. The
    bucket is the binary-digit count of the integer count (exact on
    both engines; log2()+floor would straddle FP at powers of two)."""
    events = _t(spark, sf_dir, "events")
    per_key = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    bucket = (F.length(F.conv(F.col("cnt").cast("string"), 10, 2)) - 1).alias("log2_bucket")
    return per_key.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        F.sum("cnt").alias("n_rows"),
    )


def q130_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (replication apply): ordered CDC stream with DELETE
    tombstones applied to the customer snapshot (operators/cdc.py) —
    events become keyed row images ('error' = tombstone), latest change
    per key wins ((ts, event_id) sequence), untouched keys pass through
    via one anti join. Completes the upsert sink family (q16) with the
    MERGE ... WHEN MATCHED DELETE semantics a lakehouse feed needs."""
    from usajobs_etl_service_spark.operators.cdc import cdc_apply

    cust = _t(spark, sf_dir, "customer")
    events = _t(spark, sf_dir, "events")
    changes = events.select(
        F.col("user_id").alias("c_custkey"),
        F.concat(F.lit("user_"), F.col("user_id").cast("string")).alias("c_name"),
        (F.col("user_id") % 25).cast("int").alias("c_nationkey"),
        F.round("value", 2).alias("c_acctbal"),
        F.col("event_type").alias("c_mktsegment"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
    )
    return cdc_apply(
        cust,
        changes,
        key_cols=["c_custkey"],
        seq_cols=["ts", "event_id"],
    )


def q131_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (experimentation statistics): two-proportion z-test of
    view->click funnel conversion, weekend vs weekday sessions —
    funnel-reduced flags, one tiny cohort aggregate, then the pooled-
    variance z in closed form. Integer counts + correctly-rounded IEEE
    sqrt make the statistic engine-identical. (Engines label weekdays
    differently — Spark 1=Sun vs DuckDB 0=Sun — but both map the same
    {Sat,Sun} set to 'weekend'.)"""
    from usajobs_etl_service_spark.operators.funnel import funnel_sessions

    events = _t(spark, sf_dir, "events")
    fs = funnel_sessions(events, steps=("view", "click")).filter(
        F.col("t_0").isNotNull()
    )
    coh = fs.select(
        F.when(F.dayofweek("t_0").isin(1, 7), "weekend")
        .otherwise("weekday")
        .alias("cohort"),
        F.col("t_1").isNotNull().cast("long").alias("conv"),
    )
    n1 = F.sum(F.when(F.col("cohort") == "weekend", 1).otherwise(0))
    c1 = F.sum(F.when(F.col("cohort") == "weekend", F.col("conv")).otherwise(0))
    n2 = F.sum(F.when(F.col("cohort") == "weekday", 1).otherwise(0))
    c2 = F.sum(F.when(F.col("cohort") == "weekday", F.col("conv")).otherwise(0))
    # try_divide == DuckDB's NULL-on-zero-divisor (degenerate cohorts /
    # zero pooled variance yield NULL, not an ANSI error or IEEE inf)
    p1, p2 = F.try_divide(c1, n1), F.try_divide(c2, n2)
    pool = F.try_divide(c1 + c2, n1 + n2)
    z = F.try_divide(
        p1 - p2, F.sqrt(pool * (1 - pool) * (F.try_divide(F.lit(1.0), n1) + F.try_divide(F.lit(1.0), n2)))
    )
    return coh.agg(
        F.round(z, 4).alias("z_score"),
        F.round(p1, 4).alias("rate_weekend"),
        F.round(p2, 4).alias("rate_weekday"),
        n1.alias("n_weekend"),
        n2.alias("n_weekday"),
    )


def q132_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate surface: explicit GROUPING SETS ((flag),(status),())
    with grouping_id — the arbitrary-sets form completing q29's ROLLUP
    and q110's CUBE. Spark expands the sets in ONE pass (Expand +
    single aggregate), not one scan per set. (Verified: Spark's
    grouping_id bit convention equals DuckDB's GROUPING_ID.)"""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


def q133_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (gaps-and-islands on dates): longest run of consecutive
    active DAYS per user — distinct activity dates, island key =
    date - row_number (per-user window, one key shuffle), island
    lengths, max per user. The canonical streak query with zero
    self-joins."""
    from pyspark.sql import Window

    events = _t(spark, sf_dir, "events")
    days = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "island", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    runs = islands.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("run_len"))
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_islands"),
    )


def q134_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (incremental view maintenance): the per-type daily
    rollup maintained as MERGED PARTIALS — history (days 1-20) and the
    new tail aggregated separately, then merged with operators/ivm.py's
    distributive-merge (count->sum, sum->sum, min/max->min/max; avg
    derived at read time). Provably equals the full recompute, which is
    exactly what the oracle runs."""
    from usajobs_etl_service_spark.operators.ivm import merge_aggregates, partial_aggregate

    events = _t(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    cut = F.lit("2024-01-20").cast("date")
    spec = {
        "n_events": "count:",
        "sum_value": "sum:value",
        "min_value": "min:value",
        "max_value": "max:value",
    }
    hist = partial_aggregate(events.filter(F.col("d") <= cut), ["event_type"], spec)
    tail = partial_aggregate(events.filter(F.col("d") > cut), ["event_type"], spec)
    merged = merge_aggregates([hist, tail], ["event_type"], spec)
    return merged.select(
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
        F.round(F.col("sum_value") / F.col("n_events"), 4).alias("avg_value"),
    )


def q135_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (fraud/data-quality audit): first-significant-digit
    distribution of order totals vs Benford's law. The digit comes from
    the CENTS integer's decimal string — exact on both engines (float
    log10/power extraction would straddle FP at magnitude boundaries).
    Expected shares use ln(1+1/d)/ln(10) in both engines; one tiny
    aggregate, digit table broadcast."""
    orders = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = orders.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n"))
    tot = obs.agg(F.sum("n").alias("n_total"))
    exp_share = F.log(1 + 1 / F.col("digit")) / F.log(F.lit(10.0))
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("n_total"), 4).alias("obs_share"),
            F.round(exp_share, 4).alias("benford_share"),
        )
    )


def q136_argmax_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate surface: max_by/min_by (argmax/argmin) — per event
    type, WHICH event carried the extreme value, in the same single
    partial+final pass as the extremes themselves (no rank window, no
    self-join back). Ties broken deterministically by taking max_by
    over the (value, event_id) struct — struct comparison is
    lexicographic in both engines."""
    # argmax over DEFINED values only: engines disagree on where a
    # NULL struct FIELD sorts (Spark smallest vs DuckDB largest), so a
    # NULL-value row would win min_by in one engine and max_by in the
    # other (fuzz-sweep find)
    events = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return events.groupBy("event_type").agg(
        F.expr("max_by(event_id, struct(value, event_id))").alias("max_value_event"),
        F.expr("min_by(event_id, struct(value, event_id))").alias("min_value_event"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.round(F.min("value"), 4).alias("min_value"),
    )


def q137_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q4 shape): order counts by priority where at
    least one lineitem shipped >30 days after the order date — the
    EXISTS becomes a left_semi join on the order key (each order counted
    once however many lineitems are late), date predicate pushed to the
    lineitem scan side of the join."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders["o_orderkey"] == li["l_orderkey"])
        & (F.to_date(li["l_shipdate"]) > F.date_add(F.to_date(orders["o_orderdate"]), 30)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


def q138_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q6 shape): forecast revenue change — one
    filtered scan-aggregate; the quantity/discount band predicates reach
    the parquet reader and ReadSchema prunes to the three referenced
    columns — the canonical pushdown showcase."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q139_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (sliding-window distinct): trailing-7-day distinct
    active users per day. COUNT(DISTINCT) doesn't slide, so each
    distinct (user, day) fans out to the <=7 window days it serves
    (bounded explode — the exact form; the mergeable-HLL form per q97
    is the approximate one at larger windows), then ONE distinct
    aggregate per day. Only days observed in the data are reported."""
    events = _t(spark, sf_dir, "events")
    user_days = events.select("user_id", F.to_date("ts").alias("d")).distinct()
    expanded = user_days.select(
        "user_id", F.explode(F.sequence("d", F.date_add("d", 6))).alias("day")
    )
    observed = events.select(F.to_date("ts").alias("day")).distinct()
    return (
        expanded.join(observed, "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
    )


def q140_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (marketing attribution): purchases attributed to the
    most recent view by the same user within the preceding hour —
    operators/asof.py's union+window as-of join (same-table streams,
    1-hour lookback TTL), then a per-day attribution-rate rollup. The
    EXISTS formulation the oracle uses is equivalent because the as-of
    match is the LATEST preceding view: it is in-window iff any is."""
    from usajobs_etl_service_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts")
    )
    matched = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="vts",
        max_lookback=F.expr("INTERVAL 1 HOUR"),
    )
    return matched.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("vts_asof").isNotNull().cast("long")).alias("n_attributed"),
    )


def q141_session_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (behavioral drift per user): Jaccard between each
    session's event-type SET and the user's previous session —
    collect_set per session, lag over the session sequence, JVM array
    intersection/union sizes. One (user) shuffle; the per-user average
    similarity is the stability score. Set sizes are order-free, so
    collect_set's nondeterministic ordering never reaches the output."""
    from pyspark.sql import Window

    from usajobs_etl_service_spark.operators.funnel import assign_sessions

    events = _t(spark, sf_dir, "events")
    sess = (
        assign_sessions(events, keep_cols=("event_type",))
        .groupBy("user_id", "session_no")
        .agg(F.collect_set("event_type").alias("types"))
    )
    w = Window.partitionBy("user_id").orderBy("session_no")
    pairs = sess.withColumn("prev", F.lag("types").over(w)).filter(
        F.col("prev").isNotNull()
    )
    inter = F.size(F.array_intersect("types", "prev"))
    union = F.size(F.array_union("types", "prev"))
    return (
        pairs.select("user_id", (inter / union).alias("jac"))
        .groupBy("user_id")
        .agg(
            F.round(F.avg("jac"), 4).alias("avg_session_jaccard"),
            F.count(F.lit(1)).alias("n_transitions"),
        )
    )


def q142_vocab_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus drift, beyond q123's KS and q126's chi2):
    add-one-smoothed KL divergence between the unigram distributions of
    the corpus's two halves (by doc_id). Two token aggregates + a full
    outer join on the union vocabulary (open vocab — no broadcast, the
    q62 call); smoothing keeps Q(w)=0 terms finite. Integer counts make
    both engines' P, Q bit-identical; summation-order fp noise dies at
    4dp."""
    docs = _t(spark, sf_dir, "documents")
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)").alias("mid"))
    toks = (
        docs.crossJoin(F.broadcast(mid))
        .select(
            (F.col("doc_id") <= F.col("mid")).alias("first_half"),
            F.explode(F.split(F.lower("text"), r"\s+")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("first_half"), 1).otherwise(0)).alias("a"),
        F.sum(F.when(~F.col("first_half"), 1).otherwise(0)).alias("b"),
    )
    tot = counts.agg(
        F.sum("a").alias("na"), F.sum("b").alias("nb"), F.count(F.lit(1)).alias("v")
    )
    p = (F.col("a") + 1) / (F.col("na") + F.col("v"))
    q = (F.col("b") + 1) / (F.col("nb") + F.col("v"))
    return counts.crossJoin(F.broadcast(tot)).agg(
        F.round(F.sum(p * F.log(p / q)), 4).alias("kl_first_vs_second"),
        F.first("v").alias("vocab_size"),
        F.first("na").alias("n_tokens_first"),
        F.first("nb").alias("n_tokens_second"),
    )


def q143_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (robust statistics, complements q102's mean/stddev
    z-scores which outliers themselves corrupt): MAD-based anomaly
    counts per event type — exact interpolated median, median absolute
    deviation via a second grouped percentile over |v - med|, flag at
    |v - med| > 4.4478 * MAD (3 sigma-equivalents; single literal so
    both engines form the identical double product). Two aggregate
    passes + broadcast joins back; no per-group sort."""
    events = _t(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                (F.col("adev") > F.lit(4.4478) * F.col("mad")).cast("long")
            ).alias("n_anomalies"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.first("med"), 4).alias("median_value"),
            F.round(F.first("mad"), 4).alias("mad_value"),
        )
    )


def q144_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (event-stream cleaning): debounce — keep only the
    FIRST event of each (user, type) burst, where a burst chains events
    closer than 2 h to their predecessor (gaps-and-islands, the
    keep-first-of-island form; q05's key dedup has no time dimension).
    Reuses assign_sessions' island marking on a composite key — one
    (user#type) shuffle; kept count = islands per type (distinct
    (key, island) pairs)."""
    from usajobs_etl_service_spark.operators.funnel import assign_sessions

    events = _t(spark, sf_dir, "events").withColumn(
        "utk", F.concat_ws("#", "user_id", "event_type")
    )
    marked = assign_sessions(
        events, gap_seconds=7200, user_col="utk", keep_cols=("event_type",)
    )
    return marked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.countDistinct("utk", "session_no").alias("n_kept"),
        (F.count(F.lit(1)) - F.countDistinct("utk", "session_no")).alias("n_debounced"),
    )


def q145_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (group-wise concentration): per-nation revenue
    concentration — Herfindahl index (sum of squared customer shares)
    and the GROUP-WISE Gini via the rank formula over a window
    PARTITIONED by nation (per-group windows scale; only the global
    variant needs distributed_order's split, q122). One fact shuffle
    to (nation, customer), one window, one aggregate."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("revenue", "o_custkey")
    ranked = rev.withColumn("rn", F.row_number().over(w))
    n = F.count(F.lit(1))
    s = F.sum("revenue")
    return ranked.groupBy("c_nationkey").agg(
        n.alias("n_customers"),
        F.round(
            (F.lit(2.0) * F.sum(F.col("rn") * F.col("revenue"))) / (n * s)
            - (n + F.lit(1.0)) / n,
            6,
        ).alias("gini"),
        F.round(F.sum(F.col("revenue") * F.col("revenue")) / (s * s), 6).alias("hhi"),
    )


def q146_exact_global_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (exact order statistics at scale): discrete global
    p50/p90/p99 of order totals WITHOUT a sketch and WITHOUT a
    single-task sort — distributed global rank (distributed_order),
    then a broadcast join onto rank == ceil(q*n). Completes the
    quantile family: q49/q115 exact-interpolated per small group, q79
    GK sketch (bounded memory, approximate), q88 sketch-exact regime,
    and this: exact discrete quantiles over an arbitrarily large
    column. Both engines compute the SAME explicit ceil(q*n) rank
    formula (no quantile_disc built-in variance); q*n is exact in
    doubles for these q."""
    from usajobs_etl_service_spark.operators.distributed_order import global_row_number

    orders = _t(spark, sf_dir, "orders")
    ranked = global_row_number(
        orders.select(F.col("o_totalprice").alias("price"), "o_orderkey"),
        [F.col("price").asc(), F.col("o_orderkey").asc()],
        out_col="rn",
    )
    n = orders.agg(F.count(F.lit(1)).alias("n_rows"))
    qs = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    targets = qs.crossJoin(F.broadcast(n)).select(
        "q", F.ceil(F.col("q") * F.col("n_rows")).alias("target_rn"), "n_rows"
    )
    return (
        ranked.join(F.broadcast(targets), F.col("rn") == F.col("target_rn"))
        .select("q", F.round("price", 2).alias("value"), "n_rows")
    )


def q147_engagement_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (product analytics): engagement-breadth histogram —
    users bucketed by HOW MANY distinct event types they used, with
    per-bucket event volume. Two chained aggregates (user-level
    distinct count, then the distribution over it); the classic
    "distribution of a distinct count" shape that needs no window."""
    events = _t(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_user.groupBy("n_types").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("total_events"),
    )


def q148_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (ML monitoring): Population Stability Index of the
    event-value distribution, first half-month (reference) vs second
    (current) — decile bin edges from the REFERENCE period's exact
    distributed rank (q146's ceil(q*n) formula), bins applied as a
    9-element broadcast array (membership = count of edges <= value),
    add-one-smoothed shares, PSI = sum (p-q)*ln(p/q). The binned
    complement of q123's KS and q142's KL; bin counts are integers so
    both engines' shares are bit-identical.

    Plan shape (optimization round 12, guide §1.2): the DataFrame-API
    transcription of the oracle's CTEs evaluated the ``edges`` subtree
    (a global rank over the reference half) four times — once per
    ``binned`` branch, and the whole ``joined`` tree again inside the
    broadcast ``tot``. Now the two halves are binned in ONE pass over
    events (conditional counts on a ref/cur tag) and the 10-row bin
    frame's totals come from a whole-frame window instead of a
    self-referencing crossJoin — every subtree evaluated exactly once;
    bin rows, counts and PSI are unchanged."""
    from pyspark.sql import Window

    from usajobs_etl_service_spark.operators.distributed_order import global_row_number

    events = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("date")
    is_ref = F.to_date("ts") < cut
    ref = events.filter(is_ref).select("value", "event_id")

    ranked = global_row_number(
        ref, [F.col("value").asc(), F.col("event_id").asc()], out_col="rn"
    )
    n_ref = ref.agg(F.count(F.lit(1)).alias("n_rows"))
    qs = spark.createDataFrame([(i / 10.0,) for i in range(1, 10)], "q double")
    edges = (
        qs.crossJoin(F.broadcast(n_ref))
        .select(F.ceil(F.col("q") * F.col("n_rows")).alias("target_rn"))
        .join(ranked, F.col("rn") == F.col("target_rn"))
        .agg(F.sort_array(F.collect_list("value")).alias("edges"))
    )
    bin_of = F.size(F.filter(F.col("edges"), lambda e: F.col("value") >= e))

    # One binning pass over both halves; NULL-ts rows (in neither half)
    # are excluded exactly as the two separate filters excluded them.
    both = events.filter(is_ref.isNotNull()).select("value", is_ref.alias("is_ref"))
    joined = (
        both.crossJoin(F.broadcast(edges))
        .groupBy(bin_of.alias("bin"))
        .agg(
            F.count(F.when(F.col("is_ref"), F.lit(1))).alias("n_ref_bin"),
            F.count(F.when(~F.col("is_ref"), F.lit(1))).alias("n_cur_bin"),
        )
    )
    w_all = Window.partitionBy()  # <=10 bin rows: whole-frame totals
    joined = (
        joined.withColumn("na", F.sum("n_ref_bin").over(w_all))
        .withColumn("nb", F.sum("n_cur_bin").over(w_all))
        .withColumn("nbins", F.count(F.lit(1)).over(w_all))
    )
    p = (F.col("n_ref_bin") + 1) / (F.col("na") + F.col("nbins"))
    q = (F.col("n_cur_bin") + 1) / (F.col("nb") + F.col("nbins"))
    return joined.agg(
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
        F.first("na").alias("n_ref"),
        F.first("nb").alias("n_cur"),
        F.count(F.lit(1)).alias("n_bins"),
    )


def q149_multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (marketing analytics, extends q140's last-touch):
    linear multi-touch attribution — every view in the hour before a
    purchase shares its value equally. The touch join is a USER-key
    equi-join with the time window as a join-side range predicate
    (per-user pair expansion bounded by activity x window; the keyless
    case is operators/rangejoin.py's binned form). Output: per-day
    touched-purchase counts, touch-depth stats, attributed value."""
    events = _t(spark, sf_dir, "events")
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
        F.col("value").alias("pvalue"),
    )
    v = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    touches = p.join(
        v,
        (F.col("pu") == F.col("vu"))
        & (F.col("vts") <= F.col("pts"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR")),
    )
    per_purchase = touches.groupBy("pid", "pts", "pvalue").agg(
        F.count(F.lit(1)).alias("n_touch")
    )
    return per_purchase.groupBy(F.to_date("pts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_touched_purchases"),
        F.round(F.avg("n_touch"), 4).alias("avg_touches"),
        F.max("n_touch").alias("max_touches"),
        F.round(F.sum("pvalue"), 2).alias("attributed_value"),
    )


def q150_ops_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition (the reference's monitor.sh labeled-metric
    shape, q02, scaled to the event stream): one (metric, value) table
    unioning six independent daily-ops facts — volume, reach, gap-based
    session count (q42's islands), purchase count, month-peak
    concurrency (q117's sweep line), and exact median event value.
    Each branch is an aggregate of an already-verified operator; the
    union is the dashboard artifact a scheduler materializes."""
    from pyspark.storagelevel import StorageLevel

    from usajobs_etl_service_spark.operators.funnel import assign_sessions
    from usajobs_etl_service_spark.operators.sweepline import daily_peak_concurrency

    events = _t(spark, sf_dir, "events")

    def metric(name, df):
        return df.select(F.lit(name).alias("metric"), F.round(F.col("v").cast("double"), 4).alias("value"))

    vol = metric("n_events", events.agg(F.count(F.lit(1)).alias("v")))
    reach = metric("n_users", events.agg(F.countDistinct("user_id").alias("v")))
    # ONE per-(user, session) interval table serves both the session
    # count and the sweep-line peak — sessionization (a user-window
    # pass) previously ran twice (round 12, guide §1.2); persisted for
    # the two consumers (lazy marking, LRU posture)
    bounds = (
        assign_sessions(events)
        .groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sessions = metric("n_sessions", bounds.agg(F.count(F.lit(1)).alias("v")))
    purchases = metric(
        "n_purchases",
        events.filter(F.col("event_type") == "purchase").agg(F.count(F.lit(1)).alias("v")),
    )
    peak = metric(
        "peak_concurrency", daily_peak_concurrency(bounds).agg(F.max("peak").alias("v"))
    )
    med = metric(
        "median_event_value", events.agg(F.expr("percentile(value, 0.5)").alias("v"))
    )
    return vol.unionByName(reach).unionByName(sessions).unionByName(purchases).unionByName(peak).unionByName(med)


def q151_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (mergeable sketches, beyond q87's HLL and q118's
    Misra-Gries): count-min point-frequency estimates
    (operators/countmin.py, Cormode-Muthukrishnan 2005) for a fixed
    probe vocabulary over the documents corpus. The query exercises
    MERGEABILITY on purpose: two half-corpus sketches (doc_id parity —
    the shard split a per-day/per-source corpus build would have) are
    built independently and register-added, then probed. Sketch rows
    are ≤ depth*width by construction, so the probe join broadcasts the
    sketch and the build exchanges ≤ depth*width rows per task at any
    corpus size. The md5-prefix hash is engine-reproducible, so the
    DuckDB oracle rebuilds the IDENTICAL sketch — the estimator itself
    is value-checked, not an exact-regime proxy of it."""
    from usajobs_etl_service_spark.functions.text import tokens_ws
    from usajobs_etl_service_spark.operators.countmin import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    docs = _ts(spark, sf_dir, "documents")
    toks = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(tokens_ws(F.lower(F.col("text")))).alias("item"),
    ).filter(F.col("item") != "")
    sk = cms_merge(
        cms_build(toks.filter(F.col("half") == 0), "item", depth=4, width=4096),
        cms_build(toks.filter(F.col("half") == 1), "item", depth=4, width=4096),
    )
    probes = spark.createDataFrame(
        [(w,) for w in ["spark", "window", "merge", "data", "dup", "query", "batch", "zzz-unseen"]],
        "item string",
    )
    return cms_estimate(sk, probes, "item", depth=4, width=4096).orderBy("item")


def q153_winnow_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (contiguous-overlap screening — the guarantee-bearing
    complement of MinHash's probabilistic screen): winnowing
    fingerprints (Schleimer-Wilkerson-Aiken 2003, the MOSS algorithm;
    operators/winnow.py) with k=4, w=4 — any shared run of >= 7 tokens
    between two documents is caught with CERTAINTY, not probability.
    Selection is fully row-wise JVM work (token explode -> lead-window
    k-grams -> md5 -> frame-clipped window min -> per-doc distinct;
    zero interpreted HOF lambdas — the round-7 385 s CollapseProject
    O(n^2) inlining is structurally impossible in this shape);
    exchanges are the id-keyed window exchange, the fp hot-key guard
    (ubiquitous-fingerprint drop, which is MOSS's own boilerplate
    rule, observe-counted like every LSH cap here) and the fp equi-join
    + pair count. md5-prefix hashing makes the DuckDB oracle reproduce
    identical fingerprint sets, so the full pipeline is value-checked."""
    from usajobs_etl_service_spark.operators.winnow import winnow_candidate_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_candidate_pairs(docs, k=4, w=4, min_shared=2)


def q154_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (budget-constrained corpus assembly — the step after
    every quality/dedup gate: 'best documents until the token budget is
    spent'): greedy highest-quality-first selection under a global
    budget of 10% of corpus tokens. Greedy-by-score IS optimal here
    (uniform value density), and the order statistic is exact at scale:
    global (score desc, doc_id) running token sum via
    distributed_order.ordered_cumsum — range exchange + per-partition
    windows + carry-in offsets, no single-task WindowExec. The budget
    scalar rides a 1-row broadcast; floor(sum/10.0) is IEEE-exact for
    counts < 2^53 so the cutoff is engine-identical; integer token
    cumsums make the <= test exact; (score, doc_id) is a total order so
    tie groups can't straddle nondeterministically."""
    from usajobs_etl_service_spark.operators.distributed_order import ordered_cumsum

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        TX.quality_score(F.col("text")).alias("score"),
        TX.token_count_ws(F.col("text")).cast("long").alias("n_tokens"),
    )
    cum = ordered_cumsum(
        scored, [F.col("score").desc(), F.col("doc_id").asc()], ["n_tokens"]
    )
    budget = scored.agg(
        F.floor(F.sum("n_tokens") / F.lit(10.0)).cast("long").alias("budget")
    )
    return (
        cum.crossJoin(F.broadcast(budget))
        .filter(F.col("cum_n_tokens") <= F.col("budget"))
        .select("doc_id", "score", "n_tokens", F.col("cum_n_tokens").alias("cum_tokens"))
    )


def q152_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (importance-based data selection — the recipe the
    quality-gate q80, surprisal q92, and KL q142 build toward): DSIR
    (Xie et al. 2023) hashed-unigram importance log-ratios with the
    'en'-labeled slice as the target domain, deterministic top-50
    selection (operators/dsir.py). Bucket counts exchange ≤ width rows
    per task (hashed features, map-side combine); the ≤-width-row
    log-ratio table is a provable broadcast — fixed-width hashing is
    exactly what makes an open vocabulary broadcastable; totals ride as
    a 1-row broadcast. Scores round to 6 before the rank so the
    selected set is engine-identical; duplicate documents tie exactly
    and break by doc_id."""
    from usajobs_etl_service_spark.operators.dsir import dsir_select

    docs = _ts(spark, sf_dir, "documents")
    return dsir_select(docs, F.col("lang") == "en", 50, width=4096)


def q155_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (language-balanced budget allocation — UniMax, Chung
    et al. 2023): spend 50% of corpus tokens as uniformly as possible
    across languages, capping every language at 0.6 epochs
    (operators/sampling.unimax_allocation). The greedy waterfall is a
    closed-form window pass over the per-language aggregate (one
    corpus-scan groupBy; the windows see one row per language). At
    these parameters the corpus sits in the MIXED regime — the four
    smaller languages hit their epoch caps, 'en' absorbs the
    remainder — so both branches of the allocation rule are exercised
    and oracle-checked. Engine parity: both engines run the running
    cumsum in the same (cap, lang) total order, so the sequential
    float sums are bit-identical."""
    from usajobs_etl_service_spark.operators.sampling import unimax_allocation

    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "lang", TX.token_count_ws(F.col("text")).cast("long").alias("n_tokens")
    )
    return unimax_allocation(
        sized, group_col="lang", size_col="n_tokens", budget_frac=0.5, max_epochs=0.6
    )


def q156_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (order-2 perplexity-proxy quality gate): per-document
    Jelinek-Mercer interpolated bigram-LM surprisal
    (operators/retrieval.bigram_lm_scores) — the upgrade of q92's
    CCNet-style unigram score that catches repetitive/boilerplate
    documents whose unigram mix looks ordinary but whose transitions
    are predictable. Per-(doc, prev, cur) transition counts (not token
    instances) join the corpus bigram and unigram tables — three
    open-vocabulary equi-joins, no broadcast hints (AQE decides); the
    token total rides as a 1-row broadcast. At 100 TB the n-gram
    tables are build-once artifacts (the posting-table seam)."""
    from usajobs_etl_service_spark.operators.retrieval import bigram_lm_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_lm_scores(docs)


def q157_prototypicality_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (prototypicality pruning — Sorscher et al. 2022,
    "Beyond neural scaling laws"): cosine-to-cluster-mean scores with
    the most prototypical 25% of each cluster marked for removal
    (operators/semdedup.prototypicality_prune). Completes the pruning
    family: q89 drops semantic DUPLICATES, this drops semantic
    REDUNDANCY. md5-ordered centroid seeds + the round-6 snapped
    literal-argmax assignment make the full pipeline — seeds,
    assignment, per-cluster means, scores, prune flags —
    engine-replayable, so unlike most clustering operators the oracle
    checks every stage, not a clustering-invariant projection."""
    from usajobs_etl_service_spark.operators.semdedup import prototypicality_prune

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return prototypicality_prune(emb, n_clusters=32, prune_frac=0.25)


def q158_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q8 shape): NATION_1's share of ASIA-customer
    PROMO-part revenue by order year — the canonical 7-table star with
    a conditional-share aggregate. Every dimension side (part,
    supplier, nation x2, region, customer) broadcasts; the only
    big-big exchange is lineitem-orders on the order key. The share is
    a single conditional-sum pass (FILTER-style numerator over the
    same grouped rows), not a join of two aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_asia = (
        cust.join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            cust.c_nationkey == F.col("n_nationkey"),
        )
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("c_custkey")
    )
    supp_n = supp.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
        supp.s_nationkey == F.col("sn_key"),
    ).select("s_suppkey", "supp_nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_asia), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp_n), li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                6,
            ).alias("mkt_share"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
    )


def q159_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q15 shape): the supplier(s) with maximum
    quarterly revenue — aggregate, max-of-aggregate, equality join
    back. The max rides a 1-row broadcast onto the 100-row supplier
    revenue table; revenue rounds to 2 BEFORE the max comparison so
    the float tie is exact cross-engine."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01")) & (F.col("l_shipdate") < F.lit("1998-04-01"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(supp.select("s_suppkey", "s_name")), rev.l_suppkey == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q160_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q9 shape, adapted — the testdata carries no
    partsupp, so supply cost is modeled as 60% of p_retailprice):
    profit per supplier nation per order year over 'widget' parts.
    part/supplier/nation broadcast; lineitem-orders is the one big-big
    exchange; the profit expression folds into the scan stage."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(0.6) * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


def q161_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q21 shape, adapted — no l_commitdate/
    l_receiptdate in the testdata, so 'late' = shipped > 120 days
    after the order date): suppliers who were the SOLE late supplier
    on a finished multi-supplier order. The reference Q21 formulation
    is a correlated EXISTS + NOT EXISTS self-join pair; here the same
    predicate is two layered aggregations over one lineitem-orders
    join — per-(order, supplier) lateness, then per-order counts —
    which Spark executes as ONE shuffle on the order key feeding both
    aggregates, with no self-join of the fact table at all. Top 20 by
    count with a name tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    j = (
        li.join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 120 DAYS")).cast("int")
            ).alias("late")
        )
    )
    ord_stats = j.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    )
    waiting = (
        j.join(ord_stats, "l_orderkey")
        .filter((F.col("late") == 1) & (F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    return (
        waiting.join(F.broadcast(supp.select("s_suppkey", "s_name")), waiting.l_suppkey == F.col("s_suppkey"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
        .select("s_suppkey", "s_name", "numwait")
    )


def q162_mannwhitney_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (rank-based drift test): exact tie-corrected
    Mann-Whitney U between view and purchase event values
    (operators/profiling.mann_whitney_u) — the nonparametric
    location-shift companion to KS (q123), chi-square (q126), PSI
    (q148), and KL (q142). Midranks come from the distributed ordered
    cumsum over the per-value aggregate (the q123 shape) — no
    single-task window; U and the rank sum are exact half-integer
    doubles in both engines, so only the final z division is float."""
    from usajobs_etl_service_spark.operators.profiling import mann_whitney_u

    events = _t(spark, sf_dir, "events")
    return mann_whitney_u(
        events, value_col="value", label_col="event_type",
        label_a="view", label_b="purchase",
    )


def q163_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (graded eval-contamination report): per-document
    fraction of distinct word 8-grams appearing in a benchmark slice
    (every 97th doc_id plays the benchmark; the planted near-dup
    copies guarantee real nonzero overlap) —
    operators/decontam.contamination_fraction, the overlap-percentage
    upgrade of q66's binary gate. Benchmark gram hashes broadcast;
    the corpus explodes once to distinct (doc, gram-hash) rows; one
    per-doc aggregate. Oracle carries gram STRINGS (equality up to a
    ~1e-13 xxhash64 collision — the q83/q90 argument)."""
    from usajobs_etl_service_spark.operators.decontam import contamination_fraction

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_fraction(corpus, bench, n=8)


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata carries no partsupp table, so the TPC-H shapes
    that need one (Q2/Q11/Q20) derive it from lineitem: a supplier
    'offers' a part iff it ever shipped it, at a supply cost of its
    best observed unit price. One hash aggregate on (part, supplier);
    unit price is an IEEE double division both engines compute
    identically, and min() selects (never combines) values, so the
    derived costs are bit-exact cross-engine. ``supplycost_c`` is the
    same cost in integer cents (floor(100x + 0.5) — floor on an
    identical double is engine-deterministic, unlike decimal
    rounding) for consumers that must sum money exactly (q165);
    ``availqty`` is a long (quantities are integral)."""
    li = _t(spark, sf_dir, "lineitem")
    unit_cents = F.floor(
        F.lit(100.0) * F.col("l_extendedprice") / F.col("l_quantity") + F.lit(0.5)
    ).cast("long")
    return li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost"),
        F.min(unit_cents).alias("supplycost_c"),
        F.sum("l_quantity").cast("long").alias("availqty"),
    )


def q164_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q2 shape, adapted to the derived partsupp):
    for each SMALL part of size <= 15, the EUROPE supplier(s) offering
    it at the region-minimum supply cost. The reference formulation is
    a correlated MIN subquery; here it is the decorrelated form
    Catalyst would produce — grouped min over the region-filtered
    offers, equality join back. supplier/nation/region and the
    filtered part dim broadcast; the only fact exchange is the
    derived-partsupp aggregate itself. (s_name, p_partkey) is unique,
    so the (acctbal DESC, n_name, s_name, partkey) cut is a total
    order. Completes the 22/22 TPC-H shape sweep with q165-q168."""
    ps = _derived_partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 15)
    )
    eur_supp = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = ps.join(F.broadcast(eur_supp), ps.l_suppkey == F.col("s_suppkey")).join(
        F.broadcast(part.select("p_partkey")), ps.l_partkey == F.col("p_partkey")
    )
    mn = offers.groupBy("p_partkey").agg(F.min("supplycost").alias("min_cost"))
    return (
        offers.join(mn, ["p_partkey"])
        .filter(F.col("supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.round("supplycost", 4).alias("supplycost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q165_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q11 shape, adapted to the derived partsupp):
    parts whose stock value (supplycost * availqty, summed over
    EUROPE-region suppliers) exceeds 0.01% of the region's total
    stock value. The correlated HAVING-over-global-sum is the q121
    posture: the 1-row total stays in-plan via a broadcast cross
    join — no collect. Money stays in INTEGER CENTS end-to-end
    (supplycost_c = floor(100 * unit price + 0.5) — floor on an
    identically-computed double is engine-deterministic, unlike
    decimal rounding), so per-part values, the global total, and the
    10000*value > total threshold compare are all exact integer
    arithmetic with no float summation-order or half-cent rounding
    hazard — the round()-based form diverged by one cent on one part
    at sf0.01 via Spark's shortest-decimal HALF_UP vs DuckDB's binary
    rounding."""
    ps = _derived_partsupp(spark, sf_dir)
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey")
    )
    vals = (
        ps.join(F.broadcast(eur), ps.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("supplycost_c") * F.col("availqty")).alias("value_c"))
    )
    total = vals.agg(F.sum("value_c").alias("total_c"))
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.lit(10000) * F.col("value_c") > F.col("total_c"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("value_c") / F.lit(100.0)).alias("value"),
        )
    )


def q166_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q12 shape, adapted — the testdata has no
    l_shipmode/l_commitdate/l_receiptdate, so l_returnflag plays the
    mode class and 'late' = shipped > 90 days after the order date):
    for lineitems shipped in 1997 that were late, counts of high-
    priority (1-URGENT / 2-HIGH) vs lower-priority orders per mode
    class. The date predicates push to the lineitem scan; the only
    exchange is the 3-group final aggregate after the fact-fact join
    on the order key. All-integer conditional counts — exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
                li.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_mode"))
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
    )


def q167_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q16 shape, adapted): distinct-supplier counts
    per (brand, type, size) for mid-range part classes, excluding
    suppliers with negative account balance (the s_comment
    'complaints' exclusion proxy — the testdata has no comments). The
    NOT IN becomes a broadcast left_anti join (the excluded set is a
    handful of rows); the distinct pair set comes straight from
    lineitem; part dim broadcast. countDistinct is the one exchange.
    All-integer — exact."""
    pairs = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "ECONOMY")
        & F.col("p_size").isin(1, 5, 11, 15, 21, 28, 37, 44)
    )
    return (
        pairs.join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q168_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TPC-H Q20 shape, adapted): EUROPE suppliers holding
    excess 'widget' stock — 1996 shipments play the stocking year
    (availqty) and 1997 shipments the demand year; a supplier
    qualifies if, for some widget part, it stocked more than half of
    what it shipped the following year. The reference's nested
    IN-chains become two semi-join hops: qualifying (part, supplier)
    pairs -> distinct suppliers -> region-filtered supplier dim.
    Quantities are integral, so the 0.5x threshold compare is exact
    in doubles. Both year slices aggregate in ONE pass over the
    part-filtered fact (conditional sums), not two scans."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
    )
    yr = F.year("l_shipdate")
    flows = (
        li.filter(yr.isin(1996, 1997))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(yr == 1996, F.col("l_quantity")).otherwise(F.lit(0.0))).alias("stocked"),
            F.sum(F.when(yr == 1997, F.col("l_quantity")).otherwise(F.lit(0.0))).alias("demand"),
        )
        .filter((F.col("demand") > 0) & (F.col("stocked") > F.lit(0.5) * F.col("demand")))
    )
    qual = flows.select("l_suppkey").distinct()
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(qual, supp.s_suppkey == qual.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


def q169_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (Gopher document-quality rules — Rae et al. 2021,
    table A1 subset): per-document quality signals and the conjunctive
    keep/drop gate over word-count bounds, mean word length, symbol
    ratio, alphabetic-word fraction, and distinct-stopword presence
    (functions/text.gopher_flags). min_stop_hits adapts to 1 for this
    synthetic vocabulary (only 'the' from the published 8-word list
    occurs); every other threshold is the published default. All
    signals are JVM expressions over ONE tokenization — zero UDFs,
    zero shuffles (a pure map over the scan); the gate compares
    UNROUNDED doubles (identical cross-engine single divisions of
    integers) and display-rounds once."""
    from usajobs_etl_service_spark.functions.text import gopher_struct

    docs = _t(spark, sf_dir, "documents")
    # inline(array(struct)): the whole signal struct evaluates ONCE per
    # row under the Generate — six separate projection columns would
    # each re-evaluate their own copy of the (CodegenFallback,
    # CSE-invisible) tokenization tree (round-13, guide §1.2)
    raw = docs.select(
        "doc_id", F.inline(F.array(gopher_struct(F.col("text"), min_stop_hits=1)))
    )
    return raw.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        "stop_hits",
        "passes",
    )


def q170_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (distributed graph census): exact triangle count and
    global clustering coefficient of the part co-purchase graph (two
    parts are adjacent iff some order contains both) —
    operators/graphrank.triangle_stats. Edge derivation is a per-order
    self equi-join of the distinct (order, part) table, bounded by the
    per-order line count (single digits), never a part cross product;
    the census orients edges by (degree, id) so the out-neighbor-pair
    expansion is O(m^1.5) under any hub skew (Suri-Vassilvitskii).
    20k nodes / 1.2M edges / 1.9M triangles at sf0.1. The count is
    orientation-independent, so the id-ordered SQL oracle checks it
    exactly; transitivity is one double division of exact integers."""
    from usajobs_etl_service_spark.operators.graphrank import triangle_stats

    return triangle_stats(_copurchase_edges(spark, sf_dir))


# Per-basket pair expansion: for the sorted distinct part array of one
# order, emit every (parts[i], parts[j]) with i < j — ascending sort +
# set-dedup make u < v strict by construction. slice() caps at the
# array end, so the last element contributes an empty inner array and
# flatten/explode drop it.
_PAIR_EXPAND_SQL = (
    "flatten(transform(parts, (x, i) -> "
    "transform(slice(parts, i + 2, size(parts)), y -> struct(x AS u, y AS v))))"
)


def _copurchase_pairs(
    spark: SparkSession, sf_dir: str, part_keep: DataFrame | None = None
) -> DataFrame:
    """One row per (order, unordered part pair): the co-purchase pair
    stream BEFORE cross-order dedup — ``(u, v)`` with u < v, repeated
    once per order containing both. Round-13 shape (guide §1.2/§2.4):
    ONE lineitem scan -> groupBy(order) collect_set -> map-side pair
    expansion of the sorted basket array, replacing the old distinct
    incidence self-join (2 scans + distinct exchange + join exchanges
    + the per-order O(k^2) join blowup). Pair multiset proven equal to
    the self-join's (edge set AND per-pair order counts — the q234
    wedge weights) at sf0.01. Baskets are single-digit rows, so the
    expansion array is tiny; at 100 TB the groupBy shuffles (order,
    part) pairs once instead of joining the incidence against itself.

    ``part_keep`` (one part-key column) restricts to the induced
    subgraph: the incidence is semi-joined to it BEFORE the basket
    groupBy, which is set-identical to semi-joining both pair
    endpoints afterwards (a pair of the restricted basket is exactly a
    pair with both ends kept) but shrinks every downstream exchange —
    the optimizer cannot push a semi-join through the pair-expansion
    explode on its own (measured +0.6 s on q210 without this)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    if part_keep is not None:
        keep = part_keep.select(
            F.col(part_keep.columns[0]).alias("l_partkey")
        )
        li = li.join(F.broadcast(keep), "l_partkey", "left_semi")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    return baskets.select(F.explode(F.expr(_PAIR_EXPAND_SQL)).alias("p")).select(
        "p.u", "p.v"
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct id-ordered part co-purchase edges (u < v iff some
    order contains both parts) — the q170/q171 graph. Derived via the
    basket-grouped pair expansion (``_copurchase_pairs``), never a
    part cross product: the per-order expansion is bounded by the
    basket size (single digits)."""
    # NOT persisted, on measurement (round-12): consumers referencing
    # the edge set more than once persist the DERIVED set themselves
    # (triangle_stats, khop, LPA/SSSP parquet supersteps); a persist
    # here loses when both branches of one job scan the cold cache.
    return _copurchase_pairs(spark, sf_dir).distinct()


def q171_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (Newman 2002 degree assortativity): Pearson
    correlation of endpoint degrees over the symmetrized co-purchase
    edge list — do high-degree parts co-purchase with other
    high-degree parts? Cross-engine exactness by construction: the
    five correlation moments (n, sum dx, sum dx*dy, sum dx^2 and the
    symmetric y-terms) are INTEGER sums of integer degrees, computed
    exactly as longs in any summation order; the Pearson formula is
    then ONE float expression over identical integers, so both
    engines produce the identical double (never engine corr(), whose
    streaming-moment float accumulation is summation-order-
    dependent). Shuffles: the edge distinct, one degree aggregate,
    two degree-attach hash joins, one scalar aggregate
    (operators/graphrank.degree_assortativity)."""
    from usajobs_etl_service_spark.operators.graphrank import degree_assortativity

    return degree_assortativity(_copurchase_edges(spark, sf_dir))


def q172_common_neighbor_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (link prediction by common-neighbor count — the
    integer-exact member of the Liben-Nowell/Kleinberg score family;
    Adamic-Adar's 1/log weights would float-sum in engine-dependent
    order): the top-50 NON-adjacent part pairs of the Brand#1
    co-purchase subgraph ranked by shared neighbors. Wedges expand
    center-by-center from the symmetrized adjacency (sum C(deg, 2)
    rows — the subgraph bounds it; on an open graph apply q170's
    degree orientation or a hub cap), one (pair) aggregate, then a
    left_anti against the edge set removes existing links.
    (cnt DESC, u, v) is a total order, so the cut is deterministic
    (operators/graphrank.common_neighbor_links)."""
    from usajobs_etl_service_spark.operators.graphrank import common_neighbor_links

    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    keep = part.select(F.col("p_partkey").alias("u"))
    # induced-subgraph filter pushed into the incidence before pair
    # expansion (set-identical; see _copurchase_pairs)
    e = _copurchase_pairs(spark, sf_dir, part_keep=keep).distinct()
    return common_neighbor_links(e, top_k=50)


def q173_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (hybrid retrieval): reciprocal-rank fusion (Cormack,
    Clarke & Buettcher 2009) of a sparse BM25 leg (q91's scorer, query
    {spark, window, merge}) and a dense cosine leg (q18's brute-force
    scorer against the vec_id=0 embedding; the 1:1 doc_id==vec_id
    alignment of the test corpus) — the standard calibration-free
    sparse+dense combiner (operators/retrieval.rrf_fuse). Each leg is
    cut to its top-100 by TakeOrderedAndProject before a bounded
    single-partition rank window (rank() over pre-rounded scores so
    ties share a rank engine-independently); the fuse is one groupBy
    over <= 200 rows. At 100 TB the legs are posting-table / ANN-index
    probes; the fusion never touches the corpus."""
    from usajobs_etl_service_spark.operators.retrieval import bm25_scores, rrf_fuse

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sparse = bm25_scores(docs, ["spark", "window", "merge"]).select(
        "doc_id", F.col("bm25").alias("score")
    )
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir)
    dense = SIM.topk_cosine(emb, qvec, k=100, round_digits=4).select(
        F.col("vec_id").alias("doc_id"), F.col("sim").alias("score")
    )
    return rrf_fuse(
        [("bm25", sparse), ("cosine", dense)], rrf_k=60, top_n=100, top_k=50
    )


def q174_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (iterative distributed graph): bounded-round 3-core
    peel of the Brand#1 co-purchase subgraph — repeatedly delete parts
    co-purchased with < 3 surviving peers, 6 rounds (measured
    convergence is 1-3 rounds at sf0.001/0.01/0.1, so 6 IS the 3-core
    here; the fixed round count is the contract and the oracle unrolls
    the identical 6 rounds, the q105 bounded-iteration pattern) —
    operators/graphrank.kcore_membership. Each round materializes the
    (shrinking) survivor edges via the parquet-superstep pattern
    (clustering.py's lineage/executor-loss argument: a round reads its
    predecessor three times) and early-exits on a stable edge count,
    which provably equals the full 6-round result. Output: surviving
    (node, core_degree)."""
    from usajobs_etl_service_spark.operators.graphrank import kcore_membership

    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    keep = part.select(F.col("p_partkey").alias("u"))
    # induced-subgraph filter pushed into the incidence before pair
    # expansion (set-identical; see _copurchase_pairs)
    e = _copurchase_pairs(spark, sf_dir, part_keep=keep).distinct()
    return kcore_membership(e, k=3, rounds=6)


def q175_kneser_ney_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (quality gate, order-2 smoothed): per-document
    surprisal under an interpolated Kneser-Ney bigram LM (Kneser & Ney
    1995 / Chen & Goodman 1998, absolute discount 0.75) trained on the
    corpus itself (operators/retrieval.kneser_ney_scores) — the
    smoothing family KenLM-backed perplexity gates actually use; backs
    off to CONTINUATION probability where q156's Jelinek-Mercer backs
    off to raw unigram frequency. Every model statistic is an exact
    integer count; one float expression per transition row; per-doc
    mean rounds to 4 (the q92/q156 cross-engine contract)."""
    from usajobs_etl_service_spark.operators.retrieval import kneser_ney_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return kneser_ney_scores(docs, discount=0.75)


def q176_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (diversity-aware retrieval closer): Maximal Marginal
    Relevance (Carbonell & Goldstein 1998) — greedily select 10 of the
    exact top-30 cosine candidates for the vec_id=0 query, each step
    maximizing lam*rel - (1-lam)*max-sim-to-already-selected (lam=0.7)
    — operators/similarity.mmr_rerank. The relevance pass is the full
    distributed scan (TakeOrderedAndProject); only the k-bounded
    shortlist and its <= k^2 pairwise-sim rows reach the driver for
    the inherently-sequential greedy (the IVF-centroid/PQ-ADC bounded-
    collect posture). rel and pair sims round to 4 BEFORE the greedy
    and ties break (score desc, id asc), so the oracle replays the
    selection round-for-round as an unrolled CTE chain."""
    from usajobs_etl_service_spark.operators.similarity import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir)
    return mmr_rerank(emb, qvec, k_candidates=30, k_select=10, lam=0.7)


def q177_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (contrastive-training data prep): hard-negative
    mining — for each of 5 anchor embeddings, the 5 most-similar
    vectors with a DIFFERENT label (DPR/SimCSE-style maximally-
    confusable negatives) — operators/similarity.hard_negatives.
    Bounded anchor rows broadcast against ONE corpus scan; the
    per-anchor top-k is SALTED (salting.salted_topk_per_key) because
    5 anchors is the hottest possible window skew. Sims round to 6
    before ranking; ties (sim desc, match_id)."""
    from usajobs_etl_service_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negatives(emb, [1, 2, 3, 4, 5], k=5)


def q178_hits_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (mutual-reinforcement ranking): HITS hubs/authorities
    (Kleinberg 1999), 3 fixed rounds over the bipartite customer->part
    purchase graph (distinct (o_custkey, l_partkey) via orders x
    lineitem) — which customers are broad buyers (hubs) and which
    parts anchor broad baskets (authorities) —
    operators/graphrank.hits_scores. Integer-exact contract (the q171
    move): h_0 = 1 and NO per-round normalization makes every iterate
    an integer sum (order-independent, hash-identical cross-engine)
    where textbook per-round normalization would compound float-sum
    noise through every iteration; ranks are unchanged by
    proportionality and score_norm divides by the side max once at
    display. Top-20 per side, long form."""
    from usajobs_etl_service_spark.operators.graphrank import hits_scores

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("s"), F.col("l_partkey").alias("t"))
        # no .distinct() here: hits_scores dedups (s,t) itself — a
        # pre-distinct was a second full shuffle of the edge stream
        # for nothing (measured ~0.8 s of q178's 4.9 s at sf0.1)
    )
    return hits_scores(e, n_iter=3, top_k=20)


def q179_ranking_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (hybrid-retrieval diagnostics): agreement metrics
    between q173's sparse (BM25) and dense (cosine) top-20 rankings —
    overlap@20, Jaccard@20, MRR of the sparse list under dense ranks,
    Kendall tau-a over the intersection
    (operators/retrieval.ranking_agreement). All metrics except MRR
    are INTEGER-EXACT until one final division (Kendall's concordant/
    discordant are integer sign tests over the bounded n^2 pair
    expansion); MRR sums <= 20 integer reciprocals and rounds to 6
    (the q105 float posture). Tail work is bounded by top_n rows —
    the corpus cost is the legs' own."""
    from usajobs_etl_service_spark.operators.retrieval import bm25_scores, ranking_agreement

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sparse = bm25_scores(docs, ["spark", "window", "merge"]).select(
        "doc_id", F.col("bm25").alias("score")
    )
    emb = _t(spark, sf_dir, "embeddings")
    qvec = _qvec(spark, sf_dir)
    dense = SIM.topk_cosine(emb, qvec, k=20, round_digits=4).select(
        F.col("vec_id").alias("doc_id"), F.col("sim").alias("score")
    )
    return ranking_agreement(sparse, dense, top_n=20)


def q180_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (collocation significance): Dunning log-likelihood-
    ratio bigram collocations (Dunning 1993) — the significance-tested
    upgrade of q95's PMI, which over-ranks rare pairs; G2 weighs
    evidence mass (operators/retrieval.llr_collocations). Every 2x2
    contingency cell is an exact integer; G2 is one fixed-shape float
    expression per bigram row, round-6 total-ordered top-20."""
    from usajobs_etl_service_spark.operators.retrieval import llr_collocations

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return llr_collocations(docs, min_count=5, top_k=20)


def q181_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (dedup residual / memorization-risk profiling):
    per-document fraction of distinct word 8-grams first seen IN that
    document (first-seen = min doc_id; deterministic tie attribution)
    — operators/decontam.novelty_profile, the graded companion to
    q90's duplicated-span extraction: low-novelty documents are the
    near-copies a loose dedup leaves behind. One gram-keyed min
    aggregate + one gram-keyed join back, 8-byte gram hashes
    engine-side; the oracle carries gram strings (q83/q90 collision
    argument)."""
    from usajobs_etl_service_spark.operators.decontam import novelty_profile

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return novelty_profile(docs, n=8)


def q182_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (data-layout optimization — the 100 TB capability that
    makes every OTHER predicate cheap): Z-order / Morton-curve
    clustering (operators/layout.py) of lineitem on
    (l_partkey, l_suppkey), 16 bits per dimension, cut into 32
    buckets. Output is the measured skipping quality: each bucket's
    per-dimension min/max — tight ranges on BOTH columns are what let
    a parquet reader prune files for predicates on EITHER key, where a
    single-column sort leaves the other dimension's ranges useless.
    Everything is integer-exact (min/max normalize via bigint DIV, bit
    interleave as one codegen'd shift/mask sum, balanced bucket cuts
    over distributed_order's exact global numbering with a unique
    (orderkey, linenumber) tiebreak), so DuckDB reproduces the
    identical bucket boundaries and extrema."""
    from usajobs_etl_service_spark.operators.layout import layout_skipping_stats

    li = _t(spark, sf_dir, "lineitem")
    return layout_skipping_stats(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        ["l_partkey", "l_suppkey"],
        num_partitions=32,
        bits=16,
        tiebreak_cols=["l_orderkey", "l_linenumber"],
    ).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("min_l_partkey"),
        F.col("max_l_partkey"),
        F.col("min_l_suppkey"),
        F.col("max_l_suppkey"),
    )


def q183_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (one-pass data-quality profiling — the 'can I trust
    this table?' primitive a 100 TB lake runs nightly): per-column
    null / exact-distinct / extrema stats for documents (operators/profiling.profile_table —
    the wide, string-extrema companion to q101's long-form profile). ONE aggregate pass regardless of column
    count (parallel agg expressions in a single HashAggregate, the
    multi-distinct planned through one Expand), 1-row result unpivoted
    driver-free with stack(). Extrema render as strings so mixed types
    share a schema; bigint/varchar rendering is engine-identical, which
    the oracle checks column by column."""
    from usajobs_etl_service_spark.operators.profiling import profile_table

    docs = _t(spark, sf_dir, "documents")
    return profile_table(docs, ["doc_id", "lang", "source", "n_chars"]).select(
        "column",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
    )


def q184_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (pre-flight join diagnostics — the look-before-you-
    join primitive a 100 TB cluster runs to decide between AQE skew
    handling, salting, or dropping a degenerate key): top-20 heaviest
    lineitem-x-orders join keys by OUTPUT cardinality
    (operators/salting.join_skew_report). Cost is key-sized, never
    data-sized: one map-combined count per side + a join of the two
    key-cardinality tables + TakeOrdered (plan-asserted in
    tests/test_salting.py). Integer counts and one rounded share
    division; (pairs desc, key asc) is a total order."""
    from usajobs_etl_service_spark.operators.salting import join_skew_report

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return join_skew_report(
        li, orders, left_key="l_orderkey", right_key="o_orderkey", top_k=20
    )


def q185_skew_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (the skew MITIGATION that closes q184's diagnose loop):
    join lineitem to a part-derived dim on a PLANTED 80%-share hot key
    (l_partkey folds to 0 unless divisible by 5) through
    operators/salting.skew_safe_join in auto mode — the key-sized
    report aggregate finds the hot key (NOTE: auto mode is eager —
    the bounded key-count pre-pass runs at query CONSTRUCTION, which
    is the operator's deployed look-before-you-join shape), its rows
    take a broadcast branch (the skewed side never shuffles), cold
    keys take the plain join, and the union is proven identical to
    DuckDB's plain inner join. l_quantity is whole-number doubles, so the post-join sums
    are exact in any engine. Reference anchor: the keyed ON CONFLICT
    merge (etl/etl.py:467-488) is the join this protects at 100 TB."""
    from usajobs_etl_service_spark.operators.salting import skew_safe_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_partkey") % 5 == 0, F.col("l_partkey"))
        .otherwise(F.lit(0))
        .alias("k"),
        "l_quantity",
    )
    dim = (
        _t(spark, sf_dir, "part")
        .groupBy(
            F.when(F.col("p_partkey") % 5 == 0, F.col("p_partkey"))
            .otherwise(F.lit(0))
            .alias("pk")
        )
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    joined = skew_safe_join(
        li, dim, left_key="k", right_key="pk", auto_min_share=0.5, auto_top_k=5
    )
    return joined.groupBy("k", "n_parts").agg(
        F.count(F.lit(1)).cast("long").alias("n_li"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q186_zorder_prepared_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (the float/timestamp on-ramp q182's integral gate asks
    for): z-order orders on (o_totalprice bucketed to CENTS via
    operators/layout.zorder_prepare — floor(v / 0.01), engine-portable
    IEEE double math — x o_custkey), 16 buckets at 16 bits, reporting
    each bucket's per-dimension extrema. The oracle replays the full
    fixed-point + scale + interleave + exact-order bucket pipeline, so
    the prepared path is hash-proven end-to-end, not just unit-tested."""
    from usajobs_etl_service_spark.operators.layout import (
        layout_skipping_stats,
        zorder_prepare,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    prepped, names = zorder_prepare(orders, {"o_totalprice": 0.01})
    return layout_skipping_stats(
        prepped,
        [names[0], "o_custkey"],
        num_partitions=16,
        bits=16,
        tiebreak_cols=["o_orderkey"],
    ).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("min_o_totalprice_zb"),
        F.col("max_o_totalprice_zb"),
        F.col("min_o_custkey"),
        F.col("max_o_custkey"),
    )


def q187_int8_quantization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (embedding-store compression — the 4x int8 shrink a
    100 TB vector corpus applies before anything else touches it):
    symmetric per-vector int8 quantization of the embeddings table
    with a per-vector fidelity report (operators/quantize.py —
    scale = max|v|/127, codes = clamp(round(v/scale)), reconstruction
    max-abs-error and MSE). Everything is HOFs in the scan stage (one
    pass, zero shuffles, no join); round() is half-away-from-zero in
    both engines, so the oracle reproduces the exact codes and the
    rounded error stats hash-match."""
    from usajobs_etl_service_spark.operators.quantize import (
        quantization_error_report,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return quantization_error_report(emb)


def q188_int8_topk_rescoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (the query path over the compressed store): exact
    top-20 cosine where BOTH the corpus and the query vector live as
    int8 codes (operators/quantize.py) — quantize, dequantize
    (code * scale doubles, bit-exact in any engine), then the q18
    TakeOrdered scan. Proves the 4x-compressed store still ranks:
    the oracle replays quantize+dequantize+cosine end-to-end, and
    test_quantize asserts high overlap with the float top-k."""
    from usajobs_etl_service_spark.operators.quantize import (
        dequantize_int8,
        quantize_embeddings_int8,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = quantize_embeddings_int8(emb)
    deq = q.select("vec_id", dequantize_int8(q).alias("embedding"))
    qvec = [
        float(x)
        for x in deq.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return SIM.topk_cosine(
        deq.filter(F.col("vec_id") != 0), qvec, k=20, round_digits=4
    )


def q189_int8_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (the persisted form of q188 — closes the round-9 gap
    where every probe re-quantized the float corpus): the embeddings
    table is quantized ONCE into a persisted ``(id, qvec, scale)``
    parquet store (operators/quantize.quantize_write — the
    minhash/IVF/winnow build-once contract), and the probe reads ONLY
    the compact store. Asymmetric scoring: the query vector stays
    FLOAT (never quantized) while the corpus side is int8 codes;
    cosine is scale-invariant under the symmetric per-vector scheme,
    so the shortlist pass ranks on raw codes without touching scale,
    and only the 100-row shortlist is dequantized for the final
    re-rank (dequantization cost O(shortlist), never O(corpus)).
    The store build runs at query construction — that IS the operator
    (build once, probe many); the probe plan is scan -> project ->
    TakeOrdered twice, no join, no shuffle. The oracle replays
    quantize + code-cosine shortlist + dequantized re-rank end-to-end.
    """
    import os
    import tempfile

    from usajobs_etl_service_spark.operators.quantize import (
        quantize_load,
        quantize_write,
        quantized_topk_cosine,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # stable WITHIN this process (the driver/bench re-run queries; a
    # fresh mkdtemp per call would leak dirs the lazy plan still
    # reads), but pid-keyed so a concurrent sweep/bench pair — or two
    # checkouts whose data dirs share a basename — never overwrite
    # each other's store mid-scan (round-10 review)
    store = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_q189_store_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    quantize_write(emb.filter(F.col("vec_id") != 0), store)
    qvec = _qvec(spark, sf_dir)
    out = quantized_topk_cosine(
        quantize_load(spark, store), qvec, k=20, shortlist=100
    )
    return out.select(F.col("id").alias("vec_id"), "sim")


def q190_skew_safe_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (q185's missing modes — the J1 merge's actual scale
    shape): skew_safe_join with how='left_semi' and 'left_anti' on the
    planted 80%-share key (non-multiple-of-5 l_partkeys fold to 0),
    against a dim holding only every-10th part key. The semi leg uses
    MODE-AWARE auto-detection (per-side row concentration, not the
    inner path's pair product — an anti-hot key absent from the right
    never appears in pair counts at all); the anti leg uses the LAZY
    ``hot_keys_from`` key-frame split on the same planted key, so both
    key sources are oracle-covered with ONE eager detection pass. The
    hot branch is a broadcast KEY-SET membership test — the right side
    of a semi/anti join only matters as a key set, so a hot key with a
    billion right rows still broadcasts as one row, and the skewed
    left rows never shuffle. The oracle replays both modes as
    IN / NOT IN subqueries over the same dim."""
    from usajobs_etl_service_spark.operators.salting import skew_safe_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_partkey") % 5 == 0, F.col("l_partkey"))
        .otherwise(F.lit(0))
        .alias("k"),
        "l_quantity",
    )
    dim = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 10 == 0)
        .select(F.col("p_partkey").alias("pk"))
    )

    def agg(df, mode):
        return df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n_li"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        ).select(F.lit(mode).alias("mode"), "k", "n_li", "sum_qty")

    # semi exercises the MODE-AWARE eager auto-detect (per-side row
    # share); anti exercises the LAZY hot_keys_from split on the same
    # planted key — one detection pass total, both operator paths
    # covered (running auto twice would double the construction-time
    # count scans for identical inputs — round-10 review)
    semi = skew_safe_join(
        li, dim, left_key="k", right_key="pk", how="left_semi",
        auto_min_share=0.5, auto_top_k=5,
    )
    hot = spark.range(1).select(F.lit(0).cast("long").alias("key"))
    anti = skew_safe_join(
        li, dim, left_key="k", right_key="pk", how="left_anti",
        hot_keys_from=hot,
    )
    return agg(semi, "semi").unionByName(agg(anti, "anti"))


def q191_triangle_census_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (the sampled escape hatch for q170 — the one named
    bench outlier, already at its exact-census structural minimum):
    DOULION edge-sampled triangle estimate (Tsourakakis et al., KDD
    2009) of the part co-purchase graph at p=0.5. The census runs on a
    deterministically md5-thinned edge set (~p^1.5 of the wedge work)
    and scales counts back unbiased (edges 1/p, wedges 1/p^2,
    triangles 1/p^3). Because the thinning is hash-deterministic (the
    q67/q94 recipe), the oracle replays the EXACT estimate — this is a
    hash-checked query, not a rows-only approximate; q170 itself is
    the exact-regime companion (sample_p=1 takes the identical
    unchanged path, asserted in tests). Accuracy vs q170's exact
    census is asserted in test_graphrank."""
    from usajobs_etl_service_spark.operators.graphrank import triangle_stats

    return triangle_stats(_copurchase_edges(spark, sf_dir), sample_p=0.5)


def q192_assortativity_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (q171's sampled companion): Newman degree
    assortativity on the md5-thinned (p=0.5) co-purchase edge set —
    Pearson correlation is scale-invariant and uniform edge thinning
    scales degrees by ~p, so the sampled coefficient estimates the
    full one with ~p of the join work; n_edges reports the 1/p-scaled
    estimate. Deterministic thinning makes this hash-checked
    end-to-end (the oracle replays sample + moments + one float
    expression); q171 is the exact-regime companion."""
    from usajobs_etl_service_spark.operators.graphrank import degree_assortativity

    return degree_assortativity(_copurchase_edges(spark, sf_dir), sample_p=0.5)


def q193_int8_mips_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (compressed-candidates / exact-rerank MIPS): top-20 by
    dot product where CANDIDATES come from the persisted int8 store and
    the FINAL scores from the original float corpus —
    quantized_topk_dot(rescore_with=...). Unlike cosine (q189) the
    per-vector scale does not cancel out of a dot product, so stage 1
    genuinely consumes the scale column (one multiply after the integer
    code fold); stage 2 joins the 100-id shortlist back to the float
    table (ids broadcast) and ranks the exact float dot — quantization
    error affects only candidate selection, never the final scores, and
    the float-read cost is O(shortlist). Any RECONSTRUCTION-based
    rescore would be pointless — dot(codes*scale, q) distributes to
    scale*dot(codes, q), a pure function of what stage 1 ranked. The
    oracle replays store codes + code shortlist + float rerank;
    everything rounds to 4 (the q18 contract)."""
    import os
    import tempfile

    from usajobs_etl_service_spark.operators.quantize import (
        quantize_load,
        quantize_write,
        quantized_topk_dot,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = _qvec(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") != 0)
    store_path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_q193_store_{os.path.basename(sf_dir.rstrip('/'))}_{os.getpid()}",
    )
    quantize_write(corpus, store_path)
    out = quantized_topk_dot(
        quantize_load(spark, store_path),
        qvec,
        k=20,
        shortlist=100,
        rescore_with=corpus,
    )
    return out.select(F.col("id").alias("vec_id"), "score")


def q194_quantized_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (the IVF x int8 composite — FAISS IVF+SQ8's shape:
    centroid buckets prune the SCAN to nprobe/C of the data, int8
    codes shrink what the probed buckets read 4x, compositions
    multiply). Correctness pin on the q57 pattern: a probe with
    nprobe == C must hash-equal the flat code-cosine ranking — this
    oracle-checks the whole assign/bucket/probe path through
    operators/quantize.quantized_ivf_build/quantized_ivf_topk_cosine,
    leaving only recall-at-nprobe<C as the approximate, test-asserted
    part (tests/test_quantize.py)."""
    from usajobs_etl_service_spark.operators.quantize import (
        quantized_ivf_build,
        quantized_ivf_topk_cosine,
    )

    emb = _ts(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = _qvec(spark, sf_dir)
    index, cents = quantized_ivf_build(
        emb.filter(F.col("vec_id") != 0), n_centroids=16
    )
    out = quantized_ivf_topk_cosine(index, cents, qvec, k=15, nprobe=16)
    return out.select(F.col("id").alias("vec_id"), "sim")


def q195_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (storage layout for JOIN locality — the complement to
    q182/q186's Z-order scan locality): lineitem and orders are written
    ONCE as bucketed tables on the order key (sinks/bucketed.py —
    Spark's bucketBy uses the same Murmur3-pmod hash the shuffle would,
    so the on-disk layout IS the exchange), then the fact⋈fact join,
    the per-order aggregate on the SAME key, and the final top-k all
    plan with ZERO Exchange (asserted in tests/test_bucketed.py — the
    plan is two bucketed FileScans -> SortMergeJoin -> HashAggregate ->
    TakeOrderedAndProject). At 100 TB this moves the dominant fact-side
    shuffle of every repeated order-grain query to a one-time write;
    the merge hint (not a session conf) pins SMJ so nothing here leaks
    into the surrounding session. The build runs at query construction
    — that IS the operator (layout once, join many). Reference anchor:
    init.sql:30-43 keeps jobs.job_id btree-indexed so repeated upserts
    never rescan; bucketing is the distributed analogue."""
    import os
    import tempfile

    from usajobs_etl_service_spark.sinks.bucketed import (
        bucketize_write,
        bucketized_table,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # stable within the process, pid-keyed across concurrent runs
    # (the q189 store convention)
    # sanitize: 'sf0.01' has a dot, which a table identifier would
    # parse as a schema separator
    base = "".join(
        ch if ch.isalnum() else "_"
        for ch in os.path.basename(sf_dir.rstrip("/"))
    )
    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_q195_buckets_{base}_{os.getpid()}"
    )
    t_li = f"q195_b_lineitem_{base}_{os.getpid()}"
    t_o = f"q195_b_orders_{base}_{os.getpid()}"
    bucketize_write(li, t_li, "l_orderkey", 8, os.path.join(root, "lineitem"))
    bucketize_write(orders, t_o, "o_orderkey", 8, os.path.join(root, "orders"))
    bl = bucketized_table(spark, t_li)
    bo = bucketized_table(spark, t_o)
    return (
        bl.hint("merge")
        .join(bo, bl.l_orderkey == bo.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


def q196_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (trained-classifier quality gate — the fastText /
    CCNet inference shape, Joulin et al. 2016): every document scored
    by a hashed unigram+bigram linear model
    (operators/classifier.hashed_linear_score) — sigmoid of the mean
    per-feature weight — and gated at 0.5. The weight table is the
    model artifact: <= width rows BY CONSTRUCTION, hence a provable
    broadcast; the only data shuffle is the per-document mean. Here
    the weights come from deterministic_weights (md5 of the bucket id
    — a reproducible stand-in for a shipped model, so the oracle
    rebuilds the exact model and replays inference bit-for-bit);
    a real pipeline swaps in trained weights behind the same
    (bucket, weight) contract."""
    from usajobs_etl_service_spark.operators.classifier import (
        deterministic_weights,
        hashed_linear_score,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = deterministic_weights(spark, 1024)
    return hashed_linear_score(
        docs, w, width=1024, bias=0.1, threshold=0.5
    ).orderBy("doc_id")


def q197_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (ML feature engineering — Micci-Barreca 2001): K-fold
    leakage-safe target encoding of order priority by order value
    (operators/encoding.target_encoding_table). Every (category, fold)
    cell encodes as the smoothed label mean over the OTHER folds, so no
    row's label ever reaches its own feature; folds are the q94
    deterministic md5 uniform of the order key, so the table is stable
    across runs/engines and the oracle rebuilds it bit-for-bit. One
    fact-side shuffle total: the (category, fold) partial aggregate;
    totals and the prior are windows over the <= |C|*k partials."""
    from usajobs_etl_service_spark.operators.encoding import target_encoding_table

    orders = _t(spark, sf_dir, "orders")
    t = target_encoding_table(
        orders,
        category_col="o_orderpriority",
        label_col="o_totalprice",
        key_col="o_orderkey",
        k=5,
        smoothing=20.0,
        seed=42,
    )
    return t.select(
        "category", "fold", "n_oof", F.round("te", 4).alias("te")
    ).orderBy("category", "fold")


def q198_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (ML feature engineering, credit-scoring WOE/IV): per
    order-priority weight-of-evidence against the finished-order flag
    (operators/encoding.woe_iv) with 0.5 Laplace cells; iv_term sums to
    the feature's total information value. One aggregate keyed by the
    category + a 1-row totals broadcast (the bm25/dsir scalar
    pattern)."""
    from usajobs_etl_service_spark.operators.encoding import woe_iv

    orders = _t(spark, sf_dir, "orders")
    out = woe_iv(
        orders.withColumn("is_f", F.col("o_orderstatus") == "F"),
        category_col="o_orderpriority",
        label_col="is_f",
    )
    return out.select(
        "category",
        "n_good",
        "n_bad",
        F.round("woe", 6).alias("woe"),
        F.round("iv_term", 6).alias("iv_term"),
    ).orderBy("category")


def q199_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (bounded multi-source BFS — the k-hop "blast radius"
    primitive): minimum hop distance from the seed part set
    (p_partkey % 97 == 0) to every part within 3 hops of the
    co-purchase graph (operators/graphrank.khop_distances — frontier
    supersteps, each round one frontier⋈edges join + one anti-join,
    cost tracking the frontier boundary, never the whole graph;
    parquet-materialized rounds, empty-frontier early exit provably
    equal to the full unroll). Fourth iterative-graph member after
    connected components, PageRank, and k-core. The oracle unrolls the
    identical 3 bounded Bellman-Ford rounds as MATERIALIZED CTEs (the
    q174 pattern)."""
    from usajobs_etl_service_spark.operators.graphrank import khop_distances

    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 97 == 0)
        .select(F.col("p_partkey").alias("node"))
    )
    out = khop_distances(_copurchase_edges(spark, sf_dir), seeds, max_hops=3)
    return out.select(F.col("node").alias("p_partkey"), "dist").orderBy("p_partkey")


def q200_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (time-series diagnostics): sample autocorrelation of
    the daily revenue series at lags 1..10
    (operators/timeseries.acf — Box-Jenkins estimator, global-mean
    centering, full-series variance denominator). The series is first
    AGGREGATED to one row per day, so its length is calendar-bounded
    and the single ordered window is sound at any corpus size; all 10
    lead columns come from one window pass and reduce in one
    aggregate. The weekly seasonality the generator plants shows as a
    lag-7 peak."""
    from usajobs_etl_service_spark.operators.timeseries import acf

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    out = acf(daily, order_col="o_orderdate", value_col="rev", max_lag=10)
    return out.select(
        "lag", "n_pairs", F.round("acf", 4).alias("acf")
    ).orderBy("lag")


def q201_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (sub-document dedup with reassembly — the C4/Dolma
    paragraph-dedup stage): every 16-token unit kept ONCE corpus-wide
    (first (doc_id, pos) wins), documents rebuilt from surviving units
    in order, with per-doc unit retention counts
    (operators/dedup.unit_dedup_reassemble). The middle ground between
    q06 (doc-level: drops nothing inside kept docs) and q90 (span
    removal: quadratic-ish candidates) — one posexplode, one
    fingerprint shuffle, one reassembly aggregate, corpus-linear."""
    from usajobs_etl_service_spark.operators.dedup import unit_dedup_reassemble

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unit_dedup_reassemble(docs, unit_tokens=16).orderBy("doc_id")


def q202_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (uncertainty quantification at scale — Chamandy et
    al. 2012 Poisson bootstrap): 95% CI for the mean order value per
    priority (operators/sampling.poisson_bootstrap_ci). Classic
    with-replacement resampling needs global coordination; the Poisson
    bootstrap gives each row an independent Poisson(1) weight per
    replicate — one pass, one (group, replicate) aggregate bounded at
    |G|*B rows, one quantile reduction. Weights are the deterministic
    md5 inverse-CDF draw (shared literal thresholds), so this
    'random' procedure is hash-checked exactly against the oracle."""
    from usajobs_etl_service_spark.operators.sampling import poisson_bootstrap_ci

    orders = _t(spark, sf_dir, "orders")
    out = poisson_bootstrap_ci(
        orders,
        group_col="o_orderpriority",
        value_col="o_totalprice",
        key_col="o_orderkey",
        n_replicates=100,
        alpha=0.05,
        seed=7,
    )
    return out.select(
        F.col("group").alias("priority"),
        "n",
        F.round("mean", 2).alias("mean"),
        F.round("ci_lo", 2).alias("ci_lo"),
        F.round("ci_hi", 2).alias("ci_hi"),
    ).orderBy("priority")


def q203_robust_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (robust statistics): Theil-Sen slope/intercept +
    Mann-Kendall trend test on the daily revenue series
    (operators/timeseries.robust_trend) — the outlier-immune
    counterpart to q138's OLS fit (a single corrupted day moves OLS
    arbitrarily; the pairwise-median slope tolerates 29%
    contamination). Mann-Kendall's S is an INTEGER sum of signs —
    exact cross-engine in any summation order; the medians are exact
    interpolated percentiles over the O(days^2) pairwise grid, sound
    because the series is calendar-bounded (the q200 argument)."""
    from usajobs_etl_service_spark.operators.timeseries import robust_trend

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    out = robust_trend(daily, order_col="o_orderdate", value_col="rev")
    return out.select(
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 2).alias("intercept"),
        "mk_s",
        F.round("mk_z", 4).alias("mk_z"),
    )


def q204_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (privacy release gate — Sweeney 2002 k-anonymity +
    Machanavajjhala 2006 l-diversity): equivalence-class audit of
    customers under the (nation, market segment) quasi-identifier
    pair with account balance as the sensitive attribute
    (operators/privacy.kanonymity_classes), k=50, l=20 (the one-row
    release summary, kanonymity_summary, is tested in
    tests/test_privacy_binning.py). The audit the q68 PII-redaction stage
    cannot replace: scrubbing
    direct identifiers does nothing about re-identification through
    quasi-identifier combinations. One aggregate keyed by the quasi
    pair; class count is bounded by the value cross product."""
    from usajobs_etl_service_spark.operators.privacy import (
        kanonymity_classes,
        kanonymity_summary,
    )

    cust = _t(spark, sf_dir, "customer")
    classes = kanonymity_classes(
        cust,
        ["c_nationkey", "c_mktsegment"],
        k=50,
        sensitive_col="c_acctbal",
        l=20,
    )
    return classes.select(
        "c_nationkey", "c_mktsegment", "n", "n_sensitive", "k_ok", "l_ok"
    ).orderBy("c_nationkey", "c_mktsegment")


def q205_binned_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (numeric-feature pipeline): equi-depth decile binning
    of order value (operators/encoding.quantile_bin — exact
    interpolated percentile boundaries in one pass, expression-side
    assignment off a 1-row broadcast) composed with WOE/IV scoring of
    the bins against the finished-order flag (q198's operator, bins as
    categories) — the standard monotone-feature construction. Proves
    the two operators compose: binning emits a column any encoder
    consumes."""
    from usajobs_etl_service_spark.operators.encoding import quantile_bin, woe_iv

    orders = _t(spark, sf_dir, "orders")
    binned = quantile_bin(orders, value_col="o_totalprice", n_bins=10)
    out = woe_iv(
        binned.withColumn("is_f", F.col("o_orderstatus") == "F"),
        category_col="bin",
        label_col="is_f",
    )
    return out.select(
        F.col("category").alias("bin"),
        "n_good",
        "n_bad",
        F.round("woe", 6).alias("woe"),
        F.round("iv_term", 6).alias("iv_term"),
    ).orderBy("bin")


def q206_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (tokenizer training on Spark — Sennrich et al. 2016
    BPE): learn the first 5 merge rules over the documents corpus
    (operators/bpe.bpe_learn). The corpus is scanned ONCE into the
    word-frequency dictionary; every round then works on the
    vocab-bounded (freq, symbols) table — pair counts by one (a, b)
    aggregate, argmax with the count-desc/lexicographic tiebreak (ONE
    driver row per round, the pq codebook posture), merge applied as a
    leftmost-first expression fold, rounds materialized as parquet
    supersteps. Fully deterministic (integer counts, pure-function
    fold), so the learned merge TABLE hash-matches a round-unrolled
    DuckDB replay — tokenizer training as a checkable query."""
    from usajobs_etl_service_spark.operators.bpe import bpe_learn

    docs = _t(spark, sf_dir, "documents").select("text")
    merges = bpe_learn(docs, n_merges=5)
    return spark.createDataFrame(
        merges, ["round", "pair_a", "pair_b", "pair_count"]
    ).orderBy("round")


def q207_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (change-point detection — Page 1954 CUSUM): the
    mean-centered cumulative sum over the daily revenue series peaks
    (in |S_t|) where the level shifts; output the top-3 candidate
    change dates with their CUSUM values. The running sum is a window
    over the calendar-bounded daily aggregate (the q200/q203
    boundedness argument); the mean rides a 1-row broadcast. Ties
    break by date (both sides)."""
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    m = daily.agg(F.avg("rev").alias("__m"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cusum = (
        daily.crossJoin(F.broadcast(m))
        .select("d", F.sum(F.col("rev") - F.col("__m")).over(w).alias("s"))
        .select("d", F.round("s", 2).alias("cusum"), F.round(F.abs("s"), 2).alias("abs_cusum"))
    )
    return cusum.orderBy(F.desc("abs_cusum"), "d").limit(3)


def q208_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (seasonal decomposition, STL-lite): detrend the daily
    revenue series with a CENTERED 7-day moving average (full windows
    only — edge days with partial windows are excluded on both sides,
    the standard moving-average decomposition rule), then the seasonal
    index of weekday w is the mean residual over its days. Windows run
    over the calendar-bounded daily aggregate. Surfaces the weekly
    cycle the generator plants (the q200 ACF lag-7 peak, now localized
    to which weekdays carry it)."""
    from pyspark.sql import Window

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    detrended = (
        daily.select(
            "d",
            "rev",
            F.count(F.lit(1)).over(w).alias("__n"),
            F.avg("rev").over(w).alias("trend"),
        )
        .filter(F.col("__n") == 7)
        .select("d", (F.col("rev") - F.col("trend")).alias("resid"))
    )
    return (
        detrended.groupBy(F.dayofweek("d").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg("resid"), 2).alias("seasonal"),
        )
        .orderBy("dow")
    )


def q209_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (two-sample inference): Welch's unequal-variance
    t-test comparing urgent vs low-priority order values — one
    grouped aggregate pass builds both samples' (n, mean, s^2), then
    the t statistic and Welch-Satterthwaite df are one float
    expression over the 2-row aggregate (the q131 z-test's heavier
    sibling). Sample variances come from each engine's var_samp —
    their float-accumulation orders differ only in trailing ulps,
    absorbed by the round-4/round-2 display contract."""
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("o_totalprice").alias("m"),
        F.var_samp("o_totalprice").alias("v"),
    )
    a = g.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("n").alias("n1"), F.col("m").alias("m1"), F.col("v").alias("v1")
    )
    b = g.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("n").alias("n2"), F.col("m").alias("m2"), F.col("v").alias("v2")
    )
    j = a.crossJoin(b)
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    t = (F.col("m1") - F.col("m2")) / F.sqrt(se2)
    df_w = (se2 * se2) / (
        (F.col("v1") / F.col("n1")) * (F.col("v1") / F.col("n1")) / (F.col("n1") - 1)
        + (F.col("v2") / F.col("n2")) * (F.col("v2") / F.col("n2")) / (F.col("n2") - 1)
    )
    return j.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round("m1", 2).alias("mean_urgent"),
        F.round("m2", 2).alias("mean_low"),
        F.round(t, 4).alias("t_stat"),
        F.round(df_w, 2).alias("welch_df"),
    )


def q211_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (tokenizer APPLY — q206's other half): learn 5 BPE
    merges, then tokenize the corpus through the segmented DICTIONARY
    (bpe_learn(return_vocab=True)): a corpus tokenizes by joining its
    words against the (word, syms) table — subwords-per-word is the
    symbol count (the ``</w>`` terminal counts as or within a symbol,
    the Sennrich convention) — never by re-running merge folds per
    document. Per-language compression report: words, subwords,
    subwords/word. The oracle replays learn + segmentation through the
    same unrolled rounds and joins the same dictionary."""
    from usajobs_etl_service_spark.operators.bpe import bpe_learn

    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    _, vocab = bpe_learn(docs, n_merges=5, return_vocab=True)
    per_word = vocab.select(
        "word", F.size(F.split("syms", " ")).alias("n_sub")
    )
    words = docs.select(
        "lang", F.explode(TX.tokens_ws(F.lower(F.col("text")))).alias("word")
    )
    return (
        words.join(per_word, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
            F.round(
                F.sum("n_sub").cast("double") / F.count(F.lit(1)), 4
            ).alias("subwords_per_word"),
        )
        .orderBy("lang")
    )


def q212_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (declarative data contract — the Great-Expectations
    shape): five single-pass rules over orders plus a referential-
    integrity rule against customer
    (operators/expectations.expect_report / fk_violations). All
    in-table rules compile into ONE aggregate over one scan (FALSE and
    NULL both violate — a NULL price is not a positive price); the FK
    rule is a broadcast-able left_anti count (the q15/q116 shape),
    UNION'd in at rule_seq -1. The generalization of the reference's
    hardwired NOT-NULL gate (etl.py:214-224) into a rule table."""
    from usajobs_etl_service_spark.operators.expectations import (
        expect_report,
        fk_violations,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    report = expect_report(
        orders,
        [
            ("totalprice_positive", F.col("o_totalprice") > 0),
            ("status_known", F.col("o_orderstatus").isin("F", "O", "P")),
            (
                "date_in_range",
                F.to_date("o_orderdate").between("1990-01-01", "2005-12-31"),
            ),
            ("priority_nonnull", F.col("o_orderpriority").isNotNull()),
            ("price_under_cap", F.col("o_totalprice") < 300000),
        ],
    )
    fk = fk_violations(
        orders, cust, fact_key="o_custkey", dim_key="c_custkey", rule="custkey_fk"
    )
    return fk.unionByName(report).orderBy("rule_seq")


def q213_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (join pricing — the explosion detector that
    complements q184's hot-key finder): EXACT inner-join output
    cardinality of lineitem⋈part on the part key, computed WITHOUT
    running the join (operators/salting.join_cardinality_report) —
    per-key partial counts on each side (shuffles |distinct keys|
    rows, not every row), joined, summed. Top-5 contributing keys +
    the grand TOTAL row (key NULL): at 100 TB this discovers a
    10^14-row explosion for the price of two counts."""
    from usajobs_etl_service_spark.operators.salting import join_cardinality_report

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return join_cardinality_report(
        li, part, left_key="l_partkey", right_key="p_partkey", top_k=5
    )


def q214_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window surface (ntile — the one ranking function q48's suite
    did not cover): per-priority order-value quartiles, with the
    orderkey tiebreak that makes bucket assignment deterministic under
    price ties (ntile's remainder-to-first-buckets semantics agree
    between Spark and DuckDB; the tiebreak is what keeps the BOUNDARY
    rows on the same side in both engines). Per (priority, quartile):
    count and value range."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


def q215_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (text analysis — readability): Flesch reading-ease
    per language from expression-side counts — words (the q19
    whitespace tokenizer), syllables as vowel-group runs
    (``[aeiouy]+`` — the standard cheap proxy), sentences as
    ``[.!?]+`` runs floored at 1 (the synthetic corpus has no
    sentence marks; real corpora do). Zero shuffles before the
    per-language aggregate; both engines evaluate the identical
    regex + formula."""
    docs = _t(spark, sf_dir, "documents")
    words = TX.token_count_ws(F.col("text")).cast("double")
    syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("double")
    sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)), F.lit(1)
    ).cast("double")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (words / sentences)
        - F.lit(84.6) * (syllables / words)
    )
    return (
        docs.filter(words > 0)
        .select("lang", words.alias("w"), (syllables / words).alias("spw"), flesch.alias("f"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("w"), 4).alias("avg_words"),
            F.round(F.avg("spw"), 4).alias("avg_syllables_per_word"),
            F.round(F.avg("f"), 4).alias("avg_flesch"),
        )
        .orderBy("lang")
    )


def q216_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (second space-filling curve — Hilbert vs q182's
    Morton): orders plotted on an (custkey mod 256, price-bucket mod
    256) grid, Hilbert-indexed (operators/layout.hilbert_attach — the
    canonical xy2d rotation unrolled into 8 chained codegen'd
    projections; intermediates legitimately go negative and
    two's-complement & handles them identically in Spark/DuckDB/
    Python, which is what makes a space-filling curve hash-checkable).
    Report: per top-4-bit Hilbert bucket, the (x, y) bounding box —
    Hilbert buckets cover TIGHT rectangles where Morton buckets jump
    at power-of-two seams; the unit-step adjacency property is
    grid-tested in tests/test_layout.py."""
    from usajobs_etl_service_spark.operators.layout import hilbert_attach

    base = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 256).alias("x"),
        (F.floor(F.col("o_totalprice") / 2000).cast("long") % 256).alias("y"),
    )
    h = hilbert_attach(base, "x", "y", bits=8)
    return (
        h.groupBy(F.shiftright(F.col("hilbert_d"), 12).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("x_lo"),
            F.max("x").alias("x_hi"),
            F.min("y").alias("y_lo"),
            F.max("y").alias("y_hi"),
        )
        .orderBy("bucket")
    )


def q217_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (k-anonymity REPAIR — the decision q204's audit
    feeds): walk the real nation -> region -> '*' generalization
    hierarchy over customers (operators/privacy.generalization_ladder)
    and mark the FIRST rendering whose minimum class size reaches
    k=100. The choice is computed lazily in-plan (min qualifying level
    via a window over the |levels|-row ladder), not by driver logic;
    each level is one aggregate. The region hop uses the actual
    nation dimension — a true semantic hierarchy, not string
    truncation."""
    from usajobs_etl_service_spark.operators.privacy import generalization_ladder

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
    )
    base = cust.join(F.broadcast(nation), "c_nationkey")
    levels = [
        ("nation x segment", [F.col("c_nationkey"), F.col("c_mktsegment")]),
        ("region x segment", [F.col("n_regionkey"), F.col("c_mktsegment")]),
        ("region only", [F.col("n_regionkey")]),
        ("fully suppressed", [F.lit("*")]),
    ]
    return generalization_ladder(base, levels, k=100)


def q218_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus statistics — Heaps' law, the companion to
    q96's Zipf fit): vocabulary growth V(N) ~ K * N^beta measured at
    10 doc-id checkpoints WITHOUT any prefix re-scans — each term
    contributes its FIRST containing doc (one min aggregate), so
    V(checkpoint) is ten conditional counters in ONE pass over the
    first-occurrence table, and N(checkpoint) ten conditional sums
    over per-doc token counts; the log-log fit runs over the 10-row
    checkpoint frame. Checkpoints derive from max(doc_id) by integer
    arithmetic (engine-exact). Predicts vocabulary (= tokenizer /
    embedding-table) growth for corpus scaling decisions."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens_ws(F.lower(F.col("text"))).alias("ts")
    )
    per_doc = docs.select("doc_id", F.size("ts").alias("tc"))
    firsts = (
        docs.select("doc_id", F.explode("ts").alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    mx = per_doc.agg(F.max("doc_id").alias("mx"))
    v_row = firsts.crossJoin(F.broadcast(mx)).agg(
        *[
            F.count_if(F.col("first_doc") <= (F.col("mx") * i) / 10).alias(f"v{i}")
            for i in range(1, 11)
        ]
    )
    n_row = per_doc.crossJoin(F.broadcast(mx)).agg(
        F.max("mx").alias("mx"),
        *[
            F.sum(
                F.when(F.col("doc_id") <= (F.col("mx") * i) / 10, F.col("tc")).otherwise(0)
            ).alias(f"n{i}")
            for i in range(1, 11)
        ],
    )
    stack = ", ".join(
        f"{i}, bigint(mx * {i} div 10), n{i}, v{i}" for i in range(1, 11)
    )
    pts = (
        n_row.crossJoin(v_row)
        .selectExpr(
            f"stack(10, {stack}) AS (checkpoint, max_doc, n_tokens, vocab)"
        )
    )
    fit = pts.agg(
        F.round(
            F.expr("regr_slope(ln(double(vocab)), ln(double(n_tokens)))"), 6
        ).alias("heaps_beta"),
        F.round(
            F.exp(F.expr("regr_intercept(ln(double(vocab)), ln(double(n_tokens)))")),
            4,
        ).alias("heaps_k"),
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select("checkpoint", "max_doc", "n_tokens", "vocab", "heaps_beta", "heaps_k")
        .orderBy("checkpoint")
    )


def q219_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus forensics): the cross-SOURCE exact-duplicate
    matrix — for every source pair, how many duplicate doc PAIRS span
    them (mirror-site / scraped-twice detection; within-source pairs
    are C(n,2) per fingerprint). Shape: per-(fingerprint, source)
    counts first (one shuffle), then a self-join ON THE FINGERPRINT of
    that bounded table — pair arithmetic n1*n2 runs on counts, never
    on document pairs, so a 10k-copy fingerprint costs one row per
    source, not 10k^2 rows. Ordered source pair (s1 <= s2)."""
    docs = _t(spark, sf_dir, "documents")
    per = (
        docs.select(F.md5(F.col("text")).alias("fp"), "source")
        .groupBy("fp", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = per.select("fp", F.col("source").alias("s1"), F.col("n").alias("n1"))
    b = per.select("fp", F.col("source").alias("s2"), F.col("n").alias("n2"))
    joined = a.join(b, "fp").filter(F.col("s1") <= F.col("s2"))
    pairs = F.when(
        F.col("s1") < F.col("s2"), F.col("n1") * F.col("n2")
    ).otherwise(F.col("n1") * (F.col("n1") - 1) / 2)
    return (
        joined.groupBy("s1", "s2")
        .agg(F.sum(pairs).cast("long").alias("dup_pairs"))
        .filter(F.col("dup_pairs") > 0)
        .orderBy(F.desc("dup_pairs"), "s1", "s2")
    )


def q220_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window surface completion (percent_rank + cume_dist — with
    q48's rank/dense_rank/lag/lead and q214's ntile this covers every
    SQL ranking function): normalized order-value position within each
    priority, summarized as the per-priority mean percent_rank and
    cume_dist of the >100k-value slice (how deep into each priority's
    distribution the big orders sit). Orderkey tiebreak pins tie
    boundaries cross-engine (the q214 contract)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = (
        _t(spark, sf_dir, "orders")
        .withColumn("pr", F.percent_rank().over(w))
        .withColumn("cd", F.cume_dist().over(w))
        .filter(F.col("o_totalprice") > 100000)
    )
    return (
        ranked.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_big"),
            F.round(F.avg("pr"), 6).alias("avg_percent_rank"),
            F.round(F.avg("cd"), 6).alias("avg_cume_dist"),
            F.round(F.min("pr"), 6).alias("min_percent_rank"),
        )
        .orderBy("o_orderpriority")
    )


def q210_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (community detection — Raghavan et al. 2007 LPA with
    a DETERMINISTIC lexicographic tiebreak, which is what makes a
    'random' community algorithm hash-checkable): 3 synchronous rounds
    over the Brand#1 co-purchase subgraph (q174's graph; the fixed
    round count is the q105/q174/q199 bounded-iteration contract).
    Fifth iterative-graph member
    (operators/graphrank.label_propagation): per round one
    labels⋈edges join, one (node, label) count, one argmax window, one
    left join back — parquet supersteps. Output: every node's
    community label; the oracle unrolls the identical 3 rounds."""
    from usajobs_etl_service_spark.operators.graphrank import label_propagation

    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    keep = part.select(F.col("p_partkey").alias("u"))
    # induced-subgraph filter applied to the incidence BEFORE the pair
    # expansion (set-identical to semi-joining both endpoints after —
    # see _copurchase_pairs; the optimizer can't push a semi through
    # the explode itself)
    e = _copurchase_pairs(spark, sf_dir, part_keep=keep).distinct()
    out = label_propagation(e, rounds=3)
    return out.select(F.col("node").alias("p_partkey"), "label").orderBy("p_partkey")


def _classifier_scored_with_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared q221/q222 input: every document's q196 classifier score
    joined to an exact ground-truth flag (text mentions 'data') — the
    standard eval harness shape: model score vs held-out label. The
    score is the ROUNDED sigmoid (q196's cross-engine contract), so
    rank tie groups and calibration bins are identical in both
    engines."""
    from usajobs_etl_service_spark.operators.classifier import (
        deterministic_weights,
        hashed_linear_score,
    )

    docs = _t(spark, sf_dir, "documents")
    w = deterministic_weights(spark, 1024)
    scored = hashed_linear_score(
        docs.select("doc_id", "text"), w, width=1024, bias=0.1
    )
    labels = docs.select(
        "doc_id", F.col("text").contains("data").cast("int").alias("y")
    )
    return scored.join(labels, "doc_id")


def q221_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (model evaluation — the measuring half of the q196
    classifier gate): EXACT distributed ROC-AUC of the classifier
    score against a ground-truth label, via the rank-sum identity
    AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos*n_neg) with textbook
    average-rank tie handling (operators/evalmetrics.exact_auc).
    Aggregate-first (the q123/q162 shape): the per-score groupBy
    collapses duplicate scores map-side, so the ordered range exchange
    moves only the DISTINCT support — never a no-partition window,
    never a row-level range repartition — and the same plan scores a
    100 TB eval set. Every intermediate is exact in double (average
    ranks are half-integers, products/sums of half-integers below
    2^53), so the single final division is bit-identical cross-engine.
    The reference gates rows but never measures its gates (etl.py
    validation filters); this is the eval harness those gates need."""
    from usajobs_etl_service_spark.operators.evalmetrics import exact_auc

    return exact_auc(_classifier_scored_with_label(spark, sf_dir), "score", "y")


def q222_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (model evaluation — reliability + Expected Calibration
    Error, Naeini 2015 / Guo 2017): the q196 classifier's probability
    honesty. Equal-width bins on the ROUNDED score (the q196 contract —
    a raw sigmoid within an ulp of a bin edge would land in different
    bins across engines); per bin count / mean confidence / mean
    accuracy / |gap|, with the bin-weighted ECE attached via a 1-row
    broadcast (operators/evalmetrics.calibration_report). One scan +
    one 10-key aggregate — corpus-linear at any scale."""
    from usajobs_etl_service_spark.operators.evalmetrics import calibration_report

    return calibration_report(
        _classifier_scored_with_label(spark, sf_dir), "score", "y", n_bins=10
    )


def q223_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (nonparametric cohort testing — the rank-based
    companion to q209's Welch t): two-sided Mann-Whitney U comparing
    order values of 1-URGENT vs 5-LOW priorities, tie-corrected normal
    approximation, no continuity correction so both engines replay the
    identical closed form. Drives the CANONICAL
    operators/profiling.mann_whitney_u (q162's drift-test engine —
    aggregate-first per-value counts + ordered cumulative midranks; a
    session review caught that a second row-ranking implementation had
    crept into evalmetrics.py and deleted it) on an experimentation
    cohort rather than q162's event-drift cohort."""
    from usajobs_etl_service_spark.operators.profiling import mann_whitney_u

    return mann_whitney_u(
        _t(spark, sf_dir, "orders"),
        value_col="o_totalprice",
        label_col="o_orderpriority",
        label_a="1-URGENT",
        label_b="5-LOW",
    )


def q224_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (cross-source score calibration — Bolstad 2003
    quantile normalization, generalized to unequal group sizes):
    document lengths normalized onto the POOLED length distribution at
    each row's within-source midpoint quantile, so per-source scale
    drift (one crawler's lengths shifted against another's) stops
    biasing mixing thresholds. Integer-rank arithmetic end to end —
    idx = ceil((2r-1)N / 2n_g) as a pure integer div — so both engines
    agree bit-for-bit with no interpolation. Both rank passes are
    distributed_order range exchanges (operators/quantnorm.py); the
    map itself is an integer-key equi join. Output: per-source raw
    vs normalized moments (normalized means converge across sources —
    that's the point of the operator)."""
    from usajobs_etl_service_spark.operators.quantnorm import quantile_normalize

    docs = _t(spark, sf_dir, "documents")
    qn = quantile_normalize(docs, "n_chars", "source", "doc_id")
    return (
        qn.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("raw_mean"),
            F.round(F.avg("normalized"), 6).alias("norm_mean"),
            F.min("normalized").alias("norm_min"),
            F.max("normalized").alias("norm_max"),
        )
        .orderBy("source")
    )


def q225_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (market-basket mining — Agrawal & Srikant 1994,
    size-2 rules): top-25 'bought A -> also bought B' rules over order
    baskets by lift, with directional confidence. The co-purchase
    family's (q170/q199/q210 graph) RULE view: the same bounded
    basket self-join (blow-up = sum C(|basket|,2), never |items|^2),
    pair counts collapsed before the two support joins, every
    statistic an exact-integer ratio so the top-k order is bit-stable
    cross-engine (operators/association.py)."""
    from usajobs_etl_service_spark.operators.association import association_rules

    li = _t(spark, sf_dir, "lineitem")
    return association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=2, top_n=25
    )


def q226_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (survival analysis — Kaplan & Meier 1958
    product-limit estimator): user-retention curve over the event
    stream with right-censoring (users last seen within 14 days of the
    stream's end are censored at their observed lifetime, not counted
    as churn). Day-granular throughout, so the TIMESTAMP_NS engine
    seam never matters. ONE user-key aggregate is the only data
    shuffle; every window runs over the bounded life table (one row
    per distinct lifetime — calendar-bounded at any data scale). The
    survival product folds exp(sum(ln(...))) in lifetime order, rounded
    at 6 (operators/survival.km_curve)."""
    from usajobs_etl_service_spark.operators.survival import km_curve

    return km_curve(
        _t(spark, sf_dir, "events"), "user_id", "ts", churn_horizon_days=14
    )


def q227_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (information-theoretic dependence — completes the
    q126 chi-square / q119 entropy / q142 KL family): exact mutual
    information between document language and source, with marginal
    entropies and the normalized MI (sqrt normalization, Strehl &
    Ghosh 2002). Everything derives from ONE (lang, source) cell
    aggregate — the only data shuffle; marginals are windows over the
    bounded cell table, and both marginal entropies fold over the SAME
    cell stream (H_x = -sum_cells (n_xy/N) ln(n_x/N), since rows of a
    cell share their marginal). Exact integer ratios into ln, rounded
    at 6 (the q218 ln contract)."""
    from pyspark.sql import Window

    cells = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # bounded cell table (|langs| x |sources|) from here on.  NB the
    # total is "tot", not "N": Spark's default resolver is
    # case-insensitive, so withColumn("N", ...) would REPLACE "n"
    m = (
        cells.withColumn("nx", F.sum("n").over(Window.partitionBy("lang")))
        .withColumn("ny", F.sum("n").over(Window.partitionBy("source")))
        .withColumn("tot", F.sum("n").over(Window.partitionBy()))
    )
    mi_term = (F.col("n") / F.col("tot")) * F.log(
        F.col("n") * F.col("tot") / (F.col("nx") * F.col("ny"))
    )
    hx_term = (F.col("n") / F.col("tot")) * F.log(F.col("nx") / F.col("tot"))
    hy_term = (F.col("n") / F.col("tot")) * F.log(F.col("ny") / F.col("tot"))
    return m.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum(mi_term), 6).alias("mi_nats"),
        F.round(-F.sum(hx_term), 6).alias("h_lang"),
        F.round(-F.sum(hy_term), 6).alias("h_source"),
        F.round(
            # try_divide: a single-language (or single-source) corpus
            # has zero marginal entropy -> NULL nmi in both engines
            # (plain double division would give NaN where DuckDB NULLs)
            F.try_divide(
                F.sum(mi_term), F.sqrt(F.sum(hx_term) * F.sum(hy_term))
            ),
            6,
        ).alias("nmi"),
    )


def q228_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (model evaluation — the operating-point view AUC
    (q221) integrates away): precision / recall / F1 for the q196
    classifier at 7 candidate gates, computed in ONE conditional-
    aggregate pass (3 counters per threshold — never a scan per
    threshold) and stacked to long form
    (operators/evalmetrics.threshold_sweep). Exact-integer ratios;
    degenerate operating points go NULL via try_divide == DuckDB's
    NULL-on-zero-divisor division."""
    from usajobs_etl_service_spark.operators.evalmetrics import threshold_sweep

    return threshold_sweep(
        _classifier_scored_with_label(spark, sf_dir),
        "score",
        "y",
        [0.4, 0.45, 0.48, 0.5, 0.52, 0.55, 0.6],
    )


def q229_gate_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (curation-gate diagnostics — Cohen 1960): chance-
    corrected agreement between two document quality gates, the q196
    trained-classifier keep flag (rounded score >= 0.5) and a simple
    length heuristic (n_chars >= 300). Raw agreement po overstates
    concordance when both gates pass most documents; kappa corrects by
    the marginal-product chance rate. One scalar aggregate over the
    joined gate flags (operators/evalmetrics.cohen_kappa); exact
    2x2 integer counts into two mirrored divisions."""
    from usajobs_etl_service_spark.operators.classifier import (
        deterministic_weights,
        hashed_linear_score,
    )
    from usajobs_etl_service_spark.operators.evalmetrics import cohen_kappa

    docs = _t(spark, sf_dir, "documents")
    w = deterministic_weights(spark, 1024)
    scored = hashed_linear_score(
        docs.select("doc_id", "text"), w, width=1024, bias=0.1, threshold=0.5
    )
    flags = scored.join(
        docs.select("doc_id", (F.col("n_chars") >= 300).alias("long_enough")),
        "doc_id",
    )
    return cohen_kappa(flags, "keep", "long_enough")


def q230_sliced_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (sliced evaluation — the per-source view of q221,
    what every per-language/per-source corpus report actually ships):
    exact AUC of the classifier score within EACH document source.
    Aggregate-first like q221: one (source, score) aggregate over the
    rows, a group-leading ordered cumulative over the distinct
    support, and a |sources|-row broadcast of prior totals turning the
    global cumulative into within-group midranks
    (operators/evalmetrics.exact_auc_by_group). Single-class slices
    yield NULL auc identically in both engines (try_divide == DuckDB
    zero-divisor NULL)."""
    from usajobs_etl_service_spark.operators.evalmetrics import exact_auc_by_group

    return exact_auc_by_group(
        _classifier_scored_with_label(spark, sf_dir).join(
            _t(spark, sf_dir, "documents").select("doc_id", "source"), "doc_id"
        ),
        "score",
        "y",
        "source",
    )


def q231_trimmed_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (robust location statistics — Tukey): per-priority
    10%-trimmed and winsorized mean order value. Trim cutoffs are
    EXACT integer ranks (floor(0.1 * n_g) rows off each end) from one
    group-leading global ranking (operators/robust.trimmed_stats — the
    quantnorm offset trick), never an approximate percentile; the
    winsorized mean needs no second pass because clamping k rows to
    each kept extreme is kept_sum + k*lo + k*hi. Complements q203's
    Theil-Sen (robust slope) with robust location."""
    from usajobs_etl_service_spark.operators.robust import trimmed_stats

    return trimmed_stats(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        "o_orderpriority",
        "o_orderkey",
        trim_frac=0.1,
    )


def q232_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (rank correlation — completes the correlation surface:
    q128 Pearson, q179 Kendall tau-a on rankings, now Spearman with
    exact average-rank ties): monotone association between order value
    and order DATE (heavy date ties exercise the tie machinery).
    Aggregate-first per-value midranks joined back by value, rank
    pairs matched on the order key — hash joins only, no row-level
    range exchange (operators/evalmetrics.spearman); every rank sum is
    exact in double below 2^51, so the closed form is bit-identical
    cross-engine."""
    from usajobs_etl_service_spark.operators.evalmetrics import spearman

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.to_date("o_orderdate").alias("od"),
    )
    return spearman(orders, "o_totalprice", "od", "o_orderkey")


def q233_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (robust anomaly detection — Iglewicz & Hoaglin 1993
    modified z-score): per-event-type exact median, MAD, and the count
    of |0.6745(x - med)/MAD| > 3.5 outliers — the robust replacement
    for q102's mean/stddev z-scores (immune to the outliers it hunts).
    The medians are exact but never buffer a group's values in one
    task (F.percentile's per-group buffer melts on a mega-group):
    group-leading global ranking selects the <= 2 middle order
    statistics per group (operators/robust.grouped_median_mad — the
    distributed_median argument, per group). Zero-MAD groups count no
    outliers via try_divide, identically in both engines."""
    from usajobs_etl_service_spark.operators.robust import grouped_median_mad

    return grouped_median_mad(
        _t(spark, sf_dir, "events"), "value", "event_type", "event_id"
    )


def q234_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (weighted shortest paths — sixth iterative-graph
    member, generalizing q199's unit-weight BFS): 3 bounded
    Bellman-Ford relaxations over the co-purchase graph with
    tie-strength costs (co-purchased 3+ times -> cost 1, twice -> 2,
    once -> 4), from the q199 seed set. Result = exact cheapest path
    using at most 3 edges; INTEGER costs keep every distance exact in
    both engines (operators/graphrank.sssp_bounded — frontier-free
    relaxation join + min combine per round, parquet supersteps,
    provably-identity early exit). The oracle unrolls the identical 3
    relaxations as MATERIALIZED CTEs (the q174/q199 pattern)."""
    from usajobs_etl_service_spark.operators.graphrank import sssp_bounded

    # tie strength n = number of orders containing both parts: the
    # basket-grouped pair stream emits each unordered pair once per
    # containing order (proven equal to the old distinct-incidence
    # self-join's counts at sf0.01), so one groupBy replaces the
    # 2-scan self-join + distinct (round-13, guide §1.2/§2.4)
    wedges = (
        _copurchase_pairs(spark, sf_dir)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "u",
            "v",
            F.when(F.col("n") >= 3, 1)
            .when(F.col("n") == 2, 2)
            .otherwise(4)
            .alias("w"),
        )
    )
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 97 == 0)
        .select(F.col("p_partkey").alias("node"))
    )
    out = sssp_bounded(wedges, seeds, rounds=3)
    return out.select(F.col("node").alias("p_partkey"), "dist").orderBy("p_partkey")


def q235_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (retention policy — the RefinedWeb/CCNet 'keep the
    best copy' rule): exact-duplicate clusters resolved by HIGHEST
    quality (longest text, the C4 heuristic; tie -> lowest doc_id),
    vs q05's arrival order and q64's min-id convention. Clusters key
    on the 60-char PREFIX fingerprint — the truncated-copy detector
    (a scrape cut mid-document shares the prefix but not the length),
    which is exactly where keep-longest beats keep-any. Mega-cluster-
    safe: no per-fingerprint window — best-quality aggregate,
    equality join back, min-id aggregate, id join
    (operators/dedup.dedup_keep_best). Output: the surviving doc per
    multi-copy cluster with its cluster size."""
    from usajobs_etl_service_spark.operators.dedup import dedup_keep_best

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.substring(F.col("text"), 1, 60)).alias("fp"),
    )
    kept = dedup_keep_best(docs, ["fp"], "n_chars", "doc_id")
    return (
        kept.filter(F.col("n_copies") > 1)
        .select("fp", "doc_id", "source", "n_chars", "n_copies")
        .orderBy(F.desc("n_copies"), "fp")
    )


def q236_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (ranking evaluation — Järvelin & Kekäläinen 2002
    NDCG@100, the IR-eval completion: q221's AUC integrates the whole
    curve, NDCG grades the TOP of the ranking, which is what a
    retrieval/curation cutoff actually ships): the q196 classifier's
    score ranking against the keyword relevance label. Ranked and
    ideal lists are TakeOrdered top-k pulls (per-partition k-heaps, no
    global sort); positions come from a window over the bounded k-row
    result; tiebreaks pin both lists cross-engine
    (operators/evalmetrics.ndcg_at_k)."""
    from usajobs_etl_service_spark.operators.evalmetrics import ndcg_at_k

    return ndcg_at_k(
        _classifier_scored_with_label(spark, sf_dir),
        "score",
        "y",
        "doc_id",
        k=100,
    )


def q237_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (exact grouped quantile bands — the q233 argument
    generalized to arbitrary fractions): per-priority order-value
    p25/p50/p75/p90/p99, EXACT quantile_cont interpolation with no
    per-group value buffer (F.percentile's per-group buffer melts on a
    mega-group; here the group-leading ranking selects only the <= 2
    bracketing rows per fraction —
    operators/robust.grouped_quantiles). The lerp is the explicit
    lo + (h - floor(h))*(hi - lo) spelled identically in the oracle:
    engines' builtin quantile lerp VARIANTS round differently, so the
    contract is the formula, never the builtin."""
    from usajobs_etl_service_spark.operators.robust import grouped_quantiles

    return grouped_quantiles(
        _t(spark, sf_dir, "orders"),
        "o_totalprice",
        "o_orderpriority",
        "o_orderkey",
        [0.25, 0.5, 0.75, 0.9, 0.99],
    )


def q238_c4_rule_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (C4 / RefinedWeb web-curation rules — Raffel et al.
    2020 §2.2; Penedo et al. 2023): the line- and document-level rule
    pack (functions/text.c4_flags) completing the curation-rules
    family next to q169's Gopher word statistics. The synthetic corpus
    is single-line word-soup, so the query PLANTS deterministic
    doc_id-keyed line structure both engines replay literally: line 1
    = the doc text, terminally punctuated when doc_id%3==0; line 2 =
    a 2-word boilerplate line (curly-brace plant at %89); line 3 = a
    terminal 5-7-word line (lorem-ipsum plant at %97, javascript
    plant at %83, plain otherwise). c4_flags then evaluates the REAL
    rules — terminal-punctuation + min-words-per-line + no-javascript
    line keep, lorem-ipsum / curly-brace / sentence-count document
    drops — as pure JVM expressions over one split (zero UDFs, zero
    shuffles before the per-source aggregate). min_sentences=1 for
    the planted corpus (<= 2 terminal marks per doc). Counts are
    integers; the one ratio is a single bigint/bigint division,
    identical cross-engine."""
    from usajobs_etl_service_spark.functions.text import c4_struct

    docs = _t(spark, sf_dir, "documents")
    text2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".")).otherwise(F.lit("")),
        F.lit("\nshort line"),
        F.when(F.col("doc_id") % 89 == 0, F.lit(" {")).otherwise(F.lit("")),
        F.lit("\n"),
        F.when(
            F.col("doc_id") % 97 == 0, F.lit("Lorem ipsum dolor sit amet.")
        )
        .when(
            F.col("doc_id") % 83 == 0,
            F.lit("check the javascript console for details today."),
        )
        .otherwise(F.lit("another plain line with seven words here.")),
    )
    # inline(array(struct)): the planted-text concat + line filter
    # evaluate ONCE per row under the Generate instead of once per
    # flag column (round-13, guide §1.2)
    feats = docs.select(
        "source", F.inline(F.array(c4_struct(text2, min_sentences=1)))
    ).select(
        "source",
        F.col("n_kept_lines").alias("kept"),
        F.col("has_lorem_ipsum").alias("lor"),
        F.col("has_curly_brace").alias("brc"),
        F.col("has_javascript").alias("js"),
        F.col("passes").alias("p"),
    )
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("p")).alias("n_pass"),
            F.count_if(F.col("lor")).alias("n_lorem"),
            F.count_if(F.col("brc")).alias("n_brace"),
            F.count_if(F.col("js")).alias("n_js"),
            F.sum("kept").alias("kept_lines"),
        )
        .select(
            "source",
            "n_docs",
            "n_pass",
            "n_lorem",
            "n_brace",
            "n_js",
            F.col("kept_lines").cast("long").alias("kept_lines"),
            F.round(F.col("kept_lines") / F.col("n_docs"), 6).alias(
                "avg_kept_lines"
            ),
        )
        .orderBy("source")
    )


def q239_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (semantic decontamination — the paraphrase-leakage
    complement to q66/q163's lexical 8-gram decontam, which a reworded
    benchmark answer walks straight through): corpus embeddings
    cosine->=0.95 to ANY benchmark embedding, via
    semdedup.semantic_contamination_report — k-means blocking through
    ONE shared snapped codebook (corpus+benchmark union-assigned, the
    q89 machinery) composed with decontam's benchmark-broadcast
    contract (the within-cluster compare is a broadcast hash join on
    cluster_id: the corpus shuffles nothing). Planted construction in
    the q89 style: the benchmark is every vec_id%37==0 embedding
    scaled by 2.0 — scaling preserves direction, the norm-invariant
    6-decimal-snapped assignment provably co-clusters each (source,
    benchmark copy) pair, so recall on the plant is exactly 1.0 and
    the clustering-free all-pairs DuckDB oracle is exact; random
    64-dim non-pairs sit ~8 sigma below 0.95."""
    from usajobs_etl_service_spark.operators.semdedup import (
        semantic_contamination_report,
    )
    from usajobs_etl_service_spark.session import parquet_row_count

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bench = emb.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("bench_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    n = parquet_row_count(sf_dir, "embeddings")
    return semantic_contamination_report(
        emb,
        bench,
        threshold=0.95,
        # union cardinality from the parquet footer (q89's hint contract)
        n_rows_hint=n + n // 37 + 1,
    ).orderBy("vec_id")


def q240_ttl_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (TTL dedup over event replay,
    operators/timeseries.ttl_dedup_batch): per user, emit each arrival
    that starts a new 30-minute island — no prior event within the
    TTL, where every arrival (emitted or suppressed) refreshes the
    clock. The oracle checks it with the q42 gaps-and-islands pattern.
    Gap compare is >= on the exact day-time interval (integer
    microseconds underneath, the q42 boundary convention)."""
    from usajobs_etl_service_spark.operators.timeseries import ttl_dedup_batch

    events = _t(spark, sf_dir, "events")
    out = ttl_dedup_batch(
        events,
        key_cols=["user_id"],
        ts_col="ts",
        tiebreak_col="event_id",
        ttl_seconds=1800,
    )
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", TS_FMT_US).alias("ts"),
    )


def q241_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (asymmetric n-gram CONTAINMENT near-dup — Broder
    1997): quote-inclusion detection the symmetric Jaccard families
    (q23/q24) structurally miss — a 40-word quote inside a long
    article has tiny Jaccard but containment 1.0 quote->article.
    Planted construction: every doc_id%7==0 document with >= 48
    whitespace tokens contributes a QUOTE doc (id + 20M) holding its
    first 40 tokens; each (quote, original) pair must surface with
    containment_a or _b == 1.0 (the quote's 33 grams are a contiguous
    subset of the original's). operators/neardup.containment_pairs:
    pair arithmetic on distinct gram keys (the q90/q219 recipe),
    deterministic stop-gram rule (df > 1000, counted, none expected on
    this corpus), denominators = kept grams. Engine carries xxhash64
    gram fingerprints; the oracle replays gram STRINGS (q83/q90's
    collision argument, ~1e-13)."""
    from usajobs_etl_service_spark.operators.neardup import containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    quotes = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .filter(F.size(toks) >= 48)
        .select(
            (F.col("doc_id") + 20000000).alias("doc_id"),
            F.array_join(F.slice(toks, 1, 40), " ").alias("text"),
        )
    )
    return containment_pairs(
        docs.unionByName(quotes), n=8, threshold=0.9, max_gram_df=1000
    )


def q242_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (model evaluation — exact AVERAGE PRECISION, the
    area under the precision-recall step curve): the class-imbalance-
    honest companion to q221's ROC-AUC, which stays near 1.0 on
    rare-positive corpora while precision collapses — the usual regime
    for quality/contamination gates. Tie-safe by the sklearn step
    convention (PR curve evaluated only at DISTINCT score thresholds,
    so tied rows enter the prediction set together — no within-tie
    order exists, the same reason q221 pools average ranks).
    Aggregate-first (operators/evalmetrics.average_precision): one
    per-score aggregate, one descending range exchange over the
    distinct support, one scalar fold; cumulatives exact longs, each
    term one float expression over exact integers in a fixed op
    order, display-rounded once at 6."""
    from usajobs_etl_service_spark.operators.evalmetrics import average_precision

    return average_precision(
        _classifier_scored_with_label(spark, sf_dir), "score", "y"
    )


def q243_good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus statistics — Good-Turing unseen mass, Good
    1953): per source, the leave-one-out estimate of the probability
    mass of UNSEEN vocabulary, p0 = N1/N (singleton types over total
    tokens), plus the singleton/doubleton counts the smoothing family
    is built from. Completes the corpus-statistics trio: q96 Zipf
    (rank-frequency shape), q218 Heaps (vocabulary growth), this
    (how open the vocabulary still is — the curator's signal for
    whether a source needs more data or better cleaning). One token
    explode + two hash aggregates; every statistic is an exact
    integer and p0 is a single bigint/bigint division."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", TX.tokens_ws(F.lower(F.col("text"))).alias("ts")
    )
    counts = (
        docs.select("source", F.explode("ts").alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab"),
            F.count_if(F.col("c") == 1).alias("n1_singletons"),
            F.count_if(F.col("c") == 2).alias("n2_doubletons"),
        )
        .select(
            "source",
            "n_tokens",
            "vocab",
            "n1_singletons",
            "n2_doubletons",
            F.round(
                F.col("n1_singletons") / F.col("n_tokens"), 6
            ).alias("p0_unseen_mass"),
        )
        .orderBy("source")
    )


def q244_truncation_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (embedding-dimension ablation — the Matryoshka/MRL
    question a retrieval-cost tuner asks: how much of the top-k
    survives if we keep only a PREFIX of the embedding?): overlap@20
    between exact full-dim cosine top-20 and top-20 on the first 16
    dims, against the q18 anchor query (vec_id=0). Two TakeOrdered
    scans (no join between corpus rows), both ranked on the ROUNDED
    cosine with vec_id tiebreak (the q173 pre-rounded-rank rule, so
    the rank cut is identical cross-engine); the overlap is a 20-row
    id join. The measured number is what decides whether an int8 or
    truncated store (q187/q189) can serve the first-stage probe."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = _qvec(spark, sf_dir)
    cand = emb.filter(F.col("vec_id") != 0)
    topf = SIM.topk_cosine(cand, qv, k=20, round_digits=4).select("vec_id")
    pre = cand.select(
        "vec_id", F.slice(F.col("embedding"), 1, 16).alias("embedding")
    )
    topp = SIM.topk_cosine(pre, qv[:16], k=20, round_digits=4).select("vec_id")
    return (
        topf.join(topp, "vec_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
        .select(
            F.lit(16).cast("long").alias("prefix_dims"),
            F.lit(20).cast("long").alias("k"),
            "n_overlap",
            F.round(F.col("n_overlap") / F.lit(20.0), 4).alias("overlap_frac"),
        )
    )


def q245_stratified_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (eval-set construction — EXACT fixed-n stratified
    sampling): exactly 25 orders per order priority, vs q67's
    rate-based sampler whose per-stratum count is binomial. Rows rank
    within their stratum by the md5 hash fraction of the order key
    (the q67/q94 engine-reproducible recipe) with raw-key tiebreak;
    rank <= n survives (sampling.stratified_sample_exact). One hash
    exchange on the stratum; the rank filter is planner-recognized
    (WindowGroupLimit) so no stratum is ever fully sorted. The oracle
    replays the identical md5 ranking."""
    from usajobs_etl_service_spark.operators.sampling import (
        stratified_sample_exact,
    )

    out = stratified_sample_exact(
        _t(spark, sf_dir, "orders"),
        strata_col="o_orderpriority",
        key_col="o_orderkey",
        n_per_stratum=25,
    )
    return out.select(
        "o_orderpriority",
        "o_orderkey",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    ).orderBy("o_orderpriority", "sample_rank")


def q246_dup_inflation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (corpus curation accounting — the before/after ledger
    every dedup decision is justified with): per source, document and
    TOKEN duplication inflation from exact fingerprints (q06's
    md5-of-normalized-text): n_docs vs distinct texts, total tokens
    vs tokens after keeping ONE representative per fingerprint, and
    the two duplication fractions. Identical copies have identical
    token counts, so the dedup token sum is exact (max per
    fingerprint group). Two hash aggregates ((source, fp) then
    source); fractions are 1 - a/b in one fixed op order."""
    docs = _t(spark, sf_dir, "documents")
    per_fp = (
        docs.select(
            "source",
            F.md5(TX.normalized_text(F.col("text"))).alias("fp"),
            TX.token_count_ws(F.col("text")).alias("tok"),
        )
        .groupBy("source", "fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.sum("tok").alias("tok_all"),
            F.max("tok").alias("tok_rep"),
        )
    )
    return (
        per_fp.groupBy("source")
        .agg(
            F.sum("n_copies").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("tok_all").cast("long").alias("n_tokens"),
            F.sum("tok_rep").cast("long").alias("n_tokens_dedup"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            "n_tokens",
            "n_tokens_dedup",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_docs"), 6
            ).alias("doc_dup_frac"),
            F.round(
                F.lit(1.0) - F.col("n_tokens_dedup") / F.col("n_tokens"), 6
            ).alias("token_dup_frac"),
        )
        .orderBy("source")
    )


def q247_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (t-closeness, Li-Li-Venkatasubramanian 2007 —
    completes the release-audit family: k-anonymity q204,
    generalization repair q217, now the attribute-DISTRIBUTION guard
    l-diversity misses): per customer-nation equivalence class, the
    ordered-metric EMD and total-variation distance between the
    class's order-priority distribution and the global one
    (operators/privacy.t_closeness_report). The 5-value support rides
    as a broadcast (value, q, cumQ) table; classes densify absent
    values by cross-joining it (p=0 still moves mass); the only
    data-sized shuffles are the two counting aggregates."""
    from usajobs_etl_service_spark.operators.privacy import t_closeness_report

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select("n_name", "o_orderpriority")
    )
    return t_closeness_report(joined, ["n_name"], "o_orderpriority", t=0.1)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_job_statistics": q01_job_statistics,
    "q02_metric_union": q02_metric_union,
    "q03_group_counts": q03_group_counts,
    "q04_top_k_recent": q04_top_k_recent,
    "q05_dedup_first_wins": q05_dedup_first_wins,
    "q06_dedup_exact_fingerprint": q06_dedup_exact_fingerprint,
    "q07_recent_view": q07_recent_view,
    "q08_like_prefix": q08_like_prefix,
    "q09_key_lookup": q09_key_lookup,
    "q10_location_render": q10_location_render,
    "q11_remuneration_render": q11_remuneration_render,
    "q12_date_parse": q12_date_parse,
    "q13_text_search": q13_text_search,
    "q14_join_star": q14_join_star,
    "q15_anti_join": q15_anti_join,
    "q16_upsert_merge": q16_upsert_merge,
    "q17_merge_metrics": q17_merge_metrics,
    "q18_topk_cosine": q18_topk_cosine,
    "q19_text_stats": q19_text_stats,
    "q20_flatten_ingest": q20_flatten_ingest,
    "q21_window_running": q21_window_running,
    "q22_embedding_near_dup": q22_embedding_near_dup,
    "q23_ngram_jaccard_adjacent": q23_ngram_jaccard_adjacent,
    "q24_minhash_near_dup": q24_minhash_near_dup,
    "q25_simhash_near_dup": q25_simhash_near_dup,
    "q26_lang_id": q26_lang_id,
    "q27_quality_score": q27_quality_score,
    "q28_global_sort_rank": q28_global_sort_rank,
    "q29_rollup": q29_rollup,
    "q30_pivot": q30_pivot,
    "q31_set_ops": q31_set_ops,
    "q32_monitor_display": q32_monitor_display,
    "q33_json_props": q33_json_props,
    "q34_views_layer": q34_views_layer,
    "q35_approx_distinct": q35_approx_distinct,
    "q36_ivf_ann": q36_ivf_ann,
    "q37_rest_scan_pipeline": q37_rest_scan_pipeline,
    "q38_pricing_summary": q38_pricing_summary,
    "q39_top_unshipped": q39_top_unshipped,
    "q40_corpus_curation": q40_corpus_curation,
    "q41_windowed_counts": q41_windowed_counts,
    "q42_sessionize": q42_sessionize,
    "q43_scalar_subquery": q43_scalar_subquery,
    "q44_having": q44_having,
    "q45_multimodal_features": q45_multimodal_features,
    "q46_native_datasource": q46_native_datasource,
    "q47_asof_join": q47_asof_join,
    "q48_window_suite": q48_window_suite,
    "q49_percentiles": q49_percentiles,
    "q50_map_ops": q50_map_ops,
    "q51_inverted_index": q51_inverted_index,
    "q52_local_supplier_volume": q52_local_supplier_volume,
    "q53_large_orders": q53_large_orders,
    "q54_correlated_exists": q54_correlated_exists,
    "q55_activity_feed": q55_activity_feed,
    "q56_cohort_retention": q56_cohort_retention,
    "q57_ivf_fullprobe": q57_ivf_fullprobe,
    "q58_salted_topk": q58_salted_topk,
    "q59_custdist": q59_custdist,
    "q60_cube_grouping": q60_cube_grouping,
    "q61_distribution_windows": q61_distribution_windows,
    "q62_tfidf_top_terms": q62_tfidf_top_terms,
    "q63_doc_chunks": q63_doc_chunks,
    "q64_dup_clusters": q64_dup_clusters,
    "q65_sequence_packing": q65_sequence_packing,
    "q66_decontamination": q66_decontamination,
    "q67_stratified_sample": q67_stratified_sample,
    "q68_pii_redaction": q68_pii_redaction,
    "q69_training_corpus_pipeline": q69_training_corpus_pipeline,
    "q70_range_join": q70_range_join,
    "q71_range_frames": q71_range_frames,
    "q72_repetition_filter": q72_repetition_filter,
    "q73_domain_cap": q73_domain_cap,
    "q74_source_mix_weights": q74_source_mix_weights,
    "q75_event_funnel": q75_event_funnel,
    "q76_promo_revenue": q76_promo_revenue,
    "q77_volume_shipping": q77_volume_shipping,
    "q78_disjunctive_predicate": q78_disjunctive_predicate,
    "q79_approx_quantiles": q79_approx_quantiles,
    "q80_adaptive_quality": q80_adaptive_quality,
    "q81_adaptive_quality_approx": q81_adaptive_quality_approx,
    "q82_embedding_srp_near_dup": q82_embedding_srp_near_dup,
    "q83_minhash_exact_dups": q83_minhash_exact_dups,
    "q84_simhash_exact_dups": q84_simhash_exact_dups,
    "q85_quality_gate_exact_regime": q85_quality_gate_exact_regime,
    "q86_multimodal_geometry": q86_multimodal_geometry,
    "q87_hll_exact_regime": q87_hll_exact_regime,
    "q88_quantile_sketch_exact_regime": q88_quantile_sketch_exact_regime,
    "q89_semantic_dedup": q89_semantic_dedup,
    "q90_duplicated_spans": q90_duplicated_spans,
    "q91_bm25_retrieval": q91_bm25_retrieval,
    "q92_unigram_surprisal": q92_unigram_surprisal,
    "q93_fuzzy_edit_dedup": q93_fuzzy_edit_dedup,
    "q94_train_split": q94_train_split,
    "q95_pmi_collocations": q95_pmi_collocations,
    "q96_zipf_fit": q96_zipf_fit,
    "q97_sketch_union": q97_sketch_union,
    "q98_pq_adc_exact_regime": q98_pq_adc_exact_regime,
    "q99_resample_gapfill": q99_resample_gapfill,
    "q100_scd2_intervals": q100_scd2_intervals,
    "q101_profile_documents": q101_profile_documents,
    "q102_zscore_anomalies": q102_zscore_anomalies,
    "q103_returned_items": q103_returned_items,
    "q104_large_volume_customers": q104_large_volume_customers,
    "q105_textrank_terms": q105_textrank_terms,
    "q106_weighted_sample": q106_weighted_sample,
    "q107_cohort_retention": q107_cohort_retention,
    "q108_snapshot_diff": q108_snapshot_diff,
    "q109_value_histogram": q109_value_histogram,
    "q110_cube_counts": q110_cube_counts,
    "q111_grouped_string_agg": q111_grouped_string_agg,
    "q112_session_paths": q112_session_paths,
    "q113_event_transitions": q113_event_transitions,
    "q114_item_cooccurrence": q114_item_cooccurrence,
    "q115_funnel_latency": q115_funnel_latency,
    "q116_fk_audit": q116_fk_audit,
    "q117_concurrency_peak": q117_concurrency_peak,
    "q118_heavy_hitters": q118_heavy_hitters,
    "q119_type_entropy": q119_type_entropy,
    "q120_small_order_revenue": q120_small_order_revenue,
    "q121_dormant_customers": q121_dormant_customers,
    "q122_revenue_gini": q122_revenue_gini,
    "q123_ks_drift": q123_ks_drift,
    "q124_pareto_frontier": q124_pareto_frontier,
    "q125_weighted_median": q125_weighted_median,
    "q126_chi2_independence": q126_chi2_independence,
    "q127_revenue_deciles": q127_revenue_deciles,
    "q128_correlation_profile": q128_correlation_profile,
    "q129_key_skew_profile": q129_key_skew_profile,
    "q130_cdc_apply": q130_cdc_apply,
    "q131_conversion_ztest": q131_conversion_ztest,
    "q132_grouping_sets": q132_grouping_sets,
    "q133_longest_streak": q133_longest_streak,
    "q134_incremental_rollup": q134_incremental_rollup,
    "q135_benford_audit": q135_benford_audit,
    "q136_argmax_events": q136_argmax_events,
    "q137_late_ship_priority": q137_late_ship_priority,
    "q138_forecast_revenue": q138_forecast_revenue,
    "q139_rolling_active_users": q139_rolling_active_users,
    "q140_last_touch_attribution": q140_last_touch_attribution,
    "q141_session_similarity": q141_session_similarity,
    "q142_vocab_kl_divergence": q142_vocab_kl_divergence,
    "q143_mad_anomalies": q143_mad_anomalies,
    "q144_event_debounce": q144_event_debounce,
    "q145_market_concentration": q145_market_concentration,
    "q146_exact_global_percentiles": q146_exact_global_percentiles,
    "q147_engagement_breadth": q147_engagement_breadth,
    "q148_psi_drift": q148_psi_drift,
    "q149_multi_touch_attribution": q149_multi_touch_attribution,
    "q150_ops_dashboard": q150_ops_dashboard,
    "q151_cms_frequency": q151_cms_frequency,
    "q152_dsir_selection": q152_dsir_selection,
    "q153_winnow_candidates": q153_winnow_candidates,
    "q154_token_budget_mix": q154_token_budget_mix,
    "q155_unimax_mix": q155_unimax_mix,
    "q156_bigram_surprisal": q156_bigram_surprisal,
    "q157_prototypicality_prune": q157_prototypicality_prune,
    "q158_nation_market_share": q158_nation_market_share,
    "q159_top_supplier": q159_top_supplier,
    "q160_product_profit": q160_product_profit,
    "q161_waiting_suppliers": q161_waiting_suppliers,
    "q162_mannwhitney_drift": q162_mannwhitney_drift,
    "q163_contamination_report": q163_contamination_report,
    "q164_min_cost_supplier": q164_min_cost_supplier,
    "q165_important_stock": q165_important_stock,
    "q166_shipmode_priority": q166_shipmode_priority,
    "q167_supplier_part_counts": q167_supplier_part_counts,
    "q168_potential_promotion": q168_potential_promotion,
    "q169_gopher_gate": q169_gopher_gate,
    "q170_copurchase_triangles": q170_copurchase_triangles,
    "q171_degree_assortativity": q171_degree_assortativity,
    "q172_common_neighbor_links": q172_common_neighbor_links,
    "q173_hybrid_rrf": q173_hybrid_rrf,
    "q174_kcore_parts": q174_kcore_parts,
    "q175_kneser_ney_surprisal": q175_kneser_ney_surprisal,
    "q176_mmr_rerank": q176_mmr_rerank,
    "q177_hard_negatives": q177_hard_negatives,
    "q178_hits_copurchase": q178_hits_copurchase,
    "q179_ranking_agreement": q179_ranking_agreement,
    "q180_llr_collocations": q180_llr_collocations,
    "q181_novelty_profile": q181_novelty_profile,
    "q182_zorder_skipping": q182_zorder_skipping,
    "q183_table_profile": q183_table_profile,
    "q184_join_skew_report": q184_join_skew_report,
    "q185_skew_safe_join": q185_skew_safe_join,
    "q186_zorder_prepared_float": q186_zorder_prepared_float,
    "q187_int8_quantization_report": q187_int8_quantization_report,
    "q188_int8_topk_rescoring": q188_int8_topk_rescoring,
    "q189_int8_store_probe": q189_int8_store_probe,
    "q190_skew_safe_semi_anti": q190_skew_safe_semi_anti,
    "q191_triangle_census_sampled": q191_triangle_census_sampled,
    "q192_assortativity_sampled": q192_assortativity_sampled,
    "q193_int8_mips_probe": q193_int8_mips_probe,
    "q194_quantized_ivf_fullprobe": q194_quantized_ivf_fullprobe,
    "q195_bucketed_join": q195_bucketed_join,
    "q196_quality_classifier": q196_quality_classifier,
    "q197_target_encoding": q197_target_encoding,
    "q198_woe_iv": q198_woe_iv,
    "q199_khop_reach": q199_khop_reach,
    "q200_revenue_acf": q200_revenue_acf,
    "q201_paragraph_dedup": q201_paragraph_dedup,
    "q202_bootstrap_ci": q202_bootstrap_ci,
    "q203_robust_trend": q203_robust_trend,
    "q204_kanonymity_audit": q204_kanonymity_audit,
    "q205_binned_woe": q205_binned_woe,
    "q206_bpe_merges": q206_bpe_merges,
    "q207_cusum_changepoint": q207_cusum_changepoint,
    "q208_weekday_seasonality": q208_weekday_seasonality,
    "q209_welch_ttest": q209_welch_ttest,
    "q210_label_propagation": q210_label_propagation,
    "q211_bpe_tokenize": q211_bpe_tokenize,
    "q212_expectations": q212_expectations,
    "q213_join_cardinality": q213_join_cardinality,
    "q214_ntile_quartiles": q214_ntile_quartiles,
    "q215_readability": q215_readability,
    "q216_hilbert_layout": q216_hilbert_layout,
    "q217_generalization_ladder": q217_generalization_ladder,
    "q218_heaps_law": q218_heaps_law,
    "q219_source_dup_matrix": q219_source_dup_matrix,
    "q220_rank_functions": q220_rank_functions,
    "q221_classifier_auc": q221_classifier_auc,
    "q222_classifier_calibration": q222_classifier_calibration,
    "q223_mann_whitney": q223_mann_whitney,
    "q224_quantile_normalization": q224_quantile_normalization,
    "q225_association_rules": q225_association_rules,
    "q226_kaplan_meier": q226_kaplan_meier,
    "q227_mutual_information": q227_mutual_information,
    "q228_threshold_sweep": q228_threshold_sweep,
    "q229_gate_agreement_kappa": q229_gate_agreement_kappa,
    "q230_sliced_auc": q230_sliced_auc,
    "q231_trimmed_means": q231_trimmed_means,
    "q232_spearman": q232_spearman,
    "q233_robust_outliers": q233_robust_outliers,
    "q234_weighted_sssp": q234_weighted_sssp,
    "q235_keep_best_dedup": q235_keep_best_dedup,
    "q236_ndcg": q236_ndcg,
    "q237_grouped_quantiles": q237_grouped_quantiles,
    "q238_c4_rule_gate": q238_c4_rule_gate,
    "q239_semantic_decontamination": q239_semantic_decontamination,
    "q240_ttl_dedup_replay": q240_ttl_dedup_replay,
    "q241_containment_neardup": q241_containment_neardup,
    "q242_average_precision": q242_average_precision,
    "q243_good_turing_mass": q243_good_turing_mass,
    "q244_truncation_fidelity": q244_truncation_fidelity,
    "q245_stratified_exact_sample": q245_stratified_exact_sample,
    "q246_dup_inflation_report": q246_dup_inflation_report,
    "q247_t_closeness": q247_t_closeness,
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_ANCHOR_ORDERS = "(SELECT max(CAST(o_orderdate AS DATE)) FROM orders)"
_ANCHOR_EVENTS = "(SELECT max(CAST(ts AS DATE)) FROM events)"

def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Round-for-round unrolled SQL for q174's bounded-round k-core
    peel (the engine's early-exit provably equals the full unrolled
    form — a fixpoint round is an identity, see
    graphrank.kcore_membership)."""
    sql = """
        WITH pl AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1')
        ), e0 AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
        )"""
    prev = "e0"
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    # round references its predecessor three times, so the unrolled
    # query would otherwise expand to 3^rounds copies of the base scan
    # (observed: fd exhaustion at rounds=6).
    for i in range(1, rounds + 1):
        sql += f""", d{i} AS MATERIALIZED (
            SELECT node, count(*) AS d
            FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev})
            GROUP BY 1
        ), k{i} AS MATERIALIZED (
            SELECT node FROM d{i} WHERE d >= {k}
        ), e{i} AS MATERIALIZED (
            SELECT u, v FROM {prev}
            WHERE u IN (SELECT node FROM k{i}) AND v IN (SELECT node FROM k{i})
        )"""
        prev = f"e{i}"
    sql += f"""
        SELECT node, count(*) AS core_degree
        FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v AS node FROM {prev})
        GROUP BY 1
    """
    return sql


def _mmr_oracle_sql(lam: float, k_candidates: int, k_select: int) -> str:
    """Unrolled greedy-selection SQL for q176's MMR re-rank. The float
    constants are embedded via repr() so the oracle multiplies by the
    EXACT doubles the operator uses (0.3 written literally would not
    equal Python's 1.0 - 0.7); CTEs are MATERIALIZED for the same
    exponential-inlining reason as the k-core oracle."""
    l_str, oml_str = repr(float(lam)), repr(1.0 - float(lam))
    sql = f"""
        WITH cand AS MATERIALIZED (
            SELECT vec_id AS id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS rel
            FROM embeddings
            ORDER BY rel DESC, id ASC LIMIT {k_candidates}
        ), pair AS MATERIALIZED (
            SELECT ca.id AS a, cb.id AS b,
                   round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                                CAST(eb.embedding AS DOUBLE[])), 4) AS s
            FROM cand ca JOIN cand cb ON ca.id <> cb.id
            JOIN embeddings ea ON ea.vec_id = ca.id
            JOIN embeddings eb ON eb.vec_id = cb.id
        ), s1 AS MATERIALIZED (
            SELECT id, rel, {l_str} * rel - {oml_str} * 0.0 AS score
            FROM cand ORDER BY {l_str} * rel - {oml_str} * 0.0 DESC, id ASC LIMIT 1
        ), sel1 AS MATERIALIZED (
            SELECT id, 1 AS selection_rank, rel, score FROM s1
        )"""
    for i in range(2, k_select + 1):
        p = i - 1
        sql += f""", s{i} AS MATERIALIZED (
            SELECT c.id, c.rel,
                   {l_str} * c.rel - {oml_str} * coalesce(mx.m, 0.0) AS score
            FROM cand c LEFT JOIN (
                SELECT p.a AS id, max(p.s) AS m FROM pair p
                WHERE p.b IN (SELECT id FROM sel{p}) GROUP BY p.a
            ) mx ON c.id = mx.id
            WHERE c.id NOT IN (SELECT id FROM sel{p})
            ORDER BY score DESC, c.id ASC LIMIT 1
        ), sel{i} AS MATERIALIZED (
            SELECT * FROM sel{p}
            UNION ALL SELECT id, {i} AS selection_rank, rel, score FROM s{i}
        )"""
    sql += f"""
        SELECT id AS vec_id, selection_rank, rel, round(score, 6) AS mmr_score
        FROM sel{k_select}
    """
    return sql


ORACLES: dict[str, str] = {
    "q01_job_statistics": f"""
        SELECT count(*) AS total_jobs,
               count(DISTINCT o_custkey) AS unique_organizations,
               count(DISTINCT o_orderpriority) AS unique_departments,
               count(*) FILTER (WHERE CAST(o_orderdate AS DATE) >= {_ANCHOR_ORDERS}) AS jobs_today,
               count(*) FILTER (WHERE CAST(o_orderdate AS DATE) >= {_ANCHOR_ORDERS} - INTERVAL 7 DAY) AS jobs_this_week,
               count(*) FILTER (WHERE CAST(o_orderdate AS DATE) >= {_ANCHOR_ORDERS} - INTERVAL 30 DAY) AS jobs_this_month,
               strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_job_date,
               strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_job_date
        FROM orders
    """,
    "q02_metric_union": f"""
        SELECT 'Total Events' AS metric, CAST(count(*) AS VARCHAR) AS value FROM events
        UNION ALL
        SELECT 'Events This Week', CAST(count(*) FILTER (WHERE CAST(ts AS DATE) >= {_ANCHOR_EVENTS} - INTERVAL 7 DAY) AS VARCHAR) FROM events
        UNION ALL
        SELECT 'Unique Users', CAST(count(DISTINCT user_id) AS VARCHAR) FROM events
    """,
    "q03_group_counts": """
        SELECT event_type, count(*) AS job_count FROM events GROUP BY event_type
    """,
    "q04_top_k_recent": """
        SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s, event_type
        FROM events ORDER BY ts DESC, event_id DESC LIMIT 100
    """,
    "q05_dedup_first_wins": """
        SELECT user_id, event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn FROM events)
        WHERE rn = 1
    """,
    "q06_dedup_exact_fingerprint": """
        SELECT doc_id, fp FROM (
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                   row_number() OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                                      ORDER BY doc_id) AS rn
            FROM documents)
        WHERE rn = 1
    """,
    "q07_recent_view": f"""
        SELECT event_id, user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s
        FROM events WHERE CAST(ts AS DATE) >= {_ANCHOR_EVENTS} - INTERVAL 30 DAY
    """,
    "q08_like_prefix": """
        SELECT p_partkey, p_name, p_type FROM part WHERE p_name LIKE 'small%'
    """,
    "q09_key_lookup": """
        SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS o_totalprice
        FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
    """,
    "q10_location_render": """
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN 'Location not specified'
                    ELSE concat_ws(', ', NULLIF(c_name, ''), NULLIF(c_mktsegment, ''),
                                   CASE WHEN c_custkey % 3 = 1 THEN NULL ELSE 'US' END)
               END AS rendered_location
        FROM customer
    """,
    "q11_remuneration_render": """
        SELECT p_partkey,
               CASE WHEN p_partkey % 3 = 2 THEN 'Not specified'
                    WHEN p_partkey % 5 = 0 THEN 'Not specified'
                    -- NULL price => NULL min/max range => the engine's
                    -- F3 missing-remuneration default (fuzz-sweep find)
                    WHEN p_retailprice IS NULL THEN 'Not specified'
                    WHEN p_partkey % 3 = 0 THEN
                         '$' || format('{:,}', CAST(floor(p_retailprice * 100) AS BIGINT))
                          || ' - $' || format('{:,}', CAST(floor(p_retailprice * 150) AS BIGINT))
                          || ' Per Year'
                    ELSE '$' || format('{:,}', CAST(floor(p_retailprice * 100) AS BIGINT)) || '+ Per Year'
               END AS rendered_remuneration
        FROM part
    """,
    "q12_date_parse": """
        SELECT event_id,
               CASE WHEN event_id % 5 = 0 THEN NULL ELSE CAST(ts AS DATE) END AS parsed_date
        FROM events
    """,
    "q13_text_search": """
        SELECT doc_id, lang FROM documents
        WHERE regexp_matches(lower(text), '\\bthe\\b') AND regexp_matches(lower(text), '\\bdata\\b')
    """,
    "q14_join_star": """
        SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q15_anti_join": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "q16_upsert_merge": """
        WITH batch AS (
            SELECT o_orderkey, o_totalprice + 1000 AS o_totalprice, 'UPDATED' AS o_orderpriority
            FROM orders WHERE o_orderkey % 10 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_totalprice, 'NEW'
            FROM orders WHERE o_orderkey % 100 = 0
        )
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderpriority FROM batch
        UNION ALL
        SELECT o_orderkey, round(o_totalprice, 2), o_orderpriority FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM batch)
    """,
    "q17_merge_metrics": """
        WITH batch AS (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 10 = 0
            UNION ALL
            SELECT o_orderkey + 10000000 FROM orders WHERE o_orderkey % 100 = 0
        )
        SELECT count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = batch.o_orderkey)) AS inserted,
               count(*) FILTER (WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = batch.o_orderkey)) AS updated,
               count(*) AS total
        FROM batch
    """,
    "q18_topk_cosine": """
        SELECT vec_id,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS sim
        FROM embeddings WHERE vec_id <> 0
        ORDER BY sim DESC, vec_id ASC LIMIT 20
    """,
    "q19_text_stats": """
        SELECT doc_id,
               length(text) AS chars,
               len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS tokens_ws,
               round(CAST(length(text) AS DOUBLE)
                     / NULLIF(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')), 0), 3) AS chars_per_token
        FROM documents
    """,
    "q20_flatten_ingest": """
        SELECT 'Order ' || o_orderkey AS position_title,
               'http://orders/' || o_orderkey AS position_uri,
               'City ' || (o_custkey % 10) || ', ST, US' AS position_location,
               '$' || format('{:,}', CAST(floor(o_totalprice) AS BIGINT))
                   || ' - $' || format('{:,}', CAST(floor(o_totalprice) + 5000 AS BIGINT))
                   || ' Per Year' AS position_remuneration,
               CAST(o_orderdate AS DATE) AS position_start_date,
               -- F6 default-on-missing: a NULL/absent JSON field
               -- flattens to '' in the engine (fuzz-sweep find)
               coalesce(o_orderpriority, '') AS organization_name,
               o_orderstatus AS department_name,
               'Information Technology' AS job_category,
               'GS-13' AS job_grade
        FROM orders
    """,
    "q21_window_running": """
        SELECT event_id, user_id,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
        FROM events
    """,
    "q22_embedding_near_dup": """
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 4) AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.4
    """,
    "q82_embedding_srp_near_dup": """
        WITH u AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            UNION ALL
            SELECT vec_id + 10000000,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 4) AS cos
        FROM u a JOIN u b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.95
    """,
    # q83: 5-gram Jaccard = 1.0 iff distinct gram SETS are equal, so the
    # exact-verify output is an equi-join on the sorted distinct gram
    # list — no all-pairs Jaccard scan needed.
    "q83_minhash_exact_dups": """
        WITH u AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 10000000 AS doc_id, text FROM documents
        ),
        t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM u
        ),
        g AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 5
                        THEN list_sort(list_distinct(list_transform(generate_series(1, len(toks) - 4),
                                       x -> array_to_string(list_slice(toks, x, x + 4), ' '))))
                        ELSE [array_to_string(toks, ' ')]
                   END AS grams
            FROM t
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
        FROM g a JOIN g b ON a.grams = b.grams AND a.doc_id < b.doc_id
    """,
    "q84_simhash_exact_dups": """
        WITH u AS (
            SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
            FROM documents
            UNION ALL
            SELECT doc_id + 10000000 AS doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt
            FROM documents
        )
        -- zero-token documents have no SimHash signature (the engine
        -- excludes them from banding: a signature over an empty
        -- feature set is degenerate; exact dedup handles empties)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM u a JOIN u b ON a.nt = b.nt AND a.doc_id < b.doc_id
        WHERE a.nt <> ''
    """,
    # q89: clustering-free restatement — on the planted construction the
    # k-means blocking provably loses no >=-threshold pair (see q89
    # docstring), so the oracle is plain all-pairs cosine + keep-min-id.
    "q89_semantic_dedup": """
        WITH u AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            UNION ALL
            SELECT vec_id + 10000000,
                   list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
            FROM embeddings
        ),
        p AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 4) AS cos
            FROM u a JOIN u b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.95
        )
        SELECT id_b AS dropped_id, min(id_a) AS kept_id, max(cos) AS max_cos
        FROM p GROUP BY id_b
    """,
    # q90: same definition over gram STRINGS (engine carries xxhash64
    # fingerprints; equality up to a ~1e-13 collision, the q83 argument)
    "q90_duplicated_spans": """
        WITH t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
        ),
        e AS (
            SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS pos
            FROM t WHERE len(toks) >= 8
        ),
        g AS (
            SELECT doc_id, pos, array_to_string(list_slice(toks, pos, pos + 7), ' ') AS gram
            FROM e
        ),
        d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        p AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
        i AS (SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM p)
        SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
               max(pos) - min(pos) + 8 AS span_len
        FROM i GROUP BY doc_id, island
    """,
    "q85_quality_gate_exact_regime": """
        WITH f AS (
            SELECT doc_id, source,
                   length(text) AS n_chars,
                   len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                   length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('the','and','of','to','is','in','that','with'))) AS stop_hits
            FROM documents
        ),
        q AS (
            SELECT doc_id, source,
                   round(
                       least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.3
                     + (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END) * 0.3
                     + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                     + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                     + least(CAST(stop_hits AS DOUBLE) / 5.0, 1.0) * 0.1 + 1e-9
                   , 4) AS quality
            FROM f
        ),
        thr AS (
            SELECT source, quantile_disc(quality, 0.25) AS t FROM q GROUP BY source
        )
        SELECT q.source, count(*) AS n_kept, min(q.quality) AS min_kept_quality
        FROM q JOIN thr ON q.source = thr.source
        WHERE q.quality >= thr.t
        GROUP BY q.source
    """,
    "q23_ngram_jaccard_adjacent": """
        WITH g AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3
                        THEN list_distinct(list_transform(generate_series(1, len(toks) - 2),
                                           x -> array_to_string(list_slice(toks, x, x + 2), ' ')))
                        ELSE [array_to_string(toks, ' ')]
                   END AS grams
            FROM (SELECT doc_id,
                         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
                  FROM documents)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
        FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
    """,
    # q24/q25: LSH banding is not SQL-expressible -> rows-only checks
    "q26_lang_id": """
        WITH s AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('the','and','of','to','is','in','that','with'))) AS s_en,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('le','la','les','des','est','et','une','dans'))) AS s_fr,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('der','die','das','und','ist','nicht','ein','mit'))) AS s_de,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('el','los','las','es','una','que','para','con'))) AS s_es
            FROM documents
        )
        SELECT doc_id, lang,
               CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
                    WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                    WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
                    WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
                    ELSE 'es'
               END AS lang_pred
        FROM s
    """,
    "q28_global_sort_rank": """
        SELECT event_id, round(value, 3) AS value_r,
               row_number() OVER (ORDER BY round(value, 3) DESC, event_id ASC) AS rank
        FROM events
    """,
    "q29_rollup": """
        SELECT l_returnflag, l_linestatus, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "q30_pivot": """
        SELECT user_id,
               round(sum(value) FILTER (WHERE event_type = 'click'), 2) AS sum_click,
               round(sum(value) FILTER (WHERE event_type = 'error'), 2) AS sum_error,
               round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS sum_purchase,
               round(sum(value) FILTER (WHERE event_type = 'signup'), 2) AS sum_signup,
               round(sum(value) FILTER (WHERE event_type = 'view'), 2) AS sum_view
        FROM events GROUP BY user_id
    """,
    "q31_set_ops": """
        (SELECT DISTINCT c_mktsegment AS label FROM customer
         UNION
         SELECT DISTINCT o_orderpriority FROM orders)
        EXCEPT
        (SELECT DISTINCT event_type FROM events)
    """,
    "q32_monitor_display": """
        SELECT event_id, substr(event_type, 1, 3) AS type_short, CAST(ts AS DATE) AS date
        FROM events ORDER BY ts DESC, event_id DESC LIMIT 5
    """,
    "q33_json_props": """
        SELECT event_type,
               -- json_valid guard: the engine's get_json_object yields
               -- NULL on malformed props; DuckDB json_extract raises
               -- (P3 malformed-row tolerance, fuzz-sweep find)
               round(avg(CASE WHEN json_valid(props)
                              THEN CAST(json_extract(props, '$.k') AS INTEGER) END), 4) AS avg_k,
               max(CASE WHEN json_valid(props)
                        THEN CAST(json_extract(props, '$.k') AS INTEGER) END) AS max_k
        FROM events GROUP BY event_type
    """,
    "q34_views_layer": """
        -- coalesce mirrors the engine's F6 flatten default: a NULL
        -- priority lands as '' in the view, a sixth distinct value
        SELECT count(*) AS n_recent, count(DISTINCT coalesce(o_orderpriority, '')) AS n_orgs FROM orders
    """,
    # q35 (HLL approximate) and q36 (IVF ANN) are rows-only by design
    "q37_rest_scan_pipeline": """
        SELECT * FROM (VALUES
            ('Data Engineer', 'https://jobs.example/1', 'Washington, DC, US',
             '$80,000 - $120,000 Per Year', DATE '2023-01-01', 'DoD'),
            ('SRE', 'https://jobs.example/2', 'Location not specified',
             '$90,000+ Per Year', CAST(NULL AS DATE), ''),
            ('PM', 'https://jobs.example/3', 'Location not specified',
             'Not specified', CAST(NULL AS DATE), '')
        ) AS t(position_title, position_uri, position_location,
               position_remuneration, position_start_date, organization_name)
    """,
    "q40_corpus_curation": """
        WITH dedup AS (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                                      ORDER BY doc_id) AS rn
            FROM documents
        ),
        feats AS (
            SELECT doc_id, text,
                   length(text) AS n_chars,
                   len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                   length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('the','and','of','to','is','in','that','with'))) AS s_en,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('le','la','les','des','est','et','une','dans'))) AS s_fr,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('der','die','das','und','ist','nicht','ein','mit'))) AS s_de,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('el','los','las','es','una','que','para','con'))) AS s_es
            FROM dedup WHERE rn = 1
        ),
        scored AS (
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                        WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
                        WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
                        ELSE 'es'
                   END AS lang_pred,
                   round(
                       least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.3
                     + (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END) * 0.3
                     + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                     + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                     + least(CAST(s_en AS DOUBLE) / 5.0, 1.0) * 0.1
                   , 4) AS quality,
                   n_tokens AS tokens
            FROM feats
        )
        SELECT doc_id, lang_pred, quality, tokens FROM scored
        WHERE quality >= 0.5 AND lang_pred <> 'und'
    """,
    "q41_windowed_counts": """
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY date_trunc('day', ts), event_type
    """,
    "q42_sessionize": """
        WITH marked AS (
            SELECT user_id, ts, value,
                   -- STRICTLY greater: Spark's session_window merges
                   -- an event at EXACTLY gap after its predecessor
                   -- (closed boundary; fuzz-sweep seed-3 find — the
                   -- fixed SFs carry no exact-1800s gap)
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        islands AS (
            SELECT user_id, ts, value,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM marked
        )
        SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               user_id,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM islands
        GROUP BY user_id, session_no
    """,
    "q43_scalar_subquery": """
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)
    """,
    "q44_having": """
        SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
        FROM orders GROUP BY o_custkey HAVING count(*) >= 15
    """,
    # q45 (multimodal): rows-only — the codec layer is stubbed by design
    "q47_asof_join": """
        SELECT e.event_id,
               round(s.value, 3) AS signup_value_asof,
               strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts
        FROM events e
        -- right side deduped per (user, ts) by the engine's
        -- deterministic tie rule (greatest value, NULL last): native
        -- ASOF leaves the equal-ts winner unspecified (fuzz-sweep find)
        ASOF LEFT JOIN (
            SELECT user_id, ts, value FROM (
                SELECT user_id, ts, value,
                       row_number() OVER (PARTITION BY user_id, ts
                                          ORDER BY value DESC NULLS LAST) AS rn
                FROM events WHERE event_type = 'signup'
            ) WHERE rn = 1
        ) s
          ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    "q46_native_datasource": """
        SELECT 'Data Engineer ' || i AS position_title,
               'https://www.usajobs.gov/job/42-' || i AS position_uri,
               'City ' || (i % 10) || ', S' || (i % 5) || ', US' AS position_location,
               '$' || format('{:,}', 80000 + i * 100) || '+ Per Year' AS position_remuneration
        FROM generate_series(0, 1199) t(i)
    """,
    "q48_window_suite": """
        SELECT event_id, user_id,
               lag(round(value, 3)) OVER w AS prev_value,
               lead(round(value, 3)) OVER w AS next_value,
               rank() OVER wr AS value_rank,
               dense_rank() OVER wr AS value_dense_rank,
               round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 3) AS moving_avg_3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               wr AS (PARTITION BY user_id ORDER BY round(value, 3) DESC, event_id ASC)
    """,
    "q49_percentiles": """
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.5), 2) AS median_price,
               round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
               count(*) AS n
        FROM orders GROUP BY o_orderpriority
    """,
    "q50_map_ops": """
        -- json_valid guard: the engine's from_json yields a NULL map
        -- on malformed props and explode drops the row entirely
        -- (P3 malformed-row tolerance, fuzz-sweep find)
        SELECT event_id, 'k' AS key, CAST(json_extract(props, '$.k') AS INTEGER) AS val
        FROM events WHERE json_valid(props)
    """,
    "q51_inverted_index": """
        SELECT doc_id, lang FROM documents
        WHERE regexp_matches(lower(text), '\\bthe\\b') AND regexp_matches(lower(text), '\\bdata\\b')
    """,
    "q54_correlated_exists": """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_totalprice > 300000
                        AND o_orderpriority = '1-URGENT')
    """,
    "q55_activity_feed": """
        SELECT kind, count(*) AS n, round(sum(amount), 2) AS total_amount FROM (
            SELECT 'order' AS kind, o_totalprice AS amount FROM orders
            UNION ALL
            SELECT 'event:' || event_type, value FROM events
        ) GROUP BY kind
    """,
    "q56_cohort_retention": """
        WITH c AS (
            SELECT user_id, ts,
                   min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_date
            FROM events
        )
        SELECT cohort_date,
               date_diff('day', cohort_date, CAST(ts AS DATE)) AS day_offset,
               count(DISTINCT user_id) AS active_users
        FROM c GROUP BY cohort_date, day_offset
    """,
    "q52_local_supplier_volume": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "q53_large_orders": """
        SELECT c_name, c_custkey, o_orderkey,
               round(o_totalprice, 2) AS o_totalprice,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
        HAVING round(sum(l_quantity), 2) > 200
    """,
    "q38_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q39_top_unshipped": """
        SELECT l_orderkey, o_orderpriority,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
          AND CAST(l_shipdate AS DATE) > DATE '1998-01-01'
        GROUP BY l_orderkey, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "q57_ivf_fullprobe": """
        SELECT vec_id,
               round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 1)), 4) AS sim
        FROM embeddings WHERE vec_id <> 1
        ORDER BY sim DESC, vec_id ASC LIMIT 15
    """,
    "q58_salted_topk": """
        SELECT user_id, event_id, rank FROM (
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rank
            FROM events
        ) WHERE rank <= 3
    """,
    "q59_custdist": """
        SELECT c_count, count(*) AS custdist FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        ) GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q60_cube_grouping": """
        SELECT o_orderpriority, o_orderstatus,
               GROUPING(o_orderpriority, o_orderstatus) AS gid,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders
        GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    "q61_distribution_windows": """
        SELECT event_id, user_id,
               ntile(4)      OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist()    OVER w, 6) AS cume
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY round(value, 3) ASC NULLS FIRST, event_id ASC)
    """,
    "q62_tfidf_top_terms": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ), dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), total AS (SELECT count(*) AS n FROM documents)
        SELECT doc_id, term, score, rank FROM (
            SELECT tf.doc_id, tf.term,
                   round(tf.tf * ln(CAST(n AS DOUBLE) / df), 4) AS score,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY round(tf.tf * ln(CAST(n AS DOUBLE) / df), 4) DESC, tf.term ASC
                   ) AS rank
            FROM tf JOIN dfreq USING (term) CROSS JOIN total
        ) WHERE rank <= 3
    """,
    "q63_doc_chunks": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
            FROM documents
        ), starts AS (
            SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 8, 1), 24)) AS s
            FROM toks WHERE len(t) > 0
        )
        SELECT doc_id,
               CAST((s - 1) / 24 AS INTEGER) AS chunk_id,
               array_to_string(list_slice(t, s, s + 31), ' ') AS chunk_text,
               CAST(least(32, len(t) - s + 1) AS INTEGER) AS n_tokens
        FROM starts
    """,
    "q64_dup_clusters": """
        WITH RECURSIVE pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) a
            JOIN (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.35
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ), reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src AND r.src <> e.dst
        )
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    """,
    "q65_sequence_packing": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
            FROM documents
        ), chunks AS (
            SELECT doc_id,
                   CAST((s - 1) / 24 AS INTEGER) AS chunk_id,
                   CAST(least(32, len(t) - s + 1) AS INTEGER) AS n_tokens
            FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 8, 1), 24)) AS s
                  FROM toks WHERE len(t) > 0)
        ), packed AS (
            SELECT doc_id % 4 AS shard, n_tokens,
                   sum(n_tokens) OVER (PARTITION BY doc_id % 4 ORDER BY doc_id, chunk_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens AS start_offset
            FROM chunks
        )
        SELECT shard, CAST(floor(start_offset / 256.0) AS BIGINT) AS bin_id,
               count(*) AS n_chunks, sum(n_tokens) AS bin_tokens,
               round(CAST(sum(n_tokens) AS DOUBLE) / 256, 4) AS fill_ratio
        FROM packed GROUP BY shard, bin_id
    """,
    "q66_decontamination": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, array_to_string(list_slice(t, s, s + 7), ' ') AS g
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7, 1)) AS s
                  FROM toks WHERE len(t) >= 8)
        ), bench AS (
            SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0
        )
        SELECT DISTINCT doc_id
        FROM grams JOIN bench USING (g)
        WHERE doc_id % 10 <> 0
    """,
    "q67_stratified_sample": """
        WITH keyed AS (
            SELECT event_type,
                   CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#42'), 1, 8)) AS BIGINT)
                       / 4294967296.0 AS u
            FROM events
        )
        SELECT event_type, count(*) AS n_sampled
        FROM keyed
        WHERE u < CASE event_type
                      WHEN 'click' THEN 1.0 WHEN 'view' THEN 0.5
                      WHEN 'purchase' THEN 0.25 WHEN 'signup' THEN 0.1
                      ELSE 0.0 END
        GROUP BY event_type
    """,
    "q68_pii_redaction": """
        WITH synth AS (
            SELECT doc_id,
                   'contact user' || doc_id || '@example.com or 415-555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       || ' ssn 123-45-6789 ip 10.0.0.' || (doc_id % 255) AS s
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(
                           regexp_replace(s,
                               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                           '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
                       '\\b(\\+?1[-. ]?)?(\\(?[0-9]{3}\\)?[-. ]?)[0-9]{3}[-. ]?[0-9]{4}\\b', '<PHONE>', 'g'),
                   '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g') AS redacted
        FROM synth
    """,
    "q69_training_corpus_pipeline": """
        WITH dedup AS (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                                      ORDER BY doc_id) AS rn
            FROM documents
        ),
        feats AS (
            SELECT doc_id, text,
                   length(text) AS n_chars,
                   len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                   length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('the','and','of','to','is','in','that','with'))) AS s_en,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('le','la','les','des','est','et','une','dans'))) AS s_fr,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('der','die','das','und','ist','nicht','ein','mit'))) AS s_de,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('el','los','las','es','una','que','para','con'))) AS s_es
            FROM dedup WHERE rn = 1
        ),
        rep_tok AS (
            SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok
            FROM (SELECT doc_id, tok, count(*) AS c
                  FROM (SELECT doc_id,
                               unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS tok
                        FROM dedup WHERE rn = 1)
                  GROUP BY doc_id, tok)
            GROUP BY doc_id
        ),
        rep_gram AS (
            SELECT doc_id, count(*) AS n2, count(DISTINCT g) AS d2
            FROM (SELECT doc_id, array_to_string(list_slice(t, s, s + 1), ' ') AS g
                  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1, 1)) AS s
                        FROM (SELECT doc_id,
                                     list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS t
                              FROM dedup WHERE rn = 1)
                        WHERE len(t) >= 2))
            GROUP BY doc_id
        ),
        curated AS (
            SELECT doc_id, text,
                   CASE WHEN greatest(s_en, s_fr, s_de, s_es) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_fr, s_de, s_es) THEN 'en'
                        WHEN s_fr = greatest(s_en, s_fr, s_de, s_es) THEN 'fr'
                        WHEN s_de = greatest(s_en, s_fr, s_de, s_es) THEN 'de'
                        ELSE 'es'
                   END AS lang_pred
            FROM feats
            JOIN rep_tok USING (doc_id)
            LEFT JOIN rep_gram USING (doc_id)
            WHERE round(
                       least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.3
                     + (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END) * 0.3
                     + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                     + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                     + least(CAST(s_en AS DOUBLE) / 5.0, 1.0) * 0.1
                   , 4) >= 0.5
              AND greatest(s_en, s_fr, s_de, s_es) > 0
              AND n_tok > 0
              AND round(CAST(top_c AS DOUBLE) / n_tok, 4) <= 0.3
              AND round(CASE WHEN coalesce(n2, 0) > 0
                             THEN 1.0 - CAST(d2 AS DOUBLE) / n2
                             ELSE 0.0 END, 4) <= 0.5
        ),
        toks_all AS (
            SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id, array_to_string(list_slice(t, s, s + 7), ' ') AS g
            FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 7, 1)) AS s
                  FROM toks_all WHERE len(t) >= 8)
        ),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0),
        bad AS (
            SELECT DISTINCT doc_id FROM grams JOIN bench USING (g) WHERE doc_id % 10 <> 0
        ),
        sampled AS (
            SELECT doc_id, text, lang_pred FROM curated
            WHERE doc_id % 10 <> 0
              AND doc_id NOT IN (SELECT doc_id FROM bad)
              AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 8)) AS BIGINT)
                      / 4294967296.0
                  < CASE lang_pred WHEN 'en' THEN 1.0 WHEN 'fr' THEN 0.5
                                   WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.25 ELSE 0.0 END
        ),
        ctoks AS (
            SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t
            FROM sampled
        ),
        cstats AS (
            SELECT doc_id, count(*) AS n_chunks, sum(least(32, len(t) - s + 1)) AS chunk_tokens
            FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - 8, 1), 24)) AS s
                  FROM ctoks WHERE len(t) > 0)
            GROUP BY doc_id
        )
        SELECT lang_pred,
               count(*) AS n_docs,
               sum(coalesce(n_chunks, 0)) AS n_chunks,
               sum(coalesce(chunk_tokens, 0)) AS total_chunk_tokens
        FROM sampled LEFT JOIN cstats USING (doc_id)
        GROUP BY lang_pred
    """,
    "q70_range_join": """
        WITH wins AS (
            SELECT d, (d - DATE '1970-01-01') AS s, (d - DATE '1970-01-01') + 3 AS e
            FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events ORDER BY d LIMIT 8)
        ), pts AS (
            SELECT (CAST(ts AS DATE) - DATE '1970-01-01') AS p FROM events
        )
        SELECT d AS win_start, count(*) AS n_events
        FROM pts JOIN wins ON p >= s AND p < e
        GROUP BY d
    """,
    "q71_range_frames": """
        SELECT event_id, user_id,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                                      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS hour_sum,
               count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                              RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS hour_n,
               round(first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 3) AS first_val,
               round(last_value(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 3) AS last_val
        FROM events
    """,
    "q27_quality_score": """
        WITH f AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                   length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('the','and','of','to','is','in','that','with'))) AS stop_hits
            FROM documents
        )
        SELECT doc_id,
               round(
                   least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.3
                 + (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END) * 0.3
                 + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                 + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                 + least(CAST(stop_hits AS DOUBLE) / 5.0, 1.0) * 0.1 + 1e-9
               , 4) AS quality
        FROM f
    """,
    "q80_adaptive_quality": """
        WITH f AS (
            SELECT doc_id, source,
                   length(text) AS n_chars,
                   len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                   length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('the','and','of','to','is','in','that','with'))) AS stop_hits
            FROM documents
        ),
        q AS (
            SELECT doc_id, source,
                   round(
                       least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.3
                     + (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END) * 0.3
                     + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                     + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                     + least(CAST(stop_hits AS DOUBLE) / 5.0, 1.0) * 0.1 + 1e-9
                   , 4) AS quality
            FROM f
        ),
        r AS (
            SELECT source, quality,
                   cume_dist() OVER (PARTITION BY source ORDER BY quality) AS cd
            FROM q
        )
        SELECT source,
               count(*) AS n_kept,
               min(quality) AS min_kept_quality
        FROM r WHERE cd >= 0.25
        GROUP BY source
    """,
    "q72_repetition_filter": """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS t
            FROM documents
        ),
        base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
        tok_stats AS (
            SELECT doc_id, count(*) AS n_distinct, max(c) AS top_c
            FROM (SELECT doc_id, tok, count(*) AS c
                  FROM (SELECT doc_id, unnest(t) AS tok FROM base)
                  GROUP BY doc_id, tok)
            GROUP BY doc_id
        ),
        gram_stats AS (
            SELECT doc_id, count(*) AS n2, count(DISTINCT g) AS d2
            FROM (SELECT doc_id, array_to_string(list_slice(t, s, s + 1), ' ') AS g
                  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1, 1)) AS s
                        FROM base WHERE len(t) >= 2))
            GROUP BY doc_id
        ),
        sig AS (
            SELECT b.doc_id,
                   b.n AS n_tokens,
                   round(1.0 - CAST(ts.n_distinct AS DOUBLE) / b.n, 4) AS dup_token_frac,
                   round(CAST(ts.top_c AS DOUBLE) / b.n, 4) AS top_token_frac,
                   round(CASE WHEN coalesce(gs.n2, 0) > 0
                              THEN 1.0 - CAST(gs.d2 AS DOUBLE) / gs.n2
                              ELSE 0.0 END, 4) AS dup_2gram_frac
            FROM base b
            JOIN tok_stats ts USING (doc_id)
            LEFT JOIN gram_stats gs USING (doc_id)
        )
        SELECT doc_id, n_tokens, dup_token_frac, top_token_frac, dup_2gram_frac,
               (top_token_frac <= 0.3 AND dup_2gram_frac <= 0.5) AS keep
        FROM sig
    """,
    "q73_domain_cap": """
        SELECT doc_id, source, n_chars, rank FROM (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id ASC) AS rank
            FROM documents
        ) WHERE rank <= 10
    """,
    "q74_source_mix_weights": """
        WITH per_src AS (
            SELECT source, count(*) AS n_docs,
                   sum(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''))) AS n_tokens
            FROM documents GROUP BY source
        )
        , shares AS (
            SELECT source, n_docs, n_tokens,
                   CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS p
            FROM per_src
        )
        SELECT source, n_docs, n_tokens,
               round(p, 6) AS token_share,
               round(pow(p, 0.7) / sum(pow(p, 0.7)) OVER (), 6) AS mix_weight
        FROM shares
    """,
    "q75_event_funnel": """
        WITH marked AS (
            SELECT user_id, ts, event_type, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, event_type,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM marked
        ),
        v AS (
            SELECT user_id, ts, event_type, session_no,
                   min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id, session_no) AS t_view
            FROM sess
        ),
        c AS (
            SELECT user_id, ts, event_type, session_no, t_view,
                   min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                       OVER (PARTITION BY user_id, session_no) AS t_click
            FROM v
        ),
        b AS (
            SELECT user_id, session_no,
                   max(t_view) AS tv, max(t_click) AS tc,
                   max(t_buy) AS tb
            FROM (SELECT user_id, session_no, t_view, t_click,
                         min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
                             OVER (PARTITION BY user_id, session_no) AS t_buy
                  FROM c)
            GROUP BY user_id, session_no
        )
        SELECT count(*) AS n_sessions,
               sum(CASE WHEN tv IS NOT NULL THEN 1 ELSE 0 END) AS n_view,
               sum(CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END) AS n_view_click,
               sum(CASE WHEN tb IS NOT NULL THEN 1 ELSE 0 END) AS n_full_funnel
        FROM b
    """,
    "q76_promo_revenue": """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    """,
    "q77_volume_shipping": """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS ship_year,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3
        HAVING count(*) >= 5
    """,
    "q78_disjunctive_predicate": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#19' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
    """,
    # q86: the fake codec's geometry is sha256-digest arithmetic over
    # ASCII content bytes; DuckDB's sha256(VARCHAR) hashes the same
    # bytes, and hex-pair -> int is a strpos lookup. Image rows are
    # i % 3 == 0 (synth_media's kind cycle); digest byte k lives at hex
    # chars 2k+1..2k+2.
    "q86_multimodal_geometry": """
        WITH m AS (
            SELECT i AS media_id, sha256('42:' || i::VARCHAR) AS d
            FROM generate_series(0, 29) AS t(i)
            WHERE i % 3 = 0
        ),
        b AS (
            SELECT media_id,
                   (strpos('0123456789abcdef', substr(d, 17, 1))-1)*16
                 + (strpos('0123456789abcdef', substr(d, 18, 1))-1) AS byte8,
                   (strpos('0123456789abcdef', substr(d, 19, 1))-1)*16
                 + (strpos('0123456789abcdef', substr(d, 20, 1))-1) AS byte9
            FROM m
        )
        SELECT media_id,
               CAST(8 + byte9 % 8 AS INT) AS width,
               CAST(8 + byte8 % 8 AS INT) AS height,
               CAST((8 + byte8 % 8) * (8 + byte9 % 8) AS BIGINT) AS n_pixels
        FROM b
    """,
    "q87_hll_exact_regime": """
        SELECT 'doc_langs' AS metric, count(DISTINCT lang) AS n_distinct FROM documents
        UNION ALL
        SELECT 'event_types' AS metric, count(DISTINCT event_type) AS n_distinct FROM events
    """,
    # q88: GK sketch with accuracy >= group size returns the exact
    # discrete quantile — rank = ceil(q*n), DuckDB's quantile_disc.
    "q88_quantile_sketch_exact_regime": """
        SELECT event_type,
               round(quantile_disc(value, 0.5), 2) AS p50,
               round(quantile_disc(value, 0.95), 2) AS p95,
               round(quantile_disc(value, 0.99), 2) AS p99,
               count(*) AS n
        FROM events
        GROUP BY event_type
    """,
    "q91_bm25_retrieval": """
        WITH lens AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
            FROM documents
        ), scalars AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(CAST(len(ts) AS DOUBLE)) AS avgdl FROM lens
        ), toks AS (
            SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM lens
        ), tf AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM toks
            WHERE term IN ('merge', 'spark', 'window')
            GROUP BY doc_id, dl, term
        ), dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        )
        SELECT tf.doc_id,
               round(sum(
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
               ), 6) AS bm25,
               count(*) AS n_terms_matched
        FROM tf JOIN dfreq USING (term) CROSS JOIN scalars
        GROUP BY tf.doc_id
    """,
    "q92_unigram_surprisal": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ), uni AS (
            SELECT term, sum(tf) AS ct FROM tf GROUP BY term
        ), total AS (
            SELECT CAST(sum(ct) AS DOUBLE) AS t_total FROM uni
        )
        SELECT doc_id,
               round(sum(-tf * ln(ct / t_total)) / sum(tf), 4) AS surprisal_nats,
               sum(tf) AS n_tokens
        FROM tf JOIN uni USING (term) CROSS JOIN total
        GROUP BY doc_id
    """,
    # q93: the oracle replicates the identical blocking (first three
    # tokens) and the identical planted single-edit copies, so blocked
    # fuzzy-dedup equality is exact; DuckDB's full levenshtein filtered
    # at <= 2 equals the engine's thresholded banded form on the kept
    # rows.
    "q93_fuzzy_edit_dedup": """
        WITH base AS (
            -- ASCII regime: octet_length == length in both engines
            SELECT doc_id, trim(text) AS t FROM documents
            WHERE strlen(text) = length(text)  -- strlen: bytes (DuckDB's octet count)
        ), u AS (
            SELECT doc_id, t FROM base
            UNION ALL
            SELECT doc_id + 10000000, substr(t, 1, 37) || 'z' || substr(t, 39) FROM base
        ), keyed AS (
            SELECT doc_id AS id, substr(t, 1, 40) AS key,
                   split_part(t, ' ', 1) AS b1,
                   split_part(t, ' ', 2) AS b2,
                   split_part(t, ' ', 3) AS b3
            FROM u
        )
        SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.key, b.key) AS dist
        FROM keyed a JOIN keyed b
          ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.b3 = b.b3 AND a.id < b.id
        WHERE levenshtein(a.key, b.key) <= 2
    """,
    "q94_train_split": """
        WITH keyed AS (
            SELECT lang, source, n_chars,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#7'), 1, 8)) AS BIGINT)
                       / 4294967296.0 AS u
            FROM documents
        )
        SELECT lang, source,
               CASE WHEN u < 0.9 THEN 'train' WHEN u < 0.95 THEN 'val' ELSE 'test' END AS split,
               count(*) AS n_docs, sum(n_chars) AS n_chars
        FROM keyed
        GROUP BY lang, source, split
    """,
    "q95_pmi_collocations": """
        WITH toksarr AS (
            SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
            FROM documents
        ), bg AS (
            SELECT unnest(list_zip(ts[:len(ts)-1], ts[2:])) AS p FROM toksarr
        ), bigrams AS (
            SELECT p[1] AS a, p[2] AS b, count(*) AS c_ab FROM bg GROUP BY 1, 2
        ), unigrams AS (
            SELECT unnest(ts) AS term FROM toksarr
        ), ucounts AS (
            SELECT term, count(*) AS c_t FROM unigrams GROUP BY term
        ), bt AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bi FROM bigrams),
           ut AS (SELECT CAST(sum(c_t) AS DOUBLE) AS n_uni FROM ucounts)
        SELECT rank, a, b, c_ab, pmi FROM (
            SELECT a, b, c_ab,
                   round(ln((c_ab / n_bi) / ((ca.c_t / n_uni) * (cb.c_t / n_uni))), 4) AS pmi,
                   row_number() OVER (
                       ORDER BY round(ln((c_ab / n_bi) / ((ca.c_t / n_uni) * (cb.c_t / n_uni))), 4) DESC,
                                a ASC, b ASC
                   ) AS rank
            FROM bigrams
            JOIN ucounts ca ON bigrams.a = ca.term
            JOIN ucounts cb ON bigrams.b = cb.term
            CROSS JOIN bt CROSS JOIN ut
            WHERE c_ab >= 20
        ) WHERE rank <= 50
    """,
    "q96_zipf_fit": """
        WITH toks AS (
            SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS term
            FROM documents
        ), counts AS (
            SELECT term, count(*) AS c FROM toks GROUP BY term HAVING count(*) >= 5
        ), ranked AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, term ASC) AS rank FROM counts
        )
        SELECT round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS zipf_slope,
               round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6) AS zipf_intercept,
               count(*) AS n_terms
        FROM ranked
    """,
    "q97_sketch_union": """
        SELECT source AS grp, count(DISTINCT lang) AS n_distinct FROM documents GROUP BY source
        UNION ALL
        SELECT 'ALL' AS grp, count(DISTINCT lang) AS n_distinct FROM documents
    """,
    # q98: for +-1 vectors, squared L2 = 128 - 2 * inner product; the
    # engine's lossless-PQ ADC sum equals it exactly (small integers).
    "q98_pq_adc_exact_regime": """
        WITH s AS (
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> CASE WHEN x >= 0 THEN 1.0 ELSE -1.0 END) AS v
            FROM embeddings
        ), q AS (SELECT v AS qv FROM s WHERE vec_id = 0)
        SELECT s.vec_id, 128.0 - 2 * list_inner_product(s.v, q.qv) AS adc_dist
        FROM s, q WHERE s.vec_id <> 0
        ORDER BY adc_dist ASC, s.vec_id ASC LIMIT 50
    """,
    "q99_resample_gapfill": """
        WITH ev AS (
            SELECT user_id AS entity, date_trunc('hour', ts) AS bucket, ts, event_id, value
            FROM events
        ), ranked AS (
            SELECT entity, bucket, value,
                   row_number() OVER (PARTITION BY entity, bucket ORDER BY ts DESC, event_id DESC) AS rn,
                   count(*) OVER (PARTITION BY entity, bucket) AS n_events
            FROM ev
        ), per_bucket AS (
            SELECT entity, bucket, n_events, value AS last_v FROM ranked WHERE rn = 1
        ), spine AS (
            SELECT entity, unnest(generate_series(min(bucket), max(bucket), INTERVAL 1 HOUR)) AS bucket
            FROM per_bucket GROUP BY entity
        )
        SELECT s.entity AS user_id,
               strftime(s.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
               coalesce(b.n_events, 0) AS n_events,
               round(last_value(b.last_v IGNORE NULLS) OVER (
                   PARTITION BY s.entity ORDER BY s.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS value_ff
        FROM spine s LEFT JOIN per_bucket b ON s.entity = b.entity AND s.bucket = b.bucket
    """,
    "q100_scd2_intervals": """
        WITH o AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events
        ), ch AS (
            SELECT user_id, event_type, ts, event_id FROM o
            WHERE prev IS NULL OR event_type <> prev
        )
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
               strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                        '%Y-%m-%d %H:%M:%S.%f') AS valid_to
        FROM ch
    """,
    "q101_profile_documents": """
            SELECT 'doc_id' AS column_name, 'n' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
            UNION ALL SELECT 'doc_id', 'n_null', CAST(count(*) - count(doc_id) AS DOUBLE) FROM documents
            UNION ALL SELECT 'doc_id', 'n_distinct', CAST(count(DISTINCT doc_id) AS DOUBLE) FROM documents
            UNION ALL SELECT 'doc_id', 'min', CAST(min(doc_id) AS DOUBLE) FROM documents
            UNION ALL SELECT 'doc_id', 'max', CAST(max(doc_id) AS DOUBLE) FROM documents
            UNION ALL SELECT 'doc_id', 'mean', round(avg(CAST(doc_id AS DOUBLE)), 4) FROM documents
            UNION ALL
            SELECT 'n_chars' AS column_name, 'n' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
            UNION ALL SELECT 'n_chars', 'n_null', CAST(count(*) - count(n_chars) AS DOUBLE) FROM documents
            UNION ALL SELECT 'n_chars', 'n_distinct', CAST(count(DISTINCT n_chars) AS DOUBLE) FROM documents
            UNION ALL SELECT 'n_chars', 'min', CAST(min(n_chars) AS DOUBLE) FROM documents
            UNION ALL SELECT 'n_chars', 'max', CAST(max(n_chars) AS DOUBLE) FROM documents
            UNION ALL SELECT 'n_chars', 'mean', round(avg(CAST(n_chars AS DOUBLE)), 4) FROM documents
            UNION ALL
            SELECT 'lang' AS column_name, 'n' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
            UNION ALL SELECT 'lang', 'n_null', CAST(count(*) - count(lang) AS DOUBLE) FROM documents
            UNION ALL SELECT 'lang', 'n_distinct', CAST(count(DISTINCT lang) AS DOUBLE) FROM documents
            UNION ALL SELECT 'lang', 'avg_len', round(avg(CAST(length(lang) AS DOUBLE)), 4) FROM documents
            UNION ALL SELECT 'lang', 'max_len', CAST(max(length(lang)) AS DOUBLE) FROM documents
            UNION ALL
            SELECT 'source' AS column_name, 'n' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
            UNION ALL SELECT 'source', 'n_null', CAST(count(*) - count(source) AS DOUBLE) FROM documents
            UNION ALL SELECT 'source', 'n_distinct', CAST(count(DISTINCT source) AS DOUBLE) FROM documents
            UNION ALL SELECT 'source', 'avg_len', round(avg(CAST(length(source) AS DOUBLE)), 4) FROM documents
            UNION ALL SELECT 'source', 'max_len', CAST(max(length(source)) AS DOUBLE) FROM documents
            UNION ALL
            SELECT 'text' AS column_name, 'n' AS metric, CAST(count(*) AS DOUBLE) AS value FROM documents
            UNION ALL SELECT 'text', 'n_null', CAST(count(*) - count(text) AS DOUBLE) FROM documents
            UNION ALL SELECT 'text', 'n_distinct', CAST(count(DISTINCT text) AS DOUBLE) FROM documents
            UNION ALL SELECT 'text', 'avg_len', round(avg(CAST(length(text) AS DOUBLE)), 4) FROM documents
            UNION ALL SELECT 'text', 'max_len', CAST(max(length(text)) AS DOUBLE) FROM documents
    """,
    "q102_zscore_anomalies": """
        WITH stats AS (
            SELECT user_id AS e, avg(CAST(value AS DOUBLE)) AS mu,
                   stddev_samp(CAST(value AS DOUBLE)) AS sd
            FROM events GROUP BY user_id
        )
        SELECT event_id, user_id, value, round((CAST(value AS DOUBLE) - mu) / sd, 3) AS z
        FROM events JOIN stats ON user_id = e
        WHERE sd IS NOT NULL AND sd > 0
          AND abs(round((CAST(value AS DOUBLE) - mu) / sd, 3)) > 3.0
    """,
    "q103_returned_items": """
        SELECT c_custkey, c_name, n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND CAST(o_orderdate AS DATE) >= DATE '1997-07-01'
          AND CAST(o_orderdate AS DATE) < DATE '1997-10-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "q104_large_volume_customers": """
        WITH big AS (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) >= 250
        )
        SELECT c_custkey, c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_totalprice, sum_qty
        FROM orders
        JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 20
    """,
    # q105: the oracle replays the engine's 3 fixed power-method
    # iterations as chained CTEs with the identical IEEE expression
    # shape ((1 - 0.85)/n + 0.85 * sum(pr/d)); display rounding at 6.
    "q105_textrank_terms": """
        WITH toksarr AS (
            SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
            FROM documents
        ), bg AS (
            SELECT unnest(list_zip(ts[:len(ts)-1], ts[2:])) AS p FROM toksarr
        ), bigrams AS (
            SELECT p[1] AS a, p[2] AS b, count(*) AS c_ab FROM bg GROUP BY 1, 2
        ), fb AS (
            SELECT a, b FROM bigrams WHERE c_ab >= 10
        ), ed AS (
            SELECT DISTINCT s, t FROM (
                SELECT a AS s, b AS t FROM fb UNION ALL SELECT b AS s, a AS t FROM fb
            )
        ), nodes AS (
            SELECT DISTINCT s AS node FROM ed
        ), nn AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
        ), deg AS (
            SELECT s, CAST(count(*) AS DOUBLE) AS d FROM ed GROUP BY s
        ), pr0 AS (
            SELECT node, 1.0 / n AS pr FROM nodes CROSS JOIN nn
        )        , c1 AS (
            SELECT t AS node, sum(pr / d) AS c
            FROM ed JOIN pr0 ON s = node JOIN deg USING (s)
            GROUP BY t
        ), pr1 AS (
            SELECT nodes.node, (1 - 0.85) / n + 0.85 * coalesce(c, 0.0) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c1 ON nodes.node = c1.node
        )        , c2 AS (
            SELECT t AS node, sum(pr / d) AS c
            FROM ed JOIN pr1 ON s = node JOIN deg USING (s)
            GROUP BY t
        ), pr2 AS (
            SELECT nodes.node, (1 - 0.85) / n + 0.85 * coalesce(c, 0.0) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c2 ON nodes.node = c2.node
        )        , c3 AS (
            SELECT t AS node, sum(pr / d) AS c
            FROM ed JOIN pr2 ON s = node JOIN deg USING (s)
            GROUP BY t
        ), pr3 AS (
            SELECT nodes.node, (1 - 0.85) / n + 0.85 * coalesce(c, 0.0) AS pr
            FROM nodes CROSS JOIN nn LEFT JOIN c3 ON nodes.node = c3.node
        )
        SELECT rank, term, pr FROM (
            SELECT node AS term, round(pr, 6) AS pr,
                   row_number() OVER (ORDER BY round(pr, 6) DESC, node ASC) AS rank
            FROM pr3
        ) WHERE rank <= 20
    """,
    # q106: A-ES weighted sampling — identical md5 uniform, identical
    # ln(u)/w key, rounded at 9 before ranking (doc_id tiebreak).
    "q106_weighted_sample": """
        WITH keyed AS (
            SELECT lang, doc_id, n_chars,
                   round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#11'), 1, 8)) AS BIGINT)
                            / 4294967296.0) / CAST(n_chars AS DOUBLE), 9) AS es_key
            FROM documents
            WHERE n_chars > 0
        )
        SELECT lang, doc_id, n_chars, es_key FROM (
            SELECT lang, doc_id, n_chars, es_key,
                   row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id ASC) AS rn
            FROM keyed
        ) WHERE rn <= 20
    """,
    "q107_cohort_retention": """
        WITH ev AS (
            SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
        ), first AS (
            SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id
        ), joined AS (
            SELECT ev.user_id, cohort_wk,
                   CAST(date_diff('day', cohort_wk, wk) / 7 AS INT) AS week_offset
            FROM ev JOIN first ON ev.user_id = first.user_id
        ), counts AS (
            SELECT cohort_wk, week_offset, count(DISTINCT user_id) AS n_users
            FROM joined GROUP BY cohort_wk, week_offset
        ), sizes AS (
            SELECT cohort_wk, count(DISTINCT user_id) AS cohort_size FROM first GROUP BY cohort_wk
        )
        SELECT strftime(counts.cohort_wk, '%Y-%m-%d') AS cohort_week, week_offset,
               n_users, cohort_size,
               round(CAST(n_users AS DOUBLE) / cohort_size, 4) AS retention
        FROM counts JOIN sizes ON counts.cohort_wk = sizes.cohort_wk
    """,
    "q108_snapshot_diff": """
        WITH base AS (
            SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        ), nxt AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice,
                   o_orderpriority
            FROM base WHERE o_orderkey % 7 <> 3
            UNION ALL
            SELECT o_orderkey + 10000000, o_totalprice, o_orderpriority
            FROM base WHERE o_orderkey % 100 = 0
        ), j AS (
            SELECT base.o_orderkey AS k_old, nxt.o_orderkey AS k_new,
                   base.o_totalprice AS old_o_totalprice, base.o_orderpriority AS old_o_orderpriority,
                   nxt.o_totalprice AS new_o_totalprice, nxt.o_orderpriority AS new_o_orderpriority
            FROM base FULL OUTER JOIN nxt ON base.o_orderkey = nxt.o_orderkey
        )
        SELECT coalesce(k_old, k_new) AS o_orderkey,
               CASE WHEN k_old IS NULL THEN 'added'
                    WHEN k_new IS NULL THEN 'removed'
                    WHEN NOT (old_o_totalprice IS NOT DISTINCT FROM new_o_totalprice
                              AND old_o_orderpriority IS NOT DISTINCT FROM new_o_orderpriority)
                    THEN 'changed' END AS status,
               old_o_totalprice, old_o_orderpriority, new_o_totalprice, new_o_orderpriority
        FROM j
        WHERE (k_old IS NULL) OR (k_new IS NULL)
           OR NOT (old_o_totalprice IS NOT DISTINCT FROM new_o_totalprice
                   AND old_o_orderpriority IS NOT DISTINCT FROM new_o_orderpriority)
    """,
    "q109_value_histogram": """
        SELECT event_type, CAST(floor(CAST(value AS DOUBLE) / 50.0) AS INT) AS bucket,
               count(*) AS n
        FROM events GROUP BY 1, 2
    """,
    "q110_cube_counts": """
        SELECT lang, source,
               CAST(grouping(lang) * 2 + grouping(source) AS BIGINT) AS gid,
               count(*) AS n_docs, sum(n_chars) AS n_chars
        FROM documents GROUP BY CUBE (lang, source)
    """,
    "q111_grouped_string_agg": """
        SELECT lang,
               string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
               count(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang
    """,
    "q112_session_paths": """
        WITH marked AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, event_id, event_type,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM marked
        ), paths AS (
            SELECT user_id, session_no,
                   string_agg(event_type, '>' ORDER BY ts, event_id) AS path
            FROM sess GROUP BY user_id, session_no
        )
        SELECT rank, path, n FROM (
            SELECT path, count(*) AS n,
                   row_number() OVER (ORDER BY count(*) DESC, path ASC) AS rank
            FROM paths GROUP BY path
        ) WHERE rank <= 15
    """,
    "q113_event_transitions": """
        WITH marked AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, event_id, event_type,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM marked
        ), pairs AS (
            SELECT event_type AS from_type,
                   lead(event_type) OVER (PARTITION BY user_id, session_no ORDER BY ts, event_id) AS to_type
            FROM sess
        ), counts AS (
            SELECT from_type, to_type, count(*) AS n FROM pairs
            WHERE to_type IS NOT NULL GROUP BY from_type, to_type
        ), totals AS (
            SELECT from_type, sum(n) AS row_total FROM counts GROUP BY from_type
        )
        SELECT counts.from_type, to_type, n,
               round(CAST(n AS DOUBLE) / row_total, 4) AS p
        FROM counts JOIN totals ON counts.from_type = totals.from_type
    """,
    "q114_item_cooccurrence": """
        WITH iu AS (
            SELECT DISTINCT event_type AS item, user_id FROM events
        ), sizes AS (
            SELECT item, count(*) AS nu FROM iu GROUP BY item
        ), inter AS (
            SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_both
            FROM iu a JOIN iu b ON a.user_id = b.user_id AND a.item < b.item
            GROUP BY a.item, b.item
        )
        SELECT item_a, item_b, n_both,
               round(CAST(n_both AS DOUBLE) / (sa.nu + sb.nu - n_both), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON item_a = sa.item
        JOIN sizes sb ON item_b = sb.item
    """,
    # q115: q75's stepwise-session CTEs + microsecond latencies;
    # quantile_cont == Spark's exact interpolating percentile
    # (bit-identical on equal integer inputs).
    "q115_funnel_latency": """
        WITH marked AS (
            SELECT user_id, ts, event_type, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, event_type,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM marked
        ), v AS (
            SELECT user_id, ts, event_type, session_no,
                   min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id, session_no) AS t_view
            FROM sess
        ), c AS (
            SELECT user_id, ts, event_type, session_no, t_view,
                   min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                       OVER (PARTITION BY user_id, session_no) AS t_click
            FROM v
        ), b AS (
            SELECT user_id, session_no,
                   max(t_view) AS tv, max(t_click) AS tc, max(t_buy) AS tb
            FROM (SELECT user_id, session_no, t_view, t_click,
                         min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
                             OVER (PARTITION BY user_id, session_no) AS t_buy
                  FROM c)
            GROUP BY user_id, session_no
        )
        SELECT 'view_to_click' AS transition, count(*) AS n,
               round(quantile_cont(CAST(date_diff('microsecond', tv, tc) AS DOUBLE), 0.5), 4) AS p50_us,
               round(quantile_cont(CAST(date_diff('microsecond', tv, tc) AS DOUBLE), 0.9), 4) AS p90_us
        FROM b WHERE tc IS NOT NULL
        UNION ALL
        SELECT 'click_to_purchase', count(*),
               round(quantile_cont(CAST(date_diff('microsecond', tc, tb) AS DOUBLE), 0.5), 4),
               round(quantile_cont(CAST(date_diff('microsecond', tc, tb) AS DOUBLE), 0.9), 4)
        FROM b WHERE tb IS NOT NULL
    """,
    "q116_fk_audit": """
        SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
               count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)) AS n_orphans
        FROM lineitem
        UNION ALL
        SELECT 'orders.o_custkey->customer',
               count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
        FROM orders
        UNION ALL
        SELECT 'customer.c_nationkey->nation',
               count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey))
        FROM customer
        UNION ALL
        SELECT 'supplier.s_nationkey->nation',
               count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s_nationkey))
        FROM supplier
    """,
    # q117: q42's gap-session CTEs -> [first,last] intervals -> sweep
    # line. The oracle's single global running sum equals the engine's
    # per-day + carry-in split exactly (buckets are time-contiguous);
    # delta DESC puts starts before ends at a timestamp tie (closed
    # intervals). epoch_us//1e6 floors to seconds like unix_timestamp
    # (DuckDB's epoch() is FRACTIONAL — a 10x-data lesson: one gap sat
    # exactly on the 1800 s boundary only when sub-second parts differed).
    "q117_concurrency_peak": """
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM marked
        ), bounds AS (
            SELECT user_id, session_no, min(ts) AS start_ts, max(ts) AS end_ts
            FROM sess GROUP BY user_id, session_no
        ), deltas AS (
            SELECT start_ts AS ts, 1 AS delta FROM bounds
            UNION ALL
            SELECT end_ts, -1 FROM bounds
        ), run AS (
            SELECT CAST(ts AS DATE) AS day, delta,
                   sum(delta) OVER (ORDER BY ts, delta DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS concurrency
            FROM deltas
        )
        SELECT day, CAST(max(concurrency) AS INT) AS peak,
               count(*) FILTER (WHERE delta = 1) AS n_starts
        FROM run GROUP BY day ORDER BY day
    """,
    # q118: the MG candidate pass has zero false negatives for
    # phi >= 1/(k+1), and the verify pass counts exactly — so the
    # oracle is the plain exact GROUP BY/HAVING. 0.002e0 keeps the
    # threshold a double product on both engines (DuckDB's bare 0.002
    # would be DECIMAL and compare exactly, flipping integer-boundary
    # cases the double path rounds across).
    "q118_heavy_hitters": """
        WITH t AS (
            SELECT token FROM (
                SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
                FROM documents
            ) WHERE token <> ''
        )
        SELECT token, count(*) AS cnt
        FROM t
        GROUP BY token
        HAVING count(*) > 0.002e0 * (SELECT count(*) FROM t)
    """,
    "q119_type_entropy": """
        WITH counts AS (
            SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        ), tot AS (
            SELECT day, sum(n) AS total FROM counts GROUP BY day
        )
        SELECT counts.day,
               round(-sum((CAST(n AS DOUBLE) / total) * ln(CAST(n AS DOUBLE) / total)), 4) AS entropy_nats,
               count(*) AS n_types
        FROM counts JOIN tot ON counts.day = tot.day
        GROUP BY counts.day
    """,
    # q120: integral l_quantity doubles sum exactly in any order, so
    # both engines' 0.2*avg thresholds are bit-identical.
    "q120_small_order_revenue": """
        WITH li_b AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_brand = 'Brand#13'
        ), thresh AS (
            SELECT l_partkey, 0.2e0 * avg(l_quantity) AS qty_thresh
            FROM li_b GROUP BY l_partkey
        )
        SELECT round(sum(l_extendedprice) / 7.0e0, 2) AS avg_yearly
        FROM li_b JOIN thresh USING (l_partkey)
        WHERE l_quantity < qty_thresh
    """,
    # q122/q123: the oracle's plain no-partition windows equal the
    # engine's range-partitioned rank/cumsum + carry-in split exactly
    # (ties co-locate; sum(rank*x) is tie-order-invariant).
    "q122_revenue_gini": """
        WITH rev AS (
            SELECT o_custkey, sum(o_totalprice) AS revenue
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT revenue,
                   row_number() OVER (ORDER BY revenue, o_custkey) AS rn
            FROM rev
        )
        SELECT round(2.0e0 * sum(rn * revenue) / (count(*) * sum(revenue))
                     - (count(*) + 1.0e0) / count(*), 6) AS gini,
               count(*) AS n_customers
        FROM ranked
    """,
    "q123_ks_drift": """
        WITH pts AS (
            SELECT value,
                   count(*) FILTER (WHERE event_type = 'view') AS a,
                   count(*) FILTER (WHERE event_type = 'purchase') AS b
            FROM events WHERE event_type IN ('view', 'purchase')
              AND value IS NOT NULL
            GROUP BY value
        ), cum AS (
            SELECT sum(a) OVER w AS cum_a, sum(b) OVER w AS cum_b
            FROM pts
            WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), tot AS (
            SELECT sum(a) AS na, sum(b) AS nb FROM pts
        )
        SELECT round(max(abs(CAST(cum_a AS DOUBLE) / na - CAST(cum_b AS DOUBLE) / nb)), 6) AS ks_stat,
               max(na) AS n_view, max(nb) AS n_purchase
        FROM cum, tot
    """,
    # q124: the O(n^2) NOT EXISTS dominance is the oracle; the engine
    # computes the same frontier with an aggregate + strict running min.
    "q124_pareto_frontier": """
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p
        WHERE p.p_retailprice IS NOT NULL AND NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice IS NOT NULL
              AND q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
              AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size)
        )
    """,
    # q125: integral weights sum exactly => identical crossing test; a
    # value qualifies iff its tie-group END cum crosses (order-invariant).
    "q125_weighted_median": """
        WITH cum AS (
            SELECT l_extendedprice AS price,
                   sum(l_quantity) OVER (ORDER BY l_extendedprice
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w
            FROM lineitem WHERE l_extendedprice IS NOT NULL
        ), tot AS (
            SELECT sum(l_quantity) AS tot_w FROM lineitem
            WHERE l_extendedprice IS NOT NULL
        )
        SELECT round(min(price), 2) AS weighted_median_price,
               round(max(tot_w), 2) AS total_weight
        FROM cum, tot WHERE cum_w >= 0.5e0 * tot_w
    """,
    # q126: dow labels differ across engines (Spark 1-7 vs DuckDB 0-6)
    # but only partition the days identically; dow never reaches output.
    "q126_chi2_independence": """
        WITH cells AS (
            SELECT event_type, dayofweek(ts) AS dow, count(*) AS o
            FROM events GROUP BY 1, 2
        ), rt AS (
            SELECT event_type, sum(o) AS rt FROM cells GROUP BY event_type
        ), ct AS (
            SELECT dow, sum(o) AS ct FROM cells GROUP BY dow
        ), n AS (
            SELECT sum(o) AS n FROM cells
        )
        SELECT round(sum((o - e) * (o - e) / e), 4) AS chi2,
               count(*) AS n_cells
        FROM (
            SELECT o, CAST(rt.rt AS DOUBLE) * ct.ct / n.n AS e
            FROM cells JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
        )
    """,
    # q127: explicit integer-div bucket formula on both sides — no
    # ntile(), no FP.
    "q127_revenue_deciles": """
        WITH rev AS (
            SELECT o_custkey, sum(o_totalprice) AS revenue
            FROM orders GROUP BY o_custkey
        ), ranked AS (
            SELECT revenue,
                   row_number() OVER (ORDER BY revenue, o_custkey) AS rn,
                   count(*) OVER () AS n_cust
            FROM rev
        )
        SELECT CAST((rn - 1) * 10 // n_cust + 1 AS INT) AS decile,
               count(*) AS n_customers,
               round(sum(revenue), 2) AS sum_revenue,
               round(min(revenue), 2) AS min_revenue,
               round(max(revenue), 2) AS max_revenue
        FROM ranked GROUP BY 1
    """,
    "q128_correlation_profile": """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
               round(stddev_samp(l_discount), 4) AS stddev_discount,
               count(*) AS n_items
        FROM lineitem GROUP BY l_returnflag
    """,
    # q129: binary-digit-count bucket = exact integer log2 on both
    # engines (log2()+floor straddles FP at powers of two).
    "q129_key_skew_profile": """
        WITH per_key AS (
            SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
        )
        SELECT CAST(length(bin(cnt)) - 1 AS INT) AS log2_bucket,
               count(*) AS n_keys,
               max(cnt) AS max_cnt,
               sum(cnt) AS n_rows
        FROM per_key GROUP BY 1
    """,
    # q130: latest-wins apply == the oracle's row_number window +
    # NOT EXISTS pass-through + non-tombstone winners.
    "q130_cdc_apply": """
        WITH img AS (
            SELECT user_id AS c_custkey,
                   'user_' || user_id AS c_name,
                   CAST(user_id % 25 AS INT) AS c_nationkey,
                   round(value, 2) AS c_acctbal,
                   event_type AS c_mktsegment,
                   ts, event_id,
                   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
            FROM events
        ), latest AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY c_custkey
                                             ORDER BY ts DESC, event_id DESC) AS rn
                FROM img
            ) WHERE rn = 1
        )
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM latest WHERE latest.c_custkey = customer.c_custkey)
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM latest WHERE op <> 'D'
    """,
    # q131: q75's stepwise-session CTE chain; both engines' {Sat,Sun}
    # sets coincide despite different dayofweek numbering.
    "q131_conversion_ztest": """
        WITH marked AS (
            SELECT user_id, ts, event_type, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, event_type,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM marked
        ), v AS (
            SELECT user_id, ts, event_type, session_no,
                   min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER (PARTITION BY user_id, session_no) AS t_view
            FROM sess
        ), c AS (
            SELECT user_id, ts, event_type, session_no, t_view,
                   min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
                       OVER (PARTITION BY user_id, session_no) AS t_click
            FROM v
        ), b AS (
            SELECT user_id, session_no,
                   max(t_view) AS tv, max(t_click) AS tc
            FROM c GROUP BY user_id, session_no
        ), coh AS (
            SELECT CASE WHEN dayofweek(tv) IN (0, 6) THEN 'weekend' ELSE 'weekday' END AS cohort,
                   CASE WHEN tc IS NOT NULL THEN 1 ELSE 0 END AS conv
            FROM b WHERE tv IS NOT NULL
        ), agg AS (
            SELECT sum(CASE WHEN cohort = 'weekend' THEN 1 ELSE 0 END) AS n1,
                   sum(CASE WHEN cohort = 'weekend' THEN conv ELSE 0 END) AS c1,
                   sum(CASE WHEN cohort = 'weekday' THEN 1 ELSE 0 END) AS n2,
                   sum(CASE WHEN cohort = 'weekday' THEN conv ELSE 0 END) AS c2
            FROM coh
        )
        SELECT round((CAST(c1 AS DOUBLE) / n1 - CAST(c2 AS DOUBLE) / n2)
                     / sqrt((CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                            * (1 - CAST(c1 + c2 AS DOUBLE) / (n1 + n2))
                            * (1.0e0 / n1 + 1.0e0 / n2)), 4) AS z_score,
               round(CAST(c1 AS DOUBLE) / n1, 4) AS rate_weekend,
               round(CAST(c2 AS DOUBLE) / n2, 4) AS rate_weekday,
               n1 AS n_weekend, n2 AS n_weekday
        FROM agg
    """,
    # q141: q42's session CTEs with event_type; per-pair Jaccard values
    # are exact rationals in double on both engines.
    # q150: reuses the verified session/sweep CTE patterns of q42/q117.
    "q150_ops_dashboard": """
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM marked
        ), bounds AS (
            SELECT user_id, session_no, min(ts) AS start_ts, max(ts) AS end_ts
            FROM sess GROUP BY user_id, session_no
        ), deltas AS (
            SELECT start_ts AS ts, 1 AS delta FROM bounds
            UNION ALL SELECT end_ts, -1 FROM bounds
        ), run AS (
            SELECT sum(delta) OVER (ORDER BY ts, delta DESC
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
            FROM deltas
        )
        SELECT 'n_events' AS metric, round(CAST(count(*) AS DOUBLE), 4) AS value FROM events
        UNION ALL
        SELECT 'n_users', round(CAST(count(DISTINCT user_id) AS DOUBLE), 4) FROM events
        UNION ALL
        SELECT 'n_sessions', round(CAST(count(*) AS DOUBLE), 4) FROM bounds
        UNION ALL
        SELECT 'n_purchases', round(CAST(count(*) AS DOUBLE), 4) FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT 'peak_concurrency', round(CAST(max(conc) AS DOUBLE), 4) FROM run
        UNION ALL
        SELECT 'median_event_value', round(quantile_cont(value, 0.5), 4) FROM events
    """,
    "q149_multi_touch_attribution": """
        WITH p AS (
            SELECT user_id, ts AS pts, event_id AS pid, value AS pvalue
            FROM events WHERE event_type = 'purchase'
        ), v AS (
            SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'
        ), per_purchase AS (
            SELECT pid, pts, pvalue, count(*) AS n_touch
            FROM p JOIN v ON p.user_id = v.user_id
                         AND v.vts <= p.pts
                         AND v.vts >= p.pts - INTERVAL 1 HOUR
            GROUP BY pid, pts, pvalue
        )
        SELECT CAST(pts AS DATE) AS day,
               count(*) AS n_touched_purchases,
               round(avg(n_touch), 4) AS avg_touches,
               max(n_touch) AS max_touches,
               round(sum(pvalue), 2) AS attributed_value
        FROM per_purchase GROUP BY 1
    """,
    "q148_psi_drift": """
        WITH ref AS (
            SELECT value, event_id FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-16'
        ), cur AS (
            SELECT value FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
        ), ranked AS (
            SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn FROM ref
        ), n AS (
            SELECT count(*) AS n_rows FROM ref
        ), edges AS (
            SELECT value AS edge FROM ranked, n
            WHERE rn IN (
                SELECT CAST(ceil(q * n_rows) AS BIGINT)
                FROM (SELECT unnest([0.1e0,0.2e0,0.3e0,0.4e0,0.5e0,0.6e0,0.7e0,0.8e0,0.9e0]) AS q), n
            )
        ), a AS (
            SELECT (SELECT count(*) FROM edges WHERE edge <= r.value) AS bin,
                   count(*) AS n_ref_bin
            FROM ref r GROUP BY 1
        ), b AS (
            SELECT (SELECT count(*) FROM edges WHERE edge <= c.value) AS bin,
                   count(*) AS n_cur_bin
            FROM cur c GROUP BY 1
        ), j AS (
            SELECT coalesce(a.bin, b.bin) AS bin,
                   coalesce(n_ref_bin, 0) AS n_ref_bin,
                   coalesce(n_cur_bin, 0) AS n_cur_bin
            FROM a FULL OUTER JOIN b ON a.bin = b.bin
        ), tot AS (
            SELECT sum(n_ref_bin) AS na, sum(n_cur_bin) AS nb, count(*) AS nbins FROM j
        )
        SELECT round(sum(((n_ref_bin + 1.0) / (na + nbins))
                         * ln(((n_ref_bin + 1.0) / (na + nbins))
                              / ((n_cur_bin + 1.0) / (nb + nbins)))
                     - ((n_cur_bin + 1.0) / (nb + nbins))
                         * ln(((n_ref_bin + 1.0) / (na + nbins))
                              / ((n_cur_bin + 1.0) / (nb + nbins)))), 6) AS psi,
               max(na) AS n_ref, max(nb) AS n_cur, count(*) AS n_bins
        FROM j, tot
    """,
    "q147_engagement_breadth": """
        WITH per_user AS (
            SELECT user_id, count(DISTINCT event_type) AS n_types,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        )
        SELECT n_types, count(*) AS n_users, sum(n_events) AS total_events
        FROM per_user GROUP BY n_types
    """,
    "q146_exact_global_percentiles": """
        WITH ranked AS (
            SELECT o_totalprice AS price,
                   row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
            FROM orders
        ), n AS (
            SELECT count(*) AS n_rows FROM orders
        ), targets AS (
            SELECT q, CAST(ceil(q * n_rows) AS BIGINT) AS target_rn, n_rows
            FROM (VALUES (0.5e0), (0.9e0), (0.99e0)) v(q), n
        )
        SELECT q, round(price, 2) AS value, n_rows
        FROM ranked JOIN targets ON rn = target_rn
    """,
    "q145_market_concentration": """
        WITH rev AS (
            SELECT c_nationkey, o_custkey, sum(o_totalprice) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey, o_custkey
        ), ranked AS (
            SELECT c_nationkey, revenue,
                   row_number() OVER (PARTITION BY c_nationkey
                                      ORDER BY revenue, o_custkey) AS rn
            FROM rev
        )
        SELECT c_nationkey, count(*) AS n_customers,
               round(2.0e0 * sum(rn * revenue) / (count(*) * sum(revenue))
                     - (count(*) + 1.0e0) / count(*), 6) AS gini,
               round(sum(revenue * revenue) / (sum(revenue) * sum(revenue)), 6) AS hhi
        FROM ranked GROUP BY c_nationkey
    """,
    "q144_event_debounce": """
        WITH w AS (
            SELECT event_type,
                   CASE WHEN lag(ts) OVER pw IS NULL
                             OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER pw) // 1000000 >= 7200
                        THEN 1 ELSE 0 END AS keep
            FROM events
            WINDOW pw AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
        )
        SELECT event_type, count(*) AS n_raw, sum(keep) AS n_kept,
               count(*) - sum(keep) AS n_debounced
        FROM w GROUP BY event_type
    """,
    "q143_mad_anomalies": """
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ), dev AS (
            SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
            FROM events e JOIN med m ON e.event_type = m.event_type
        ), mad AS (
            SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               sum(CASE WHEN d.adev > 4.4478e0 * m.mad THEN 1 ELSE 0 END) AS n_anomalies,
               count(*) AS n_events,
               round(max(d.med), 4) AS median_value,
               round(max(m.mad), 4) AS mad_value
        FROM dev d JOIN mad m ON d.event_type = m.event_type
        GROUP BY d.event_type
    """,
    "q141_session_similarity": """
        WITH marked AS (
            SELECT user_id, ts, event_type, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 >= 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, event_type,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
            FROM marked
        ), sets AS (
            SELECT user_id, session_no, array_agg(DISTINCT event_type) AS types
            FROM sess GROUP BY user_id, session_no
        ), pairs AS (
            SELECT user_id, types,
                   lag(types) OVER (PARTITION BY user_id ORDER BY session_no) AS prev
            FROM sets
        )
        SELECT user_id,
               round(avg(CAST(len(list_intersect(types, prev)) AS DOUBLE)
                         / len(list_distinct(list_concat(types, prev)))), 4) AS avg_session_jaccard,
               count(*) AS n_transitions
        FROM pairs WHERE prev IS NOT NULL
        GROUP BY user_id
    """,
    "q142_vocab_kl_divergence": """
        WITH mid AS (
            SELECT quantile_cont(CAST(doc_id AS DOUBLE), 0.5) AS mid FROM documents
        ), toks AS (
            SELECT first_half, token FROM (
                SELECT doc_id <= mid AS first_half,
                       unnest(string_split_regex(lower(text), '\\s+')) AS token
                FROM documents, mid
            ) WHERE token <> ''
        ), counts AS (
            SELECT token,
                   sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS a,
                   sum(CASE WHEN NOT first_half THEN 1 ELSE 0 END) AS b
            FROM toks GROUP BY token
        ), tot AS (
            SELECT sum(a) AS na, sum(b) AS nb, count(*) AS v FROM counts
        )
        SELECT round(sum(((a + 1.0) / (na + v)) * ln(((a + 1.0) / (na + v)) / ((b + 1.0) / (nb + v)))), 4) AS kl_first_vs_second,
               max(v) AS vocab_size,
               max(na) AS n_tokens_first,
               max(nb) AS n_tokens_second
        FROM counts, tot
    """,
    "q139_rolling_active_users": """
        WITH days AS (
            SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
        )
        SELECT day,
               (SELECT count(DISTINCT user_id) FROM events e2
                WHERE CAST(e2.ts AS DATE) BETWEEN day - 6 AND day) AS active_users_7d
        FROM days
    """,
    # q140: latest-preceding-view-in-window == EXISTS-any-view-in-window.
    "q140_last_touch_attribution": """
        WITH p AS (
            SELECT user_id, ts FROM events WHERE event_type = 'purchase'
        ), v AS (
            SELECT user_id, ts FROM events WHERE event_type = 'view'
        )
        SELECT CAST(p.ts AS DATE) AS day,
               count(*) AS n_purchases,
               count(*) FILTER (WHERE EXISTS (
                   SELECT 1 FROM v
                   WHERE v.user_id = p.user_id
                     AND v.ts <= p.ts
                     AND v.ts >= p.ts - INTERVAL 1 HOUR)) AS n_attributed
        FROM p GROUP BY 1
    """,
    "q137_late_ship_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + 30
        )
        GROUP BY o_orderpriority
    """,
    "q138_forecast_revenue": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """,
    "q135_benford_audit": """
        WITH obs AS (
            SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
                   count(*) AS n
            FROM orders GROUP BY 1
        ), tot AS (SELECT sum(n) AS n_total FROM obs)
        SELECT digit, n,
               round(CAST(n AS DOUBLE) / n_total, 4) AS obs_share,
               round(ln(1 + 1.0e0 / digit) / ln(10.0e0), 4) AS benford_share
        FROM obs, tot
    """,
    # q136: DuckDB's arg_max can't take a struct ordering key; the
    # equivalent deterministic form is field 2 of max/min over the
    # (value, event_id) row — same lexicographic order as Spark's
    # max_by/min_by over struct(value, event_id).
    "q136_argmax_events": """
        SELECT event_type,
               struct_extract(max(row(value, event_id)), 2) AS max_value_event,
               struct_extract(min(row(value, event_id)), 2) AS min_value_event,
               round(max(value), 4) AS max_value,
               round(min(value), 4) AS min_value
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
    "q132_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               GROUPING_ID(l_returnflag, l_linestatus) AS gid,
               count(*) AS n_items,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "q133_longest_streak": """
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ), islands AS (
            SELECT user_id, d,
                   d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS island
            FROM days
        ), runs AS (
            SELECT user_id, island, count(*) AS run_len
            FROM islands GROUP BY user_id, island
        )
        SELECT user_id, max(run_len) AS longest_streak,
               count(*) AS n_islands
        FROM runs GROUP BY user_id
    """,
    # q134: distributive partials merge exactly == the full recompute
    # the oracle runs.
    "q134_incremental_rollup": """
        SELECT event_type, count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               round(min(value), 4) AS min_value,
               round(max(value), 4) AS max_value,
               round(sum(value) / count(*), 4) AS avg_value
        FROM events GROUP BY event_type
    """,
    "q121_dormant_customers": """
        WITH anchor AS (
            SELECT CAST(max(o_orderdate) AS DATE) AS mx FROM orders
        ), recent AS (
            SELECT DISTINCT o_custkey FROM orders, anchor
            WHERE CAST(o_orderdate AS DATE) >= mx - 180
        ), avg_pos AS (
            SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey, count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM customer, avg_pos
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (SELECT 1 FROM recent WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey
    """,
    "q151_cms_frequency": """
        WITH toks AS (
            SELECT doc_id % 2 AS half,
                   unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS item
            FROM documents
        ), rows_d AS (
            SELECT half, item, depth
            FROM toks CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS depth)
        ), half_sketches AS (
            SELECT half, depth,
                   CAST(('0x' || substr(md5(item || '#cms' || CAST(depth AS VARCHAR)), 1, 8)) AS BIGINT) % 4096 AS bucket,
                   count(*) AS cnt
            FROM rows_d GROUP BY half, depth, bucket
        ), sk AS (
            SELECT depth, bucket, sum(cnt) AS cnt FROM half_sketches GROUP BY depth, bucket
        ), probes AS (
            SELECT unnest(['spark', 'window', 'merge', 'data', 'dup', 'query', 'batch', 'zzz-unseen']) AS item
        ), pb AS (
            SELECT item, depth,
                   CAST(('0x' || substr(md5(item || '#cms' || CAST(depth AS VARCHAR)), 1, 8)) AS BIGINT) % 4096 AS bucket
            FROM probes CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS depth)
        )
        SELECT pb.item, min(COALESCE(sk.cnt, 0)) AS est
        FROM pb LEFT JOIN sk USING (depth, bucket)
        GROUP BY pb.item
        ORDER BY pb.item
    """,
    "q152_dsir_selection": """
        WITH toks AS (
            SELECT doc_id, lang = 'en' AS is_target,
                   unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')) AS token
            FROM documents
        ), feats AS (
            SELECT doc_id, is_target,
                   CAST(('0x' || substr(md5(token || '#dsir'), 1, 8)) AS BIGINT) % 4096 AS bucket
            FROM toks
        ), counts AS (
            SELECT bucket, count(*) AS raw_cnt,
                   count(*) FILTER (WHERE is_target) AS tgt_cnt
            FROM feats GROUP BY bucket
        ), totals AS (
            SELECT sum(raw_cnt) AS raw_total, sum(tgt_cnt) AS tgt_total FROM counts
        ), ratio AS (
            SELECT bucket,
                   ln((tgt_cnt + 0.5) / (tgt_total + 0.5 * 4096))
                 - ln((raw_cnt + 0.5) / (raw_total + 0.5 * 4096)) AS log_ratio
            FROM counts CROSS JOIN totals
        ), scored AS (
            SELECT f.doc_id, round(sum(r.log_ratio), 6) AS importance
            FROM feats f JOIN ratio r USING (bucket)
            GROUP BY f.doc_id
        )
        SELECT doc_id, importance
        FROM scored
        ORDER BY importance DESC, doc_id ASC
        LIMIT 50
    """,
    "q153_winnow_candidates": """
        WITH t AS (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 4
                        THEN list_transform(generate_series(1, len(toks) - 3),
                                            x -> array_to_string(list_slice(toks, x, x + 3), ' '))
                        ELSE [array_to_string(toks, ' ')]
                   END AS grams
            FROM t
        ), h AS (
            SELECT doc_id,
                   list_transform(grams, s -> CAST(('0x' || substr(md5(s || '#win'), 1, 8)) AS BIGINT)) AS hs
            FROM g
        ), fp AS (
            SELECT doc_id,
                   list_distinct(list_transform(generate_series(1, greatest(len(hs) - 3, 1)),
                                 i -> list_aggregate(list_slice(hs, i, i + 3), 'min'))) AS fps
            FROM h
        ), e AS (
            SELECT doc_id, unnest(fps) AS fp FROM fp
        ), kept AS (
            SELECT fp FROM e GROUP BY fp HAVING count(*) BETWEEN 2 AND 500
        ), ke AS (
            SELECT e.doc_id, e.fp FROM e JOIN kept USING (fp)
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
        FROM ke a JOIN ke b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 2
    """,
    "q154_token_budget_mix": """
        WITH f AS (
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
                   length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                   length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                   length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS n_space,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       x -> x IN ('the','and','of','to','is','in','that','with'))) AS stop_hits
            FROM documents
        ), scored AS (
            SELECT doc_id,
                   round(
                       least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0) * 0.3
                     + (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END) * 0.3
                     + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                     + (1 - least((CASE WHEN n_chars > 0 THEN CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE) / n_chars ELSE 0.0 END) * 4, 1.0)) * 0.15
                     + least(CAST(stop_hits AS DOUBLE) / 5.0, 1.0) * 0.1 + 1e-9
                   , 4) AS score,
                   CAST(n_tokens AS BIGINT) AS n_tokens
            FROM f
        ), b AS (
            SELECT CAST(floor(sum(n_tokens) / 10.0) AS BIGINT) AS budget FROM scored
        ), cum AS (
            SELECT doc_id, score, n_tokens,
                   CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
            FROM scored
        )
        SELECT doc_id, score, n_tokens, cum_tokens
        FROM cum CROSS JOIN b
        WHERE cum_tokens <= budget
    """,
    # q155: both engines run the running cap-cumsum in the same
    # (cap, lang) total order, so the sequential float sums match
    # bit-for-bit; trunc() mirrors Spark's truncating long cast.
    "q155_unimax_mix": """
        WITH sized AS (
            SELECT lang,
                   len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens
            FROM documents
        ), sizes AS (
            SELECT lang, CAST(sum(n_tokens) AS DOUBLE) AS n_tokens FROM sized GROUP BY lang
        ), tot AS (
            SELECT sum(n_tokens) * 0.5 AS budget FROM sizes
        ), s AS (
            SELECT lang, n_tokens, n_tokens * 0.6 AS cap, budget,
                   row_number() OVER (ORDER BY n_tokens * 0.6 ASC, lang ASC) AS r,
                   coalesce(sum(n_tokens * 0.6) OVER (
                       ORDER BY n_tokens * 0.6 ASC, lang ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS csum_prev,
                   count(*) OVER () AS n_groups
            FROM sizes CROSS JOIN tot
        ), c AS (
            SELECT *, CASE WHEN cap * (n_groups - r + 1) <= budget - csum_prev
                           THEN 1 ELSE 0 END AS cond
            FROM s
        ), cc AS (
            SELECT *, min(cond) OVER (ORDER BY cap ASC, lang ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS capped
            FROM c
        ), agg AS (
            SELECT *, sum(CASE WHEN capped = 1 THEN cap ELSE 0.0 END) OVER () AS capped_total,
                      sum(CASE WHEN capped = 1 THEN 0 ELSE 1 END) OVER () AS n_uncapped
            FROM cc
        )
        SELECT lang,
               CAST(trunc(n_tokens) AS BIGINT) AS n_tokens,
               CAST(trunc(cap) AS BIGINT) AS cap_tokens,
               round(CASE WHEN capped = 1 OR n_uncapped = 0 THEN cap
                          ELSE (budget - capped_total) / n_uncapped END, 4) AS alloc_tokens,
               round(CASE WHEN capped = 1 OR n_uncapped = 0 THEN cap
                          ELSE (budget - capped_total) / n_uncapped END / n_tokens, 6) AS epochs
        FROM agg
    """,
    # q156: parallel unnest of the shifted token slices zips
    # (prev, cur) transitions; integer counts, one float expression per
    # joined row, round-4 after the per-doc mean (the q92 contract).
    "q156_bigram_surprisal": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
            FROM documents
        ), base AS (
            SELECT doc_id, ts, len(ts) AS n_tokens FROM t WHERE len(ts) >= 1
        ), tr0 AS (
            SELECT doc_id,
                   unnest(list_slice(ts, 1, len(ts) - 1)) AS prev,
                   unnest(list_slice(ts, 2, len(ts))) AS cur
            FROM base WHERE len(ts) >= 2
        ), tr AS (
            SELECT doc_id, prev, cur, count(*) AS tf_b FROM tr0 GROUP BY 1, 2, 3
        ), uni AS (
            SELECT term, count(*) AS cu
            FROM (SELECT unnest(ts) AS term FROM base) GROUP BY term
        ), bi AS (
            SELECT prev, cur, sum(tf_b) AS cb FROM tr GROUP BY 1, 2
        ), tot AS (
            SELECT CAST(sum(cu) AS DOUBLE) AS t_total FROM uni
        ), bigram_nats AS (
            SELECT tr.doc_id,
                   -tr.tf_b * ln(0.75 * bi.cb / up.cu + 0.25 * uc.cu / tot.t_total) AS nats
            FROM tr
            JOIN bi ON tr.prev = bi.prev AND tr.cur = bi.cur
            JOIN uni up ON tr.prev = up.term
            JOIN uni uc ON tr.cur = uc.term
            CROSS JOIN tot
        ), first_nats AS (
            SELECT base.doc_id, -ln(uni.cu / tot.t_total) AS nats
            FROM base JOIN uni ON ts[1] = uni.term CROSS JOIN tot
        ), nats AS (
            SELECT doc_id, sum(nats) AS sum_nats
            FROM (SELECT * FROM bigram_nats UNION ALL SELECT * FROM first_nats)
            GROUP BY doc_id
        )
        SELECT n.doc_id,
               round(n.sum_nats / b.n_tokens, 4) AS surprisal_nats,
               CAST(b.n_tokens AS BIGINT) AS n_tokens
        FROM nats n JOIN base b ON n.doc_id = b.doc_id
    """,
    # q157: the full pipeline replays — md5-ordered seeds, round-6
    # snapped argmax assignment (first-max = lowest centroid_id),
    # per-cluster per-dim means via zipped unnest, round-4 scores
    # ranked on the ROUNDED value so the prune flags are
    # engine-identical.
    "q157_prototypicality_prune": """
        WITH nv AS (
            -- zero-norm vectors are out of the cosine domain (the
            -- engine filters norm > 0 before seeding/assignment)
            SELECT vec_id,
                   list_transform(CAST(embedding AS DOUBLE[]),
                       x -> x / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)))) AS v
            FROM embeddings
            WHERE list_sum(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y)) > 0
        ), seeds AS (
            SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR) || '#proto') ASC, vec_id ASC) AS centroid_id,
                   v
            FROM nv
            QUALIFY centroid_id <= 32
        ), scored0 AS (
            SELECT n.vec_id, n.v, s.centroid_id,
                   round(list_dot_product(n.v, s.v), 6) AS sc
            FROM nv n CROSS JOIN seeds s
        ), assigned AS (
            SELECT vec_id, v, centroid_id AS cluster_id
            FROM scored0
            QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, centroid_id ASC) = 1
        ), mexp AS (
            SELECT cluster_id,
                   unnest(v) AS val,
                   unnest(generate_series(1, len(v))) AS pos
            FROM assigned
        ), m AS (
            SELECT cluster_id, pos, avg(val) AS mv FROM mexp GROUP BY 1, 2
        ), mnorm AS (
            SELECT cluster_id, sqrt(sum(mv * mv)) AS mn FROM m GROUP BY 1
        ), rexp AS (
            SELECT vec_id, cluster_id,
                   unnest(v) AS val,
                   unnest(generate_series(1, len(v))) AS pos
            FROM assigned
        ), dots AS (
            SELECT r.vec_id, r.cluster_id, sum(r.val * m.mv) AS d
            FROM rexp r JOIN m ON r.cluster_id = m.cluster_id AND r.pos = m.pos
            GROUP BY 1, 2
        ), sc AS (
            SELECT d.vec_id, d.cluster_id, round(d.d / n.mn, 4) AS proto_cos
            FROM dots d JOIN mnorm n ON d.cluster_id = n.cluster_id
        )
        SELECT vec_id,
               CAST(cluster_id AS BIGINT) AS cluster_id,
               proto_cos,
               CAST(CASE WHEN row_number() OVER (PARTITION BY cluster_id ORDER BY proto_cos DESC, vec_id ASC)
                              <= floor(0.25 * count(*) OVER (PARTITION BY cluster_id))
                         THEN 1 ELSE 0 END AS INTEGER) AS pruned
        FROM sc
    """,
    "q158_nation_market_share": """
        SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               round(sum(CASE WHEN sn.n_name = 'NATION_1'
                              THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END)
                     / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        GROUP BY 1
    """,
    # q159: revenue rounds to 2 BEFORE the max comparison, so the
    # float tie is exact cross-engine.
    "q159_top_supplier": """
        WITH rev AS (
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1998-04-01'
            GROUP BY 1
        ), mx AS (SELECT max(total_revenue) AS max_rev FROM rev)
        SELECT s.s_suppkey, s.s_name, rev.total_revenue
        FROM rev CROSS JOIN mx
        JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        WHERE rev.total_revenue = mx.max_rev
    """,
    "q160_product_profit": """
        SELECT sn.n_name AS nation,
               CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               round(sum(l.l_extendedprice * (1 - l.l_discount)
                         - 0.6 * p.p_retailprice * l.l_quantity), 2) AS sum_profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%widget%'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    """,
    # q161: the EXISTS/NOT-EXISTS pair of TPC-H Q21 as two layered
    # aggregations; (numwait DESC, s_name) is a total order, so the
    # LIMIT 20 cut is deterministic.
    "q161_waiting_suppliers": """
        WITH j AS (
            SELECT l.l_orderkey, l.l_suppkey,
                   max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 120 DAY
                            THEN 1 ELSE 0 END) AS late
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
            GROUP BY 1, 2
        ), os AS (
            SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late FROM j GROUP BY 1
        ), w AS (
            SELECT j.l_suppkey, count(*) AS numwait
            FROM j JOIN os USING (l_orderkey)
            WHERE j.late = 1 AND os.n_supp >= 2 AND os.n_late = 1
            GROUP BY 1
        )
        SELECT s.s_suppkey, s.s_name, w.numwait
        FROM w JOIN supplier s ON w.l_suppkey = s.s_suppkey
        ORDER BY w.numwait DESC, s.s_name ASC
        LIMIT 20
    """,
    # q162: U and the rank sum are exact half-integer doubles in any
    # summation order; only the final z division is float (round-6).
    "q162_mannwhitney_drift": """
        WITH pts AS (
            SELECT value,
                   sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
            FROM events
            WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
            GROUP BY value
        ), c AS (
            SELECT *, a + b AS t,
                   sum(a + b) OVER (ORDER BY value ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_t
            FROM pts
        ), s AS (
            SELECT CAST(sum(a) AS DOUBLE) AS na,
                   CAST(sum(b) AS DOUBLE) AS nb,
                   sum(a * ((cum_t - t) + (t + 1) / 2.0)) AS r_a,
                   sum(CAST(t AS DOUBLE) * t * t - t) AS tie_sum
            FROM c
        )
        SELECT CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b,
               round(r_a - na * (na + 1) / 2.0, 4) AS u_stat,
               round((r_a - na * (na + 1) / 2.0 - na * nb / 2.0)
                     / sqrt(na * nb / 12.0 * ((na + nb + 1) - tie_sum / ((na + nb) * (na + nb - 1.0)))), 6) AS z
        FROM s
    """,
    # q163: gram STRINGS here vs xxhash64 keys in the engine —
    # equality up to a ~1e-13 collision (the q83/q90 argument).
    "q163_contamination_report": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
            FROM documents
        ), g AS (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(ts, i, i + 7), ' ') AS gram
            FROM t, unnest(generate_series(1, len(ts) - 7)) AS u(i)
            WHERE len(ts) >= 8
        ), bench AS (
            SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
        ), dg AS (
            SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0
        )
        SELECT dg.doc_id,
               count(*) AS n_grams,
               CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               round(CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS contam_frac
        FROM dg LEFT JOIN bench b ON dg.gram = b.gram
        GROUP BY dg.doc_id
    """,
    # q164-q168 share the derived partsupp (no partsupp in the
    # testdata): supplycost = min observed unit price, availqty =
    # total shipped quantity, per (part, supplier). Unit price is an
    # IEEE double division both engines compute identically; min
    # SELECTS a value (never combines), so costs are bit-exact
    # cross-engine and the Q2 equality join back is safe.
    "q164_min_cost_supplier": """
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS supplycost
            FROM lineitem GROUP BY 1, 2
        ), eur AS (
            SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        ), offers AS (
            SELECT p.p_partkey, ps.supplycost, e.s_name, e.s_acctbal, e.n_name
            FROM ps
            JOIN eur e ON ps.l_suppkey = e.s_suppkey
            JOIN part p ON ps.l_partkey = p.p_partkey
                       AND p.p_type = 'SMALL' AND p.p_size <= 15
        ), mn AS (
            SELECT p_partkey, min(supplycost) AS min_cost FROM offers GROUP BY 1
        )
        SELECT o.s_acctbal, o.s_name, o.n_name, o.p_partkey,
               round(o.supplycost, 4) AS supplycost
        FROM offers o JOIN mn ON o.p_partkey = mn.p_partkey
        WHERE o.supplycost = mn.min_cost
        ORDER BY o.s_acctbal DESC, o.n_name, o.s_name, o.p_partkey
        LIMIT 100
    """,
    # q165: money stays in integer cents end-to-end (floor on an
    # identically-computed double is engine-deterministic, unlike
    # decimal rounding), so the sum and the 10000*value > total
    # threshold are exact integer arithmetic in both engines.
    "q165_important_stock": """
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   min(CAST(floor(100 * l_extendedprice / l_quantity + 0.5) AS BIGINT))
                       AS supplycost_c,
                   CAST(sum(l_quantity) AS BIGINT) AS availqty
            FROM lineitem GROUP BY 1, 2
        ), eur AS (
            SELECT s.s_suppkey FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        ), vals AS (
            SELECT ps.l_partkey AS p_partkey,
                   CAST(sum(ps.supplycost_c * ps.availqty) AS BIGINT) AS value_c
            FROM ps JOIN eur ON ps.l_suppkey = eur.s_suppkey
            GROUP BY 1
        )
        SELECT p_partkey, value_c / 100.0 AS value FROM vals
        WHERE 10000 * value_c > (SELECT sum(value_c) FROM vals)
    """,
    "q166_shipmode_priority": """
        SELECT l.l_returnflag AS ship_mode,
               sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS high_line_count,
               sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS low_line_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        GROUP BY 1
    """,
    "q167_supplier_part_counts": """
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ), ok AS (
            SELECT pairs.l_partkey, pairs.l_suppkey FROM pairs
            WHERE pairs.l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        )
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT ok.l_suppkey) AS supplier_cnt
        FROM ok
        JOIN part p ON ok.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'ECONOMY'
          AND p.p_size IN (1, 5, 11, 15, 21, 28, 37, 44)
        GROUP BY 1, 2, 3
    """,
    # q168: quantities are integral, so sums and the 0.5x threshold
    # compare are exact in doubles.
    "q168_potential_promotion": """
        WITH flows AS (
            SELECT l.l_partkey, l.l_suppkey,
                   sum(CASE WHEN year(l.l_shipdate) = 1996
                            THEN l.l_quantity ELSE 0.0 END) AS stocked,
                   sum(CASE WHEN year(l.l_shipdate) = 1997
                            THEN l.l_quantity ELSE 0.0 END) AS demand
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
                       AND p.p_name LIKE '%widget%'
            WHERE year(l.l_shipdate) IN (1996, 1997)
            GROUP BY 1, 2
        ), qual AS (
            SELECT DISTINCT l_suppkey FROM flows
            WHERE demand > 0 AND stocked > 0.5 * demand
        )
        SELECT s.s_suppkey, s.s_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        WHERE s.s_suppkey IN (SELECT l_suppkey FROM qual)
    """,
    # q169: the gate compares UNROUNDED doubles (single divisions of
    # integers — identical cross-engine); display rounds once at 6.
    "q169_gopher_gate": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '') AS ts,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               x -> x <> '') AS tsl,
                   len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_sym
            FROM documents
        ), s AS (
            SELECT doc_id,
                   len(ts) AS n_words,
                   len(array_to_string(ts, '')) AS wc,
                   len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
                   n_sym,
                   (CASE WHEN list_contains(tsl, 'the') THEN 1 ELSE 0 END
                    + CASE WHEN list_contains(tsl, 'be') THEN 1 ELSE 0 END
                    + CASE WHEN list_contains(tsl, 'to') THEN 1 ELSE 0 END
                    + CASE WHEN list_contains(tsl, 'of') THEN 1 ELSE 0 END
                    + CASE WHEN list_contains(tsl, 'and') THEN 1 ELSE 0 END
                    + CASE WHEN list_contains(tsl, 'that') THEN 1 ELSE 0 END
                    + CASE WHEN list_contains(tsl, 'have') THEN 1 ELSE 0 END
                    + CASE WHEN list_contains(tsl, 'with') THEN 1 ELSE 0 END
                   ) AS stop_hits
            FROM t
        ), m AS (
            SELECT doc_id, n_words, stop_hits,
                   CASE WHEN n_words > 0 THEN CAST(wc AS DOUBLE) / n_words
                        ELSE 0.0 END AS mwl,
                   CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE) / n_words
                        ELSE 0.0 END AS awf,
                   CASE WHEN n_words > 0 THEN CAST(n_sym AS DOUBLE) / n_words
                        ELSE 0.0 END AS sr
            FROM s
        )
        SELECT doc_id, n_words,
               round(mwl, 6) AS mean_word_len,
               round(awf, 6) AS alpha_word_frac,
               round(sr, 6) AS symbol_ratio,
               stop_hits,
               (n_words >= 50 AND n_words <= 100000
                AND mwl >= 3.0 AND mwl <= 10.0
                AND sr <= 0.1 AND awf >= 0.8
                AND stop_hits >= 1) AS passes
        FROM m
    """,
    # q170: the triangle count is orientation-independent — the engine
    # runs degree-oriented (skew-safe), the oracle id-ordered; wedges
    # come from degrees (orientation-free), so every output integer is
    # exact and only the final transitivity division is float.
    "q170_copurchase_triangles": """
        WITH pl AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
        ), deg AS (
            SELECT node, count(*) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
            GROUP BY 1
        ), tri AS (
            SELECT count(*) AS n_triangles
            FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT (SELECT count(*) FROM deg) AS n_nodes,
               (SELECT count(*) FROM e) AS n_edges,
               (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
               tri.n_triangles,
               round(3.0 * tri.n_triangles
                     / (SELECT sum(d * (d - 1) // 2) FROM deg), 6) AS transitivity
        FROM tri
    """,
    # q171: the five correlation moments are exact integer sums (any
    # order); the Pearson formula is one float expression over
    # identical integers — engine corr() is deliberately avoided.
    "q171_degree_assortativity": """
        WITH pl AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
        ), deg AS (
            SELECT node, count(*) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
            GROUP BY 1
        ), sym AS (
            SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
        ), j AS (
            SELECT d1.d AS dx, d2.d AS dy
            FROM sym JOIN deg d1 ON sym.u = d1.node
                     JOIN deg d2 ON sym.v = d2.node
        ), s AS (
            SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
                   sum(dx * dy) AS sxy, sum(dx * dx) AS sxx,
                   sum(dy * dy) AS syy
            FROM j
        )
        SELECT CAST(n // 2 AS BIGINT) AS n_edges,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                   AS assortativity
        FROM s
    """,
    # q172: integer wedge counts; (cnt DESC, u, v) is a total order so
    # the top-50 cut is deterministic in both engines.
    "q172_common_neighbor_links": """
        WITH pl AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
        ), bp AS (
            SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'
        ), e AS (
            SELECT u, v FROM e0
            WHERE u IN (SELECT p_partkey FROM bp)
              AND v IN (SELECT p_partkey FROM bp)
        ), sym AS (
            SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
        ), w AS (
            SELECT s1.v AS u, s2.v AS v, count(*) AS common_neighbors
            FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v < s2.v
            GROUP BY 1, 2
        )
        SELECT w.u, w.v, w.common_neighbors
        FROM w
        WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = w.u AND e.v = w.v)
        ORDER BY common_neighbors DESC, u, v
        LIMIT 50
    """,
    # q173: both legs rank on PRE-ROUNDED scores with rank() (ties
    # share a rank engine-independently); each shortlist cut keeps a
    # prefix of the same (score DESC, id ASC) total order the rank
    # window uses, so shortlist ranks == corpus ranks; the 2-term
    # reciprocal sum is order-insensitive and rounds to 6.
    "q173_hybrid_rrf": """
        WITH lens AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
            FROM documents
        ), scalars AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(CAST(len(ts) AS DOUBLE)) AS avgdl FROM lens
        ), toks AS (
            SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM lens
        ), tf AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM toks
            WHERE term IN ('merge', 'spark', 'window')
            GROUP BY doc_id, dl, term
        ), dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), bm AS (
            SELECT tf.doc_id,
                   round(sum(
                       ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                   ), 6) AS s
            FROM tf JOIN dfreq USING (term) CROSS JOIN scalars
            GROUP BY tf.doc_id
        ), bm_short AS (
            SELECT doc_id, s FROM bm ORDER BY s DESC, doc_id ASC LIMIT 100
        ), bm_rank AS (
            SELECT doc_id, rank() OVER (ORDER BY s DESC) AS r FROM bm_short
        ), dn AS (
            SELECT vec_id AS doc_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS s
            FROM embeddings
        ), dn_short AS (
            SELECT doc_id, s FROM dn ORDER BY s DESC, doc_id ASC LIMIT 100
        ), dn_rank AS (
            SELECT doc_id, rank() OVER (ORDER BY s DESC) AS r FROM dn_short
        ), legs AS (
            SELECT doc_id, r, 'bm25' AS leg FROM bm_rank
            UNION ALL
            SELECT doc_id, r, 'cosine' AS leg FROM dn_rank
        )
        SELECT doc_id,
               round(sum(1.0 / (60.0 + r)), 6) AS rrf,
               max(CASE WHEN leg = 'bm25' THEN r END) AS rank_bm25,
               max(CASE WHEN leg = 'cosine' THEN r END) AS rank_cosine
        FROM legs
        GROUP BY doc_id
        ORDER BY rrf DESC, doc_id ASC
        LIMIT 50
    """,
    "q174_kcore_parts": _kcore_oracle_sql(3, 6),
    # q175: every KN statistic (bigram count, context total/fan-out,
    # continuation fan-in, distinct-bigram total) is an exact integer;
    # one float expression per transition row, per-doc mean rounds to 4.
    "q175_kneser_ney_surprisal": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
            FROM documents
        ), base AS (
            SELECT doc_id, ts, len(ts) - 1 AS n_transitions FROM t WHERE len(ts) >= 2
        ), tr0 AS (
            SELECT doc_id,
                   unnest(list_slice(ts, 1, len(ts) - 1)) AS prev,
                   unnest(list_slice(ts, 2, len(ts))) AS cur
            FROM base
        ), tr AS (
            SELECT doc_id, prev, cur, count(*) AS tf_b FROM tr0 GROUP BY 1, 2, 3
        ), bi AS (
            SELECT prev, cur, sum(tf_b) AS cb FROM tr GROUP BY 1, 2
        ), ctx AS (
            SELECT prev, sum(cb) AS c_ctx, count(*) AS n_follow FROM bi GROUP BY 1
        ), cont AS (
            SELECT cur, count(*) AS n_prec FROM bi GROUP BY 1
        ), btot AS (
            SELECT CAST(count(*) AS DOUBLE) AS b_total FROM bi
        ), nats AS (
            SELECT tr.doc_id,
                   -tr.tf_b * ln(
                       greatest(bi.cb - 0.75, 0.0) / ctx.c_ctx
                       + (0.75 * ctx.n_follow / ctx.c_ctx) * (cont.n_prec / btot.b_total)
                   ) AS nats
            FROM tr
            JOIN bi ON tr.prev = bi.prev AND tr.cur = bi.cur
            JOIN ctx ON tr.prev = ctx.prev
            JOIN cont ON tr.cur = cont.cur
            CROSS JOIN btot
        )
        SELECT n.doc_id,
               round(sum(n.nats) / b.n_transitions, 4) AS kn_surprisal_nats,
               CAST(b.n_transitions AS BIGINT) AS n_transitions
        FROM nats n JOIN base b USING (doc_id)
        GROUP BY n.doc_id, b.n_transitions
    """,
    "q176_mmr_rerank": _mmr_oracle_sql(0.7, 30, 10),
    # q177: rank is row_number over (round-6 sim DESC, match_id) — a
    # total order, so the salted two-phase top-k equals this window.
    "q177_hard_negatives": """
        WITH a AS MATERIALIZED (
            SELECT vec_id AS anchor_id, label AS anchor_label,
                   CAST(embedding AS DOUBLE[]) AS av
            FROM embeddings WHERE vec_id IN (1, 2, 3, 4, 5)
        ), scored AS (
            SELECT a.anchor_id, e.vec_id AS match_id, e.label AS match_label,
                   round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), a.av), 6) AS sim
            FROM embeddings e JOIN a ON e.label <> a.anchor_label
        )
        SELECT anchor_id, match_id, match_label, sim, rank FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY anchor_id ORDER BY sim DESC, match_id ASC) AS INT) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    # q178: every iterate is an integer sum (h0 = 1, no per-round
    # normalization) — order-independent, so no float contract is
    # needed until the single display division by the side max.
    "q178_hits_copurchase": """
        WITH e AS MATERIALIZED (
            SELECT DISTINCT o_custkey AS s, l_partkey AS t
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), h0 AS (
            SELECT DISTINCT s, CAST(1 AS BIGINT) AS h FROM e
        ), a1 AS MATERIALIZED (
            SELECT t, sum(h) AS a FROM e JOIN h0 USING (s) GROUP BY t
        ), h1 AS MATERIALIZED (
            SELECT s, sum(a) AS h FROM e JOIN a1 USING (t) GROUP BY s
        ), a2 AS MATERIALIZED (
            SELECT t, sum(h) AS a FROM e JOIN h1 USING (s) GROUP BY t
        ), h2 AS MATERIALIZED (
            SELECT s, sum(a) AS h FROM e JOIN a2 USING (t) GROUP BY s
        ), a3 AS MATERIALIZED (
            SELECT t, sum(h) AS a FROM e JOIN h2 USING (s) GROUP BY t
        ), h3 AS MATERIALIZED (
            SELECT s, sum(a) AS h FROM e JOIN a3 USING (t) GROUP BY s
        ), hub AS (
            SELECT 'hub' AS kind, s AS node, h AS score,
                   round(CAST(h AS DOUBLE) / (SELECT max(h) FROM h3), 6) AS score_norm,
                   CAST(row_number() OVER (ORDER BY h DESC, s ASC) AS INT) AS rank
            FROM h3 ORDER BY h DESC, s ASC LIMIT 20
        ), auth AS (
            SELECT 'authority' AS kind, t AS node, a AS score,
                   round(CAST(a AS DOUBLE) / (SELECT max(a) FROM a3), 6) AS score_norm,
                   CAST(row_number() OVER (ORDER BY a DESC, t ASC) AS INT) AS rank
            FROM a3 ORDER BY a DESC, t ASC LIMIT 20
        )
        SELECT * FROM hub UNION ALL SELECT * FROM auth
    """,
    # q179: legs replicate q173's scoring; every metric but MRR is an
    # integer count until one final division; MRR rounds to 6.
    "q179_ranking_agreement": """
        WITH lens AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
            FROM documents
        ), scalars AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(CAST(len(ts) AS DOUBLE)) AS avgdl FROM lens
        ), toks AS (
            SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM lens
        ), tf AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM toks
            WHERE term IN ('merge', 'spark', 'window')
            GROUP BY doc_id, dl, term
        ), dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), bm AS (
            SELECT tf.doc_id,
                   round(sum(
                       ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * (1.2 + 1.0))
                       / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                   ), 6) AS s
            FROM tf JOIN dfreq USING (term) CROSS JOIN scalars
            GROUP BY tf.doc_id
        ), bm_short AS MATERIALIZED (
            SELECT doc_id, s FROM bm ORDER BY s DESC, doc_id ASC LIMIT 20
        ), bm_rank AS MATERIALIZED (
            SELECT doc_id, rank() OVER (ORDER BY s DESC) AS ra FROM bm_short
        ), dn AS (
            SELECT vec_id AS doc_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 4) AS s
            FROM embeddings
        ), dn_short AS MATERIALIZED (
            SELECT doc_id, s FROM dn ORDER BY s DESC, doc_id ASC LIMIT 20
        ), dn_rank AS MATERIALIZED (
            SELECT doc_id, rank() OVER (ORDER BY s DESC) AS rb FROM dn_short
        ), inter AS MATERIALIZED (
            SELECT bm_rank.doc_id, ra, rb FROM bm_rank JOIN dn_rank USING (doc_id)
        ), prs AS (
            SELECT i1.ra AS ra1, i1.rb AS rb1, i2.ra AS ra2, i2.rb AS rb2
            FROM inter i1 JOIN inter i2 ON i1.doc_id < i2.doc_id
        ), kend AS (
            SELECT sum(CASE WHEN (ra1 - ra2) * (rb1 - rb2) > 0 THEN 1 ELSE 0 END) AS concordant,
                   sum(CASE WHEN (ra1 - ra2) * (rb1 - rb2) < 0 THEN 1 ELSE 0 END) AS discordant,
                   count(*) AS n_pairs
            FROM prs
        ), mrr AS (
            SELECT sum(coalesce(1.0 / rb, 0.0)) AS mrr_sum
            FROM bm_rank LEFT JOIN dn_rank USING (doc_id)
        ), counts AS (
            SELECT count(*) AS overlap FROM inter
        ), na AS (SELECT count(*) AS n_a FROM bm_rank
        ), nb AS (SELECT count(*) AS n_b FROM dn_rank)
        SELECT overlap,
               round(overlap / (n_a + n_b - overlap), 6) AS jaccard,
               round(mrr_sum / n_a, 6) AS mrr_a_in_b,
               CASE WHEN n_pairs > 0
                    THEN round((concordant - discordant) / n_pairs, 6) END AS kendall_tau,
               concordant, discordant, n_pairs
        FROM counts, na, nb, mrr, kend
    """,
    # q180: marginals computed over ALL bigrams, the min_count filter
    # applies only to the scored rows; G2 terms added left-to-right in
    # the identical order as the engine expression.
    "q180_llr_collocations": """
        WITH t AS (
            SELECT list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
            FROM documents
        ), bg AS (
            SELECT unnest(list_slice(ts, 1, len(ts) - 1)) AS a,
                   unnest(list_slice(ts, 2, len(ts))) AS b
            FROM t
        ), bigrams AS MATERIALIZED (
            SELECT a, b, count(*) AS k11x FROM bg GROUP BY 1, 2
        ), l AS (
            SELECT a, sum(k11x) AS ca FROM bigrams GROUP BY a
        ), r AS (
            SELECT b, sum(k11x) AS cb FROM bigrams GROUP BY b
        ), tot AS (
            SELECT CAST(sum(k11x) AS DOUBLE) AS n FROM bigrams
        )
        SELECT a, b, k11x AS pair_count,
               round(2.0 * (
                   (CASE WHEN k11x > 0 THEN k11x * ln(k11x * n / (ca * cb)) ELSE 0.0 END)
                 + (CASE WHEN ca - k11x > 0 THEN (ca - k11x) * ln((ca - k11x) * n / (ca * (n - cb))) ELSE 0.0 END)
                 + (CASE WHEN cb - k11x > 0 THEN (cb - k11x) * ln((cb - k11x) * n / ((n - ca) * cb)) ELSE 0.0 END)
                 + (CASE WHEN n - ca - cb + k11x > 0 THEN (n - ca - cb + k11x) * ln((n - ca - cb + k11x) * n / ((n - ca) * (n - cb))) ELSE 0.0 END)
               ), 6) AS g2
        FROM bigrams JOIN l USING (a) JOIN r USING (b) CROSS JOIN tot
        WHERE k11x >= 5
        ORDER BY g2 DESC, a ASC, b ASC
        LIMIT 20
    """,
    "q181_novelty_profile": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS ts
            FROM documents
        ), dg AS MATERIALIZED (
            SELECT DISTINCT doc_id,
                   array_to_string(list_slice(ts, i, i + 7), ' ') AS gram
            FROM t, unnest(generate_series(1, len(ts) - 7)) AS u(i)
            WHERE len(ts) >= 8
        ), fs AS (
            SELECT gram, min(doc_id) AS first_doc FROM dg GROUP BY gram
        )
        SELECT dg.doc_id,
               count(*) AS n_grams,
               CAST(sum(CASE WHEN fs.first_doc = dg.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               round(CAST(sum(CASE WHEN fs.first_doc = dg.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS novelty_frac
        FROM dg JOIN fs USING (gram)
        GROUP BY dg.doc_id
    """,
    # q182: the full z-layout replays — integer min/max normalize,
    # 32-term Morton interleave, exact global order with a unique
    # tiebreak, balanced integer bucket cuts
    "q182_zorder_skipping": """
        WITH mm AS (
            SELECT min(l_partkey) AS mn0, max(l_partkey) AS mx0,
                   min(l_suppkey) AS mn1, max(l_suppkey) AS mx1
            FROM lineitem
        ), s AS (
            SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                   coalesce(CASE WHEN mx0 <= mn0 THEN 0 WHEN (mx0 - mn0) <= 140737488355327 THEN ((l_partkey - mn0) * 65535) // (mx0 - mn0) ELSE (l_partkey - mn0) // (((mx0 - mn0) // 65536) + 1) END, 0) AS z0,
                   coalesce(CASE WHEN mx1 <= mn1 THEN 0 WHEN (mx1 - mn1) <= 140737488355327 THEN ((l_suppkey - mn1) * 65535) // (mx1 - mn1) ELSE (l_suppkey - mn1) // (((mx1 - mn1) // 65536) + 1) END, 0) AS z1
            FROM lineitem CROSS JOIN mm
        ), z AS (
            SELECT l_partkey, l_suppkey,
                   (((z0 >> 0) & 1) << 0) + (((z1 >> 0) & 1) << 1) + (((z0 >> 1) & 1) << 2) + (((z1 >> 1) & 1) << 3) + (((z0 >> 2) & 1) << 4) + (((z1 >> 2) & 1) << 5) + (((z0 >> 3) & 1) << 6) + (((z1 >> 3) & 1) << 7) + (((z0 >> 4) & 1) << 8) + (((z1 >> 4) & 1) << 9) + (((z0 >> 5) & 1) << 10) + (((z1 >> 5) & 1) << 11) + (((z0 >> 6) & 1) << 12) + (((z1 >> 6) & 1) << 13) + (((z0 >> 7) & 1) << 14) + (((z1 >> 7) & 1) << 15) + (((z0 >> 8) & 1) << 16) + (((z1 >> 8) & 1) << 17) + (((z0 >> 9) & 1) << 18) + (((z1 >> 9) & 1) << 19) + (((z0 >> 10) & 1) << 20) + (((z1 >> 10) & 1) << 21) + (((z0 >> 11) & 1) << 22) + (((z1 >> 11) & 1) << 23) + (((z0 >> 12) & 1) << 24) + (((z1 >> 12) & 1) << 25) + (((z0 >> 13) & 1) << 26) + (((z1 >> 13) & 1) << 27) + (((z0 >> 14) & 1) << 28) + (((z1 >> 14) & 1) << 29) + (((z0 >> 15) & 1) << 30) + (((z1 >> 15) & 1) << 31) AS zval,
                   l_orderkey, l_linenumber
            FROM s
        ), r AS (
            SELECT l_partkey, l_suppkey, zval,
                   row_number() OVER (
                       ORDER BY zval, l_partkey, l_suppkey, l_orderkey, l_linenumber
                   ) AS rn,
                   count(*) OVER () AS n
            FROM z
        )
        SELECT ((rn - 1) * 32) // n AS bucket,
               count(*) AS n_rows,
               min(l_partkey) AS min_l_partkey, max(l_partkey) AS max_l_partkey,
               min(l_suppkey) AS min_l_suppkey, max(l_suppkey) AS max_l_suppkey
        FROM r
        GROUP BY 1
    """,
    "q183_table_profile": """
        WITH n AS (SELECT count(*) AS n_rows FROM documents)
        SELECT * FROM (
            SELECT 'doc_id' AS "column", n_rows,
                   n_rows - count(doc_id) AS n_nulls,
                   count(DISTINCT doc_id) AS n_distinct,
                   CAST(min(doc_id) AS VARCHAR) AS min_value,
                   CAST(max(doc_id) AS VARCHAR) AS max_value
            FROM documents CROSS JOIN n GROUP BY n_rows
            UNION ALL
            SELECT 'lang', n_rows, n_rows - count(lang), count(DISTINCT lang),
                   CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
            FROM documents CROSS JOIN n GROUP BY n_rows
            UNION ALL
            SELECT 'source', n_rows, n_rows - count(source), count(DISTINCT source),
                   CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
            FROM documents CROSS JOIN n GROUP BY n_rows
            UNION ALL
            SELECT 'n_chars', n_rows, n_rows - count(n_chars), count(DISTINCT n_chars),
                   CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
            FROM documents CROSS JOIN n GROUP BY n_rows
        )
    """,
    "q184_join_skew_report": """
        WITH lc AS (
            SELECT CAST(l_orderkey AS VARCHAR) AS key, count(*) AS n_left
            FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1
        ), rc AS (
            SELECT CAST(o_orderkey AS VARCHAR) AS key, count(*) AS n_right
            FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1
        ), j AS (
            SELECT key, n_left, n_right,
                   CAST(n_left AS HUGEINT) * n_right AS pairs
            FROM lc JOIN rc USING (key)
        ), t AS (SELECT sum(pairs) AS tot FROM j)
        SELECT key, n_left, n_right, pairs,
               round(CAST(pairs AS DOUBLE) / CAST(tot AS DOUBLE), 4) AS pct_of_output
        FROM j CROSS JOIN t
        ORDER BY pairs DESC, key ASC
        LIMIT 20
    """,
    # q185: the skew-safe join must equal the PLAIN inner join — the
    # oracle is the unsplit query; branch bookkeeping is engine-side
    "q185_skew_safe_join": """
        WITH l AS (
            SELECT CASE WHEN l_partkey % 5 = 0 THEN l_partkey ELSE 0 END AS k,
                   l_quantity
            FROM lineitem
        ), p AS (
            SELECT CASE WHEN p_partkey % 5 = 0 THEN p_partkey ELSE 0 END AS k,
                   count(*) AS n_parts
            FROM part GROUP BY 1
        )
        SELECT l.k AS k, n_parts,
               count(*) AS n_li,
               round(sum(l_quantity), 2) AS sum_qty
        FROM l JOIN p USING (k)
        GROUP BY 1, 2
    """,
    # q186: q182's replay plus the fixed-point prepare stage
    "q186_zorder_prepared_float": """
        WITH prep AS (
            SELECT o_orderkey, o_custkey,
                   CAST(floor(o_totalprice / 0.01) AS BIGINT) AS zb
            FROM orders
        ), mm AS (
            SELECT min(zb) AS mn0, max(zb) AS mx0,
                   min(o_custkey) AS mn1, max(o_custkey) AS mx1
            FROM prep
        ), s AS (
            SELECT o_orderkey, o_custkey, zb,
                   coalesce(CASE WHEN mx0 <= mn0 THEN 0 WHEN (mx0 - mn0) <= 140737488355327 THEN ((zb - mn0) * 65535) // (mx0 - mn0) ELSE (zb - mn0) // (((mx0 - mn0) // 65536) + 1) END, 0) AS z0,
                   coalesce(CASE WHEN mx1 <= mn1 THEN 0 WHEN (mx1 - mn1) <= 140737488355327 THEN ((o_custkey - mn1) * 65535) // (mx1 - mn1) ELSE (o_custkey - mn1) // (((mx1 - mn1) // 65536) + 1) END, 0) AS z1
            FROM prep CROSS JOIN mm
        ), z AS (
            SELECT zb, o_custkey,
                   (((z0 >> 0) & 1) << 0) + (((z1 >> 0) & 1) << 1) + (((z0 >> 1) & 1) << 2) + (((z1 >> 1) & 1) << 3) + (((z0 >> 2) & 1) << 4) + (((z1 >> 2) & 1) << 5) + (((z0 >> 3) & 1) << 6) + (((z1 >> 3) & 1) << 7) + (((z0 >> 4) & 1) << 8) + (((z1 >> 4) & 1) << 9) + (((z0 >> 5) & 1) << 10) + (((z1 >> 5) & 1) << 11) + (((z0 >> 6) & 1) << 12) + (((z1 >> 6) & 1) << 13) + (((z0 >> 7) & 1) << 14) + (((z1 >> 7) & 1) << 15) + (((z0 >> 8) & 1) << 16) + (((z1 >> 8) & 1) << 17) + (((z0 >> 9) & 1) << 18) + (((z1 >> 9) & 1) << 19) + (((z0 >> 10) & 1) << 20) + (((z1 >> 10) & 1) << 21) + (((z0 >> 11) & 1) << 22) + (((z1 >> 11) & 1) << 23) + (((z0 >> 12) & 1) << 24) + (((z1 >> 12) & 1) << 25) + (((z0 >> 13) & 1) << 26) + (((z1 >> 13) & 1) << 27) + (((z0 >> 14) & 1) << 28) + (((z1 >> 14) & 1) << 29) + (((z0 >> 15) & 1) << 30) + (((z1 >> 15) & 1) << 31) AS zval,
                   o_orderkey
            FROM s
        ), r AS (
            SELECT zb, o_custkey, zval,
                   row_number() OVER (
                       ORDER BY zval, zb, o_custkey, o_orderkey
                   ) AS rn,
                   count(*) OVER () AS n
            FROM z
        )
        SELECT ((rn - 1) * 16) // n AS bucket,
               count(*) AS n_rows,
               min(zb) AS min_o_totalprice_zb, max(zb) AS max_o_totalprice_zb,
               min(o_custkey) AS min_o_custkey, max(o_custkey) AS max_o_custkey
        FROM r
        GROUP BY 1
    """,
    # q187: per-vector int8 quantize + reconstruction-error replay
    "q187_int8_quantization_report": """
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), s AS (
            SELECT vec_id, v,
                   CASE WHEN v IS NOT NULL AND len(v) > 0
                             AND len(list_filter(v, x -> x IS NULL
                                     OR isnan(x) OR isinf(x))) = 0
                        THEN list_max(list_transform(v, x -> abs(x))) / 127.0
                   END AS scale
            FROM v
        ), e AS (
            SELECT vec_id, scale,
                   CASE WHEN scale IS NULL THEN NULL
                        WHEN scale = 0
                        THEN list_transform(v, x -> abs(x))
                        ELSE list_transform(v, x -> abs(x -
                             greatest(-127.0, least(127.0, round(x / scale))) * scale))
                   END AS err
            FROM s
        )
        SELECT vec_id,
               round(scale, 8) AS scale,
               round(list_max(err), 8) AS max_abs_err,
               round(list_aggregate(list_transform(err, x -> x * x), 'sum')
                     / len(err), 12) AS mse
        FROM e
    """,
    # q188: quantize + dequantize + the q18 cosine top-k contract
    "q188_int8_topk_rescoring": """
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), s AS (
            SELECT vec_id, v,
                   CASE WHEN v IS NOT NULL AND len(v) > 0
                             AND len(list_filter(v, x -> x IS NULL
                                     OR isnan(x) OR isinf(x))) = 0
                        THEN list_max(list_transform(v, x -> abs(x))) / 127.0
                   END AS scale
            FROM v
        ), d AS (
            SELECT vec_id,
                   CASE WHEN scale IS NULL THEN NULL
                        WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                        ELSE list_transform(v, x ->
                             greatest(-127.0, least(127.0, round(x / scale))) * scale)
                   END AS dv
            FROM s
        )
        SELECT vec_id,
               round(list_cosine_similarity(dv,
                     (SELECT dv FROM d WHERE vec_id = 0)), 4) AS sim
        FROM d WHERE vec_id <> 0
        ORDER BY sim DESC, vec_id ASC LIMIT 20
    """,
    # q189: persisted int8 store probe — quantize once, shortlist on raw
    # codes (cosine is scale-invariant), dequantize ONLY the shortlist
    "q189_int8_store_probe": """
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), qf AS (
            SELECT v AS q FROM v WHERE vec_id = 0
        ), s AS (
            SELECT vec_id, v,
                   CASE WHEN v IS NOT NULL AND len(v) > 0
                             AND len(list_filter(v, x -> x IS NULL
                                     OR isnan(x) OR isinf(x))) = 0
                        THEN list_max(list_transform(v, x -> abs(x))) / 127.0
                   END AS scale
            FROM v WHERE vec_id <> 0
        ), c AS (
            SELECT vec_id, scale,
                   list_transform(v, x ->
                        greatest(-127.0, least(127.0, round(x / scale)))) AS codes
            FROM s WHERE scale IS NOT NULL AND scale > 0
        ), short AS (
            SELECT vec_id, scale, codes,
                   round(list_cosine_similarity(codes, (SELECT q FROM qf)), 4)
                       AS sim_code
            FROM c
            ORDER BY sim_code DESC, vec_id ASC LIMIT 100
        )
        SELECT vec_id,
               round(list_cosine_similarity(
                     list_transform(codes, x -> x * scale),
                     (SELECT q FROM qf)), 4) AS sim
        FROM short
        ORDER BY sim DESC, vec_id ASC LIMIT 20
    """,
    # q190: skew-safe semi/anti — IN / NOT IN over the every-10th dim
    "q190_skew_safe_semi_anti": """
        WITH li AS (
            SELECT CASE WHEN l_partkey % 5 = 0 THEN l_partkey ELSE 0 END AS k,
                   l_quantity
            FROM lineitem
        ), dim AS (
            SELECT p_partkey AS pk FROM part WHERE p_partkey % 10 = 0
        )
        SELECT 'semi' AS mode, k, count(*) AS n_li,
               round(sum(l_quantity), 2) AS sum_qty
        FROM li WHERE k IN (SELECT pk FROM dim) GROUP BY k
        UNION ALL
        SELECT 'anti' AS mode, k, count(*) AS n_li,
               round(sum(l_quantity), 2) AS sum_qty
        FROM li WHERE k NOT IN (SELECT pk FROM dim) GROUP BY k
    """,
    # q191: DOULION sampled triangle census — md5-thinned edges (p=0.5,
    # the q67 hash-fraction recipe), census on the sample, counts scaled
    # back 1/p, 1/p^2, 1/p^3 in the same op order as the engine
    "q191_triangle_census_sampled": """
        WITH pl AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), eall AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
        ), e AS (
            SELECT u, v FROM eall
            WHERE CAST(('0x' || substr(md5(CAST(u AS VARCHAR) || '|' ||
                        CAST(v AS VARCHAR) || '#42'), 1, 8)) AS BIGINT)
                  / 4294967296.0 < 0.5
        ), deg AS (
            SELECT node, count(*) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
            GROUP BY 1
        ), wed AS (
            SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS w FROM deg
        ), tri AS (
            SELECT count(*) AS t
            FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        )
        SELECT (SELECT count(*) FROM deg) AS n_nodes,
               CAST(round((SELECT count(*) FROM e) / 0.5) AS BIGINT) AS n_edges,
               CAST(round(wed.w / (0.5 * 0.5)) AS BIGINT) AS n_wedges,
               CAST(round(tri.t / (0.5 * 0.5 * 0.5)) AS BIGINT) AS n_triangles,
               round(3.0 * tri.t / wed.w / 0.5, 6) AS transitivity
        FROM wed, tri
    """,
    # q192: sampled assortativity — same thinning; integer moments on
    # the sampled graph, one float Pearson expression, n_edges 1/p-scaled
    "q192_assortativity_sampled": """
        WITH pl AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), eall AS (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b ON a.l_orderkey = b.l_orderkey
                               AND a.l_partkey < b.l_partkey
        ), e AS (
            SELECT u, v FROM eall
            WHERE CAST(('0x' || substr(md5(CAST(u AS VARCHAR) || '|' ||
                        CAST(v AS VARCHAR) || '#42'), 1, 8)) AS BIGINT)
                  / 4294967296.0 < 0.5
        ), deg AS (
            SELECT node, count(*) AS d
            FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
            GROUP BY 1
        ), sym AS (
            SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
        ), j AS (
            SELECT d1.d AS dx, d2.d AS dy
            FROM sym JOIN deg d1 ON sym.u = d1.node
                     JOIN deg d2 ON sym.v = d2.node
        ), s AS (
            SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
                   sum(dx * dy) AS sxy, sum(dx * dx) AS sxx,
                   sum(dy * dy) AS syy
            FROM j
        )
        SELECT CAST(round(n / 2.0 / 0.5) AS BIGINT) AS n_edges,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE)), 6)
                   AS assortativity
        FROM s
    """,
    # q193: compressed-candidates / exact-rerank MIPS — code shortlist
    # (scale * codes-fold), then the EXACT FLOAT dot over the shortlist
    "q193_int8_mips_probe": """
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), qf AS (
            SELECT v AS q FROM v WHERE vec_id = 0
        ), s AS (
            SELECT vec_id, v,
                   CASE WHEN v IS NOT NULL AND len(v) > 0
                             AND len(list_filter(v, x -> x IS NULL
                                     OR isnan(x) OR isinf(x))) = 0
                        THEN list_max(list_transform(v, x -> abs(x))) / 127.0
                   END AS scale
            FROM v WHERE vec_id <> 0
        ), c AS (
            SELECT vec_id, scale,
                   CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                        ELSE list_transform(v, x ->
                             greatest(-127.0, least(127.0, round(x / scale))))
                   END AS codes
            FROM s WHERE scale IS NOT NULL
        ), short AS (
            SELECT vec_id,
                   round(scale * list_dot_product(codes, (SELECT q FROM qf)), 4)
                       AS score_code
            FROM c
            ORDER BY score_code DESC, vec_id ASC LIMIT 100
        )
        SELECT v.vec_id AS vec_id,
               round(list_dot_product(v.v, (SELECT q FROM qf)), 4) AS score
        FROM v JOIN short ON v.vec_id = short.vec_id
        ORDER BY score DESC, v.vec_id ASC LIMIT 20
    """,
    # q194: IVF x int8 full probe (nprobe == C) == flat code-cosine
    # ranking — the q57 pattern: bucketing cannot change a full probe
    "q194_quantized_ivf_fullprobe": """
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ), qf AS (
            SELECT v AS q FROM v WHERE vec_id = 0
        ), s AS (
            SELECT vec_id, v,
                   CASE WHEN v IS NOT NULL AND len(v) > 0
                             AND len(list_filter(v, x -> x IS NULL
                                     OR isnan(x) OR isinf(x))) = 0
                        THEN list_max(list_transform(v, x -> abs(x))) / 127.0
                   END AS scale
            FROM v WHERE vec_id <> 0
        ), c AS (
            SELECT vec_id,
                   list_transform(v, x ->
                        greatest(-127.0, least(127.0, round(x / scale)))) AS codes
            FROM s WHERE scale IS NOT NULL AND scale > 0
        )
        SELECT vec_id,
               round(list_cosine_similarity(codes, (SELECT q FROM qf)), 4) AS sim
        FROM c
        ORDER BY sim DESC, vec_id ASC LIMIT 15
    """,
    # q195: bucketed layout cannot change join/aggregate VALUES — the
    # oracle is the plain join; the no-shuffle property is plan-pinned
    # in tests/test_bucketed.py
    "q195_bucketed_join": """
        SELECT o.o_orderkey AS o_orderkey,
               o.o_orderpriority AS o_orderpriority,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC LIMIT 20
    """,
    # q196: hashed linear classifier inference — unigram+bigram
    # feature instances, md5-prefix buckets, mean weight -> sigmoid;
    # the weight model itself is rebuilt from the bucket id hash
    "q196_quality_classifier": """
        WITH w AS (
            SELECT b AS bucket,
                   (CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || '#w0'), 1, 8)) AS BIGINT)
                    % 2001 - 1000) / 1000.0 AS weight
            FROM (SELECT unnest(generate_series(0, 1023)) AS b)
        ), t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               x -> x <> '') AS ts
            FROM documents
        ), base AS (
            SELECT doc_id, ts FROM t WHERE len(ts) >= 1
        ), feats AS (
            SELECT doc_id, unnest(ts) AS feat FROM base
            UNION ALL
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(ts) - 1),
                          i -> ts[i] || ' ' || ts[i + 1])) AS feat
            FROM base
        ), bucketed AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(feat || '#ftx'), 1, 8)) AS BIGINT)
                   % 1024 AS bucket
            FROM feats
        ), scored AS (
            SELECT b.doc_id,
                   count(*) AS n_features,
                   sum(coalesce(w.weight, 0.0)) AS wsum
            FROM bucketed b LEFT JOIN w USING (bucket)
            GROUP BY b.doc_id
        )
        SELECT doc_id, n_features,
               round(1.0 / (1.0 + exp(-(0.1 + wsum / n_features))), 4) AS score,
               -- gate on the ROUNDED score (the engine contract): a raw
               -- sigmoid within float noise of the threshold flips the
               -- flag between engines (doc 354 at sf0.001)
               round(1.0 / (1.0 + exp(-(0.1 + wsum / n_features))), 4) >= 0.5 AS keep
        FROM scored
        ORDER BY doc_id
    """,
    # q197: K-fold out-of-fold target encoding — fold = floor(md5
    # uniform * k) (exact: h*5 < 2^35 is exactly representable, /2^32
    # is a power-of-two divide), smoothed toward the global prior
    "q197_target_encoding": """
        WITH rows_f AS (
            SELECT o_orderpriority AS category,
                   CAST(o_totalprice AS DOUBLE) AS y,
                   CAST(floor(
                       CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#42'), 1, 8)) AS BIGINT)
                       / 4294967296.0 * 5) AS INT) AS fold
            FROM orders
        ), parts AS (
            SELECT category, fold, count(*) AS n, sum(y) AS s
            FROM rows_f GROUP BY category, fold
        ), tot AS (
            SELECT sum(s) / sum(n) AS prior FROM parts
        )
        SELECT p.category AS category, p.fold AS fold,
               (sum(p2.n) - p.n) AS n_oof,
               round(((sum(p2.s) - p.s) + 20.0 * (SELECT prior FROM tot))
                     / ((sum(p2.n) - p.n) + 20.0), 4) AS te
        -- null-safe join: a NULL category is its own level (the
        -- engine's window path keeps it; USING-equality dropped it —
        -- fuzz-sweep find)
        FROM parts p JOIN parts p2 ON p.category IS NOT DISTINCT FROM p2.category
        GROUP BY p.category, p.fold, p.n, p.s
        ORDER BY category, fold
    """,
    # q198: WOE/IV per category, 0.5 Laplace cells
    "q198_woe_iv": """
        WITH counts AS (
            SELECT o_orderpriority AS category,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_good,
                   count(*) FILTER (WHERE o_orderstatus <> 'F') AS n_bad
            FROM orders GROUP BY 1
        ), tot AS (
            SELECT CAST(sum(n_good) AS DOUBLE) AS gt,
                   CAST(sum(n_bad) AS DOUBLE) AS bt
            FROM counts
        )
        SELECT category, n_good, n_bad,
               round(ln(((n_good + 0.5) / gt) / ((n_bad + 0.5) / bt)), 6) AS woe,
               round((n_good / gt - n_bad / bt)
                     * ln(((n_good + 0.5) / gt) / ((n_bad + 0.5) / bt)), 6) AS iv_term
        FROM counts CROSS JOIN tot
        ORDER BY category
    """,
    # q199: 3-hop multi-source BFS, unrolled bounded Bellman-Ford
    # rounds (min-dist within r hops == BFS layer r) — the q174
    # MATERIALIZED-CTE pattern
    "q199_khop_reach": """
        WITH pl AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ), d0 AS MATERIALIZED (
            SELECT p_partkey AS node, 0 AS dist FROM part WHERE p_partkey % 97 = 0
        ), d1 AS MATERIALIZED (
            SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d0
                UNION ALL
                SELECT e.v AS node, d0.dist + 1 AS dist FROM d0 JOIN e ON e.u = d0.node
            ) GROUP BY node
        ), d2 AS MATERIALIZED (
            SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d1
                UNION ALL
                SELECT e.v AS node, d1.dist + 1 AS dist FROM d1 JOIN e ON e.u = d1.node
            ) GROUP BY node
        ), d3 AS MATERIALIZED (
            SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d2
                UNION ALL
                SELECT e.v AS node, d2.dist + 1 AS dist FROM d2 JOIN e ON e.u = d2.node
            ) GROUP BY node
        )
        SELECT node AS p_partkey, dist FROM d3 ORDER BY p_partkey
    """,
}

# q200: ACF of daily revenue, lags 1..10 — one window pass for the
# leads, one reduction, lag rows unrolled (generated to keep the 10
# lag legs in lockstep with the engine's max_lag)
ORACLES["q200_revenue_acf"] = (
    """
    WITH daily AS (
        SELECT o_orderdate AS d, sum(o_totalprice) AS y
        FROM orders GROUP BY 1
    ), m AS (
        SELECT avg(y) AS m FROM daily
    ), l AS (
        SELECT y - (SELECT m FROM m) AS d0,
    """
    + ",\n".join(
        f"lead(y, {lag}) OVER (ORDER BY d) - (SELECT m FROM m) AS d{lag}"
        for lag in range(1, 11)
    )
    + """
        FROM daily
    ), red AS (
        SELECT sum(d0 * d0) AS ssq,
    """
    + ",\n".join(
        f"sum(d0 * d{lag}) AS num{lag}, count(d{lag}) AS n{lag}"
        for lag in range(1, 11)
    )
    + """
        FROM l
    )
    """
    + "\nUNION ALL\n".join(
        f"SELECT {lag} AS lag, n{lag} AS n_pairs,"
        f" round(num{lag} / ssq, 4) AS acf FROM red"
        for lag in range(1, 11)
    )
    + "\nORDER BY lag"
)

# q201: 16-token-unit global first-wins dedup + in-order reassembly
ORACLES["q201_paragraph_dedup"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents
    ), u AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(toks), 1), 16),
                   s -> struct_pack(
                       pos := (s - 1) // 16,
                       unit := array_to_string(toks[s:s+15], ' ')
                   ))) AS su
        FROM t
    ), e AS (
        SELECT doc_id, su.pos AS pos, su.unit AS unit,
               md5(lower(su.unit)) AS fp
        FROM u WHERE trim(su.unit) <> ''
    ), r AS (
        SELECT doc_id, pos, unit,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn,
               count(*) OVER (PARTITION BY doc_id) AS n_units
        FROM e
    )
    SELECT doc_id, max(n_units) AS n_units, count(*) AS n_kept,
           string_agg(unit, ' ' ORDER BY pos) AS text_dedup
    FROM r WHERE rn = 1
    GROUP BY doc_id ORDER BY doc_id
"""

# q202: Poisson bootstrap CI — the inverse-CDF CASE is generated from
# the SAME threshold tuple the engine uses, so the two sides cannot
# drift
from usajobs_etl_service_spark.operators.sampling import _POISSON1_CDF as _P1

_POISSON_CASE = (
    "CASE "
    + " ".join(f"WHEN u < {t!r} THEN {k}" for k, t in enumerate(_P1))
    + f" ELSE {len(_P1)} END"
)
ORACLES["q202_bootstrap_ci"] = f"""
    WITH reps AS (
        SELECT unnest(generate_series(1, 100)) AS b
    ), seeded AS (
        -- md5 row seed ONCE per row (the row_seed31 contract)
        SELECT o_orderpriority AS grp, o_totalprice AS y,
               CAST(('0x' || substr(md5(
                   CAST(o_orderkey AS VARCHAR) || '#7'), 1, 8)) AS BIGINT)
               % 2147483648 AS s
        FROM orders
    ), drawn AS (
        SELECT grp, y, b,
               {_POISSON_CASE} AS w
        FROM (
            SELECT grp, y, b,
                   xor(h3, h3 >> 13) / 2147483648.0 AS u
            FROM (
                SELECT grp, y, b,
                       (xor(h2, h2 >> 16) * 1220703125) % 2147483648 AS h3
                FROM (
                    SELECT grp, y, b,
                           (((s + b * 1588635695) % 2147483648)
                            * 1103515245 + 12345) % 2147483648 AS h2
                    FROM seeded CROSS JOIN reps
                )
            )
        )
    ), rep_means AS (
        SELECT grp, b, sum(w * y) / sum(w) AS rep_mean
        FROM drawn GROUP BY grp, b HAVING sum(w) > 0
    ), q AS (
        SELECT grp, quantile_cont(rep_mean, 0.025) AS ci_lo,
               quantile_cont(rep_mean, 0.975) AS ci_hi
        FROM rep_means GROUP BY grp
    ), base AS (
        SELECT o_orderpriority AS grp, count(*) AS n,
               avg(o_totalprice) AS mean
        FROM orders GROUP BY 1
    )
    SELECT base.grp AS priority, n, round(mean, 2) AS mean,
           round(ci_lo, 2) AS ci_lo, round(ci_hi, 2) AS ci_hi
    FROM base JOIN q ON base.grp = q.grp
    ORDER BY priority
"""

# q203: Theil-Sen + Mann-Kendall on the daily revenue series
ORACLES["q203_robust_trend"] = """
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS DOUBLE) AS x,
               CAST(sum(o_totalprice) AS DOUBLE) AS y
        FROM orders GROUP BY o_orderdate
    ), pairs AS (
        SELECT (b.y - a.y) / (b.x - a.x) AS slope_ij,
               CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
        FROM daily a JOIN daily b ON a.x < b.x
    ), agg AS (
        SELECT quantile_cont(slope_ij, 0.5) AS slope,
               sum(sgn) AS mk_s
        FROM pairs
    ), pts AS (
        SELECT count(*) AS n,
               (SELECT slope FROM agg) AS slope,
               quantile_cont(y - (SELECT slope FROM agg) * x, 0.5) AS intercept,
               (SELECT mk_s FROM agg) AS mk_s
        FROM daily
    )
    SELECT n, round(slope, 6) AS slope, round(intercept, 2) AS intercept,
           mk_s,
           round(mk_s / sqrt(n * (n - 1) * (2 * n + 5) / 18.0), 4) AS mk_z
    FROM pts
"""

# q204: k-anonymity / l-diversity equivalence classes
ORACLES["q204_kanonymity_audit"] = """
    SELECT c_nationkey, c_mktsegment, count(*) AS n,
           count(DISTINCT c_acctbal) AS n_sensitive,
           count(*) >= 50 AS k_ok,
           count(DISTINCT c_acctbal) >= 20 AS l_ok
    FROM customer GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
"""

# q205: equi-depth decile binning (exact interpolated boundaries,
# strictly-below assignment) -> WOE/IV per bin
ORACLES["q205_binned_woe"] = """
    WITH b AS (
        SELECT quantile_cont(CAST(o_totalprice AS DOUBLE),
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS bounds
        FROM orders
    ), binned AS (
        SELECT len(list_filter((SELECT bounds FROM b),
                               x -> CAST(o_totalprice AS DOUBLE) > x)) AS bin,
               o_orderstatus = 'F' AS g
        FROM orders
    ), counts AS (
        SELECT bin,
               count(*) FILTER (WHERE g) AS n_good,
               count(*) FILTER (WHERE NOT g) AS n_bad
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT CAST(sum(n_good) AS DOUBLE) AS gt,
               CAST(sum(n_bad) AS DOUBLE) AS bt
        FROM counts
    )
    SELECT bin, n_good, n_bad,
           round(ln(((n_good + 0.5) / gt) / ((n_bad + 0.5) / bt)), 6) AS woe,
           round((n_good / gt - n_bad / bt)
                 * ln(((n_good + 0.5) / gt) / ((n_bad + 0.5) / bt)), 6) AS iv_term
    FROM counts CROSS JOIN tot
    ORDER BY bin
"""


def _bpe_oracle_sql(n_merges: int, final: str | None = None) -> str:
    """Round-unrolled DuckDB replay of bpe_learn (q206): per round, a
    MATERIALIZED pair-count argmax + a list_reduce leftmost-first
    merge fold — generated so the rounds stay in lockstep with the
    engine's n_merges."""
    ctes = [
        """w0 AS MATERIALIZED (
            SELECT word, count(*) AS freq,
                   array_to_string(list_append(string_split(word, ''), '</w>'),
                                   ' ') AS syms
            FROM (
                SELECT unnest(list_filter(
                    string_split_regex(trim(lower(text)), '\\s+'),
                    x -> x <> '')) AS word
                FROM documents
            ) GROUP BY word
        )"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        ctes.append(f"""p{r} AS MATERIALIZED (
            SELECT p.a AS a, p.b AS b, sum(freq) AS cnt FROM (
                SELECT freq,
                       unnest(list_transform(
                           generate_series(1, len(ss) - 1),
                           i -> struct_pack(a := ss[i], b := ss[i + 1]))) AS p
                FROM (SELECT freq, string_split(syms, ' ') AS ss FROM w{p})
            ) GROUP BY p.a, p.b
        )""")
        ctes.append(f"""m{r} AS MATERIALIZED (
            SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
        )""")
        ctes.append(f"""w{r} AS MATERIALIZED (
            SELECT word, freq,
                   CASE WHEN instr(' ' || syms || ' ',
                                   ' ' || m.a || ' ' || m.b || ' ') > 0
                        THEN list_reduce(string_split(syms, ' '),
                            (acc, x) -> CASE
                                WHEN (acc = m.a OR ends_with(acc, ' ' || m.a))
                                     AND x = m.b
                                THEN left(acc, len(acc) - len(m.a)) || m.a || m.b
                                ELSE acc || ' ' || x END)
                        ELSE syms END AS syms
            FROM w{p} CROSS JOIN m{r} m
        )""")
    if final is None:
        final = (
            "\nUNION ALL\n".join(
                f"SELECT {r} AS round, a AS pair_a, b AS pair_b,"
                f" cnt AS pair_count FROM m{r}"
                for r in range(1, n_merges + 1)
            )
            + "\nORDER BY round"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + final


ORACLES["q206_bpe_merges"] = _bpe_oracle_sql(5)

# q207: CUSUM change-point candidates (top-3 |S_t|)
ORACLES["q207_cusum_changepoint"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS rev
        FROM orders GROUP BY 1
    ), m AS (SELECT avg(rev) AS m FROM daily),
    c AS (
        SELECT d,
               sum(rev - (SELECT m FROM m))
                   OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS s
        FROM daily
    )
    SELECT d, round(s, 2) AS cusum, round(abs(s), 2) AS abs_cusum
    FROM c ORDER BY abs_cusum DESC, d LIMIT 3
"""

# q208: weekday seasonal indices from a centered 7-day MA detrend
# (full windows only). DuckDB dayofweek is 0=Sunday..6; Spark
# dayofweek is 1=Sunday..7 — align by +1.
ORACLES["q208_weekday_seasonality"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d, sum(o_totalprice) AS rev
        FROM orders GROUP BY 1
    ), t AS (
        SELECT d, rev,
               count(*) OVER w AS n7,
               avg(rev) OVER w AS trend
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT CAST(dayofweek(d) + 1 AS INT) AS dow,
           count(*) AS n_days,
           round(avg(rev - trend), 2) AS seasonal
    FROM t WHERE n7 = 7
    GROUP BY 1 ORDER BY dow
"""

# q209: Welch's t — grouped (n, mean, var_samp) then one float expr
ORACLES["q209_welch_ttest"] = """
    WITH g AS (
        SELECT o_orderpriority AS p,
               CAST(count(*) AS DOUBLE) AS n,
               avg(o_totalprice) AS m,
               var_samp(o_totalprice) AS v
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        GROUP BY 1
    ), a AS (SELECT n AS n1, m AS m1, v AS v1 FROM g WHERE p = '1-URGENT'),
    b AS (SELECT n AS n2, m AS m2, v AS v2 FROM g WHERE p = '5-LOW')
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(m1, 2) AS mean_urgent, round(m2, 2) AS mean_low,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat,
           round(((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
                 / ((v1 / n1) * (v1 / n1) / (n1 - 1)
                    + (v2 / n2) * (v2 / n2) / (n2 - 1)), 2) AS welch_df
    FROM a CROSS JOIN b
"""


def _lpa_oracle_sql(rounds: int) -> str:
    """Round-unrolled deterministic LPA replay (q210): per round a
    neighbor-label vote with the (count desc, label asc) tiebreak."""
    ctes = [
        """pl AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1')
        )""",
        """sym AS MATERIALIZED (
            SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
            FROM pl a JOIN pl b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        )""",
        "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM sym)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""v{r} AS MATERIALIZED (
            SELECT node, label FROM (
                SELECT s.u AS node, l.label,
                       row_number() OVER (
                           PARTITION BY s.u
                           ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM sym s JOIN l{p} l ON s.v = l.node
                GROUP BY s.u, l.label
            ) WHERE rn = 1
        )""")
        ctes.append(f"""l{r} AS MATERIALIZED (
            SELECT l.node, coalesce(v.label, l.label) AS label
            FROM l{p} l LEFT JOIN v{r} v ON l.node = v.node
        )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node AS p_partkey, label FROM l{rounds} ORDER BY p_partkey"
    )


ORACLES["q210_label_propagation"] = _lpa_oracle_sql(3)

# q212: declarative expectations — one aggregate pass + FK anti count
ORACLES["q212_expectations"] = """
    WITH r AS (
        SELECT count(*) AS n,
               count(*) FILTER (WHERE NOT coalesce(o_totalprice > 0, false)) AS v0,
               count(*) FILTER (WHERE NOT coalesce(o_orderstatus IN ('F','O','P'), false)) AS v1,
               count(*) FILTER (WHERE NOT coalesce(
                   CAST(o_orderdate AS DATE)
                       BETWEEN DATE '1990-01-01' AND DATE '2005-12-31',
                   false)) AS v2,
               count(*) FILTER (WHERE o_orderpriority IS NULL) AS v3,
               count(*) FILTER (WHERE NOT coalesce(o_totalprice < 300000, false)) AS v4
        FROM orders
    ), fk AS (
        SELECT (SELECT count(*) FROM orders) AS n,
               (SELECT count(*) FROM orders WHERE o_custkey IS NULL)
             + (SELECT count(*) FROM orders o
                WHERE o.o_custkey IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = o.o_custkey)) AS v
    )
    SELECT -1 AS rule_seq, 'custkey_fk' AS rule, n AS n_rows,
           v AS n_violations, v = 0 AS pass FROM fk
    UNION ALL SELECT 0, 'totalprice_positive', n, v0, v0 = 0 FROM r
    UNION ALL SELECT 1, 'status_known', n, v1, v1 = 0 FROM r
    UNION ALL SELECT 2, 'date_in_range', n, v2, v2 = 0 FROM r
    UNION ALL SELECT 3, 'priority_nonnull', n, v3, v3 = 0 FROM r
    UNION ALL SELECT 4, 'price_under_cap', n, v4, v4 = 0 FROM r
    ORDER BY rule_seq
"""

# q213: exact join cardinality from per-key partials, never the join
ORACLES["q213_join_cardinality"] = """
    WITH lc AS (
        SELECT l_partkey AS key, count(*) AS n_left
        FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1
    ), rc AS (
        SELECT p_partkey AS key, count(*) AS n_right
        FROM part WHERE p_partkey IS NOT NULL GROUP BY 1
    ), pk AS (
        SELECT key, n_left, n_right, n_left * n_right AS out_rows
        FROM lc JOIN rc USING (key)
    )
    SELECT * FROM (
        SELECT key, n_left, n_right, out_rows FROM pk
        ORDER BY out_rows DESC, key ASC LIMIT 5
    )
    UNION ALL
    SELECT NULL AS key, sum(n_left), sum(n_right), sum(out_rows) FROM pk
"""

# q214: ntile quartiles with the orderkey tiebreak
ORACLES["q214_ntile_quartiles"] = """
    WITH q AS (
        SELECT o_orderpriority, o_totalprice,
               ntile(4) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS quartile
        FROM orders
    )
    SELECT o_orderpriority, quartile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM q GROUP BY o_orderpriority, quartile
    ORDER BY o_orderpriority, quartile
"""

# q215: Flesch readability from identical regex counts
ORACLES["q215_readability"] = """
    WITH d AS (
        SELECT lang,
               CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                    x -> x <> '')) AS DOUBLE) AS w,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE) AS syl,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS s
        FROM documents
    )
    SELECT lang, count(*) AS n_docs,
           round(avg(w), 4) AS avg_words,
           round(avg(syl / w), 4) AS avg_syllables_per_word,
           round(avg(206.835 - 1.015 * (w / s) - 84.6 * (syl / w)), 4) AS avg_flesch
    FROM d WHERE w > 0
    GROUP BY lang ORDER BY lang
"""

# q220: percent_rank + cume_dist (identical SQL semantics both
# engines; orderkey tiebreak pins tie boundaries)
ORACLES["q220_rank_functions"] = """
    WITH r AS (
        SELECT o_orderpriority, o_totalprice,
               percent_rank() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice, o_orderkey) AS pr,
               cume_dist() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice, o_orderkey) AS cd
        FROM orders
    )
    SELECT o_orderpriority, count(*) AS n_big,
           round(avg(pr), 6) AS avg_percent_rank,
           round(avg(cd), 6) AS avg_cume_dist,
           round(min(pr), 6) AS min_percent_rank
    FROM r WHERE o_totalprice > 100000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

# q219: cross-source duplicate matrix — pair arithmetic on per-
# (fingerprint, source) COUNTS, never on document pairs
ORACLES["q219_source_dup_matrix"] = """
    WITH per AS (
        SELECT md5(text) AS fp, source, count(*) AS n
        FROM documents GROUP BY 1, 2
    )
    SELECT a.source AS s1, b.source AS s2,
           CAST(sum(CASE WHEN a.source < b.source THEN a.n * b.n
                         ELSE a.n * (a.n - 1) / 2 END) AS BIGINT) AS dup_pairs
    FROM per a JOIN per b ON a.fp = b.fp AND a.source <= b.source
    GROUP BY a.source, b.source
    HAVING dup_pairs > 0
    ORDER BY dup_pairs DESC, s1, s2
"""

# q218: Heaps' law — first-occurrence table + 10 conditional counters,
# log-log fit over the checkpoint frame (generated to keep the ten
# legs in lockstep with the engine)
ORACLES["q218_heaps_law"] = (
    """
    WITH d AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS ts
        FROM documents
    ), pd AS (
        SELECT doc_id, len(ts) AS tc FROM d
    ), f AS (
        SELECT term, min(doc_id) AS first_doc
        FROM (SELECT doc_id, unnest(ts) AS term FROM d) GROUP BY term
    ), m AS (SELECT max(doc_id) AS mx FROM pd),
    v AS (
        SELECT """
    + ", ".join(
        f"count(*) FILTER (WHERE first_doc <= mx * {i} / 10.0) AS v{i}"
        for i in range(1, 11)
    )
    + """
        FROM f CROSS JOIN m
    ), n AS (
        SELECT max(mx) AS mx, """
    + ", ".join(
        f"sum(CASE WHEN doc_id <= mx * {i} / 10.0 THEN tc ELSE 0 END) AS n{i}"
        for i in range(1, 11)
    )
    + """
        FROM pd CROSS JOIN m
    ), pts AS (
    """
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS checkpoint, CAST(mx * {i} // 10 AS BIGINT) AS max_doc,"
        f" n{i} AS n_tokens, v{i} AS vocab FROM n CROSS JOIN v"
        for i in range(1, 11)
    )
    + """
    ), fit AS (
        SELECT round(regr_slope(ln(CAST(vocab AS DOUBLE)),
                                ln(CAST(n_tokens AS DOUBLE))), 6) AS heaps_beta,
               round(exp(regr_intercept(ln(CAST(vocab AS DOUBLE)),
                                        ln(CAST(n_tokens AS DOUBLE)))), 4) AS heaps_k
        FROM pts
    )
    SELECT checkpoint, max_doc, n_tokens, vocab, heaps_beta, heaps_k
    FROM pts CROSS JOIN fit ORDER BY checkpoint
    """
)

# q217: generalization ladder — per-level class minima, first k-ok
# rendering chosen
ORACLES["q217_generalization_ladder"] = """
    WITH base AS (
        SELECT c.c_nationkey, c.c_mktsegment, n.n_regionkey
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), l0 AS (
        SELECT 0 AS level, 'nation x segment' AS rendering,
               count(*) AS n_classes, min(n) AS min_class
        FROM (SELECT count(*) AS n FROM base GROUP BY c_nationkey, c_mktsegment)
    ), l1 AS (
        SELECT 1, 'region x segment', count(*), min(n)
        FROM (SELECT count(*) AS n FROM base GROUP BY n_regionkey, c_mktsegment)
    ), l2 AS (
        SELECT 2, 'region only', count(*), min(n)
        FROM (SELECT count(*) AS n FROM base GROUP BY n_regionkey)
    ), l3 AS (
        SELECT 3, 'fully suppressed', count(*), min(n)
        FROM (SELECT count(*) AS n FROM base GROUP BY '*')
    ), ladder AS (
        SELECT * FROM l0 UNION ALL SELECT * FROM l1
        UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3
    )
    SELECT level, rendering, n_classes, min_class,
           min_class >= 100 AS k_ok,
           level = min(CASE WHEN min_class >= 100 THEN level END) OVER ()
               AS chosen
    FROM ladder ORDER BY level
"""


def _hilbert_oracle_sql(bits: int) -> str:
    """Level-unrolled xy2d replay (q216) — identical two's-complement
    bit arithmetic per rotation level."""
    ctes = [
        """h0 AS (
            SELECT CAST(o_custkey % 256 AS BIGINT) AS hx,
                   CAST(floor(o_totalprice / 2000) AS BIGINT) % 256 AS hy,
                   CAST(0 AS BIGINT) AS hd
            FROM orders
        )"""
    ]
    for i, level in enumerate(range(bits - 1, -1, -1), start=1):
        s = 1 << level
        ctes.append(f"""h{i} AS (
            SELECT
                CASE WHEN (hy & {s}) = 0
                     THEN (CASE WHEN (hx & {s}) > 0 THEN {s - 1} - hy ELSE hy END)
                     ELSE hx END AS hx,
                CASE WHEN (hy & {s}) = 0
                     THEN (CASE WHEN (hx & {s}) > 0 THEN {s - 1} - hx ELSE hx END)
                     ELSE hy END AS hy,
                hd + {s * s} * xor(
                    3 * (CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END),
                    CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END) AS hd,
                x, y
            FROM h{i - 1}
        )""")
    # carry the ORIGINAL grid coords through for the bounding boxes
    ctes[0] = ctes[0].replace(
        "CAST(0 AS BIGINT) AS hd", "CAST(0 AS BIGINT) AS hd,\n"
        "                   CAST(o_custkey % 256 AS BIGINT) AS x,\n"
        "                   CAST(floor(o_totalprice / 2000) AS BIGINT) % 256 AS y"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT hd // 4096 AS bucket, count(*) AS n,
               min(x) AS x_lo, max(x) AS x_hi,
               min(y) AS y_lo, max(y) AS y_hi
        FROM h{bits}
        GROUP BY 1 ORDER BY bucket
        """
    )


ORACLES["q216_hilbert_layout"] = _hilbert_oracle_sql(8)

# q211: tokenize-apply through the segmented dictionary (w5)
ORACLES["q211_bpe_tokenize"] = _bpe_oracle_sql(
    5,
    final="""
    , pw AS (
        SELECT word, len(string_split(syms, ' ')) AS n_sub FROM w5
    ), dw AS (
        SELECT lang,
               unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\\s+'),
                   x -> x <> '')) AS word
        FROM documents
    )
    SELECT lang, count(*) AS n_words, sum(n_sub) AS n_subwords,
           round(CAST(sum(n_sub) AS DOUBLE) / count(*), 4) AS subwords_per_word
    FROM dw JOIN pw USING (word)
    GROUP BY lang ORDER BY lang
    """,
)


# q221/q222 shared CTE chain: the q196 classifier scores (identical
# SQL — the model is rebuilt from the bucket-id hash) joined to the
# exact ground-truth flag. Ends at sc(doc_id, score, y).
_CLASSIFIER_SCORED_SQL = """
    WITH w AS (
        SELECT b AS bucket,
               (CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || '#w0'), 1, 8)) AS BIGINT)
                % 2001 - 1000) / 1000.0 AS weight
        FROM (SELECT unnest(generate_series(0, 1023)) AS b)
    ), t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS ts
        FROM documents
    ), base AS (
        SELECT doc_id, ts FROM t WHERE len(ts) >= 1
    ), feats AS (
        SELECT doc_id, unnest(ts) AS feat FROM base
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i + 1])) AS feat
        FROM base
    ), bucketed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(feat || '#ftx'), 1, 8)) AS BIGINT)
               % 1024 AS bucket
        FROM feats
    ), scored AS (
        SELECT b.doc_id,
               count(*) AS n_features,
               sum(coalesce(w.weight, 0.0)) AS wsum
        FROM bucketed b LEFT JOIN w USING (bucket)
        GROUP BY b.doc_id
    ), sc AS (
        SELECT s.doc_id,
               round(1.0 / (1.0 + exp(-(0.1 + wsum / n_features))), 4) AS score,
               CAST(contains(d.text, 'data') AS INT) AS y
        FROM scored s JOIN documents d USING (doc_id)
    )
"""

# q221: exact rank-sum AUC — average ranks are half-integers, so every
# intermediate is exact in double and the one final division is
# bit-identical cross-engine
ORACLES["q221_classifier_auc"] = (
    _CLASSIFIER_SCORED_SQL
    + """
    , r AS (
        SELECT score, y,
               row_number() OVER (ORDER BY score, doc_id) AS rn
        FROM sc
    ), g AS (
        SELECT score, avg(rn) AS avg_rank, count(*) AS tie_n,
               sum(y) AS pos_n
        FROM r GROUP BY score
    )
    SELECT CAST(sum(pos_n) AS BIGINT) AS n_pos,
           CAST(sum(tie_n) - sum(pos_n) AS BIGINT) AS n_neg,
           round((sum(pos_n * avg_rank) - sum(pos_n) * (sum(pos_n) + 1) / 2)
                 / (sum(pos_n) * (sum(tie_n) - sum(pos_n))), 6) AS auc
    FROM g
"""
)

# q222: reliability bins + ECE on the ROUNDED score (bin assignment
# pinned cross-engine); conf/acc/ece rounded at 6 absorb summation-
# order noise on the double means
ORACLES["q222_classifier_calibration"] = (
    _CLASSIFIER_SCORED_SQL
    + """
    , binned AS (
        SELECT least(CAST(floor(round(score, 6) * 10) AS INT), 9) AS bin,
               round(score, 6) AS s, CAST(y AS DOUBLE) AS yd
        FROM sc WHERE score IS NOT NULL AND y IS NOT NULL
    ), pb AS (
        SELECT bin, count(*) AS n, avg(s) AS conf, avg(yd) AS acc,
               sum((s - yd) * (s - yd)) AS sq
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT round(sum(n * abs(acc - conf)) / sum(n), 6) AS ece,
               round(sum(sq) / sum(n), 6) AS brier
        FROM pb
    )
    SELECT bin, n, round(conf, 6) AS confidence, round(acc, 6) AS accuracy,
           round(abs(acc - conf), 6) AS abs_gap, ece, brier
    FROM pb CROSS JOIN tot
    ORDER BY bin
"""
)

# q223: Mann-Whitney U, tie-corrected z (Lehmann) — t*t*t products
# (never pow), identical parenthesization both engines
ORACLES["q223_mann_whitney"] = """
    WITH base AS (
        SELECT o_totalprice AS s,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1
                    WHEN o_orderpriority = '5-LOW' THEN 0 END AS a,
               o_orderkey AS tb
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), r AS (
        SELECT s, a, row_number() OVER (ORDER BY s, tb) AS rn FROM base
    ), g AS (
        SELECT s, avg(rn) AS avg_rank, count(*) AS tie_n, sum(a) AS a_n
        FROM r GROUP BY s
    ), agg AS (
        SELECT sum(a_n) AS n_a, sum(tie_n) - sum(a_n) AS n_b,
               sum(tie_n) AS n, sum(a_n * avg_rank) AS r_a,
               sum(tie_n * tie_n * tie_n - tie_n) AS t
        FROM g
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(r_a - n_a * (n_a + 1) / 2, 4) AS u_stat,
           round((r_a - n_a * (n_a + 1) / 2 - n_a * n_b / 2)
                 / sqrt(n_a * n_b / 12 * ((n + 1) - t / (n * (n - 1)))), 6) AS z
    FROM agg
"""


# q224: quantile normalization — midpoint-quantile index in pure
# integer arithmetic (// == Spark's div), join to the pooled order
# statistics; per-source moments of the normalized values
ORACLES["q224_quantile_normalization"] = """
    WITH d AS (
        SELECT doc_id, source, n_chars FROM documents
        WHERE source IS NOT NULL AND n_chars IS NOT NULL
    ), r AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS r,
               count(*) OVER (PARTITION BY source) AS n_g,
               count(*) OVER () AS n
        FROM d
    ), p AS (
        SELECT n_chars AS pv,
               row_number() OVER (ORDER BY n_chars, doc_id) AS prn
        FROM d
    ), m AS (
        SELECT r.*, ((2 * r - 1) * n + 2 * n_g - 1) // (2 * n_g) AS idx
        FROM r
    )
    SELECT source, count(*) AS n_docs,
           round(avg(n_chars), 6) AS raw_mean,
           round(avg(pv), 6) AS norm_mean,
           min(pv) AS norm_min, max(pv) AS norm_max
    FROM m JOIN p ON m.idx = p.prn
    GROUP BY source ORDER BY source
"""


# q225: size-2 association rules — set-semantics items, unordered
# pair counts, both directions, exact-integer ratios
ORACLES["q225_association_rules"] = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ), supp AS (
        SELECT i AS item, count(*) AS supp FROM items GROUP BY i
    ), nb AS (
        SELECT count(DISTINCT b) AS n_baskets FROM items
    ), pairs AS (
        SELECT a.i AS ia, c.i AS ib, count(*) AS pair_n
        FROM items a JOIN items c ON a.b = c.b AND a.i < c.i
        GROUP BY a.i, c.i
        HAVING count(*) >= 2
    ), rules AS (
        SELECT ia AS antecedent, ib AS consequent, pair_n FROM pairs
        UNION ALL
        SELECT ib AS antecedent, ia AS consequent, pair_n FROM pairs
    )
    SELECT antecedent, consequent, pair_n,
           sa.supp AS supp_a, sc.supp AS supp_c,
           round(pair_n / sa.supp, 6) AS confidence,
           round(pair_n * n_baskets / (sa.supp * sc.supp), 6) AS lift
    FROM rules
    JOIN supp sa ON sa.item = antecedent
    JOIN supp sc ON sc.item = consequent
    CROSS JOIN nb
    ORDER BY pair_n * n_baskets / (sa.supp * sc.supp) DESC,
             pair_n / sa.supp DESC, antecedent, consequent
    LIMIT 25
"""


# q226: Kaplan-Meier — day-granular lifetimes (date - date = integer
# days; the TIMESTAMP_NS seam never appears), cumulative ln fold in
# lifetime order, d==n rows forced to exactly 0.0
ORACLES["q226_kaplan_meier"] = """
    WITH e AS (
        SELECT user_id, CAST(ts AS DATE) AS d FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), per AS (
        SELECT user_id, min(d) AS f, max(d) AS l FROM e GROUP BY user_id
    ), tot AS (
        SELECT max(d) AS e_end, count(DISTINCT user_id) AS n FROM e
    ), fl AS (
        SELECT CAST(l - f AS INT) AS duration_days,
               CASE WHEN l < e_end - 14 THEN 1 ELSE 0 END AS churned, n
        FROM per CROSS JOIN tot
    ), life AS (
        SELECT duration_days, count(*) AS t, sum(churned) AS d, max(n) AS n
        FROM fl GROUP BY duration_days
    ), c AS (
        SELECT duration_days, t, d,
               n - coalesce(sum(t) OVER (ORDER BY duration_days
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
        FROM life
    ), s AS (
        SELECT duration_days, t, d, n_at_risk,
               max(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY duration_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS dead,
               sum(CASE WHEN d < n_at_risk
                        THEN ln((n_at_risk - d) / n_at_risk)
                        ELSE 0.0 END)
                   OVER (ORDER BY duration_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
        FROM c
    )
    SELECT duration_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(t - d AS BIGINT) AS n_censored,
           CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(cum), 6) END AS survival
    FROM s WHERE d > 0
    ORDER BY duration_days
"""


# q227: mutual information lang x source — one cell aggregate, window
# marginals, both entropies folded over the same cell stream
ORACLES["q227_mutual_information"] = """
    WITH cells AS (
        SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2
    ), m AS (
        -- "tot", not "N": identifiers are case-insensitive in BOTH
        -- engines, and N would collide with the cell count n
        SELECT n,
               sum(n) OVER (PARTITION BY lang) AS nx,
               sum(n) OVER (PARTITION BY source) AS ny,
               sum(n) OVER () AS tot
        FROM cells
    )
    SELECT CAST(sum(n) AS BIGINT) AS n_docs,
           count(*) AS n_cells,
           round(sum((n / tot) * ln(n * tot / (nx * ny))), 6) AS mi_nats,
           round(-sum((n / tot) * ln(nx / tot)), 6) AS h_lang,
           round(-sum((n / tot) * ln(ny / tot)), 6) AS h_source,
           round(sum((n / tot) * ln(n * tot / (nx * ny)))
                 / sqrt(sum((n / tot) * ln(nx / tot))
                        * sum((n / tot) * ln(ny / tot))), 6) AS nmi
    FROM m
"""


# q228: threshold sweep — FILTER counters per threshold over the one
# scored stream; thresholds cast to DOUBLE (a DECIMAL list would
# compare and hash differently)
ORACLES["q228_threshold_sweep"] = (
    _CLASSIFIER_SCORED_SQL
    + """
    , th AS (
        SELECT unnest([0.4, 0.45, 0.48, 0.5, 0.52, 0.55, 0.6]::DOUBLE[])
               AS threshold
    ), c AS (
        SELECT threshold,
               count(*) FILTER (WHERE score >= threshold AND y = 1) AS tp,
               count(*) FILTER (WHERE score >= threshold AND y = 0) AS fp,
               count(*) FILTER (WHERE score < threshold AND y = 1) AS fn
        FROM sc CROSS JOIN th GROUP BY threshold
    ), m AS (
        SELECT threshold, tp, fp, fn,
               tp / (tp + fp) AS p, tp / (tp + fn) AS r
        FROM c
    )
    SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(p, 6) AS precision, round(r, 6) AS recall,
           round(2 * p * r / (p + r), 6) AS f1
    FROM m ORDER BY threshold
"""
)

# q229: Cohen's kappa between the classifier keep gate and the length
# heuristic — 2x2 integer counts, mirrored po/pe divisions
ORACLES["q229_gate_agreement_kappa"] = """
    WITH w AS (
        SELECT b AS bucket,
               (CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || '#w0'), 1, 8)) AS BIGINT)
                % 2001 - 1000) / 1000.0 AS weight
        FROM (SELECT unnest(generate_series(0, 1023)) AS b)
    ), t AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS ts
        FROM documents
    ), base AS (
        SELECT doc_id, ts FROM t WHERE len(ts) >= 1
    ), feats AS (
        SELECT doc_id, unnest(ts) AS feat FROM base
        UNION ALL
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ts) - 1),
                      i -> ts[i] || ' ' || ts[i + 1])) AS feat
        FROM base
    ), bucketed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(feat || '#ftx'), 1, 8)) AS BIGINT)
               % 1024 AS bucket
        FROM feats
    ), scored AS (
        SELECT b.doc_id, count(*) AS n_features,
               sum(coalesce(w.weight, 0.0)) AS wsum
        FROM bucketed b LEFT JOIN w USING (bucket)
        GROUP BY b.doc_id
    ), fl AS (
        -- NULL n_chars rows are DROPPED to match cohen_kappa's
        -- NULL-rater filter (a CASE ... ELSE 0 would instead count
        -- them as gate-fail)
        SELECT CASE WHEN round(1.0 / (1.0 + exp(-(0.1 + wsum / n_features))), 4)
                         >= 0.5 THEN 1 ELSE 0 END AS a,
               CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS b
        FROM scored s JOIN documents d USING (doc_id)
        WHERE d.n_chars IS NOT NULL
    ), c AS (
        SELECT count(*) AS n,
               count(*) FILTER (WHERE a = 1 AND b = 1) AS n11,
               count(*) FILTER (WHERE a = 0 AND b = 0) AS n00,
               count(*) FILTER (WHERE a = 1 AND b = 0) AS n10,
               count(*) FILTER (WHERE a = 0 AND b = 1) AS n01
        FROM fl
    ), k AS (
        SELECT n, n11, n00, n10, n01,
               (n11 + n00) / n AS po,
               ((n11 + n10) * (n11 + n01) + (n00 + n01) * (n00 + n10))
                   / (n * n) AS pe
        FROM c
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(n11 AS BIGINT) AS n_both,
           CAST(n00 AS BIGINT) AS n_neither, CAST(n10 AS BIGINT) AS n_only_a,
           CAST(n01 AS BIGINT) AS n_only_b,
           round(po, 6) AS po,
           round((po - pe) / (1.0 - pe), 6) AS kappa
    FROM k
"""


# q230: per-source AUC — within-group ranks via partitioned
# row_number, same rank-sum identity per slice
ORACLES["q230_sliced_auc"] = (
    _CLASSIFIER_SCORED_SQL
    + """
    , sj AS (
        -- NULL-source rows are excluded to match exact_auc_by_group's
        -- documented NULL-group filter (DuckDB GROUP BY would keep a
        -- NULL slice the operator drops)
        SELECT sc.doc_id, sc.score, sc.y, d.source
        FROM sc JOIN documents d USING (doc_id)
        WHERE d.source IS NOT NULL
    ), r AS (
        SELECT source, score, y,
               row_number() OVER (PARTITION BY source
                                  ORDER BY score, doc_id) AS rn
        FROM sj
    ), g AS (
        SELECT source, score, avg(rn) AS avg_rank, count(*) AS tie_n,
               sum(y) AS pos_n
        FROM r GROUP BY source, score
    )
    SELECT source,
           CAST(sum(pos_n) AS BIGINT) AS n_pos,
           CAST(sum(tie_n) - sum(pos_n) AS BIGINT) AS n_neg,
           round((sum(pos_n * avg_rank) - sum(pos_n) * (sum(pos_n) + 1) / 2)
                 / (sum(pos_n) * (sum(tie_n) - sum(pos_n))), 6) AS auc
    FROM g GROUP BY source ORDER BY source
"""
)


# q231: trimmed/winsorized means — integer-rank cutoffs, winsorized
# sum = kept_sum + k*lo + k*hi (no second pass)
ORACLES["q231_trimmed_means"] = """
    WITH r AS (
        -- double cast matches trimmed_stats' clean select: both engines
        -- do double arithmetic (decimal HALF_UP vs double half-even
        -- diverge at exact x.xxxx5 boundaries)
        SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS grn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
        -- match trimmed_stats' NULL group/value filter
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    ), m AS (
        SELECT g, v, grn, n, CAST(floor(0.1 * n) AS BIGINT) AS k FROM r
    ), kept AS (
        SELECT g, v, n, k FROM m WHERE grn > k AND grn <= n - k
    )
    SELECT g AS o_orderpriority,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(k) AS BIGINT) AS k_trimmed,
           min(v) AS lo_kept, max(v) AS hi_kept,
           round(sum(v) / count(*), 4) AS trimmed_mean,
           round((sum(v) + max(k) * min(v) + max(k) * max(v)) / max(n), 4)
               AS winsorized_mean
    FROM kept GROUP BY g ORDER BY g
"""

# q232: Spearman — avg-rank ties per variable, Pearson over the two
# rank vectors in the computational form; date ties are the point
ORACLES["q232_spearman"] = """
    WITH o AS (
        SELECT o_orderkey AS tb, o_totalprice AS x,
               CAST(o_orderdate AS DATE) AS y
        FROM orders
        WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL
              AND o_orderdate IS NOT NULL
    ), rxr AS (
        SELECT tb, x, row_number() OVER (ORDER BY x, tb) AS rn FROM o
    ), rx AS (
        SELECT tb, avg(rn) OVER (PARTITION BY x) AS ra FROM rxr
    ), ryr AS (
        SELECT tb, y, row_number() OVER (ORDER BY y, tb) AS rn FROM o
    ), ry AS (
        SELECT tb, avg(rn) OVER (PARTITION BY y) AS rb FROM ryr
    ), j AS (
        SELECT ra, rb FROM rx JOIN ry USING (tb)
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           round((count(*) * sum(ra * rb) - sum(ra) * sum(rb))
                 / sqrt((count(*) * sum(ra * ra) - sum(ra) * sum(ra))
                        * (count(*) * sum(rb * rb) - sum(rb) * sum(rb))), 6)
               AS rho
    FROM j
"""


# q233: grouped exact median/MAD + modified-z outliers — integer-div
# middle ranks, zero-MAD groups count nothing (NULL division)
ORACLES["q233_robust_outliers"] = """
    WITH e AS (
        SELECT event_type AS g, CAST(value AS DOUBLE) AS v, event_id AS tb
        FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), r1 AS (
        SELECT g, v,
               row_number() OVER (PARTITION BY g ORDER BY v, tb) AS grn,
               count(*) OVER (PARTITION BY g) AS n
        FROM e
    ), med AS (
        SELECT g, avg(v) AS median FROM r1
        WHERE grn = (n + 1) // 2 OR grn = n // 2 + 1 GROUP BY g
    ), d AS (
        SELECT e.g, e.v, e.tb, m.median, abs(e.v - m.median) AS dev
        FROM e JOIN med m USING (g)
    ), r2 AS (
        SELECT g, dev,
               row_number() OVER (PARTITION BY g ORDER BY dev, tb) AS grn,
               count(*) OVER (PARTITION BY g) AS n
        FROM d
    ), mad AS (
        SELECT g, avg(dev) AS mad FROM r2
        WHERE grn = (n + 1) // 2 OR grn = n // 2 + 1 GROUP BY g
    )
    SELECT d.g AS event_type,
           CAST(count(*) AS BIGINT) AS n,
           max(d.median) AS median,
           max(mad.mad) AS mad,
           CAST(count(*) FILTER (WHERE 0.6745 * d.dev / mad.mad > 3.5)
                AS BIGINT) AS n_outliers
    FROM d JOIN mad USING (g)
    GROUP BY d.g ORDER BY event_type
"""


# q234: bounded Bellman-Ford — 3 unrolled relaxations, MATERIALIZED
# (each round references the previous twice: plain CTEs would inline
# 2^rounds copies — the q174 lesson)
def _sssp_round(prev: str, cur: str) -> str:
    return f"""{cur} AS MATERIALIZED (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT s.v AS node, {prev}.dist + s.w AS dist
            FROM {prev} JOIN sym s ON {prev}.node = s.u
        ) GROUP BY node
    )"""


ORACLES["q234_weighted_sssp"] = (
    """
    WITH inc AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ), pairs AS (
        SELECT a.p AS u, b.p AS v, count(*) AS n
        FROM inc a JOIN inc b ON a.ok = b.ok AND a.p < b.p
        GROUP BY a.p, b.p
    ), wedges AS (
        SELECT u, v,
               CASE WHEN n >= 3 THEN 1 WHEN n = 2 THEN 2 ELSE 4 END AS w
        FROM pairs
    ), sym AS MATERIALIZED (
        SELECT u, v, w FROM wedges
        UNION ALL
        SELECT v AS u, u AS v, w FROM wedges
    ), d0 AS (
        SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
        FROM part WHERE p_partkey % 97 = 0
    ), """
    + ",\n    ".join(_sssp_round(f"d{r - 1}", f"d{r}") for r in (1, 2, 3))
    + """
    SELECT node AS p_partkey, CAST(dist AS BIGINT) AS dist
    FROM d3 ORDER BY p_partkey
"""
)


# q235: keep-best dedup — best-quality aggregate, maximal-row join
# back, min-id winner, id join; survivors of multi-copy clusters
ORACLES["q235_keep_best_dedup"] = """
    WITH docs AS (
        SELECT doc_id, source, n_chars,
               md5(substr(text, 1, 60)) AS fp
        FROM documents
    ), best AS (
        SELECT fp, max(n_chars) AS best_q, count(*) AS n_copies
        FROM docs GROUP BY fp
    ), winners AS (
        -- IS NOT DISTINCT FROM == the operator's eqNullSafe: a NULL
        -- key still forms a cluster, and an all-NULL-quality cluster
        -- falls back to min id instead of vanishing
        SELECT d.fp, min(d.doc_id) AS win_id, max(b.n_copies) AS n_copies
        FROM docs d JOIN best b
          ON d.fp IS NOT DISTINCT FROM b.fp
         AND d.n_chars IS NOT DISTINCT FROM b.best_q
        GROUP BY d.fp
    )
    SELECT d.fp, d.doc_id, d.source, d.n_chars, w.n_copies
    FROM docs d JOIN winners w ON d.doc_id = w.win_id
    WHERE w.n_copies > 1
    ORDER BY w.n_copies DESC, d.fp
"""


# q236: NDCG@100 — score-ranked and relevance-ideal top-k lists,
# identical tiebreaks, rel / log2(pos + 1)
ORACLES["q236_ndcg"] = (
    _CLASSIFIER_SCORED_SQL
    + """
    , rk AS (
        SELECT y, row_number() OVER (ORDER BY score DESC, doc_id) AS pos
        FROM sc
    ), d AS (
        SELECT sum(y / log2(pos + 1)) AS dcg, count(*) AS n
        FROM rk WHERE pos <= 100
    ), ik AS (
        SELECT y, row_number() OVER (ORDER BY y DESC, doc_id) AS pos
        FROM sc
    ), i AS (
        SELECT sum(y / log2(pos + 1)) AS idcg FROM ik WHERE pos <= 100
    )
    SELECT 100 AS k, CAST(n AS BIGINT) AS n_ranked,
           round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
           round(dcg / idcg, 6) AS ndcg
    FROM d CROSS JOIN i
"""
)


# q237: grouped exact quantile bands — bracketing ranks per fraction,
# explicit lerp lo + (h - floor(h)) * (hi - lo)
ORACLES["q237_grouped_quantiles"] = """
    WITH e AS (
        SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v,
               o_orderkey AS tb
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    ), r AS (
        SELECT g, v,
               row_number() OVER (PARTITION BY g ORDER BY v, tb) AS grn,
               count(*) OVER (PARTITION BY g) AS n
        FROM e
    ), fr AS (
        SELECT unnest([0.25, 0.5, 0.75, 0.9, 0.99]::DOUBLE[]) AS q
    ), b AS (
        SELECT g, q, n, v, (n - 1) * q + 1 AS h
        FROM r CROSS JOIN fr
        WHERE grn = floor((n - 1) * q + 1) OR grn = ceil((n - 1) * q + 1)
    ), a AS (
        SELECT g, q, max(n) AS n, min(v) AS lo, max(v) AS hi, max(h) AS hm
        FROM b GROUP BY g, q
    )
    SELECT g AS o_orderpriority, q AS fraction, CAST(n AS BIGINT) AS n,
           round(lo + (hm - floor(hm)) * (hi - lo), 6) AS value
    FROM a ORDER BY g, q
"""


# q238: C4 rule pack — planted line structure replayed literally;
# line keep = terminal punct + >=5 words + no 'javascript'; doc drop =
# lorem ipsum / curly brace / <1 sentence; one bigint/bigint division
ORACLES["q238_c4_rule_gate"] = """
    WITH t AS (
        SELECT source,
               concat(
                   text,
                   CASE WHEN doc_id % 3 = 0 THEN '.' ELSE '' END,
                   chr(10) || 'short line',
                   CASE WHEN doc_id % 89 = 0 THEN ' {' ELSE '' END,
                   chr(10),
                   CASE WHEN doc_id % 97 = 0 THEN 'Lorem ipsum dolor sit amet.'
                        WHEN doc_id % 83 = 0 THEN 'check the javascript console for details today.'
                        ELSE 'another plain line with seven words here.' END
               ) AS txt
        FROM documents
    ), f AS (
        SELECT source,
               len(list_filter(string_split(txt, chr(10)), l ->
                   (CASE WHEN length(trim(l)) = 0 THEN 0
                         ELSE len(regexp_split_to_array(trim(l), '\\s+')) END) >= 5
                   AND right(l, 1) IN ('.', '!', '?', '"')
                   AND NOT contains(lower(l), 'javascript')
               )) AS kept,
               len(regexp_extract_all(txt, '[.!?]')) AS sent,
               contains(lower(txt), 'lorem ipsum') AS lor,
               contains(txt, '{') AS brc,
               contains(lower(txt), 'javascript') AS js
        FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (kept >= 1 AND sent >= 1 AND NOT lor AND NOT brc) AS BIGINT) AS n_pass,
           CAST(count(*) FILTER (lor) AS BIGINT) AS n_lorem,
           CAST(count(*) FILTER (brc) AS BIGINT) AS n_brace,
           CAST(count(*) FILTER (js) AS BIGINT) AS n_js,
           CAST(sum(kept) AS BIGINT) AS kept_lines,
           round(sum(kept) / count(*), 6) AS avg_kept_lines
    FROM f GROUP BY source ORDER BY source
"""


# q239: semantic decontamination — clustering-free all-pairs
# restatement (the q89 argument: the planted construction provably
# loses no >=-threshold pair to the blocking)
ORACLES["q239_semantic_decontamination"] = """
    WITH b AS (
        SELECT vec_id AS bench_id,
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0) AS bv
        FROM embeddings WHERE vec_id % 37 = 0
    ), c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), p AS (
        SELECT c.vec_id, b.bench_id,
               round(list_cosine_similarity(c.v, b.bv), 4) AS cos
        FROM c CROSS JOIN b
        WHERE round(list_cosine_similarity(c.v, b.bv), 4) >= 0.95
    )
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
           min(bench_id) AS bench_id, max(cos) AS max_cos
    FROM p GROUP BY vec_id ORDER BY vec_id
"""


# q240: TTL dedup batch contract — gaps-and-islands island STARTS
# (q42's pattern, emitting rows instead of aggregates); >= on the
# exact day-time interval, the q42 boundary convention
ORACLES["q240_ttl_dedup_replay"] = """
    WITH e AS (
        SELECT user_id, event_id, ts
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), l AS (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM e
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts
    FROM l
    WHERE prev_ts IS NULL OR ts - prev_ts >= INTERVAL 30 MINUTE
"""


# q244: truncation fidelity — both rankings cut on the ROUNDED cosine
# with id tiebreak (identical cross-engine), overlap is a 20-row join
ORACLES["q244_truncation_fidelity"] = """
    WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
    ), tf AS (
        SELECT vec_id FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.v), 4) DESC,
                 vec_id ASC
        LIMIT 20
    ), tp AS (
        SELECT vec_id FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY round(list_cosine_similarity(
                     list_slice(CAST(embedding AS DOUBLE[]), 1, 16),
                     list_slice(q.v, 1, 16)), 4) DESC,
                 vec_id ASC
        LIMIT 20
    )
    SELECT CAST(16 AS BIGINT) AS prefix_dims, CAST(20 AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_overlap,
           round(count(*) / 20.0, 4) AS overlap_frac
    FROM tf JOIN tp USING (vec_id)
"""

# q247: t-closeness — dense class x support grid; EMD = sum|cumP-cumQ|
# / (m-1) in the identical window order; tvd = sum|p-q|/2
ORACLES["q247_t_closeness"] = """
    WITH j AS (
        SELECT n.n_name, o.o_orderpriority AS sv
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderpriority IS NOT NULL
    ), tot AS (SELECT count(*) AS tn FROM j),
    support AS (
        SELECT sv, count(*) / (SELECT tn FROM tot) AS q,
               sum(count(*) / (SELECT tn FROM tot))
                   OVER (ORDER BY sv ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumq
        FROM j GROUP BY sv
    ), m AS (SELECT count(*) AS m FROM support),
    sizes AS (SELECT n_name, count(*) AS n FROM j GROUP BY n_name),
    cells AS (SELECT n_name, sv, count(*) AS ncv FROM j GROUP BY 1, 2),
    grid AS (
        SELECT s.n_name, s.n, sup.sv, sup.q, sup.cumq,
               coalesce(c.ncv, 0) / s.n AS p
        FROM sizes s CROSS JOIN support sup
        LEFT JOIN cells c ON c.n_name = s.n_name AND c.sv = sup.sv
    ), cum AS (
        SELECT *, sum(p) OVER (PARTITION BY n_name ORDER BY sv
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cump
        FROM grid
    )
    SELECT n_name, CAST(max(n) AS BIGINT) AS n,
           round(sum(abs(cump - cumq)) / ((SELECT m FROM m) - 1), 6) AS emd,
           round(sum(abs(p - q)) / 2, 6) AS tvd,
           round(sum(abs(cump - cumq)) / ((SELECT m FROM m) - 1), 6) <= 0.1 AS t_ok
    FROM cum GROUP BY n_name ORDER BY n_name
"""

# q246: dup-inflation ledger — gram-free exact-fingerprint accounting;
# copies share the token count so max-per-fp is the exact dedup sum
ORACLES["q246_dup_inflation_report"] = """
    WITH d AS (
        SELECT source,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
               len(list_filter(string_split_regex(trim(text), '\\s+'),
                               x -> x <> '')) AS tok
        FROM documents
    ), per_fp AS (
        SELECT source, fp, count(*) AS n_copies,
               sum(tok) AS tok_all, max(tok) AS tok_rep
        FROM d GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(n_copies) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(tok_all) AS BIGINT) AS n_tokens,
           CAST(sum(tok_rep) AS BIGINT) AS n_tokens_dedup,
           round(1.0 - count(*) / sum(n_copies), 6) AS doc_dup_frac,
           round(1.0 - sum(tok_rep) / sum(tok_all), 6) AS token_dup_frac
    FROM per_fp GROUP BY source ORDER BY source
"""

# q245: exact stratified sample — identical md5-fraction ranking with
# raw-key tiebreak, rank <= n
ORACLES["q245_stratified_exact_sample"] = """
    WITH keyed AS (
        SELECT o_orderpriority, o_orderkey,
               CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '#42'), 1, 8)) AS BIGINT)
                   / 4294967296.0 AS u
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderkey IS NOT NULL
    ), ranked AS (
        SELECT o_orderpriority, o_orderkey,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY u, o_orderkey) AS sample_rank
        FROM keyed
    )
    SELECT o_orderpriority, o_orderkey, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM ranked WHERE sample_rank <= 25
    ORDER BY o_orderpriority, sample_rank
"""

# q243: Good-Turing unseen mass — integer type-frequency statistics,
# one bigint/bigint division
ORACLES["q243_good_turing_mass"] = """
    WITH t AS (
        -- list_filter drops the [''] a blank/whitespace-only document
        -- yields, matching the engine's empty-dropping tokens_ws
        SELECT source,
               unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ), c AS (
        SELECT source, term, count(*) AS c FROM t GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(count(*) FILTER (c = 1) AS BIGINT) AS n1_singletons,
           CAST(count(*) FILTER (c = 2) AS BIGINT) AS n2_doubletons,
           round(count(*) FILTER (c = 1) / sum(c), 6) AS p0_unseen_mass
    FROM c GROUP BY source ORDER BY source
"""

# q242: average precision — sklearn step convention over distinct
# scores descending; term arithmetic in one fixed op order
# ((pos * cum_pos) / cum_tie), exact below 2^53, rounded once at 6
ORACLES["q242_average_precision"] = (
    _CLASSIFIER_SCORED_SQL
    + """
    , pts AS (
        SELECT score, count(*) AS tie_n, sum(y) AS pos_n
        FROM sc WHERE score IS NOT NULL AND y IS NOT NULL
        GROUP BY score
    ), c AS (
        SELECT tie_n, pos_n,
               sum(tie_n) OVER (ORDER BY score DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tie,
               sum(pos_n) OVER (ORDER BY score DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
        FROM pts
    )
    SELECT CAST(sum(pos_n) AS BIGINT) AS n_pos,
           CAST(sum(tie_n) AS BIGINT) AS n,
           round(sum(pos_n * cum_pos / cum_tie) / sum(pos_n), 6) AS ap
    FROM c
"""
)

# q241: containment near-dup — gram-string replay of the fingerprint
# pipeline (q90's collision argument); same stop-gram rule and
# kept-gram denominators as the operator
ORACLES["q241_containment_neardup"] = """
    WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 20000000 AS doc_id,
               array_to_string(list_slice(
                   regexp_split_to_array(trim(text), '\\s+'), 1, 40), ' ') AS text
        FROM documents
        WHERE doc_id % 7 = 0
          AND len(regexp_split_to_array(trim(text), '\\s+')) >= 48
    ), t AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM base
    ), e AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS pos
        FROM t WHERE len(toks) >= 8
    ), g0 AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, pos, pos + 7), ' ') AS gram
        FROM e
    ), stop AS (
        SELECT gram FROM g0 GROUP BY gram HAVING count(*) > 1000
    ), kept AS (
        SELECT * FROM g0 WHERE gram NOT IN (SELECT gram FROM stop)
    ), sizes AS (
        SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
        FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
           round(n_common / sa.sz, 4) AS containment_a,
           round(n_common / sb.sz, 4) AS containment_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(round(n_common / sa.sz, 4), round(n_common / sb.sz, 4)) >= 0.9
"""


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
