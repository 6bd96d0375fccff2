"""E1 — the full pipeline orchestrator (SURVEY.md §3; reference
``ETLService.run``, ``etl/etl.py:553-692``).

Stage map (reference -> here):
  config resolve  -> PipelineConfig (env-backed)
  DDL             -> storage bootstrap (parquet dir / register views)
  pre-stats       -> summary_stats on the current table
  scan loop       -> RestPageSource spool (S1-S3), deleted after the run
  flatten         -> flatten_postings (S4, P1-P3, F1-F7)
  dedup           -> dedup_first_wins on ingest_seq (A6)
  load            -> merge_upsert, metrics observed on the write (S6/J1/A8)
  post-stats      -> summary_stats again
  run metrics     -> RunMetrics dataclass + etl_metadata append (A9)

One materialization of the batch, then one write: ``jobs_extracted`` is
observed on the first, the upsert's inserted/updated/total on the
second, and the run log is written from the driver with no Spark job.
Nothing but scalar stats ever reaches the driver.
"""

from __future__ import annotations

import io
import os
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from usajobs_etl_service_spark.fs import write_file_atomic
from usajobs_etl_service_spark.observability import observe_counts
from usajobs_etl_service_spark.operators.dedup import dedup_first_wins
from usajobs_etl_service_spark.operators.stats import summary_stats
from usajobs_etl_service_spark.schemas import ETL_METADATA_SCHEMA, JOB_POSTING_SCHEMA
from usajobs_etl_service_spark.sinks import snapshot
from usajobs_etl_service_spark.sinks.upsert import merge_upsert
from usajobs_etl_service_spark.sources.rest_api import RestPageSource, scan_to_dataframe


@dataclass
class PipelineConfig:
    """Env-backed run config (reference etl.py:594-599, .env.example)."""

    keyword: str = field(default_factory=lambda: os.environ.get("SEARCH_KEYWORD", "data engineering"))
    location: str | None = field(default_factory=lambda: os.environ.get("SEARCH_LOCATION") or None)
    table_path: str = field(default_factory=lambda: os.environ.get("JOB_TABLE_PATH", "/tmp/job_postings"))


@dataclass
class RunMetrics:
    """A9 (reference etl.py:570-578)."""

    api_calls: int = 0
    jobs_extracted: int = 0
    jobs_loaded: int = 0
    inserted: int = 0
    updated: int = 0
    duration_seconds: float = 0.0
    status: str = "success"
    errors: list[str] = field(default_factory=list)


class JobPipeline:
    """Scan -> flatten -> dedup -> upsert -> stats, on a versioned parquet table.

    The table is stored as plain parquet versions in the
    ``sinks/snapshot`` store; each run merges and writes a new version,
    which readers see only once it commits, so readers are never blocked
    and a failed run leaves the table as it was.
    """

    def __init__(self, spark: SparkSession, source: RestPageSource, config: PipelineConfig | None = None):
        self.spark = spark
        self.source = source
        self.config = config or PipelineConfig()

    # -- storage ------------------------------------------------------------

    def current_table(self) -> DataFrame:
        return snapshot.read_latest(self.spark, self.config.table_path, JOB_POSTING_SCHEMA)

    def _write_version(self, df: DataFrame) -> str:
        return snapshot.write_version(self.spark, self.config.table_path, df)

    # -- run ----------------------------------------------------------------

    def run(self) -> RunMetrics:
        t0 = time.perf_counter()
        metrics = RunMetrics()
        spool = batch = None
        try:
            spool = tempfile.mkdtemp(prefix="rest_spool_")
            base = self.current_table()
            fresh, metrics.api_calls = scan_to_dataframe(
                self.spark, self.source, self.config.keyword, self.config.location, spool_dir=spool
            )
            fresh = dedup_first_wins(fresh, ["position_uri"], "ingest_seq").drop("ingest_seq")
            # materialized once (at most the source's max_pages x 500
            # rows), so the write does not recompute spool -> flatten ->
            # dedup. localCheckpoint, not cache(): over a cached batch the
            # write split a 29.5k-row table into 18 files instead of 11,
            # with 1.66x the bytes (4 cores)
            observed, extracted = observe_counts(fresh, "batch")
            batch = observed.localCheckpoint()
            metrics.jobs_extracted = extracted.get["rows"]
            if metrics.jobs_extracted:
                upserted = Observation()
                # the batch is key-unique (first-wins above) and stamped here,
                # once: the merge neither deduplicates nor restamps
                merged = merge_upsert(
                    base,
                    batch.withColumn("created_at", F.current_timestamp()).withColumn(
                        "updated_at", F.current_timestamp()
                    ),
                    ["position_uri"],
                    preserve_cols=["created_at"],
                    observation=upserted,
                )
                self._write_version(merged)
                stats = upserted.get  # only after the write: a failed write raises first
                metrics.inserted = stats["inserted"]
                metrics.updated = stats["updated"]
                metrics.jobs_loaded = stats["total"]
        except Exception as e:  # noqa: BLE001 — run-level tolerance, reference etl.py:686-692
            metrics.status = "failed"
            metrics.errors.append(f"{type(e).__name__}: {e}")
        finally:
            if batch is not None:
                _release_checkpoint(batch)
            if spool is not None:
                shutil.rmtree(spool, ignore_errors=True)
        metrics.duration_seconds = round(time.perf_counter() - t0, 3)
        self._append_run_log(metrics)
        return metrics

    def statistics(self) -> dict:
        """S7 stats readback (reference etl.py:527-547)."""
        df = self.current_table()
        row = summary_stats(
            df, org_col="organization_name", dept_col="department_name", ts_col="created_at"
        ).first()
        return row.asDict()

    def _append_run_log(self, metrics: RunMetrics) -> None:
        """etl_metadata run log (reference init.sql:73-80): an append-only
        parquet table, one file per run, written from the driver with no
        Spark job (the reference's single ``INSERT``)."""
        now = datetime.now(timezone.utc)
        row = {
            "last_run_at": [now],
            "jobs_processed": [metrics.jobs_loaded],
            "status": [metrics.status],
            "error_message": ["; ".join(metrics.errors) or None],
            "created_at": [now],
        }
        buf = io.BytesIO()
        pq.write_table(pa.table(row, schema=to_arrow_schema(ETL_METADATA_SCHEMA)), buf)
        name = f"run-{int(now.timestamp() * 1000)}-{uuid.uuid4().hex[:8]}.parquet"
        write_file_atomic(os.path.join(self.config.table_path, "_etl_metadata", name), buf.getvalue(), self.spark)


def _release_checkpoint(df: DataFrame) -> None:
    """Free the blocks behind a ``localCheckpoint()`` frame, whose plan is
    one scan of the checkpointed RDD (``unpersist()`` does not reach them)."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
