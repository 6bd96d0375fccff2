"""The benchmark's three workloads, driven through the engine's public
entry points (``JobPipeline``, the read helpers, the query registry).

Each workload has a ``setup`` (timed as part of ``setup_s``), a
``cycle`` (one daily ETL run, or one pass of the query mix) and
correctness checks: after every ETL cycle, against the fake API's model,
and once per run, untimed, for the mix's oracles. A cycle called with
``sample=True`` also records operation latencies (reads or queries); the
run samples a fixed number of cycles, so every run has the same number of
samples. Timings and correctness outcomes go to ``Results``; spans go to
the tracer when tracing is on.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from dataclasses import dataclass, field

from fakeapi import FakeUsajobsApi, uri_of

# the query mix: the reference surface plus the heavy operators
MIX_QUERIES = [
    "q01_job_statistics",
    "q02_metric_union",
    "q03_group_counts",
    "q04_top_k_recent",
    "q05_dedup_first_wins",
    "q06_dedup_exact_fingerprint",
    "q07_recent_view",
    "q08_like_prefix",
    "q09_key_lookup",
    "q10_location_render",
    "q11_remuneration_render",
    "q12_date_parse",
    "q13_text_search",
    "q14_join_star",
    "q15_anti_join",
    "q16_upsert_merge",
    "q17_merge_metrics",
    "q32_monitor_display",
    "q34_views_layer",
    "q37_rest_scan_pipeline",
    "q20_flatten_ingest",
    "q24_minhash_near_dup",
    "q36_ivf_ann",
    "q199_khop_reach",
]
# no SQL oracle: checked for an identical result across two executions
HASH_CHECKED = {"q24_minhash_near_dup", "q36_ivf_ann"}
READS = ["statistics", "key_lookup", "recent_view", "group_counts", "title_search"]
SEARCH = "data engineer"


@dataclass
class Results:
    cycles: list[float] = field(default_factory=list)  # seconds; [0] is the cold one
    ops: list[float] = field(default_factory=list)  # read / query latencies, seconds
    cycles_cpu: list[float] = field(default_factory=list)  # CPU seconds of the process tree, per cycle
    ops_cpu: list[float] = field(default_factory=list)  # CPU seconds of the process tree, per op
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    rows_extracted: list[int] = field(default_factory=list)  # per cycle
    traced: list[bool] = field(default_factory=list)  # per cycle
    cycle_spans: list = field(default_factory=list)  # (cycle index, span) when traced
    counts: dict[str, list[float]] = field(default_factory=dict)  # per-cycle layer counts

    def outcome(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(value)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class Workload:
    def __init__(self, ctx, sizes: dict):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.sizes = sizes
        self.res = Results()
        self.gen_seconds = 0.0  # CPU seconds spent generating inputs, kept out of setup_s
        self.data_path = ""  # where the workload's table data lives
        self.data_rows = 0  # rows under data_path, known at the end of the run

    def span(self, name: str):
        return self.tracer.span(name)

    def check(self) -> None:
        """Runs once, untimed, after the last cycle."""


class EtlWorkload(Workload):
    """Back-to-back ``JobPipeline.run()`` cycles against the fake API,
    each followed by rounds of five reads of the fresh table."""

    reuse = 0.6

    def __init__(self, ctx, sizes: dict):
        super().__init__(ctx, sizes)
        from usajobs_etl_service_spark.pipeline import JobPipeline, PipelineConfig
        from usajobs_etl_service_spark.sources.rest_api import RestPageSource, RetryPolicy

        self.api = FakeUsajobsApi(seed=ctx.seed, reuse=self.reuse)
        self.table_path = self.data_path = os.path.join(ctx.scratch, "job_postings")
        self.pages = sizes["cycle_pages"]
        self.source = RestPageSource(
            transport=self.api.transport,
            max_pages=max(self.pages, sizes.get("backfill_pages", 0)),
            retry=RetryPolicy(sleep=lambda s: None),
            sleep=lambda s: None,
        )
        self.pipe = JobPipeline(ctx.spark, self.source, PipelineConfig(table_path=self.table_path))
        self.rng = random.Random(ctx.seed + 1)

    def setup(self) -> None:
        pass

    def _spools(self) -> dict[str, int]:
        tmp = self.ctx.tmpdir
        return {d: dir_stats(os.path.join(tmp, d))[0] for d in os.listdir(tmp) if d.startswith("rest_spool_")}

    def run_once(self, n_pages: int, traced: bool, record: bool = True) -> None:
        """One pipeline run over ``n_pages`` fresh pages, checked against
        the generator's model."""
        t0 = time.process_time()  # the generator is single-threaded Python
        exp = self.api.next_cycle(n_pages)
        self.gen_seconds += time.process_time() - t0
        if self.ctx.corrupt:
            exp.inserted += 1
        self.tracer.enabled = traced
        spools_before = set(self._spools())
        calls_before = self.api.transport_calls
        start_us = int(time.time() * 1_000_000)
        with self.span("cycle") as sp:
            t, c = time.perf_counter(), self.ctx.cpu()
            m = self.pipe.run()
            dt, dc = time.perf_counter() - t, self.ctx.cpu() - c
        self.tracer.enabled = self.ctx.trace
        ok = (
            m.status == "success"
            and m.jobs_extracted == exp.extracted
            and m.inserted == exp.inserted
            and m.updated == exp.updated
            and m.jobs_loaded == exp.extracted
        )
        detail = f"status={m.status} {m.errors[:1]} extracted={m.jobs_extracted}/{exp.extracted} "
        detail += f"inserted={m.inserted}/{exp.inserted} updated={m.updated}/{exp.updated} loaded={m.jobs_loaded}"
        if ok:
            ok, why = self._check_table(exp, start_us)
            detail += f" {why}"
        self.res.outcome(ok, f"cycle {self.api.cycle}: {detail}")
        if not record:
            return
        self.res.cycles.append(dt)
        self.res.cycles_cpu.append(dc)
        self.res.traced.append(traced)
        self.res.rows_extracted.append(m.jobs_extracted)
        if sp is not None:
            self.res.cycle_spans.append((len(self.res.cycles) - 1, sp))
        new_spools = {k: v for k, v in self._spools().items() if k not in spools_before}
        versions = sorted(d for d in os.listdir(self.table_path) if d.startswith("v="))
        v_bytes, v_files = dir_stats(os.path.join(self.table_path, versions[-1]))
        c = self.res.count
        c("rest_api.pages", n_pages)
        c("rest_api.transport_calls", self.api.transport_calls - calls_before)
        c("rest_api.spool_bytes", sum(new_spools.values()))
        c("ingest.items_in", exp.items)
        c("ingest.rows_valid", exp.valid)
        c("ingest.valid_ratio", exp.valid / exp.items)
        c("dedup.rows_out", m.jobs_extracted)
        c("dedup.kept_ratio", m.jobs_extracted / exp.valid)
        c("upsert.inserted", m.inserted)
        c("upsert.updated", m.updated)
        c("pipeline.rows_written", exp.live_rows)
        c("pipeline.bytes_written", v_bytes)
        c("pipeline.files_written", v_files)
        c("pipeline.write_amplification", exp.live_rows / max(1, m.inserted + m.updated))
        c("pipeline.bytes_per_row", v_bytes / max(1, exp.live_rows))

    def _check_table(self, exp, start_us: int) -> tuple[bool, str]:
        """Last-writer-wins titles and preserved ``created_at`` on a
        seeded sample of this batch's keys plus some untouched keys."""
        from pyspark.sql import functions as F

        batch = sorted(exp.titles)
        sample = self.rng.sample(batch, min(150, len(batch)))
        untouched = [k for k in self.rng.sample(self.api.keys, min(200, len(self.api.keys))) if k not in exp.titles]
        sample += untouched[:50]
        new_keys = set(self.api.keys[len(self.api.keys) - exp.inserted :])
        rows = (
            self.pipe.current_table()
            .filter(F.col("position_uri").isin([uri_of(k) for k in sample]))
            .select("position_uri", "position_title", F.unix_micros("created_at").alias("c"))
            .collect()
        )
        got = {r[0]: (r[1], r[2]) for r in rows}
        if len(got) != len(sample) or len(rows) != len(sample):
            return False, f"sample rows {len(rows)}/{len(sample)}"
        for k in sample:
            title, created = got[uri_of(k)]
            if title != self.api.titles[k]:
                return False, f"title {k}: {title!r} != {self.api.titles[k]!r}"
            if k in exp.titles and (k in new_keys) != (created >= start_us):
                return False, f"created_at {k}: new={k in new_keys} created={created} start={start_us}"
        return True, "table ok"

    def reads(self) -> None:
        """The five fixed reads on ``current_table()``, each checked."""
        from pyspark.sql import functions as F

        from usajobs_etl_service_spark.functions.transforms import text_matches
        from usajobs_etl_service_spark.operators.stats import group_counts
        from usajobs_etl_service_spark.plans.views import recent_job_postings

        live = len(self.api.keys)
        key = self.rng.choice(self.api.keys)
        n_match = sum(1 for t in self.api.titles.values() if t.lower().startswith(SEARCH))

        def statistics():
            return self.pipe.statistics()["total_jobs"] == live

        def key_lookup():
            rows = (
                self.pipe.current_table()
                .filter(F.col("position_uri") == uri_of(key))
                .select("position_title")
                .collect()
            )
            return [r[0] for r in rows] == [self.api.titles[key]]

        def recent_view():
            return len(recent_job_postings(self.pipe.current_table()).limit(50).collect()) == min(50, live)

        def group_counts_read():
            rows = group_counts(self.pipe.current_table(), "organization_name").collect()
            return sum(r[-1] for r in rows) == live

        def title_search():
            df = self.pipe.current_table()
            return df.filter(text_matches(F.col("position_title"), SEARCH)).count() == n_match

        fns = {
            "statistics": statistics,
            "key_lookup": key_lookup,
            "recent_view": recent_view,
            "group_counts": group_counts_read,
            "title_search": title_search,
        }
        for name in READS:
            t, c = time.perf_counter(), self.ctx.cpu()
            try:
                with self.span(f"read.{name}"):
                    ok = fns[name]()
            except Exception as e:  # noqa: BLE001 — a failed read counts, the run goes on
                ok = False
                name = f"{name} {type(e).__name__}: {str(e)[:200]}"
            self.res.ops.append(time.perf_counter() - t)
            self.res.ops_cpu.append(self.ctx.cpu() - c)
            self.res.outcome(ok, f"read {name}")

    def cycle(self, traced: bool, cold: bool = False, sample: bool = False) -> None:
        self.run_once(self.pages, traced)
        if sample:
            self.tracer.enabled = traced
            for _ in range(self.sizes["read_rounds"]):
                self.reads()
            self.tracer.enabled = self.ctx.trace

    def check(self) -> None:
        self.data_rows = len(self.api.keys)


class EtlDaily(EtlWorkload):
    """Each run starts from an empty table; ~60% of a cycle's keys were
    seen in earlier cycles."""

    reuse = 0.6


class EtlUpsertLarge(EtlWorkload):
    """Set-up backfills a large table through one run; each cycle then
    ingests two pages, ~70% updates of backfilled keys."""

    reuse = 0.7

    def setup(self) -> None:
        self.run_once(self.sizes["backfill_pages"], traced=False, record=False)


class AnalyticsMix(Workload):
    """Passes over the registry queries in a seeded order on the fixed
    testdata, each query materialized to the noop sink, cache cleared
    between queries."""

    def __init__(self, ctx, sizes: dict):
        super().__init__(ctx, sizes)
        import __spark_entry__

        # the testdata scale factors sit side by side; the entry module
        # names the smallest one
        self.data_dir = self.data_path = os.path.join(os.path.dirname(__spark_entry__.SF0001), sizes["sf"])
        self.names = MIX_QUERIES[: sizes.get("queries", len(MIX_QUERIES))]
        self.rng = random.Random(ctx.seed)
        # (name -> list of (build_s, exec_s, traced))
        self.per_query: dict[str, list[tuple[float, float, bool]]] = {n: [] for n in self.names}
        self.cold_results: dict[str, tuple[list[str], list[tuple]]] = {}

    def setup(self) -> None:
        import pyarrow.parquet as pq

        import __spark_entry__
        from tools.verify_oracle import TABLES

        self.data_rows = sum(pq.ParquetFile(os.path.join(self.data_dir, f"{t}.parquet")).metadata.num_rows for t in TABLES)
        self.registry = __spark_entry__.queries()

    def cycle(self, traced: bool, cold: bool = False, sample: bool = False) -> None:
        """One pass. The cold pass collects each result for the oracle
        check instead of writing it to the noop sink."""
        order = list(self.names)
        self.rng.shuffle(order)
        self.tracer.enabled = traced
        spent_cpu = 0.0
        spent = 0.0  # the pass time: build plus exec of each query, cache clearing excluded
        with self.span("cycle") as sp:
            for name in order:
                t, c = time.perf_counter(), self.ctx.cpu()
                what = f"query {name}"
                try:
                    with self.span(f"query.{name}"):
                        with self.span("build"):
                            df = self.registry[name](self.spark, self.data_dir)
                        b = time.perf_counter() - t
                        with self.span("exec"):
                            if cold:
                                self.cold_results[name] = (df.columns, [tuple(r) for r in df.collect()])
                            else:
                                df.write.format("noop").mode("overwrite").save()
                        e = time.perf_counter() - t - b
                    ok = True
                except Exception as exc:  # noqa: BLE001 — a failed query counts, the pass goes on
                    ok = False
                    what += f": {type(exc).__name__}: {str(exc)[:200]}"
                spent += time.perf_counter() - t
                dc = self.ctx.cpu() - c
                spent_cpu += dc
                self.res.outcome(ok, what)
                if ok and sample:
                    self.res.ops.append(b + e)
                    self.res.ops_cpu.append(dc)
                    self.per_query[name].append((b, e, traced))
                self.spark.catalog.clearCache()
        self.tracer.enabled = self.ctx.trace
        self.res.cycles.append(spent)
        self.res.cycles_cpu.append(spent_cpu)
        self.res.traced.append(traced)
        if sp is not None:
            self.res.cycle_spans.append((len(self.res.cycles) - 1, sp))
        if cold:  # checked before the warm passes, which gives the JIT compiler time to settle
            self.check_oracles()

    def check_oracles(self) -> None:
        """Once per run, untimed: each cold-pass result against its DuckDB
        oracle, normalized as ``tools/verify_oracle.compare`` does; the
        oracle-less queries must give the same result hash again."""
        import duckdb

        from tools.verify_oracle import TABLES, _norm_rows

        import __spark_entry__

        self.tracer.enabled = False
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        for name, (cols, rows) in sorted(self.cold_results.items()):
            if self.ctx.corrupt:
                rows = rows[1:]
            try:
                if name in HASH_CHECKED:
                    again = [tuple(r) for r in self.registry[name](self.spark, self.data_dir).collect()]
                    ok, why = bool(rows) and _digest(rows) == _digest(again), f"rows {len(rows)}/{len(again)}"
                else:
                    cur = con.execute(oracles[name])
                    want = _norm_rows([d[0] for d in cur.description], cur.fetchall())
                    got = _norm_rows(cols, rows)
                    ok, why = got == want, f"spark {len(got[1])} rows, oracle {len(want[1])} rows"
            except Exception as e:  # noqa: BLE001
                ok, why = False, f"{type(e).__name__}: {str(e)[:200]}"
            self.res.outcome(ok, f"oracle {name}: {why}")
            self.spark.catalog.clearCache()
        con.close()
        self.tracer.enabled = self.ctx.trace


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()


WORKLOADS = {"etl_daily": EtlDaily, "etl_upsert_large": EtlUpsertLarge, "analytics_mix": AnalyticsMix}
