"""The repository benchmark: one closed-loop client on one local Spark
session, driving one workload through the engine's public entry points.

    python3 perfbench/run.py --workload etl_upsert_large --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload analytics_mix --smoke   # tiny sizes

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layer entry points in spans and prints the per-layer metrics
(every other warm cycle runs untraced, which gives the tracing
overhead). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Workloads and the
layer -> metric map are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import MIX_QUERIES, READS, WORKLOADS, dir_stats  # noqa: E402

# One run of each workload must fit, with its JVM start and cold cycle,
# in about a minute on 4 cores (see README.md). warm_cycles are the
# sampled cycles (passes of the mix): every run takes the same number of
# latency samples.
FULL = {
    "etl_daily": {"cycle_pages": 20, "warm_cycles": 3, "read_rounds": 3},
    "etl_upsert_large": {"backfill_pages": 60, "cycle_pages": 2, "warm_cycles": 2, "read_rounds": 4},
    "analytics_mix": {"sf": "sf0.01", "warm_cycles": 1},
}
SMOKE = {
    "etl_daily": {"cycle_pages": 2, "warm_cycles": 1, "read_rounds": 1},
    "etl_upsert_large": {"backfill_pages": 4, "cycle_pages": 2, "warm_cycles": 1, "read_rounds": 1},
    "analytics_mix": {"sf": "sf0.001", "warm_cycles": 1, "queries": 2},
}

# Gated end-to-end metrics: name -> unit. Times and throughput are
# CPU seconds of the whole process tree (client, JVM, Python workers;
# see CpuMeter), which CPU steal on a shared host does not inflate;
# wall-time figures are on the info line. Operation latency is gated as
# a mean: the ops are a fixed mix of five reads or 24 queries, so a
# median or tail order statistic jumps between the ops it falls on.
E2E = {
    "setup_s": "s",
    "cold_cycle_cpu_s": "s",
    "cycle_cpu_s": "s",
    "ingest_rows_per_cpu_s": "1/s",
    "op_cpu_s.mean": "s",
    "peak_rss_mb": "MB",
    "storage_bytes_per_row": "bytes",
}

TRACE_TARGETS = [  # (module, attribute, span name)
    ("usajobs_etl_service_spark.session", "read_table", "session.read_table"),
    ("usajobs_etl_service_spark.sources.rest_api", "scan_to_dataframe", "rest_api.scan"),
    ("usajobs_etl_service_spark.sources.rest_api", "spool_pages_to_json", "rest_api.spool"),
    ("usajobs_etl_service_spark.sources.ingest", "flatten_postings", "ingest.flatten"),
    ("usajobs_etl_service_spark.operators.dedup", "dedup_first_wins", "dedup.dedup"),
    ("usajobs_etl_service_spark.sinks.upsert", "upsert_stats", "upsert.stats"),
    ("usajobs_etl_service_spark.sinks.upsert", "merge_upsert", "upsert.merge_build"),
    ("usajobs_etl_service_spark.pipeline", "JobPipeline.current_table", "pipeline.current_table"),
    ("usajobs_etl_service_spark.pipeline", "JobPipeline._write_version", "pipeline.write_version"),
    ("usajobs_etl_service_spark.pipeline", "JobPipeline._append_run_log", "pipeline.run_log"),
]
CYCLE_SPANS = {  # per-layer time metric -> span name, summed per cycle
    "session.read_table_s": "session.read_table",
    "rest_api.spool_s": "rest_api.spool",
    "ingest.flatten_s": "ingest.flatten",
    "dedup.dedup_s": "dedup.dedup",
    "upsert.stats_s": "upsert.stats",
    "upsert.merge_build_s": "upsert.merge_build",
    "pipeline.count_s": "pipeline.count",
    "pipeline.write_version_s": "pipeline.write_version",
    "pipeline.run_log_s": "pipeline.run_log",
    "pipeline.current_table_s": "pipeline.current_table",
}
CYCLE_COUNTS = [  # per-layer counts recorded by the ETL workloads, median per cycle
    "rest_api.pages",
    "rest_api.transport_calls",
    "rest_api.spool_bytes",
    "ingest.items_in",
    "ingest.rows_valid",
    "ingest.valid_ratio",
    "dedup.rows_out",
    "dedup.kept_ratio",
    "upsert.inserted",
    "upsert.updated",
    "pipeline.rows_written",
    "pipeline.bytes_written",
    "pipeline.files_written",
    "pipeline.write_amplification",
    "pipeline.bytes_per_row",
]


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in print order."""
    names = {"session.start_s": "s", "session.read_table_calls": "count"}
    names.update({k: "s" for k in CYCLE_SPANS})
    for k in CYCLE_COUNTS:
        names[k] = "ratio" if k.endswith(("_ratio", "_amplification")) else "bytes" if "bytes" in k else "count"
    names["rest_api.spool_bytes_leaked"] = "bytes"
    names["pipeline.versions_on_disk"] = "count"
    names.update({f"read.{r}_s": "s" for r in READS})
    for q in MIX_QUERIES:
        names[f"query.{q}.build_s"] = "s"
        names[f"query.{q}.exec_s"] = "s"
    names.update({"query.build_jobs": "count", "query.exec_jobs": "count"})
    names.update({"query.shuffle_write_bytes": "bytes", "query.spill_bytes": "bytes"})
    names.update({"cycle.spark_jobs": "count", "cycle.spark_tasks": "count"})
    names.update({"cycle.shuffle_write_bytes": "bytes", "cycle.spill_bytes": "bytes"})
    names.update({"trace.overhead_ratio": "ratio", "trace.cycle_coverage": "ratio", "bench.generator_s": "s"})
    return names


class CpuMeter:
    """CPU seconds (user plus system, reaped children included) of this
    process and all its descendants: the JVM and the Python workers. The
    JVM's JIT compiler threads are left out: compilation runs in the
    background and lands on whichever operation happens to be running."""

    def __init__(self):
        self.root = os.getpid()
        self.tick = os.sysconf("SC_CLK_TCK")
        self.compilers: list[str] | None = None  # /proc paths of the JIT threads

    @staticmethod
    def _stat(path: str) -> tuple[str, list[str]]:
        with open(path) as f:
            st = f.read()
        return st[st.index("(") + 1 : st.rindex(")")], st[st.rindex(")") + 2 :].split()

    def __call__(self) -> float:
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    procs[int(d)] = self._stat(f"/proc/{d}/stat")
                except OSError:
                    pass
        total, jvm = 0, None
        for pid, (comm, f) in procs.items():
            p = pid
            while p and p != self.root:
                p = int(procs[p][1][1]) if p in procs else 0
            if p == self.root:
                total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
                jvm = pid if comm == "java" else jvm
        if self.compilers is None and jvm is not None:
            tasks = f"/proc/{jvm}/task"
            self.compilers = [
                f"{tasks}/{t}/stat" for t in os.listdir(tasks) if self._stat(f"{tasks}/{t}/stat")[0].startswith(("C1 Comp", "C2 Comp"))
            ]
        for path in self.compilers or []:
            try:
                total -= sum(int(x) for x in self._stat(path)[1][11:13])
            except OSError:  # the JVM has exited
                pass
        return total / self.tick


def cpu_steal() -> tuple[int, int]:
    """(steal, total) ticks of this machine's CPUs since boot: time the
    hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Context:
    def __init__(self, args, scratch: str):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.corrupt = args.corrupt
        self.scratch = scratch
        self.tmpdir = os.path.join(scratch, "tmp")
        self.spark = None
        self.tracer = None
        self.cpu = CpuMeter()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile that has at
    least ten samples beyond it, and never below the median."""
    s = sorted(xs)
    n = len(s)
    i = max(n - 11, (n - 1) // 2)
    return s[i], 100.0 * (i + 1) / n, n


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def source_digest() -> str:
    """Commit id when run from a git checkout, else a digest of the
    engine sources."""
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(path):
                return open(path).read().strip()
        return ref
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "usajobs_etl_service_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(open(os.path.join(dirpath, f), "rb").read())
    h.update(open(os.path.join(ROOT, "__spark_entry__.py"), "rb").read())
    return "src-" + h.hexdigest()[:12]


def start_spark(ctx: Context):
    from usajobs_etl_service_spark.session import get_spark

    # a fixed set of JIT compiler threads, so the CPU meter can leave them out
    java_opts = f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={ctx.tmpdir} -Dderby.system.home={ctx.scratch}"
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(ctx.scratch, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def install_tracing(ctx: Context) -> None:
    import tracing

    import __spark_entry__  # noqa: F401 — loaded first so its by-name imports get wrapped too
    from usajobs_etl_service_spark import pipeline

    tracing.install(ctx.tracer, TRACE_TARGETS)
    # the pipeline counts the deduplicated batch inline in run(); give
    # that count() its own span
    dedup = pipeline.dedup_first_wins

    def dedup_then_traced_count(*args, **kwargs):
        df = dedup(*args, **kwargs)
        df.count = ctx.tracer.wrap("pipeline.count", df.count)
        return df

    pipeline.dedup_first_wins = dedup_then_traced_count


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def remove_scratch(scratch: str) -> None:
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(scratch))  # when no other run is using it
    except OSError:
        pass


def layer_metrics(w, ctx: Context, session_start: float, leaked: int, versions: int) -> dict[str, float]:
    tr = ctx.tracer
    res = w.res
    warm = [sp for i, sp in res.cycle_spans if i > 0] or [sp for _, sp in res.cycle_spans]
    out = {k: 0.0 for k in per_layer_names()}
    out["session.start_s"] = session_start
    out["session.read_table_calls"] = median([len(tr.by_name("session.read_table", c)) for c in warm])
    for metric, span in CYCLE_SPANS.items():
        out[metric] = median([sum(s.seconds for s in tr.by_name(span, c)) for c in warm])
    for k in CYCLE_COUNTS:
        out[k] = median(res.counts.get(k, [])[1:] or res.counts.get(k, []))
    out["rest_api.spool_bytes_leaked"] = leaked
    out["pipeline.versions_on_disk"] = versions
    for sp_name in {s.name for s in tr.spans.values() if s.name.startswith("read.")}:
        out[f"{sp_name}_s"] = median([s.seconds for s in tr.by_name(sp_name)])
    for q, samples in getattr(w, "per_query", {}).items():
        traced = [(b, e) for b, e, t in samples if t] or [(b, e) for b, e, _ in samples]
        out[f"query.{q}.build_s"] = median([b for b, _ in traced])
        out[f"query.{q}.exec_s"] = median([e for _, e in traced])
    if hasattr(w, "per_query") and warm:
        builds = [tr.spark_counters(tr.by_name("build", c)) for c in warm]
        execs = [tr.spark_counters(tr.by_name("exec", c)) for c in warm]
        out["query.build_jobs"] = median([b["spark_jobs"] for b in builds])
        out["query.exec_jobs"] = median([e["spark_jobs"] for e in execs])
        out["query.shuffle_write_bytes"] = median([e["shuffle_write_bytes"] for e in execs])
        out["query.spill_bytes"] = median([e["spill_bytes"] for e in execs])
    if warm:
        counters = [tr.spark_counters([c, *tr.descendants(c)]) for c in warm]
        for k in ("spark_jobs", "spark_tasks", "shuffle_write_bytes", "spill_bytes"):
            out[f"cycle.{k}"] = median([c[k] for c in counters])
        out["trace.cycle_coverage"] = median(
            [sum(tr.spans[ch].seconds for ch in c.children) / c.seconds for c in warm]
        )
    traced = [t for t, on in zip(res.cycles_cpu[1:], res.traced[1:]) if on]
    untraced = [t for t, on in zip(res.cycles_cpu[1:], res.traced[1:]) if not on]
    if traced and untraced:
        out["trace.overhead_ratio"] = median(traced) / median(untraced) - 1.0
    out["bench.generator_s"] = w.gen_seconds
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(FULL))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes; for the benchmark's own tests")
    ap.add_argument("--corrupt", action="store_true", help="perturb the expected results, to show the checks catch it")
    args = ap.parse_args(argv)

    sizes = (SMOKE if args.smoke else FULL)[args.workload]
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    scratch = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Context(args, scratch)
    os.makedirs(ctx.tmpdir, exist_ok=True)
    os.environ["TMPDIR"] = ctx.tmpdir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    tempfile.tempdir = None
    # python workers must import the engine (pickled functions)
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    sys.path.insert(0, ROOT)
    load_start = os.getloadavg()[0]
    steal_start = cpu_steal()

    spark = None
    try:
        import pyspark

        from tracing import Tracer

        t0, c0 = time.perf_counter(), ctx.cpu()
        spark = ctx.spark = start_spark(ctx)
        session_start = time.perf_counter() - t0
        ctx.tracer = Tracer(spark, enabled=False)
        if ctx.trace:
            install_tracing(ctx)
        w = WORKLOADS[args.workload](ctx, sizes)
        w.setup()
        setup_s = ctx.cpu() - c0 - w.gen_seconds
        setup_wall = time.perf_counter() - t0 - w.gen_seconds
        w.cycle(traced=ctx.trace, cold=True)
        sampled = sizes["warm_cycles"]
        t_window = time.perf_counter()
        n = 0
        while n < sampled or time.perf_counter() - t_window < args.seconds:
            n += 1
            w.cycle(traced=ctx.trace and n % 2 == 1, sample=n <= sampled)
        w.check()

        res = w.res
        peak_mb = (vm_hwm_kb(jvm_pid()) + vm_hwm_kb("self")) / 1024.0
        java_version = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        spools = [d for d in os.listdir(ctx.tmpdir) if d.startswith("rest_spool_")]
        leaked = sum(dir_stats(os.path.join(ctx.tmpdir, d))[0] for d in spools)
        table = getattr(w, "table_path", None)
        versions = len([d for d in os.listdir(table) if d.startswith("v=")]) if table else 0
        storage = dir_stats(w.data_path)[0]
        layers = layer_metrics(w, ctx, session_start, leaked, versions) if ctx.trace else {}
    except Exception as e:  # noqa: BLE001 — no result line when the run itself breaks
        import traceback

        traceback.print_exc()
        print(f"perfbench: run failed: {type(e).__name__}: {e}", file=sys.stderr)
        if spark is not None:
            stop_spark(spark)
        remove_scratch(scratch)
        return 2

    stop_spark(spark)
    remove_scratch(scratch)

    op_tail, op_pct, op_n = tail(res.ops_cpu)
    op_mean = statistics.fmean(res.ops_cpu)
    # rows a warm cycle takes in: the postings it extracts (ETL), or the
    # rows of the tables the mix runs on
    rows_in = median(res.rows_extracted[1:]) if res.rows_extracted else w.data_rows
    e2e = {
        "setup_s": setup_s,
        "cold_cycle_cpu_s": res.cycles_cpu[0],
        "cycle_cpu_s": median(res.cycles_cpu[1:]),
        "ingest_rows_per_cpu_s": rows_in / median(res.cycles_cpu[1:]),
        "op_cpu_s.mean": op_mean,
        "peak_rss_mb": peak_mb,
        "storage_bytes_per_row": storage / w.data_rows,
    }
    wall = {  # the same figures in wall time: reported, not gated
        "setup_s": setup_wall,
        "cold_cycle_s": res.cycles[0],
        "cycle_s": median(res.cycles[1:]),
        "ingest_rows_per_s": rows_in / median(res.cycles[1:]),
        "op_s.mean": statistics.fmean(res.ops),
        "op_s.p50": median(res.ops),
        "op_s.tail": tail(res.ops)[0],
    }
    error_rate = res.failed / max(1, res.attempted)
    steal_end = cpu_steal()
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sizes": sizes,
        "error_rate": error_rate,
        "errors": res.errors,
        "end_to_end": e2e,
        "op_cpu_s.p50": median(res.ops_cpu),
        "op_cpu_s.tail": op_tail,
        "wall": wall,
        "warm_cycles": len(res.cycles) - 1,
        "tail_percentile": op_pct,
        "op_samples": op_n,
        "generator_s": w.gen_seconds,
        "spool_bytes_leaked": leaked,
        "versions_on_disk": versions,
        "provenance": {
            "nproc": cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg()[0],
            "cpu_steal_share": (steal_end[0] - steal_start[0]) / max(1, steal_end[1] - steal_start[1]),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": java_version,
            "source": source_digest(),
        },
    }
    print(json.dumps(info))
    if ctx.trace:
        units = per_layer_names()
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(v), "unit": E2E[k]} for k, v in e2e.items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
