"""Benchmark harness: run the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

stdout layout (tail-capture-safe; round-13 fix for the truncated
per-query dict — VERDICT r12 #1):

    line 1:     {"metric": "sum_query_seconds", ..., "queries": {...}}  (full, ~9 KB)
    lines 2..k: {"metric": "per_query_chunk", "i": N, "k": K, "q": {...}}  (< 2 KB each)
    line k+1:   {"metric": "per_query_ms", "n": N, "names_md5": ..., "t": [...]}  (~1.3 KB)
    last line:  {"metric": "sum_query_seconds", ...}  (compact headline, < 300 bytes)

The LAST line is the compact headline — log collectors that keep only
the tail of stdout always capture a complete, parseable JSON object.
The driver's tail capture keeps only ~2000 chars, which for three
rounds truncated the bulky per-query line off the front; the
``per_query_ms`` line (millisecond ints in registry order, name-list
md5 for safe reconstruction) plus the headline fit in ~1.6 KB, so ALL
per-query timings now survive even that capture, and the named chunk
lines reconstruct the full dict from any capture >= ~10 KB. Everything
is also persisted to BENCH_DETAIL.json next to this file.

Each query is materialized with the noop sink (full computation, no
driver collect). The headline value is the sum of per-query seconds;
``value_cold`` (round-13, VERDICT r12 #2) is the sum of each query's
FIRST execution — the per-execution cost a single-shot caller pays,
immune to the warm-repeat cache effect. ``spark.catalog.clearCache()``
runs between queries so no query's cold run silently reuses a sibling
query's persisted intermediates (the accidental cross-query cache
sharing VERDICT r12 called out); warm repeats of the SAME query keep
their intra-query persists — that reuse is the operator's own design.
Timing protocol (regression-grade, round-11): the first execution of
each query is the WARM-UP — it pays plan compile + codegen + cache
fill and is recorded separately (``cold_sec``), never mixed into the
headline number. Queries whose warm-up ran under 15 s then contribute
the MEDIAN OF 3 fully-warm repeats ({median,min,max,cold} per query in
BENCH_DETAIL.json); genuinely long queries keep their single (cold)
shot — their GC/codegen share is small and quadrupling them would
dominate wall-clock. A fixed sf-INDEPENDENT calibration probe (a
seeded range->shuffle->agg) is timed at suite start and end
(``calibration_sec_start/end``): two artifacts from differently-noisy
hosts can be compared on total/calibration ratios instead of raw
seconds (the round-10 lesson: 188 unchanged queries drifted +40% on
identical code purely from host noise). Any query slower than
10x the registry median (and > 5 s) is named in "slow_outliers" on the
headline line and flagged loudly on stderr — the round-7 q153 lesson.
Reference floors for context (BASELINE.md): upsert >50 rows/s, JSON
extract >100 rows/s, end-to-end >20 rows/s.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from usajobs_etl_service_spark.session import get_spark


def _bench_tmp_base() -> str:
    """Temp-dir base anchored to THIS file (never the CWD): a missing
    CWD-relative spark-warehouse silently nulled pq_warm_adc_probe_sec
    with no diagnostic (round-7 ADVICE)."""
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spark-warehouse")
    os.makedirs(base, exist_ok=True)
    return base


def materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def calibration_probe(spark) -> float:
    """Fixed, sf-independent reference workload: seeded range ->
    hash-keyed shuffle agg -> sort, materialized to noop. Its runtime
    moves with HOST noise (CPU contention, GC, thermal state), not
    with the engine under test, so total/calibration is comparable
    across artifacts measured on differently-noisy hosts. Timed twice
    per suite (start + end) to also expose WITHIN-run drift."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df = (
        spark.range(0, 20_000_000, 1, 32)
        .select((F.xxhash64("id") % 100_000).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .orderBy("k")
    )
    materialize(df)
    return round(time.perf_counter() - t0, 3)


def calibration_median(spark) -> dict:
    """Median-of-3 timed probes after one untimed warm-up (round-11
    VERDICT #7: the single probe shot was the noisier term of the
    same-day artifact pair — the probe earns its keep across HOSTS,
    so its own sample must be regression-grade too). Returns the
    median plus the raw runs for the BENCH_DETAIL spread record."""
    calibration_probe(spark)  # untimed warm-up (one-time codegen)
    runs = [calibration_probe(spark) for _ in range(3)]
    return {
        "median": sorted(runs)[1],
        "min": min(runs),
        "max": max(runs),
        "runs": runs,
    }


def stage_totals(spark, after_stage: int = -1) -> dict[str, int]:
    """Cumulative shuffle/spill bytes across all stages so far, via the
    UI REST API (the per-query delta is the query's own cost), plus the
    max per-stage peak execution memory among stages NEWER than
    ``after_stage`` (per-query peak attribution) and the latest stage
    id. Returns zeros if the UI is unavailable."""
    out = {
        "shuffle_write": 0,
        "shuffle_read": 0,
        "spilled_disk": 0,
        "peak_exec_mem_new": 0,
        "max_stage_id": after_stage,
    }
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return out
    import urllib.request

    try:
        app_id = spark.sparkContext.applicationId
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages", timeout=10) as r:
            for s in json.load(r):
                out["shuffle_write"] += s.get("shuffleWriteBytes", 0)
                out["shuffle_read"] += s.get("shuffleReadBytes", 0)
                out["spilled_disk"] += s.get("diskBytesSpilled", 0)
                sid = s.get("stageId", -1)
                out["max_stage_id"] = max(out["max_stage_id"], sid)
                if sid > after_stage:
                    out["peak_exec_mem_new"] = max(
                        out["peak_exec_mem_new"], s.get("peakExecutionMemory", 0)
                    )
    except Exception as _ex:
        print(f"bench: stage_totals UI fetch failed: {type(_ex).__name__}: {_ex}", file=sys.stderr)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench", extra_conf={"spark.ui.enabled": "true"})
    qs = entrymod.queries()
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        wanted = {q.strip() for q in only.split(",") if q.strip()}
        qs = {k: v for k, v in qs.items() if k in wanted}

    # warm the JVM + parquet footer caches once (not timed); the
    # calibration probe gets its own untimed warm-up inside
    # calibration_median, so the recorded start median is not polluted
    # by the probe's one-time codegen compile and stays comparable to
    # the end median
    entrymod.q01_job_statistics(spark, sf_dir).count()
    calibration_start = calibration_median(spark)

    timings: dict[str, float] = {}
    timing_spread: dict[str, dict[str, float]] = {}
    shuffle_mb: dict[str, float] = {}
    peak_mem_mb: dict[str, float] = {}
    before = stage_totals(spark)
    for name, fn in qs.items():
        # First execution is the WARM-UP: it pays one-time plan
        # compile + whole-stage codegen + parquet footer/cache fill.
        # It is timed (cold_sec in the spread detail) but NEVER enters
        # the headline median — the round-10 artifact mixed it in and
        # could not tell a regression from a cold-start draw.
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        cold = time.perf_counter() - t0
        if cold < 15.0:
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                materialize(fn(spark, sf_dir))
                runs.append(time.perf_counter() - t0)
        else:
            # genuinely long queries stay single-shot (GC/codegen share
            # is small; 4x-ing them would dominate wall-clock) — the
            # cold run IS the sample, flagged via runs=1
            runs = [cold]
        n_execs = 1 + (len(runs) if runs != [cold] else 0)
        timings[name] = round(sorted(runs)[len(runs) // 2], 3)
        timing_spread[name] = {
            "median": timings[name],
            "min": round(min(runs), 3),
            "max": round(max(runs), 3),
            "cold": round(cold, 3),
            "runs": len(runs),
        }
        after = stage_totals(spark, after_stage=before["max_stage_id"])
        # the stage delta spans every execution of this query
        # (warm-up included) -> per-execution share
        shuffle_mb[name] = round((after["shuffle_write"] - before["shuffle_write"]) / n_execs / 1e6, 2)
        peak_mem_mb[name] = round(after["peak_exec_mem_new"] / 1e6, 2)
        before = after
        # Release every persisted intermediate before the NEXT query
        # (VERDICT r12 #2): without this, Spark's CacheManager
        # plan-fingerprint matching silently serves one query's cold
        # run from a sibling query's cache (cross-query memoization the
        # bench must not measure), and a long run accumulates
        # MEMORY_AND_DISK blocks with no release point. Outside the
        # timed region; intra-query warm-repeat reuse is unaffected
        # (each query's own cold run re-populates its caches).
        try:
            spark.catalog.clearCache()
        except Exception as _ex:
            print(f"bench: clearCache failed: {type(_ex).__name__}: {_ex}", file=sys.stderr)
    calibration_end = calibration_median(spark)

    total = round(sum(timings.values()), 3)
    total_cold = round(sum(s["cold"] for s in timing_spread.values()), 3)

    # Time-regression tripwire (round-7 lesson: q153 shipped at 385 s —
    # 64% of the whole bench — and nothing screamed). Any query slower
    # than 10x the registry median AND over an absolute 5 s floor is a
    # named outlier: loud top-N table on stderr, machine-readable list
    # in the headline JSON and BENCH_DETAIL so the round snapshot
    # carries the flag even if stderr is dropped.
    slow_outliers: dict[str, float] = {}
    if timings:
        med = sorted(timings.values())[len(timings) // 2]
        bar = max(10.0 * med, 5.0)
        slow_outliers = {q: t for q, t in timings.items() if t > bar}
        top = sorted(timings.items(), key=lambda kv: -kv[1])[:10]
        print("== bench: top queries by time ==", file=sys.stderr)
        for q, t in top:
            flag = "  << SLOW OUTLIER (>10x median %.2fs)" % med if q in slow_outliers else ""
            print(f"  {q}: {t:.2f}s{flag}", file=sys.stderr)
        if slow_outliers:
            print(
                f"WARNING: {len(slow_outliers)} quer{'y' if len(slow_outliers)==1 else 'ies'} "
                f"exceed 10x the registry median ({med:.2f}s): "
                + ", ".join(f"{q}={t:.1f}s" for q, t in sorted(slow_outliers.items())),
                file=sys.stderr,
            )
    # derived throughput on the ETL-shaped path (S4 flatten): rows/s at this sf
    flatten_rows = entrymod.q20_flatten_ingest(spark, sf_dir).count()
    t0 = time.perf_counter()
    materialize(entrymod.q20_flatten_ingest(spark, sf_dir))
    flatten_rps = round(flatten_rows / max(time.perf_counter() - t0, 1e-9), 1)

    # IVF build-once contract: build+persist the centroid-partitioned index
    # (untimed), then time a WARM probe against it — the per-query cost a
    # serving workload actually pays (q36 times build+probe together).
    ivf_probe_sec = None
    try:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from usajobs_etl_service_spark.operators.similarity import (
            ivf_build, ivf_load, ivf_topk_cosine, ivf_write,
        )
        from usajobs_etl_service_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        index, cents = ivf_build(emb.filter(F.col("vec_id") != 0), n_centroids=16)
        tmp = tempfile.mkdtemp(prefix="ivf_bench_", dir=_bench_tmp_base())
        try:
            ivf_write(index, cents, tmp)
            lindex, lcents = ivf_load(spark, tmp)
            t0 = time.perf_counter()
            materialize(ivf_topk_cosine(lindex, lcents, qvec, k=10, nprobe=4))
            ivf_probe_sec = round(time.perf_counter() - t0, 3)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception as _ex:
        print(f"bench: ivf_warm_probe_sec skipped: {type(_ex).__name__}: {_ex}", file=sys.stderr)

    # MinHash build-once contract (the IVF pattern): persist the
    # signature table (untimed), then time candidates+verify against
    # the stored table — the per-query cost once signatures are a
    # maintained artifact (q24 times signature build + pairs together).
    minhash_probe_sec = None
    try:
        import shutil
        import tempfile

        from usajobs_etl_service_spark.operators.neardup import (
            minhash_load, minhash_pairs_from_sigs, minhash_write,
        )
        from usajobs_etl_service_spark.session import read_table

        docs = read_table(spark, sf_dir, "documents")
        tmp = tempfile.mkdtemp(prefix="mh_bench_", dir=_bench_tmp_base())
        try:
            minhash_write(docs, tmp)
            sigs = minhash_load(spark, tmp)
            t0 = time.perf_counter()
            materialize(minhash_pairs_from_sigs(sigs))
            minhash_probe_sec = round(time.perf_counter() - t0, 3)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception as _ex:
        print(f"bench: minhash_warm_pairs_sec skipped: {type(_ex).__name__}: {_ex}", file=sys.stderr)

    # LSH/cluster hot-bucket counters ride the STANDARD bench (VERDICT
    # r6 #5), not only the scale smokes: a future banding regression
    # then shows up as a nonzero counter in BENCH_DETAIL round-over-
    # round, instead of a silent recall change. All four families are
    # expected zero at sf0.1.
    cap_counters = None
    if not only:
        try:
            sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
            from scale_smoke import _cap_drop_counters

            cap_counters = _cap_drop_counters(spark, sf_dir)
        except Exception as _ex:
            print(f"bench: lsh_cap_drop_counters skipped: {type(_ex).__name__}: {_ex}", file=sys.stderr)

    # PQ build-once contract (the IVF/MinHash pattern): train + encode +
    # persist (untimed), then time a WARM ADC probe against the loaded
    # codes — the per-query cost once codes are a maintained artifact
    # (q98 times train+encode+probe together; VERDICT r6 #7).
    pq_probe_sec = None
    try:
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from usajobs_etl_service_spark.operators.pq import (
            pq_adc_topk, pq_encode, pq_load, pq_train_distinct, pq_write,
        )
        from usajobs_etl_service_spark.session import read_table

        emb = read_table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.when(x >= 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
            ).alias("embedding"),
        )
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
        data = emb.filter(F.col("vec_id") != 0)
        books = pq_train_distinct(data, m=16)
        tmp = tempfile.mkdtemp(prefix="pq_bench_", dir=_bench_tmp_base())
        try:
            pq_write(pq_encode(data, books), books, tmp)
            codes, lbooks = pq_load(spark, tmp)
            t0 = time.perf_counter()
            materialize(pq_adc_topk(codes, qv, lbooks, k=50))
            pq_probe_sec = round(time.perf_counter() - t0, 3)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception as _ex:
        print(f"bench: pq_warm_adc_probe_sec skipped: {type(_ex).__name__}: {_ex}", file=sys.stderr)

    # stdout layout (module docstring): full line first, then named
    # <2 KB chunks, then the compact per_query_ms array, then the
    # compact headline LAST. Tail-only log capture keeps the end of
    # stdout, so the parseable headline can never be truncated off the
    # front (it was, for three rounds, when the bulky line was the
    # only/last one), and the per-query data now survives a 2 KB tail
    # via per_query_ms (VERDICT r12 #1). All lines name the sibling
    # BENCH_DETAIL.json (written by THIS run), so a tail-truncated
    # round snapshot still points at the canonical per-query artifact
    # (VERDICT r6 #4).
    # Host context (VERDICT r12 #8): the calibration probe disagreed
    # with the totals by 26 points r11->r12; cpu count + load average
    # let a future comparison see host pressure directly.
    host = {"cpus_os": os.cpu_count()}
    try:
        host["load_avg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    full = {
        "metric": "sum_query_seconds",
        "value": total,
        "value_cold": total_cold,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "detail_file": "BENCH_DETAIL.json",
        "slow_outliers": slow_outliers,
        "calibration_sec": calibration_end["median"],
        "host": host,
    }
    compact = {
        "metric": "sum_query_seconds",
        "value": total,
        "value_cold": total_cold,
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(timings),
        "detail_file": "BENCH_DETAIL.json",
        "n_slow_outliers": len(slow_outliers),
        "calibration_sec": calibration_end["median"],
        "host": host,
    }
    # Suite-level spread summary (round-9 verdict #7): p50/p95 of each
    # query's RELATIVE spread ((max-min)/median across its runs), so a
    # future round can tell a real regression from run-to-run noise
    # WITHOUT re-running — a per-query delta inside the suite's own
    # p95 relative spread is indistinguishable from noise. Only
    # median-of-3 queries carry a measured spread; single-shot (>=15 s)
    # queries are counted separately.
    rels = sorted(
        (s["max"] - s["min"]) / max(s["median"], 1e-9)
        for s in timing_spread.values()
        if s["runs"] >= 3
    )
    spread_summary = (
        {
            "n_measured": len(rels),
            "n_single_shot": sum(1 for s in timing_spread.values() if s["runs"] < 3),
            "rel_spread_p50": round(rels[len(rels) // 2], 4),
            "rel_spread_p95": round(rels[min(len(rels) - 1, int(0.95 * len(rels)))], 4),
            "rel_spread_max": round(rels[-1], 4),
        }
        if rels
        else {"n_measured": 0}
    )
    detail = {
        "queries_sec": timings,
        "queries_sec_total": total,
        "queries_sec_cold_total": total_cold,
        "host": host,
        "queries_sec_spread": timing_spread,
        "spread_summary": spread_summary,
        "timing_protocol": "untimed-warmup + median-of-3 warm repeats (<15s); single cold shot otherwise",
        "calibration_sec_start": calibration_start["median"],
        "calibration_sec_end": calibration_end["median"],
        "calibration_spread": {"start": calibration_start, "end": calibration_end},
        "flatten_rows_per_sec": flatten_rps,
        "reference_floor_rows_per_sec": 100,
        "ivf_warm_probe_sec": ivf_probe_sec,
        "minhash_warm_pairs_sec": minhash_probe_sec,
        "pq_warm_adc_probe_sec": pq_probe_sec,
        "shuffle_write_mb": shuffle_mb,
        "shuffle_write_mb_total": round(sum(shuffle_mb.values()), 2),
        "peak_stage_exec_mem_mb": peak_mem_mb,
        "disk_spilled_bytes_total": before["spilled_disk"],
        "lsh_cap_drop_counters": cap_counters,
        "slow_outliers_10x_median": slow_outliers,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    print(json.dumps(full), flush=True)
    for line in per_query_lines(timings):
        print(line, flush=True)
    print(json.dumps(compact), flush=True)


def per_query_lines(timings: dict[str, float], chunk_bytes: int = 1900) -> list[str]:
    """Tail-capture-safe per-query timing lines (VERDICT r12 #1).

    Returns (a) named chunk lines, each a self-contained JSON object
    under ``chunk_bytes`` with a slice of the full {name: sec} dict —
    reconstructable from any tail capture big enough to hold them all —
    and (b) LAST, one compact ``per_query_ms`` line: millisecond ints
    in registry order plus an md5 of the comma-joined names, ~1.3 KB
    at 247 queries, so together with the <300-byte headline the
    COMPLETE per-query data survives even a 2000-char tail capture.
    Reconstruction: verify md5(",".join(queries())) matches
    ``names_md5``, then zip names with ``t`` (see ``compare``)."""
    import hashlib

    lines: list[str] = []
    chunk: dict[str, float] = {}
    chunks: list[dict[str, float]] = []
    for name, sec in timings.items():
        chunk[name] = sec
        # ~30 bytes/entry; stay well under the byte budget
        if len(json.dumps(chunk)) > chunk_bytes - 100:
            chunks.append(chunk)
            chunk = {}
    if chunk:
        chunks.append(chunk)
    for i, c in enumerate(chunks):
        lines.append(
            json.dumps(
                {"metric": "per_query_chunk", "i": i, "k": len(chunks), "q": c},
                separators=(",", ":"),
            )
        )
    names = list(timings)
    lines.append(
        json.dumps(
            {
                "metric": "per_query_ms",
                "n": len(names),
                "names_md5": hashlib.md5(",".join(names).encode()).hexdigest()[:8],
                "t": [int(round(v * 1000)) for v in timings.values()],
            },
            separators=(",", ":"),
        )
    )
    return lines


def load_bench_artifact(path: str) -> dict:
    """Parse a bench artifact into ``{"value": ..., "queries": {...}}``.
    Accepts this script's raw headline JSON, the driver's wrapper
    (extracts the embedded ``{"metric": ...}`` lines from its
    ``tail``), or a bare (possibly tail-truncated) stdout capture —
    reconstructing the per-query dict from the round-13 chunk /
    per_query_ms lines when the full line was truncated away."""
    text = open(path).read()
    return _parse_bench_blob(text)


def _parse_bench_blob(text: str) -> dict:
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = None
    if isinstance(d, dict) and "queries" in d:
        return d
    blob = text if d is None else d.get("tail", "")

    def parse_at(start: int) -> dict | None:
        depth = 0
        for i, ch in enumerate(blob[start:], start):
            depth += ch == "{"
            depth -= ch == "}"
            if depth == 0:
                try:
                    return json.loads(blob[start : i + 1])
                except json.JSONDecodeError:
                    return None
        return None

    # Scan every headline candidate from last to first; prefer one
    # carrying the per-query dict (line 1) over the compact tail line.
    candidates = []
    start = blob.rfind('{"metric"')
    while start >= 0:
        parsed = parse_at(start)
        if parsed is not None:
            candidates.append(parsed)
        start = blob.rfind('{"metric"', 0, start)
    headlines = [c for c in candidates if c.get("metric") == "sum_query_seconds"]
    for c in headlines:
        if "queries" in c:
            return c
    if headlines:
        c = dict(headlines[0])
        # round-13 stdout: reconstruct the per-query dict from the
        # tail-safe lines — named chunks when all survived, else the
        # compact ms array zipped with the current registry names
        # (md5-of-names guard against a registry drift).
        # oldest first, so a newer run's chunk overwrites an older one's
        chunks = {
            d["i"]: d["q"]
            for d in reversed(candidates)
            if d.get("metric") == "per_query_chunk"
        }
        k = next((d["k"] for d in candidates if d.get("metric") == "per_query_chunk"), None)
        if k is not None and set(chunks) == set(range(k)):
            merged: dict[str, float] = {}
            for i in range(k):
                merged.update(chunks[i])
            c["queries"] = merged
            return c
        ms = next((d for d in candidates if d.get("metric") == "per_query_ms"), None)
        if ms is not None:
            try:
                import hashlib

                import __spark_entry__ as entrymod

                names = list(entrymod.queries())
                good = (
                    len(names) == ms["n"]
                    and hashlib.md5(",".join(names).encode()).hexdigest()[:8]
                    == ms["names_md5"]
                )
                if good:
                    c["queries"] = {
                        n: t / 1000.0 for n, t in zip(names, ms["t"])
                    }
                    return c
            except Exception:
                pass
        c.setdefault("queries", {})
        return c
    # Last resort: a front-truncated tail (rounds 1-3) keeps only the
    # back half of the per-query dict — salvage what timings survive.
    import re

    pairs = re.findall(r'"(q\d+[a-z0-9_]*)":\s*([0-9.]+)', blob)
    if pairs:
        qs = {k: float(v) for k, v in pairs}
        return {"value": round(sum(qs.values()), 3), "queries": qs, "partial": True}
    raise SystemExit("no bench headline found in artifact")



def compare(path_a: str, path_b: str, top: int = 15) -> None:
    """``python bench.py --compare A.json B.json``: per-query deltas
    between two bench artifacts (raw headline JSON, driver wrapper, or
    truncated stdout tail — see load_bench_artifact)."""
    a, b = load_bench_artifact(path_a), load_bench_artifact(path_b)
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb), key=lambda q: qa[q] - qb[q])
    print(f"total: {a['value']}s -> {b['value']}s over {len(qa)}/{len(qb)} queries ({len(common)} common)")
    if a.get("value_cold") and b.get("value_cold"):
        print(f"cold total: {a['value_cold']}s -> {b['value_cold']}s")
    for side, d in (("A", a), ("B", b)):
        if d.get("host"):
            print(f"host {side}: {d['host']}")
    ca, cb = a.get("calibration_sec"), b.get("calibration_sec")
    if ca and cb:
        # host-noise-normalized comparison: each total divided by its
        # run's fixed calibration-probe time (see calibration_probe) —
        # printed ALONGSIDE the raw regime above, never instead of it
        # (VERDICT r12 #8: the probe itself can drift; read both)
        print(
            f"calibrated: {a['value'] / ca:.1f} -> {b['value'] / cb:.1f} "
            f"(probe {ca:.2f}s -> {cb:.2f}s; ratio change "
            f"{(b['value'] / cb) / max(a['value'] / ca, 1e-9) - 1:+.1%})"
        )
    moved = [q for q in common if abs(qb[q] - qa[q]) >= 0.3]
    for q in (moved or common)[:top]:
        print(f"  {q}: {qa[q]:.2f} -> {qb[q]:.2f}  ({qb[q] - qa[q]:+.2f}s)")
    for label, d in (("only in A", set(qa) - set(qb)), ("only in B", set(qb) - set(qa))):
        if d:
            print(f"{label}: {', '.join(sorted(d))}")


if __name__ == "__main__":
    if len(sys.argv) >= 4 and sys.argv[1] == "--compare":
        compare(sys.argv[2], sys.argv[3])
    else:
        main()
