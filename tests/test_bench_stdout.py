"""The bench stdout contract (VERDICT r12 #1): per-query timings must
survive a driver-style 2000-char tail capture, and
``load_bench_artifact`` must reconstruct the full dict from it.

No Spark session needed — these exercise the pure stdout-layout
helpers against a synthetic 247-query registry-shaped timing dict and
a simulated truncated capture.
"""

from __future__ import annotations

import json
import sys

import bench
import __spark_entry__ as entrymod


def _registry_timings() -> dict[str, float]:
    # the real registry names, synthetic times — sizes match production
    return {name: round(0.1 + (i % 37) * 0.1, 3) for i, name in enumerate(entrymod.queries())}


def _stdout_blob(timings: dict[str, float]) -> str:
    host = {"cpus_os": 32, "load_avg_1m": 1.0}
    full = {
        "metric": "sum_query_seconds",
        "value": round(sum(timings.values()), 3),
        "value_cold": round(sum(timings.values()) * 1.5, 3),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "calibration_sec": 0.8,
        "host": host,
    }
    compact = {k: v for k, v in full.items() if k != "queries"}
    compact["n_queries"] = len(timings)
    lines = [json.dumps(full)]
    lines += bench.per_query_lines(timings)
    lines.append(json.dumps(compact))
    return "\n".join(lines) + "\n"


def test_per_query_ms_line_plus_headline_fit_2kb_tail():
    timings = _registry_timings()
    lines = bench.per_query_lines(timings)
    ms_line = lines[-1]
    assert '"per_query_ms"' in ms_line
    compact_len = 300  # headline budget
    assert len(ms_line) + compact_len + 2 <= 2000, (
        f"per_query_ms line is {len(ms_line)} bytes; with the headline it "
        "must survive the driver's 2000-char tail capture"
    )
    # every named chunk stays under its own 2 KB budget
    for line in lines[:-1]:
        assert len(line) < 2000


def test_reconstruct_from_2000_char_tail(tmp_path):
    timings = _registry_timings()
    blob = _stdout_blob(timings)
    tail = blob[-2000:]  # driver-style capture
    art = tmp_path / "tail.json"
    art.write_text(json.dumps({"n": 13, "rc": 0, "tail": tail}))
    parsed = bench.load_bench_artifact(str(art))
    assert parsed["value"] == round(sum(timings.values()), 3)
    assert parsed.get("value_cold")
    # ALL timings reconstructed (ms precision) from the 2 KB tail
    assert set(parsed["queries"]) == set(timings)
    for name, sec in timings.items():
        assert abs(parsed["queries"][name] - sec) < 0.0005


def test_reconstruct_from_named_chunks_without_registry(tmp_path, monkeypatch):
    """A ~10 KB capture keeps every named chunk: reconstruction must
    not depend on the registry import (names ride in the chunks)."""
    timings = _registry_timings()
    blob = _stdout_blob(timings)
    # keep everything from the first chunk line on (drops only line 1)
    tail = blob[blob.index('{"metric":"per_query_chunk"') :]
    art = tmp_path / "tail.json"
    art.write_text(json.dumps({"tail": tail}))
    # the registry cannot be imported, so the per_query_ms fallback fails
    monkeypatch.setitem(sys.modules, "__spark_entry__", None)
    parsed = bench.load_bench_artifact(str(art))
    assert parsed["queries"] == timings


def test_newest_of_two_runs_wins(tmp_path, monkeypatch):
    """A capture holding two runs' chunk lines gives the newer run's
    timings (the compact headline is the newer run's too)."""
    old = _registry_timings()
    new = {name: round(t + 1.0, 3) for name, t in old.items()}
    # each run's lines from its first chunk on (the full dict lines dropped)
    tail = "".join(b[b.index('{"metric":"per_query_chunk"') :] for b in map(_stdout_blob, (old, new)))
    art = tmp_path / "two_runs.json"
    art.write_text(json.dumps({"tail": tail}))
    monkeypatch.setitem(sys.modules, "__spark_entry__", None)
    parsed = bench.load_bench_artifact(str(art))
    assert parsed["value"] == round(sum(new.values()), 3)
    assert parsed["queries"] == new


def test_full_line_still_preferred(tmp_path):
    timings = _registry_timings()
    art = tmp_path / "full.json"
    art.write_text(json.dumps({"tail": _stdout_blob(timings)}))
    parsed = bench.load_bench_artifact(str(art))
    assert parsed["queries"] == timings


def test_ms_reconstruction_rejects_registry_drift(tmp_path):
    """If the registry changed since the artifact was written, the
    md5-of-names guard must refuse to zip mismatched names."""
    timings = _registry_timings()
    lines = bench.per_query_lines(timings)
    ms = json.loads(lines[-1])
    ms["names_md5"] = "00000000"  # simulate a drifted registry
    compact = {"metric": "sum_query_seconds", "value": 1.0, "unit": "sec"}
    tail = json.dumps(ms) + "\n" + json.dumps(compact)
    art = tmp_path / "drift.json"
    art.write_text(json.dumps({"tail": tail}))
    parsed = bench.load_bench_artifact(str(art))
    assert parsed["queries"] == {}
