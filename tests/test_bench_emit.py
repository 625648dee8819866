"""Emit-on-partial contract for the bench harness.

Round 4 (stdout overflow) and round 6 (executor OOM in the then-unguarded
sf10 loop) both ended with the driver's official artifact recording
``parsed: null`` — the compact stdout line was the last statement of the
happy path, so any mid-run death zeroed the whole round's bench record.
These tests pin the fix: a section failure is recorded in ``errors`` and
the final stdout line is still compact parseable JSON.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import bench

REPO = Path(__file__).resolve().parent.parent


def test_run_section_records_error_and_continues(monkeypatch):
    emits: list[dict] = []
    monkeypatch.setattr(bench, "_emit", lambda p: emits.append(dict(p)))
    payload: dict = {}

    def boom():
        raise MemoryError("Java heap space (simulated)")

    bench._run_section(payload, "sf10_scaling", boom)
    assert payload["errors"] == [
        "sf10_scaling: MemoryError: Java heap space (simulated)"
    ]
    # a second, healthy section still runs and the payload accumulates
    bench._run_section(payload, "skew", lambda: payload.__setitem__("skew_bench", {"ok": 1}))
    assert payload["skew_bench"] == {"ok": 1}
    # per-section emit: the artifact re-emitted after EVERY section, so a
    # later un-trappable kill loses at most the in-flight section
    assert len(emits) == 2


def test_fail_section_env_injects_failure(monkeypatch):
    monkeypatch.setattr(bench, "_emit", lambda p: None)
    monkeypatch.setenv("SPARK_GRAFT_FAIL_SECTION", "headline")
    payload: dict = {}
    ran = []
    bench._run_section(payload, "headline", lambda: ran.append(1))
    assert not ran and "headline" in payload["errors"][0]


def test_compact_line_parses_with_dead_headline():
    """Worst case: the headline section itself died. The compact line must
    still be valid JSON under the 2000-char tail window, with the failed
    sections named."""
    payload = {
        "metric": "headline_queries_total_runtime_warm",
        "value": None,
        "queries": {},
        "sf": "/root/testdata/sf0.1",
        "errors": [
            "headline: Py4JJavaError: OutOfMemoryError: Java heap space",
            "sf10:dedup_minhash_lsh@sf10: Py4JJavaError: boom",
        ],
    }
    line = bench.build_compact_line(payload)
    assert len(line) < 2000
    parsed = json.loads(line)
    assert parsed["value"] is None
    assert parsed["errors"] == ["headline", "sf10"]


def test_bench_subprocess_emits_compact_line_under_injected_failure(tmp_path):
    """End-to-end: run bench.py with the headline section killed and every
    long section skipped; the process must exit 0 and its FINAL stdout line
    must be parseable JSON carrying the error marker — exactly what the
    driver's 2000-char tail capture needs."""
    env = {
        **os.environ,
        "SPARK_GRAFT_FAIL_SECTION": "headline",
        "SPARK_GRAFT_SKIP_EXTENDED": "1",
        "SPARK_GRAFT_SKIP_SF1": "1",
        "SPARK_GRAFT_SKIP_SF10": "1",
        "SPARK_GRAFT_SKIP_IVF_BUILD": "1",
        "SPARK_GRAFT_SKIP_SKEW": "1",
        "SPARK_GRAFT_SKIP_SEMDEDUP": "1",
        "SPARK_GRAFT_SKIP_STREAMING": "1",
        "SPARK_GRAFT_SKIP_PAGERANK_SCALE": "1",
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        # the copied script adds ITS OWN dir to sys.path; point it at the repo
        "PYTHONPATH": str(REPO),
        # keep the subprocess session light; 32g is the bench default
        "SPARK_DRIVER_MEMORY": "2g",
        # don't clobber the repo's committed BENCH_FULL.json from a test:
        # run bench from a copy in tmp_path
    }
    bench_copy = tmp_path / "bench.py"
    bench_copy.write_text((REPO / "bench.py").read_text())
    proc = subprocess.run(
        [sys.executable, str(bench_copy)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    last = proc.stdout.strip().splitlines()[-1]
    parsed = json.loads(last)
    assert parsed["errors"] == ["headline"]
    assert parsed["value"] is None
    # the full payload landed next to the copied script, not over the
    # committed artifact
    full = json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert full["errors"][0].startswith("headline:")


def test_bench_survives_sigterm_mid_section(tmp_path):
    """Round 7's official artifact died ``rc: 124, parsed: null``: the
    driver's timeout SIGTERM killed the process and stock CPython runs NO
    ``finally`` on SIGTERM — the emit-on-partial structure was dead code
    against the one death that actually happened. This pins both fixes:

    - ``install_signal_handlers`` turns SIGTERM into SystemExit, so the
      ``finally`` emit runs and the FINAL stdout line is parseable JSON;
    - per-section emit means the pre-kill sections' results are already on
      stdout even before the handler fires.

    The headline section is fail-injected (cheap, emits line 1); the
    extended section parks on the test-only sleep hook; SIGTERM arrives
    mid-sleep."""
    import signal
    import time as _time

    env = {
        **os.environ,
        "SPARK_GRAFT_FAIL_SECTION": "headline",
        "SPARK_GRAFT_SLEEP_SECTION": "extended",
        "SPARK_GRAFT_SKIP_SF1": "1",
        "SPARK_GRAFT_SKIP_SF10": "1",
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "PYTHONPATH": str(REPO),
        "SPARK_DRIVER_MEMORY": "2g",
    }
    bench_copy = tmp_path / "bench.py"
    bench_copy.write_text((REPO / "bench.py").read_text())
    proc = subprocess.Popen(
        [sys.executable, str(bench_copy)],
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        cwd=str(REPO),
    )
    try:
        # wait for the first emitted compact line (headline's), then kill
        first = None
        deadline = _time.monotonic() + 240
        while _time.monotonic() < deadline:
            line = proc.stdout.readline()
            if not line:
                break
            if line.startswith("{"):
                first = line
                break
        assert first is not None, "no compact line before kill"
        json.loads(first)  # line 1 already parseable pre-kill
        proc.send_signal(signal.SIGTERM)
        out_rest, _ = proc.communicate(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    # SIGTERM → SystemExit(143): a clean unwind, not a silent death
    assert proc.returncode == 143
    lines = [ln for ln in (first + out_rest).strip().splitlines() if ln.startswith("{")]
    parsed = json.loads(lines[-1])
    assert "fatal" in parsed.get("errors", [])
    assert "headline" in parsed.get("errors", [])


def test_budget_skips_are_recorded_and_compact_line_parses():
    payload = {
        "metric": "headline_queries_total_runtime_warm",
        "value": 9.5,
        "queries": {"q": 9.5},
        "sf": "x",
        "sections_skipped": [
            "contamination_crossover: budget (est ~700s, 120s of 1500s left)",
            "semdedup_scale: budget (est ~500s, 120s of 1500s left)",
        ],
    }
    line = bench.build_compact_line(payload)
    parsed = json.loads(line)
    assert parsed["skipped"] == ["contamination_crossover", "semdedup_scale"]
    assert len(line) < 2000


def test_synthetic_merges_are_structurally_valid():
    """Every synthetic merge's left symbol must be producible by a prior
    entry (seed pairs are single chars; chain entries extend the symbol the
    previous entry produced), and the table reaches the requested depth
    without duplicate pairs."""
    base = [("t", "h"), ("th", "e")]
    ms = bench._synthetic_merges(500, base)
    assert len(ms) == 500
    assert ms[: len(base)] == base
    assert len(set(ms)) == 500
    producible = {x + y for x, y in ms}
    for x, y in ms:
        assert len(y) == 1
        assert len(x) == 1 or x in producible


def test_run_section_records_ambient_loadavg(tmp_path, monkeypatch):
    """Round-10 verdict item 3: the artifact itself must carry the ambient
    evidence — every section records the 1-min load average before/after."""
    import bench

    monkeypatch.setattr(bench, "_emit", lambda payload: None)
    payload: dict = {}
    bench._run_section(payload, "noop", lambda: None)
    amb = payload["ambient"]["loadavg_by_section"]["noop"]
    assert len(amb) == 2
    assert all(isinstance(x, float) for x in amb)
