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

import pytest

import bench
from tests.conftest import synthetic_merges

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
        # the sections that need no large fixture; bitext_serve's sf1 point
        # is gated out by the prior payload below, so no replica is built
        "SPARK_GRAFT_SECTIONS": ",".join(
            [
                "headline",
                "acid_dml",
                "skipping",
                "freq_maintenance",
                "overlap_maintenance",
                "cardinality_maintenance",
                "trainers",
                "bitext_serve",
            ]
        ),
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
    (tmp_path / "BENCH_FULL.json").write_text(
        json.dumps({"gate_seconds": {"bitext_serve:sf1": 1e6}})
    )
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
    # bitext_serve ran its headline-SF point; the gate skipped the sf1 one
    bitext = full["bitext_serve_bench"]
    assert [p["sf"] for p in bitext["points"]] == ["sf0.001"]
    assert bitext["points_skipped"] == ["sf1: budget"]
    assert not (tmp_path / ".data" / "sf1").exists()


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
        "SPARK_GRAFT_SECTIONS": "headline,extended",
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
    ms = synthetic_merges(500, base)
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


def test_timed_makes_warm_call_and_reports_median_and_spread(monkeypatch):
    """``_timed`` is the bench's one timing primitive: one untimed warm
    call, then one sample per pass, the median and the [min, max] spread
    rounded to the millisecond, and the last call's result."""
    clock = [0.0]
    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock[0])
    durations = iter([9.0, 1.0, 3.0004, 2.0])  # warm call first
    calls = []

    def fn():
        calls.append(1)
        clock[0] += next(durations)
        return len(calls)

    t = bench._timed(fn, passes=3, warm=True)
    assert len(calls) == 4
    assert t.samples == pytest.approx([1.0, 3.0004, 2.0])
    assert t.median == 2.0
    assert t.spread == [1.0, 3.0]
    assert t.result == 4


def test_measured_gate_skips_section_over_budget_and_runs_unmeasured(monkeypatch):
    """A section whose figure in the previous payload exceeds the budget
    left is skipped and named; a section the previous run never measured
    runs. Figures of units that did not run are kept for the next run."""
    monkeypatch.setattr(bench, "_emit", lambda p: None)
    monkeypatch.setattr(bench, "budget_remaining", lambda: 100.0)
    ran = []
    sections = [
        ("slow", lambda run: ran.append("slow") or {"slow_bench": 1}),
        ("fits", lambda run: ran.append("fits") or {"fits_bench": 1}),
        ("new", lambda run: ran.append("new") or {"new_bench": 1}),
    ]
    payload: dict = {}
    gate = bench._Gate(payload, {"slow": 500.0, "fits": 60.0, "unselected:sf10": 7.0})
    bench._run_sections(payload, sections, gate)
    assert ran == ["fits", "new"]
    assert [s.split(":")[0] for s in payload["sections_skipped"]] == ["slow"]
    assert "needs 500s" in payload["sections_skipped"][0]
    assert set(payload["section_seconds"]) == {"fits", "new"}
    assert payload["fits_bench"] == payload["new_bench"] == 1
    assert "slow_bench" not in payload
    # the skipped section keeps its figure for the next run's gate
    assert payload["gate_seconds"]["slow"] == 500.0
    assert payload["gate_seconds"]["unselected:sf10"] == 7.0
    assert set(payload["gate_seconds"]) == {"slow", "fits", "new", "unselected:sf10"}


def test_gate_caps_one_unit_at_half_the_total_budget(monkeypatch):
    """A unit whose figure fits the budget left but exceeds half the total
    budget is skipped, so one costly point cannot take the whole window."""
    monkeypatch.setattr(bench, "total_budget_sec", lambda: 1500.0)
    monkeypatch.setattr(bench, "budget_remaining", lambda: 1000.0)
    payload: dict = {}
    gate = bench._Gate(payload, {"semdedup_scale:sf10": 930.0, "bitext_serve:sf1": 450.0})
    done, skipped = bench._per_point(
        gate, "semdedup_scale", [("sf10", lambda: "/d")], lambda label, d: d
    )
    assert (done, skipped) == ({}, ["sf10"])
    assert "at most half per unit" in payload["sections_skipped"][0]
    done, _ = bench._per_point(gate, "bitext_serve", [("sf1", lambda: "/d")], lambda l, d: d)
    assert done == {"sf1": "/d"}


def test_gate_records_seconds_so_far_for_a_unit_cut_short(monkeypatch):
    """The SIGTERM unwind (SystemExit) through a running section leaves its
    seconds so far in ``gate_seconds`` as a lower bound, so the next run
    does not start it blind."""
    clock = [1000.0]
    monkeypatch.setattr(bench.time, "monotonic", lambda: clock[0])
    monkeypatch.setattr(bench, "_emit", lambda p: None)
    monkeypatch.setattr(bench, "budget_remaining", lambda: 1000.0)

    def killed(run):
        clock[0] += 42.0
        raise SystemExit(143)

    payload: dict = {}
    gate = bench._Gate(payload, {})
    with pytest.raises(SystemExit):
        bench._run_sections(payload, [("killed", killed)], gate)
    assert payload["gate_seconds"] == {"killed": 42.0}
    assert "section_seconds" not in payload
    assert gate.open == []


def test_replica_build_is_a_gated_unit(tmp_path, monkeypatch):
    """An absent replica is built only when its build figure plus what the
    running section still needs fits the budget left; a build never
    measured starts only while half the total budget is left. A section
    whose replica does not fit is skipped, not failed."""
    monkeypatch.setattr(bench, "_DATA", tmp_path)
    monkeypatch.setattr(bench, "_emit", lambda p: None)
    monkeypatch.setattr(bench, "total_budget_sec", lambda: 1500.0)
    monkeypatch.setattr(bench, "budget_remaining", lambda: 400.0)
    built = []

    def fake_replica_dir(name, factor, src):
        built.append(name)
        (tmp_path / name).mkdir()
        (tmp_path / name / "_COMPLETE").write_text(f"{os.path.realpath(src)}\n")
        return str(tmp_path / name)

    monkeypatch.setattr(bench, "_replica_dir", fake_replica_dir)
    sections = [("needs_sf10", lambda run: {"sf10_dir": run.sf10})]

    # never measured: needs 750 s plus the section's 100 s; 400 s are left
    payload: dict = {}
    gate = bench._Gate(payload, {"needs_sf10": 100.0})
    bench._run_sections(payload, sections, gate, bench._Run(None, "x", payload, gate))
    assert built == [] and "errors" not in payload
    assert payload["sections_skipped"][0].startswith("replica:sf10: budget (needs 850s")
    assert payload["sections_skipped"][1] == "needs_sf10: replica:sf10 not built"
    assert payload["gate_seconds"] == {"needs_sf10": 100.0}

    # measured at 20 s, but the section still needs 390 s: 410 > 400
    payload = {}
    gate = bench._Gate(payload, {"needs_sf10": 390.0, "replica:sf10": 20.0})
    bench._run_sections(payload, sections, gate, bench._Run(None, "x", payload, gate))
    assert built == [] and "sf10_dir" not in payload
    assert payload["gate_seconds"] == {"needs_sf10": 390.0, "replica:sf10": 20.0}

    # 20 + 300 fits: built once, timed, then reused
    payload = {}
    gate = bench._Gate(payload, {"needs_sf10": 300.0, "replica:sf10": 20.0})
    run = bench._Run(None, "x", payload, gate)
    bench._run_sections(payload, sections, gate, run)
    assert built == ["sf10"]
    assert payload["sf10_dir"] == run.sf10 == str(tmp_path / "sf10")
    assert built == ["sf10"]
    assert set(payload["gate_seconds"]) == {"needs_sf10", "replica:sf10"}
    assert "sections_skipped" not in payload


def test_per_point_gates_each_point_and_charges_each_second_once(monkeypatch):
    """A scale point whose figure exceeds the budget left is skipped (its
    directory never resolved) while the other points run, and a unit's
    figure leaves out the seconds of the units run inside it."""
    clock = [0.0]
    monkeypatch.setattr(bench.time, "monotonic", lambda: clock[0])
    monkeypatch.setattr(bench, "budget_remaining", lambda: 100.0)
    resolved = []

    def resolver(label):
        return lambda: resolved.append(label) or f"/data/{label}"

    def point(label, sf_dir):
        clock[0] += 30.0
        return sf_dir

    payload: dict = {}
    gate = bench._Gate(payload, {"sec:sf10": 500.0})
    with gate.unit("sec"):
        clock[0] += 10.0
        done, skipped = bench._per_point(
            gate, "sec", [("sf1", resolver("sf1")), ("sf10", resolver("sf10"))], point
        )
    assert done == {"sf1": "/data/sf1"} and skipped == ["sf10"]
    assert resolved == ["sf1"]
    assert payload["gate_seconds"] == {"sec:sf1": 30.0, "sec:sf10": 500.0, "sec": 10.0}
    assert payload["sections_skipped"][0].startswith("sec:sf10: budget (needs 500s")


def test_sections_env_selects_in_table_order_and_rejects_unknown(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SECTIONS", "skew, headline")
    assert [n for n, _ in bench._selected(bench.SECTIONS)] == ["headline", "skew"]
    monkeypatch.setenv("SPARK_GRAFT_SECTIONS", "headline,no_such_section")
    with pytest.raises(ValueError, match="no_such_section"):
        bench._selected(bench.SECTIONS)
    monkeypatch.delenv("SPARK_GRAFT_SECTIONS")
    assert bench._selected(bench.SECTIONS) == bench.SECTIONS


def test_sf10_scaling_labels_the_headline_point_by_its_directory(monkeypatch):
    """The headline-SF point of ``sf10_scaling`` is keyed by the headline
    directory's name, as in ``bitext_serve``: ``sf0.1`` by default, and
    ``sf0.001`` when that directory stands in for it."""
    monkeypatch.setattr(bench, "budget_remaining", lambda: 100.0)
    for sf in ("sf0.001", "sf0.1"):
        labels = (sf, "sf1", "sf10")
        payload: dict = {}
        # every point's figure is over the budget: each is skipped by name
        gate = bench._Gate(
            payload, {f"sf10_scaling:{n}@{l}": 1e6 for n in bench.SF10_QUERIES for l in labels}
        )
        out = bench._sf10_scaling(bench._Run(None, f"/data/{sf}", payload, gate))
        assert out["sf10_truncated"] == [f"{n}@{l}" for n in bench.SF10_QUERIES for l in labels]
        assert "errors" not in payload


def test_skew_fixture_rows_follow_the_headline_sf():
    """The skew fact table scales with the headline SF: 20M rows at the
    default sf0.1, 2M at sf0.01; an unnamed directory counts as sf0.1."""
    assert bench._skew_rows("/data/sf0.1") == 20_000_000
    assert bench._skew_rows("/data/sf0.01") == 2_000_000
    assert bench._skew_rows("/data/sf0.001/") == 200_000
    assert bench._skew_rows("/data/sf1") == 200_000_000
    assert bench._skew_rows("/data/fixtures") == 20_000_000


def test_replica_is_built_from_the_headline_sf_and_rebuilt_for_another(tmp_path, monkeypatch):
    """A replica is built from the headline SF directory, which its
    ``_COMPLETE`` marker records; a replica of another source is rebuilt,
    a replica of the same one reused."""
    import tools.make_sf

    monkeypatch.setattr(bench, "_DATA", tmp_path / "data")
    built = []

    def fake_make_sf(copies, src, out):
        built.append((copies, src))
        Path(out).mkdir(parents=True)
        (Path(out) / "documents.parquet").write_text(src)

    monkeypatch.setattr(tools.make_sf, "make_sf", fake_make_sf)
    sf001, sf01 = str(tmp_path / "sf0.01"), str(tmp_path / "sf0.1")

    out = bench._replica_dir("sf1", 10, sf001)
    assert out == str(tmp_path / "data" / "sf1") and built == [(10, sf001)]
    assert (Path(out) / "_COMPLETE").read_text() == f"{os.path.realpath(sf001)}\n"
    assert bench._replica_built("sf1", sf001) and not bench._replica_built("sf1", sf01)

    assert bench._replica_dir("sf1", 10, sf001) == out and len(built) == 1
    assert bench._replica_dir("sf1", 10, sf01) == out and built[-1] == (10, sf01)
    assert (Path(out) / "documents.parquet").read_text() == sf01
