"""Benchmark entry point: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. The engine runs on
``local[<cores>]`` inside this process. The run:

1. writes the workload's inputs, made from ``--seed``, into a private
   directory under ``.perfbench_run/`` (removed at exit);
2. starts Spark and makes the workload's untimed warm pass (``setup_s``
   spans process start to the first timed pass, less input generation and
   checking);
3. makes timed passes, one after another, until ``--seconds`` have passed
   and at least ``MIN_PASSES`` were made;
4. checks every output (see ``workloads.py``).

With ``--trace 0`` it reports the end-to-end metrics: ``setup_s`` (wall
time), and per timed pass the CPU time of the driver JVM and this process
(``pass_cpu_s``) and of the executor tasks (``task_cpu_s``), as medians.
With ``--trace 1`` it alternates traced and untraced passes and reports the
per-layer metrics of the traced ones, the median wall time of the untraced
ones, and the tracing overhead (median traced minus median untraced wall
time); the spans are written to ``.perfbench_out/``. Everything else goes
to stderr; the last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: what a checkout of the engine must hold for the benchmark to run
REQUIRED = ("data_ingestion_bra_spark", "tools/check_oracle.py", "configs/indicadores_municipios.json")
#: driver JVM heap: a quarter of physical memory, at most 4 GiB
MAX_DRIVER_MB = 4096
#: fewest timed passes a run makes. The JIT keeps compiling for several
#: passes, and the first timed pass costs ~1.3x the CPU time of the next;
#: a median of four leaves it out. A traced run makes twice as many, two
#: groups of T U U T, so that each kind of pass has four.
MIN_PASSES = 4


def metric_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def _environment(run_dir: Path) -> None:
    """Size the engine to this machine and keep every file it writes inside
    the run directory, through the variables the engine and Spark read."""
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = run_dir / "tmp"
    tmp.mkdir()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=f"{max(1024, min(MAX_DRIVER_MB, phys_mb // 4))}m",
        SPARK_GRAFT_IVF_CACHE=str(run_dir / "ivf_cache"),
        SPARK_LOCAL_DIRS=str(run_dir / "spark_local"),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _stop() -> None:
    """Stop Spark, if it got as far as starting, and wait for the gateway
    JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(workload_name: str, seed: int, seconds: float, trace: bool, run_dir: Path) -> dict:
    import workloads
    from sparkstat import SparkCounters
    from spans import Tracer

    wl = workloads.WORKLOADS[workload_name]()
    t = time.perf_counter()
    wl.prepare(str(run_dir), seed)
    excluded_s = time.perf_counter() - t

    from data_ingestion_bra_spark.session import get_spark, tune_session

    try:
        spark = tune_session(get_spark("perfbench"))
        counters = SparkCounters(spark)
        ops = workloads.Ops()
        wl.start(spark, counters, ops)
        excluded_s += wl.warm()
        setup_s = time.perf_counter() - T0 - excluded_s

        tracer = Tracer() if trace else None
        passes: list[dict] = []
        deadline = time.perf_counter() + seconds
        # traced runs alternate traced and untraced passes in whole groups
        # of T U U T: passes still speed up as the JVM warms, and within a
        # group a steady trend weighs on both kinds alike
        while (
            len(passes) < (2 * MIN_PASSES if trace else MIN_PASSES)
            or time.perf_counter() < deadline
            or (trace and len(passes) % 4)
        ):
            traced = trace and len(passes) % 4 in (0, 3)
            if traced:
                tracer.trace = f"pass{len(passes)}"
            cpu0 = counters.process_cpu_s()
            t = time.perf_counter()
            info = wl.run_pass(tracer if traced else None)
            p = {"wall_s": time.perf_counter() - t, "cpu_s": counters.process_cpu_s() - cpu0, "traced": traced}
            stats = counters.collect(info.groups)
            p["task_cpu_s"] = stats["cpu_s"]
            if traced:
                p["layers"] = wl.layer_metrics(tracer, info)
                p["layers"].update({k: stats[v] for k, v in workloads.PASS_COUNTERS.items()})
            wl.after_pass(info)
            passes.append(p)
        retained_mb = counters.retained_storage_mb()
        peak_rss_mb = counters.jvm_peak_rss_mb()
        wl.check()
    finally:
        _stop()

    if not trace:
        metrics = {
            "setup_s": setup_s,
            "pass_cpu_s": _median([p["cpu_s"] for p in passes]),
            "task_cpu_s": _median([p["task_cpu_s"] for p in passes]),
        }
    else:
        layers = [p["layers"] for p in passes if p["traced"]]
        metrics = dict.fromkeys(workloads.per_layer_names(), 0.0)
        for name in layers[0]:
            metrics[name] = _median([layer[name] for layer in layers])
        wall_s = _median([p["wall_s"] for p in passes if not p["traced"]])
        metrics["pass.wall_s"] = wall_s
        metrics["trace.overhead_s"] = _median([p["wall_s"] for p in passes if p["traced"]]) - wall_s
        metrics["spark.retained_storage_mb"] = retained_mb
        metrics["jvm.peak_rss_mb"] = peak_rss_mb
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tracer.dump(str(out_dir / f"{workload_name}-seed{seed}-spans.jsonl"))
    print(
        f"perfbench {workload_name} seed={seed}: setup {setup_s:.2f}s, passes "
        + ", ".join(
            f"{'traced ' if p['traced'] else ''}{p['wall_s']:.3f}s wall {p['cpu_s']:.2f}s cpu {p['task_cpu_s']:.2f}s task"
            for p in passes
        ),
        file=sys.stderr,
    )
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": metric_unit(k)} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [r for r in REQUIRED if not (ROOT / r).exists()]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the engine (missing {missing})", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_run"
    work.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=work))
    # on SIGTERM, unwind through the finally blocks: stop the JVM, remove
    # the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # stdout carries only the result line: everything else the process and
    # the JVM it launches print (the pipeline's preview included) goes to
    # stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        _environment(run_dir)
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.stdout.flush()
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    os.close(result_fd)
    return 0


if __name__ == "__main__":
    sys.exit(main())
