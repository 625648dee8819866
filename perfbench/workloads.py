"""The benchmark's workloads, each driven through the engine's public API.

A workload is prepared from the seed (inputs written to the run directory),
warmed untimed, then timed pass after pass by ``run.py``: a closed loop
with one client, the next pass starting when the previous one ended.

- ``ingest_csv``: ``pipelines.ingest_csv.run`` on a generated IBC-shaped
  CSV with the CLI defaults (csv sink, single file, preview on) and a fixed
  run date. Checked after every pass against the generator's truth.
- ``llm_curation_sf0.1``: the LLM-data headline queries on generated
  ``documents`` and ``embeddings`` fitted to the sf0.1 fixtures, each built
  through the registry and written to the ``noop`` sink. The warm pass
  collects every output, and each is compared with its DuckDB oracle twin.

Engine modules are imported in ``start``, after ``run.py`` has set the
environment they read at import or session time.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field
from datetime import date

import gen

#: the LLM-data headline queries
LLM_CURATION = (
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "text_quality_scores",
    "text_fingerprints",
    "curation_pipeline",
    "text_chunks_sliding",
)
#: ingest input size in 22,280-row blocks (5,570 municipalities x 4 years)
INGEST_BLOCKS = 24
RUN_DATE = date(2024, 1, 31)
#: (attribute of pipelines.ingest_csv, span name) for every layer the
#: pipeline calls; the pipeline imported these with ``from ... import``
INGEST_LAYERS = (
    ("read_csv_asserted", "sources.csv.read_csv_asserted"),
    ("cast_and_validate", "schema.cast_and_validate"),
    ("write_partitioned", "sinks.writer.write_partitioned"),
    ("write_metadata_from_df", "manifest.write_metadata_from_df"),
)
#: summed Spark counters reported per pass, keyed by metric name
PASS_COUNTERS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.shuffle_write_mb": "shuffle_write_mb",
    "spark.spill_mb": "spill_mb",
    "spark.executor_run_s": "run_s",
}


class Ops:
    """Tally of operations attempted and failed. A failure is an exception
    or a wrong output; it is logged to stderr and the run goes on."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn):
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.failed += 1
            print(f"FAILED {label}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return False, None

    def check(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"WRONG {label}: {'; '.join(problems)}", file=sys.stderr)


@dataclass
class PassInfo:
    """Job groups a pass launched, for counters read after it ended."""

    groups: list[str] = field(default_factory=list)
    build_groups: list[str] = field(default_factory=list)
    query_groups: dict[str, list[str]] = field(default_factory=dict)
    result: dict | None = None


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryWorkload:
    def prepare(self, run_dir: str, seed: int) -> None:
        self.sf_dir = os.path.join(run_dir, "sf")
        gen.make_tables(self.sf_dir, seed)
        self.order = list(LLM_CURATION)
        random.Random(seed).shuffle(self.order)

    def start(self, spark, counters, ops: Ops) -> None:
        from data_ingestion_bra_spark.plans.registry import get_queries

        self.spark, self.counters, self.ops = spark, counters, ops
        self.builders = get_queries()
        self.outputs: dict[str, tuple[list[str], list[tuple]]] = {}

    def warm(self) -> float:
        """One untimed pass that collects every output for the oracle check
        made after the timed passes. Returns the seconds spent checking
        inline (none here)."""
        from check_oracle import _pdf_rows

        self.counters.start_group("warm")
        for q in self.order:
            def collect(q=q):
                df = self.builders[q](self.spark, self.sf_dir)
                return list(df.columns), _pdf_rows(df.toPandas())

            ok, out = self.ops.run(f"warm {q}", collect)
            if ok:
                self.outputs[q] = out
        return 0.0

    def run_pass(self, tracer) -> PassInfo:
        info = PassInfo()
        if tracer is None:
            info.groups.append(self.counters.start_group("pass"))
            for q in self.order:
                self.ops.run(q, lambda q=q: _noop(self.builders[q](self.spark, self.sf_dir)))
            return info
        for q in self.order:
            gb = self.counters.start_group(f"build-{q}")
            with tracer.span(f"plans.{q}.build"):
                ok, df = self.ops.run(f"build {q}", lambda q=q: self.builders[q](self.spark, self.sf_dir))
            ge = self.counters.start_group(f"exec-{q}")
            if ok:
                with tracer.span(f"exec.{q}"):
                    self.ops.run(f"exec {q}", lambda df=df: _noop(df))
            info.groups += [gb, ge]
            info.build_groups.append(gb)
            info.query_groups[q] = [gb, ge]
        return info

    def after_pass(self, info: PassInfo) -> None:
        pass

    def layer_metrics(self, tracer, info: PassInfo) -> dict[str, float]:
        self_s = tracer.self_times(tracer.trace)
        out = {"plans.build_s": 0.0}
        for q in self.order:
            out[f"plans.{q}.build_s"] = self_s.get(f"plans.{q}.build", 0.0)
            out[f"exec.{q}.s"] = self_s.get(f"exec.{q}", 0.0)
            out["plans.build_s"] += out[f"plans.{q}.build_s"]
            st = self.counters.collect(info.query_groups[q])
            out[f"spark.{q}.jobs"] = st["jobs"]
            out[f"spark.{q}.stages"] = st["stages"]
        out["spark.build_jobs"] = self.counters.collect(info.build_groups)["jobs"]
        return out

    def check(self) -> None:
        """Compare each warm-pass output with its DuckDB oracle twin: row
        count, column names and the order-insensitive value hash."""
        import duckdb
        from check_oracle import _pdf_rows, table_hash

        from data_ingestion_bra_spark.plans.registry import get_oracle_sql

        oracles = get_oracle_sql()
        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
            for q in self.order:
                if q not in self.outputs:
                    continue  # already counted as failed in the warm pass
                cols, rows = self.outputs[q]
                ok, want = self.ops.run(f"oracle {q}", lambda q=q: con.sql(oracles[q]).df())
                if not ok:
                    continue
                problems = []
                if len(rows) != len(want):
                    problems.append(f"rows spark={len(rows)} duckdb={len(want)}")
                elif sorted(cols) != sorted(want.columns):
                    problems.append(f"columns spark={sorted(cols)} duckdb={sorted(want.columns)}")
                elif table_hash(rows, cols) != table_hash(_pdf_rows(want), list(want.columns)):
                    problems.append("value hash differs")
                self.ops.check(f"oracle {q}", problems)
        finally:
            con.close()


class IngestWorkload:
    def prepare(self, run_dir: str, seed: int) -> None:
        csv_path = os.path.join(run_dir, "indicadores.csv")
        self.truth = gen.make_ingest_csv(csv_path, seed, INGEST_BLOCKS)
        # the shipped reference config, re-pointed at the generated input
        # and at a bronze root inside the run directory
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "configs", "indicadores_municipios.json"), encoding="utf-8") as f:
            cfg = json.load(f)
        cfg["csv"]["path"] = csv_path
        cfg["output"]["base_dir"] = os.path.join(run_dir, "bronze")
        self.config_path = os.path.join(run_dir, "config.json")
        with open(self.config_path, "w", encoding="utf-8") as f:
            json.dump(cfg, f, ensure_ascii=False)

    def start(self, spark, counters, ops: Ops) -> None:
        from data_ingestion_bra_spark import manifest
        from data_ingestion_bra_spark.pipelines import ingest_csv

        self.spark, self.counters, self.ops = spark, counters, ops
        self.pipeline, self.manifest = ingest_csv, manifest

    def _run(self):
        return self.pipeline.run(self.spark, self.config_path, run_date=RUN_DATE)

    def warm(self) -> float:
        self.counters.start_group("warm")
        ok, result = self.ops.run("warm ingest_csv", self._run)
        t = time.perf_counter()
        self.after_pass(PassInfo(result=result if ok else None))
        return time.perf_counter() - t

    def run_pass(self, tracer) -> PassInfo:
        info = PassInfo(groups=[self.counters.start_group("pass")])
        if tracer is None:
            _, info.result = self.ops.run("ingest_csv", self._run)
            return info
        targets = [(self.pipeline, attr, name) for attr, name in INGEST_LAYERS]
        # write_metadata_from_df resolves schema_stats_job in manifest's namespace
        targets.append((self.manifest, "schema_stats_job", "manifest.schema_stats_job"))
        with tracer.patched(targets), tracer.span("pipelines.ingest_csv"):
            _, info.result = self.ops.run("ingest_csv", self._run)
        return info

    def after_pass(self, info: PassInfo) -> None:
        """The manifest must report the generator's row and null counts,
        and the written partition must read back with as many rows. The
        manifest is removed afterwards so the next pass must rewrite it."""
        if info.result is None:
            return
        self.counters.start_group("check")
        path = info.result["manifest"]

        def verify():
            with open(path, encoding="utf-8") as f:
                stats = json.load(f)["schema_stats"]
            problems = []
            if stats["linhas"] != self.truth["linhas"]:
                problems.append(f"linhas {stats['linhas']} != {self.truth['linhas']}")
            if stats["nulos"] != self.truth["nulos"]:
                problems.append(f"nulos {stats['nulos']} != {self.truth['nulos']}")
            back = (
                self.spark.read.options(sep=";", header=True, encoding="UTF-8")
                .csv(info.result["partition_dir"])
                .count()
            )
            if back != self.truth["linhas"]:
                problems.append(f"read back {back} rows != {self.truth['linhas']}")
            return problems

        ok, problems = self.ops.run("check ingest_csv", verify)
        if ok:
            self.ops.check("manifest ingest_csv", problems)
        if os.path.exists(path):
            os.remove(path)

    def layer_metrics(self, tracer, info: PassInfo) -> dict[str, float]:
        self_s = tracer.self_times(tracer.trace)
        out = {f"{name}_s": self_s.get(name, 0.0) for _, name in INGEST_LAYERS}
        out["manifest.schema_stats_job_s"] = self_s.get("manifest.schema_stats_job", 0.0)
        out["pipelines.ingest_csv.self_s"] = self_s.get("pipelines.ingest_csv", 0.0)
        return out

    def check(self) -> None:
        pass


WORKLOADS = {
    "ingest_csv": IngestWorkload,
    "llm_curation_sf0.1": QueryWorkload,
}


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, on every workload (a
    layer a workload never calls reports 0)."""
    names = [f"{name}_s" for _, name in INGEST_LAYERS]
    names += ["manifest.schema_stats_job_s", "pipelines.ingest_csv.self_s", "plans.build_s", "spark.build_jobs"]
    for q in LLM_CURATION:
        names += [f"plans.{q}.build_s", f"exec.{q}.s", f"spark.{q}.jobs", f"spark.{q}.stages"]
    names += list(PASS_COUNTERS)
    names += ["pass.wall_s", "trace.overhead_s", "spark.retained_storage_mb", "jvm.peak_rss_mb"]
    return names
