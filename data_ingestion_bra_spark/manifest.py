"""Dataset manifest generation — reference parity for app/utils/metadata.py.

A manifest is a sidecar ``<name>.manifest.json`` with three sections
(reference app/utils/metadata.py:139-143):

- ``core``: file name(s), directory, byte size, md5, generation timestamp
- ``dataset``: lineage — dataset name, origem, endpoint, delimiter/encoding,
  partition key/value, run id, producer
- ``schema_stats``: columns, dtypes, row count, per-column null counts,
  optional 3-row preview

Spark adaptations (documented deviations from the single-file reference):
- row count + ALL null counts ride the write's own job (``Observation``, no
  second scan; the reference does a pandas pass per column,
  app/utils/metadata.py:32-33);
- distributed outputs have many part-files: ``core`` records the sorted
  part list, per-part md5s, total bytes, and a combined md5 (md5 of the
  concatenated sorted part md5s) — single-file outputs degrade to exactly
  the reference layout;
- paths are normalized to ``/`` (reference manifests carry Windows ``\\`` —
  BASELINE.md note).
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_CHUNK = 1024 * 1024


def _now_iso(now: datetime | None = None) -> str:
    """Ref: app/utils/metadata.py:23-24; injectable for deterministic tests."""
    return (now or datetime.now()).isoformat(timespec="seconds")


def _md5_file(path: str) -> str:
    """Chunked streaming md5 (constant memory). Ref: app/utils/metadata.py:15-20."""
    h = hashlib.md5()
    with open(path, "rb") as f:
        while chunk := f.read(_CHUNK):
            h.update(chunk)
    return h.hexdigest()


def _data_files(path: str) -> list[str]:
    """Data part-files under a file or directory path, sorted by name
    (skips _SUCCESS/., hidden and CRC files)."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            out.append(os.path.join(root, fn))
    return sorted(out)


def count_file_lines(path: str) -> int:
    """Streamed line count with the reference's iteration semantics
    (app/utils/metadata.py:41-47: ``for _ in f``), so a final line WITHOUT a
    trailing newline still counts as a line. NOTE the reference's latent bug
    (counts physical lines, over-counting multiline quoted CSV rows) is
    inherited by design here — this is the file-level metric, not the row
    count; DataFrame manifests use the write's observed row count."""
    n = 0
    last = b"\n"
    with open(path, "rb") as f:
        while chunk := f.read(_CHUNK):
            n += chunk.count(b"\n")
            last = chunk[-1:]
    if last != b"\n":
        n += 1
    return n


def observe_schema_stats(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach linhas + per-column ``nulos_<col>`` (A1+A2, SURVEY §2.4) to
    ``df`` as an ``Observation``: write the returned frame and the stats
    arrive with the write's own job. CONTRACT: observe right before the
    write and run no other action on the observed frame first — an
    ``Observation`` reports the first action only, so any other action runs
    on ``df``, never on the returned frame."""
    obs = Observation()
    aggs = [F.sum(F.col(c).isNull().cast("bigint")).alias(f"nulos_{c}") for c in df.columns]
    return df.observe(obs, F.count(F.lit(1)).alias("linhas"), *aggs), obs


def schema_stats_job(df: DataFrame, observation: Observation) -> dict[str, Any]:
    """The ``schema_stats`` record from ``df``'s schema and its write's
    observed stats. Launches no job."""
    got = observation.get
    return {
        "colunas": list(df.columns),
        "dtypes": {f.name: f.dataType.simpleString() for f in df.schema.fields},
        "linhas": int(got["linhas"]),
        # sum() over zero rows is NULL: an empty write has 0 nulls
        "nulos": {c: int(got[f"nulos_{c}"] or 0) for c in df.columns},
    }


def write_metadata_from_df(
    df: DataFrame,
    path: str,
    observation: Observation,
    *,
    dataset: str,
    origem: str | None = None,
    endpoint: str | None = None,
    delimitador: str | None = None,
    encoding: str | None = None,
    partition_key: str | None = None,
    partition_value: str | None = None,
    run_id: str | None = None,
    producer: str | None = None,
    include_preview: bool = False,
    preview_order: list[str] | None = None,
    extra: dict[str, Any] | None = None,
    now: datetime | None = None,
    manifest_name: str | None = None,
) -> str:
    """Write ``<path>.manifest.json`` for a written output + its DataFrame.

    Ref: write_metadata_from_df app/utils/metadata.py:85-151.

    ``observation``: from ``observe_schema_stats(df)``, whose observed
    frame wrote ``path``.

    ``manifest_name``: write INSIDE a directory output under this name
    instead of as a sibling — use an underscore-prefixed name (e.g.
    ``_manifest.json``) when the output lives in a Hive-partitioned tree,
    so Spark's partition discovery ignores it.
    """
    files = _data_files(path)
    part_hashes = [_md5_file(p) for p in files]
    combined = (
        part_hashes[0]
        if len(part_hashes) == 1
        else hashlib.md5("".join(part_hashes).encode()).hexdigest()
    )
    norm = lambda p: p.replace(os.sep, "/")  # noqa: E731
    core: dict[str, Any] = {
        "arquivo": norm(os.path.basename(path.rstrip("/"))),
        "diretorio": norm(os.path.dirname(os.path.abspath(path))),
        "tamanho_bytes": sum(os.path.getsize(p) for p in files),
        "hash_md5": combined,
        "gerado_em": _now_iso(now),
    }
    if len(files) > 1:
        core["partes"] = [
            {"arquivo": norm(os.path.relpath(p, path)), "hash_md5": h, "tamanho_bytes": os.path.getsize(p)}
            for p, h in zip(files, part_hashes)
        ]
    stats = schema_stats_job(df, observation)
    if include_preview:
        pdf = df
        if preview_order:
            pdf = pdf.orderBy(*preview_order)  # stable preview (SURVEY §2.6 note on O4)
        stats["preview"] = [r.asDict() for r in pdf.limit(3).collect()]
    # Flat DatasetInfo keys, exactly as the reference dataclass serializes
    # (app/utils/metadata.py:62-72) so reference-manifest consumers parse ours.
    manifest = {
        "core": core,
        "dataset": {
            "dataset": dataset,
            "origem": origem,
            "endpoint": endpoint,
            "delimitador": delimitador,
            "encoding": encoding,
            "partition_key": partition_key,
            "partition_value": partition_value,
            "run_id": run_id,
            "producer": producer,
        },
        "schema_stats": stats,
    }
    if extra:
        manifest["extra"] = extra
    if manifest_name is not None:
        out_path = os.path.join(path.rstrip("/"), manifest_name)
    else:
        out_path = path.rstrip("/") + ".manifest.json"
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False, indent=2, default=str)
    return out_path


def write_manifest_from_file(
    path: str,
    *,
    dataset: str,
    header: bool = True,
    infer_columns_from_header: bool = True,
    line_count: bool = True,
    delimitador: str = ";",
    encoding: str = "utf-8",
    extra: dict[str, Any] | None = None,
    now: datetime | None = None,
    **lineage: Any,
) -> str:
    """File-only manifest (no DataFrame): header-sniffed columns + streamed
    line count. Ref: write_manifest_from_file app/utils/metadata.py:153-232.
    """
    core = {
        "arquivo": os.path.basename(path),
        "diretorio": os.path.dirname(os.path.abspath(path)).replace(os.sep, "/"),
        "tamanho_bytes": os.path.getsize(path),
        "hash_md5": _md5_file(path),
        "gerado_em": _now_iso(now),
    }
    stats: dict[str, Any] = {}
    if header and infer_columns_from_header:
        with open(path, encoding=encoding) as f:
            first = f.readline().strip("\n\r")
        stats["colunas"] = [c.strip() for c in first.split(delimitador)]
    if line_count:
        physical = count_file_lines(path)
        stats["linhas"] = max(physical - (1 if header else 0), 0)
    manifest = {
        "core": core,
        "dataset": {"dataset": dataset, "delimitador": delimitador, "encoding": encoding, **lineage},
        "schema_stats": stats,
    }
    if extra:
        manifest["extra"] = extra
    out_path = path + ".manifest.json"
    with open(out_path, "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False, indent=2, default=str)
    return out_path
