"""Random-hyperplane LSH (SimHash-for-vectors) bucketing for ANN search.

``n_planes`` hyperplanes are derived deterministically from md5 (seeded by
plane and dimension index) and embedded as LITERAL integer weight arrays in
the plan. Each vector's bucket is the n-bit sign signature of its dot
products with the planes; ANN candidates are same-bucket vectors (an
equi-join — the LSH property that replaces the n² pair scan at scale).

Determinism: vectors are quantized to BIGINT fixed-point (×1e6, see
``operators.similarity.SCALE``) and the plane weights are odd integers in
[-15, 15] (16× the nominal [-0.9375, 0.9375] reals — a positive scale factor
never changes a dot product's sign). The sign test is therefore EXACT integer
arithmetic, bit-reproducible by any SQL oracle regardless of summation order.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestion_bra_spark.operators.similarity import idot_sql, quantize_sql


def plane_weights(n_planes: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random integer hyperplane weights (odd, [-15, 15]).

    ``2 * md5_nibble - 15`` is 16× the legacy ``(nibble - 7.5) / 8`` real
    weight, preserving every hyperplane's orientation exactly.
    """
    return [
        [
            2 * int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[0], 16) - 15
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def all_plane_dots(vec: str, weights: list[list[int]]) -> Column:
    """Exact integer dots of the quantized vector column ``vec`` with EVERY
    plane, as one array<bigint> — a single transform over a literal plane
    matrix, so the whole projection compiles to ONE codegen'd lambda instead
    of one fold per plane (which made 64-plane plans take seconds just to
    compile)."""
    # One F.expr parse for the whole matrix: building 64x64 literals as
    # individual F.lit() Columns costs thousands of py4j round-trips (~13 s
    # of driver-side plan construction); a single SQL string parses in ms.
    rows = ", ".join("array(" + ", ".join(f"{int(x)}L" for x in w) + ")" for w in weights)
    return F.expr(f"transform(array({rows}), p -> {idot_sql(vec, 'p')})")


def bucket_from_dots(dots: Column, offset: int, n_planes: int) -> Column:
    """Sign-signature bucket from a materialized dots column (1-indexed
    slice [offset+1, offset+n_planes])."""
    bits = [
        (
            F.when(F.element_at(dots, offset + p + 1) > 0, F.lit(1)).otherwise(F.lit(0))
            * (1 << p)
        )
        for p in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("bigint")


def weights_sql(weights: list[list[int]]) -> list[str]:
    """DuckDB literal BIGINT list expressions mirroring the Spark literals."""
    return ["[" + ", ".join(f"CAST({x} AS BIGINT)" for x in w) + "]" for w in weights]


def banded_buckets(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int,
    band_planes: int,
    dim: int,
) -> DataFrame:
    """(vid, v, band, bucket): one row per (vector, band) — the OR-construction
    of RP-LSH. Band ``b`` buckets on the sign signature of planes
    [b*band_planes, (b+1)*band_planes); a pair is a candidate if it collides
    in ANY band, so recall at cosine s is 1 - (1 - p^r)^b with
    p = 1 - acos(s)/π. Candidate generation downstream is an equi-join on
    (band, bucket) — never an all-pairs scan.
    """
    w = plane_weights(n_bands * band_planes, dim)
    base = vectors.selectExpr(
        f"{id_col} as vid", f"{quantize_sql(vec_col)} as v"
    ).withColumn("_dots", all_plane_dots("v", w))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                bucket_from_dots(F.col("_dots"), b * band_planes, band_planes).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return base.select("vid", "v", F.explode(bands).alias("bb")).select(
        "vid", "v", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def banded_bucket_sql(n_bands: int, band_planes: int, dim: int, *, from_cte: str) -> str:
    """DuckDB twin of ``banded_buckets``: UNION ALL of one select per band
    over a CTE exposing (vec_id, e) with e already quantized to BIGINT."""
    ws = weights_sql(plane_weights(n_bands * band_planes, dim))
    selects = []
    for b in range(n_bands):
        bits = " + ".join(
            f"(CASE WHEN list_sum(list_transform(list_zip(e, {ws[b * band_planes + p]}),"
            f" q -> q[1] * q[2])) > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(band_planes)
        )
        selects.append(
            f"SELECT vec_id, {b} AS band, CAST({bits} AS BIGINT) AS bucket FROM {from_cte}"
        )
    return " UNION ALL ".join(selects)


def rplsh_buckets(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int,
) -> DataFrame:
    """(vid, v: array<bigint> quantized, bucket) for every input vector.

    ``dim`` is required — deriving it from the data would cost a driver
    round-trip (``first()``) per call.
    """
    w = plane_weights(n_planes, dim)
    return (
        vectors.selectExpr(f"{id_col} as vid", f"{quantize_sql(vec_col)} as v")
        .withColumn("_dots", all_plane_dots("v", w))
        .select("vid", "v", bucket_from_dots(F.col("_dots"), 0, n_planes).alias("bucket"))
    )
