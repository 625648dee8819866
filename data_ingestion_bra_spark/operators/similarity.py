"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query set
  against the candidate table; candidates stream through a single stage, and
  top-k is a per-query row_number, so nothing pairs-shaped ever shuffles
  except the k winners. The dot product is a higher-order ``zip_with`` +
  ``aggregate`` fold — JVM expressions, no UDF, no explode.
- ``ivf_topk``: the scale path — IVF with k-means-trained centroids: every
  vector is assigned to its nearest centroid once; queries search their own
  cell plus the ``n_probe``-1 next-nearest cells.

Determinism: embeddings are quantized to integer fixed-point
(``round(x * 1e6) -> BIGINT``) and dot products / squared norms are computed
in exact integer arithmetic (the same trick the repo uses for money-as-cents
and ``mean_intensity_e6``). Summation order then cannot change the result, so
a SQL oracle summing in a different order produces bit-identical cosines —
the only float ops left (sqrt, one multiply, one divide, final round) are
IEEE-754 correctly-rounded and engine-independent.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestion_bra_spark.sources.tables import cached, publish

#: fixed-point quantization scale: 6 decimal digits of embedding precision.
#: |x| <= ~1.0 and dim <= ~1e3 keeps dots within 1e3 * (1e6)^2 = 1e15 << 2^63.
SCALE = 1_000_000


# --------------------------------------------------------------------------
# Vector expressions
# --------------------------------------------------------------------------
# Each expression has ONE definition: the SQL text below, used via
# selectExpr / F.expr. A Column-API lambda costs a dozen-plus py4j round
# trips to construct (~12-15 ms per lambda measured on the bench box) and
# the serve-path plans emit these several times per query; one parse
# call builds the same Catalyst expression (optimization guide §4: the
# Python boundary).


def quantize_sql(a: str) -> str:
    """array<float|double> ``a`` -> array<bigint> fixed point at 1e-6."""
    return (
        f"transform(cast({a} as array<double>),"
        f" x -> cast(round(x * {float(SCALE)!r}D, 0) as bigint))"
    )


def idot_sql(a: str, b: str) -> str:
    """Exact integer dot of two quantized (array<bigint>) vectors."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"


def inorm2_sql(a: str) -> str:
    """Exact integer squared norm of a quantized vector."""
    return f"aggregate(transform({a}, x -> x * x), 0L, (acc, x) -> acc + x)"


def norm_sql(a: str) -> str:
    """Double norm of a quantized vector: sqrt of the exact integer."""
    return f"sqrt(cast({inorm2_sql(a)} as double))"


def cosine_e4_sql(dot: str, norm_a: str, norm_b: str) -> str:
    """Integer cosine at 1e-4 resolution: ``floor(cos * 10000 + 0.5)`` as
    BIGINT.

    Every step — sqrt, multiply, divide, multiply, add, floor — is a
    correctly-rounded IEEE-754 double op over bit-identical integer inputs,
    so the result is the SAME integer on every engine; no rounded double
    (with its half-boundary and signed-zero representation hazards — the
    round-1/2 oracle mismatch on similarity_rplsh_bucketed was a signed zero)
    ever reaches the output schema. The oracle twin spells the identical
    expression tree: FLOOR(dot / (na * nb) * 10000.0 + 0.5)::BIGINT.
    """
    return (
        f"cast(floor(cast({dot} as double) / ({norm_a} * {norm_b})"
        f" * 10000.0D + 0.5D) as bigint)"
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per query vector. Queries broadcast; candidates
    never shuffle until the final per-query k-row window."""
    q = queries.selectExpr(
        f"{id_col} as query_id", f"{quantize_sql(vec_col)} as qv"
    ).selectExpr("query_id", "qv", f"{norm_sql('qv')} as qn")
    from data_ingestion_bra_spark.sources.tables import spread_scan

    # 16 KiB/task: each candidate row pays |Q| quantize+norm+dot products
    # against the broadcast query side — far above scan cost (round-12
    # driver: +1.21x at 32c from fanning this out)
    c = spread_scan(candidates, bytes_per_task=16 * 1024).selectExpr(
        f"{id_col} as cand_id", f"{quantize_sql(vec_col)} as cv"
    ).selectExpr("cand_id", "cv", f"{norm_sql('cv')} as cn")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .selectExpr(
            "query_id",
            "cand_id",
            f"{cosine_e4_sql(idot_sql('qv', 'cv'), 'qn', 'cn')} as cosine_e4",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_e4").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine_e4", F.col("rank").cast("bigint").alias("rank"))
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    spread: bool = True,
    include_sim: bool = False,
) -> DataFrame:
    """Nearest-centroid (cosine) cell assignment; centroids broadcast.

    ``n_probe`` > 1 keeps the n_probe nearest cells per vector (multi-probe
    for the query side of an IVF search). Vectors arrive as raw float arrays
    and leave quantized (column ``v``: array<bigint>).

    ``include_sim`` appends the winner's centroid cosine (``sim``, e4 fixed
    point) to the output — the drift signal streaming IVF maintenance
    monitors; off by default so existing consumers keep their schema.

    ``spread`` repartitions the vector side before scoring — right for the
    CORPUS assignment path (see below); the query side of an IVF search is
    a handful of vectors where the shuffle is pure overhead, so ``ivf_topk``
    passes ``spread=False`` there.
    """
    v = vectors.selectExpr(
        f"{id_col} as vid", f"{quantize_sql(vec_col)} as v"
    ).selectExpr("vid", "v", f"{norm_sql('v')} as vn")
    if spread:
        # Spread the n×k scoring across the cluster BEFORE fanning out
        # against the broadcast centroids: a compact vector table (the
        # 100×-replica's 200k × 64-dim corpus is ONE ~100 MB parquet split)
        # otherwise scores every candidate on a single core — the measured
        # sf10 assignment cost tracked single-thread HOF throughput exactly.
        # One slim hash shuffle of the vectors (O(n) rows) buys n×k compute
        # parallelism. Parallelism comes from the SQL conf (not
        # sparkContext.defaultParallelism, which Spark Connect can't reach).
        par = int(vectors.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        v = v.repartition(par, F.col("vid"))
    c = centroids.selectExpr("cell", "cvec as c", f"{norm_sql('cvec')} as cn")
    # The argmax window shuffles n_vectors * n_centroids candidate rows;
    # project them down to (vid, cell, sim) BEFORE that shuffle and re-join
    # the ~n_probe winners back to the quantized vectors after. Carrying the
    # vector itself through the window (the pre-round-5b plan) multiplies the
    # shuffle payload by the embedding width — at k=800 cells over a
    # 200k-vector replica that is an ~80 GB argmax shuffle vs ~4 GB for the
    # slim projection. (The dot product stays the higher-order-function
    # fold: an unrolled 64-term element_at sum was MEASURED 2.7x slower than
    # the HOF evaluator on Spark 4, even over materialized arrays.)
    scored = v.crossJoin(F.broadcast(c)).selectExpr(
        "vid",
        "cell",
        f"{cosine_e4_sql(idot_sql('v', 'c'), 'vn', 'cn')} as sim",
    )
    if n_probe == 1:
        # Corpus assignment (the n×k hot path): argmax as a MAX_BY
        # aggregation, not a window — partial aggregation combines map-side,
        # so the shuffle carries ~n_vectors winner rows instead of sorting
        # all n×k candidate rows (at k=800 over the 100× replica: 160M-row
        # sort vs 200k combined rows). Tie-break identical to the window
        # ordering: max of (sim, -cell) == highest sim, then lowest cell.
        winners = scored.groupBy("vid").agg(
            F.max_by(
                F.col("cell"), F.struct(F.col("sim"), (-F.col("cell")).alias("nc"))
            ).alias("cell"),
            # the winner's sim is simply max(sim) — tie-break only picks the
            # cell, never changes the winning similarity
            F.max("sim").alias("sim"),
        ).withColumn("probe_rank", F.lit(1))
    else:
        w = Window.partitionBy("vid").orderBy(F.col("sim").desc(), F.col("cell").asc())
        winners = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n_probe)
            .select("vid", "cell", "sim", F.col("rn").alias("probe_rank"))
        )
    cols = ["vid", "cell", "v"] + (["sim"] if include_sim else []) + ["probe_rank"]
    return winners.join(v.select("vid", "v"), "vid").select(*cols)


def inline_probe_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame | None:
    """Row-local n_probe nearest-cell assignment, or ``None`` when it does
    not apply. Returns (vid, cell, v: quantized vector, vn: norm), one row
    per (vector, probed cell).

    When the centroid VALUES are locally available (the persisted-index
    serve path rides them along as ``_local_rows``) and small enough to
    inline as a literal, each vector scores the centroid array
    in-expression and explodes its n_probe winners — same
    (sim DESC, cell ASC) total order as ``assign_cells``' window, so the
    probes are bit-identical, with ZERO exchanges on the query subtree
    (vs crossJoin-broadcast + argmax-window + join-back). The literal
    rides in the task closure like a broadcast, so it is capped; callers
    fall back to ``assign_cells`` on ``None``. The parsed expression is
    cached per (index, n_probe): the multi-KB literal costs tens of ms to
    analyze, once, not per invocation.
    """
    cent_rows = getattr(centroids, "_local_rows", None)
    if cent_rows is None or sum(len(v) for _, v in cent_rows) > 100_000:
        return None
    probe_cache = getattr(centroids, "_probe_expr_cache", None)
    if probe_cache is None:
        probe_cache = {}
        centroids._probe_expr_cache = probe_cache
    probe_col = probe_cache.get(int(n_probe))
    if probe_col is None:
        cents_sql = "array(" + ", ".join(
            f"struct({int(cell)} as cell,"
            f" array({','.join(str(int(x)) + 'L' for x in vec)}) as cvec,"
            # exact integer squared norm computed in Python (no float);
            # sqrt stays an engine-side correctly-rounded IEEE op
            f" sqrt(cast({sum(int(x) * int(x) for x in vec)}L as double)) as cn)"
            for cell, vec in cent_rows
        ) + ")"
        sim_sql = cosine_e4_sql(idot_sql("v", "c.cvec"), "vn", "c.cn")
        probe_col = F.expr(
            f"slice(array_sort(transform({cents_sql}, c -> "
            f"struct({sim_sql} as sim, c.cell as cell)), "
            "(l, r) -> case when l.sim > r.sim then -1 when l.sim < r.sim then 1 "
            "when l.cell < r.cell then -1 when l.cell > r.cell then 1 else 0 end), "
            f"1, {int(n_probe)})"
        )
        probe_cache[int(n_probe)] = probe_col
    return (
        vectors.selectExpr(f"{id_col} as vid", f"{quantize_sql(vec_col)} as v")
        .selectExpr("vid", "v", f"{norm_sql('v')} as vn")
        .select("vid", "v", "vn", F.explode(probe_col).alias("pc"))
        .selectExpr("vid", "pc.cell as cell", "v", "vn")
    )


def seed_centroids(
    vectors: DataFrame, *, id_col: str = "vec_id", n_centroids: int = 8
) -> DataFrame:
    """Deterministic k-means seeds: the first n vectors by id, quantized.

    Returns (cell, cvec: array<bigint>). Cheap and reproducible; kmeans_train
    refines them.
    """
    w = Window.orderBy(F.col(id_col).asc())
    return (
        vectors.filter(F.col(id_col) < n_centroids)
        .select(
            (F.row_number().over(w) - 1).alias("cell"),
            F.expr(quantize_sql("embedding")).alias("cvec"),
        )
    )


def kmeans_train(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_iter: int = 3,
    train_sample_rate: float | None = None,
) -> DataFrame:
    """Deterministic Lloyd iterations over quantized vectors.

    Each iteration: broadcast-assign every vector to its nearest centroid
    (cosine), then recompute each centroid as the element-wise integer mean of
    its members via posexplode + (cell, pos) sum/count — a partial-aggregable
    shape (map-side combine) that never materializes a per-cell vector list.
    All arithmetic on BIGINT fixed-point, so the trained centroids are
    bit-reproducible by the SQL oracle. Returns (cell, cvec).

    ``train_sample_rate``: Lloyd iterations run over a deterministic
    content-hash sample of the corpus (``operators/sampling.py`` — invariant
    to physical layout, so centroids stay bit-reproducible and the SQL
    oracle mirrors the filter). Cluster geometry needs only a representative
    sample; at 100 TB, training must NOT assign the full corpus once per
    iteration — the corpus is assigned exactly once, at index build
    (``load_or_build_ivf_index``). Seeds still come from the full corpus
    (first ``n_centroids`` ids) so seeding is sample-rate-independent.
    """
    from data_ingestion_bra_spark.operators.sampling import deterministic_sample

    train = vectors
    if train_sample_rate is not None and train_sample_rate < 1.0:
        train = deterministic_sample(vectors, [id_col], train_sample_rate)
    cents = seed_centroids(vectors, id_col=id_col, n_centroids=n_centroids)
    for _ in range(n_iter):
        assigned = assign_cells(train, cents, id_col=id_col, vec_col=vec_col, n_probe=1)
        dim_stats = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        cents = dim_stats.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                # floor(x + 0.5), not round(): round's half-boundary behavior
                # is engine-specific, floor of a correctly-rounded double is
                # the same integer everywhere (s/n CAN be exactly .5).
                lambda t: F.floor(t["s"].cast("double") / t["n"] + F.lit(0.5)).cast("bigint"),
            ).alias("cvec")
        )
        # Cut lineage between Lloyd rounds (k rows, kept executor-side):
        # without this, every downstream use re-evaluates the whole chain of
        # prior iterations — the standard checkpoint pattern for iterative
        # algorithms on Spark.
        cents = cents.localCheckpoint(eager=True)
    return cents


def _ivf_cache_root() -> Path:
    """Resolve the IVF index cache directory.

    ``SPARK_GRAFT_IVF_CACHE`` overrides; otherwise the repo checkout root
    (two levels above this package) — unless the package is installed under
    site-packages, where writing next to the install tree would be wrong, so
    fall back to a per-user temp dir. At 100 TB the 'cache' is object-store
    parquet addressed by config, which the env var models.
    """
    env = os.environ.get("SPARK_GRAFT_IVF_CACHE")
    if env:
        return Path(env)
    root = Path(__file__).resolve().parents[2]
    if "site-packages" in root.parts or "dist-packages" in root.parts:
        return Path(tempfile.gettempdir()) / "spark_graft_ivf_cache"
    return root / ".ivf_cache"


def _dataset_fingerprint(src: Path) -> str:
    """Identity of a parquet dataset for cache keying: size + st_mtime_ns +
    an md5 over head/tail content bytes (the parquet footer carries row
    counts and column stats, so a same-size same-second regeneration still
    flips the hash). Directory-style datasets fingerprint each member file,
    so a rewritten part flips the key even if the dir's own stat doesn't.
    """

    def one(f) -> str:
        st = f.stat()
        h = hashlib.md5()
        with open(f, "rb") as fh:
            h.update(fh.read(65536))
            if st.st_size > 131072:
                fh.seek(-65536, 2)
            h.update(fh.read(65536))
        return f"{st.st_size}-{st.st_mtime_ns}-{h.hexdigest()[:12]}"

    try:
        if src.is_dir():
            parts = sorted(p for p in src.rglob("*") if p.is_file())
            h = hashlib.md5()
            for p in parts:
                h.update(f"{p.name}:{one(p)};".encode())
            return h.hexdigest()[:16]
        return hashlib.md5(one(src).encode()).hexdigest()[:16]
    except OSError:
        return "nosrc"


def _parquet_rows(path: Path) -> int:
    """Rows of the parquet file or dataset directory at ``path``, summed
    from its footers (pyarrow; no Spark job)."""
    import pyarrow.parquet as pq

    files = [path] if path.is_file() else [
        f for f in sorted(path.rglob("*.parquet")) if not f.name.startswith(("_", "."))
    ]
    return sum(pq.read_metadata(f).num_rows for f in files)


def load_or_build_index(
    spark,
    sf_dir: str,
    params: str,
    *,
    id_col: str,
    vec_col: str,
    names: tuple[str, str],
    schema: str,
    train: Callable[[], list[tuple]],
    encode: Callable[[DataFrame], DataFrame],
    rows_per_vector: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Train-once / serve-many index artifacts over
    ``sf_dir/embeddings.parquet``: ``(model, data)``, a small JSON model
    (centroids, a codebook) and a parquet relation derived from it (inverted
    lists, codes). The one publish-and-load path of every vector index.

    - **Key:** the dataset directory's name and content fingerprint
      (``_dataset_fingerprint``) plus every parameter that changes an
      artifact: ``params`` and, when not the defaults, ``id_col``/``vec_col``.
      A regenerated dataset builds new artifacts.
    - **Build** (when an artifact is missing): ``train()`` returns the
      model's rows (``schema``), or they are read from a published model;
      ``encode(model)`` the data relation, written to a temporary sibling.
      Its rows must be ``rows_per_vector`` per row of the dataset's parquet
      footers, else the build raises and publishes nothing: the vectors
      passed in were not the full table. Then the model, then the data, is
      renamed into place (``sources.tables.publish``).
    - **Load:** both handles come from the one session store
      (``sources.tables.cached``), slot ``("index", key)``, versioned by the
      artifacts' stat, a freshly built pair included. The model handle
      carries its rows as ``_local_rows`` (``inline_probe_cells``).
    """
    src = Path(sf_dir) / "embeddings.parquet"
    cols = "" if (id_col, vec_col) == ("vec_id", "embedding") else f"-{id_col}-{vec_col}"
    key = _ivf_cache_root() / f"{Path(sf_dir).name}-{params}{cols}"
    fp = _dataset_fingerprint(src)
    model_path = Path(f"{key}-{fp}-{names[0]}.json")
    data_path = Path(f"{key}-{fp}-{names[1]}.parquet")
    fields = [f.split()[0] for f in schema.split(",")]

    def model_df(rows: list[tuple]) -> DataFrame:
        df = spark.createDataFrame(rows, schema)
        df._local_rows = rows
        return df

    def model_rows() -> list[tuple]:
        return [tuple(r[f] for f in fields) for r in json.loads(model_path.read_text())]

    def version() -> tuple:
        stats = (os.stat(model_path), os.stat(data_path))
        return (fp, *((st.st_mtime_ns, st.st_size) for st in stats))

    try:
        v = version()
    except OSError:
        trained = not model_path.exists()
        rows = train() if trained else model_rows()
        model_path.parent.mkdir(parents=True, exist_ok=True)
        tmp = data_path.with_name(f"{data_path.name}.tmp{os.getpid()}")
        encode(model_df(rows)).write.mode("overwrite").parquet(str(tmp))
        written, want = _parquet_rows(tmp), _parquet_rows(src) * rows_per_vector
        if written != want:
            shutil.rmtree(tmp, ignore_errors=True)
            raise ValueError(
                f"{data_path.name}: {written} rows written, {want} expected from the "
                f"footers of {src}; build the index from the full table"
            )
        if trained:
            mtmp = model_path.with_name(f"{model_path.name}.tmp{os.getpid()}")
            mtmp.write_text(json.dumps([dict(zip(fields, r)) for r in rows]))
            publish(mtmp, model_path)
        publish(tmp, data_path)
        v = version()
    return cached(
        spark,
        ("index", str(key)),
        v,
        lambda: (model_df(model_rows()), spark.read.parquet(str(data_path))),
    )


def load_or_build_ivf_index(
    spark,
    vectors: DataFrame,
    sf_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_iter: int = 1,
    train_sample_rate: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Full IVF index = centroids + INVERTED LISTS. Returns
    ``(centroids, assignments)`` where assignments is ``(vid, cell, v)`` —
    the quantized corpus pre-assigned to its nearest cell and persisted as
    parquet, so the serve path is: scan the index file, assign only the
    (few) query vectors against the broadcast centroids, equi-join on cell.
    Trained centroids are a tiny JSON artifact reloaded by every later
    query: the serve path never re-runs Lloyd iterations (re-training per
    query was round 2's 2.78x bench regression) nor re-assigns the corpus.

    Training and assignment are deterministic (fixed seeds, integer
    fixed-point), so the cached artifacts are bit-identical to an inline
    run and the unrolled SQL oracle stays valid.

    Published and loaded by ``load_or_build_index``: keyed by the
    ``embeddings.parquet`` fingerprint and every training parameter,
    ``id_col``/``vec_col`` included; both handles come from the one session
    store. ``vectors`` must be the full ``sf_dir/embeddings.parquet``
    relation (a pre-filtered one raises before anything is published);
    filter after the index is loaded.
    """

    def train() -> list[tuple]:
        cents = kmeans_train(
            vectors,
            id_col=id_col,
            vec_col=vec_col,
            n_centroids=n_centroids,
            n_iter=n_iter,
            train_sample_rate=train_sample_rate,
        )
        return sorted((int(r["cell"]), [int(x) for x in r["cvec"]]) for r in cents.collect())

    sr = "" if train_sample_rate is None else f"-s{train_sample_rate}"
    return load_or_build_index(
        spark,
        sf_dir,
        f"c{n_centroids}-i{n_iter}{sr}",
        id_col=id_col,
        vec_col=vec_col,
        names=("centroids", "lists"),
        schema="cell int, cvec array<bigint>",
        train=train,
        encode=lambda cents: assign_cells(
            vectors, cents, id_col=id_col, vec_col=vec_col, n_probe=1
        ).select("vid", "cell", "v"),
    )


def ivf_topk(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_iter: int = 0,
    n_probe: int = 1,
    query_ids: list[int] | None = None,
    k: int = 5,
    centroids: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k. ``n_iter`` k-means refinement rounds (0 = raw seeds),
    ``n_probe`` nearest cells searched per query. Candidate generation is an
    equi-join on cell id — the LSH-style shape that replaces the n^2 pair
    scan at scale. Pass ``centroids`` (from ``load_or_build_ivf_index``) to
    skip training, and ``assignments`` (the persisted inverted lists from
    ``load_or_build_ivf_index``) to also skip re-assigning the corpus — the
    full serve path then touches only the index file plus the query
    vectors."""
    if centroids is not None:
        cents = centroids
    elif n_iter > 0:
        cents = kmeans_train(
            vectors, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids, n_iter=n_iter
        )
    else:
        cents = seed_centroids(vectors, id_col=id_col, n_centroids=n_centroids)
    qsrc = vectors.filter(F.col(id_col).isin(query_ids) if query_ids else F.lit(True))
    # Row-local query-side probe assignment: when the centroid VALUES are
    # available locally (the persisted-index serve path) and small enough to
    # inline as a literal, the query side needs NO crossJoin, NO argmax
    # window exchange, and NO join back to the vectors — each query row
    # scores the centroid array in-expression and explodes its n_probe
    # winners (same (sim DESC, cell ASC) total order as assign_cells, so
    # the probed cells are bit-identical). Plan diff at sf0.1: the query
    # subtree drops from 2 exchanges + 1 broadcast to ZERO exchanges.
    # Centroid relations too big to inline (the literal rides in the task
    # closure like a broadcast, so cap it) fall back to the broadcast
    # crossJoin path, which never assumes the index fits in a plan.
    inline = inline_probe_cells(qsrc, cents, id_col=id_col, vec_col=vec_col, n_probe=n_probe)
    if inline is not None:
        qs = inline.selectExpr("vid as query_id", "cell", "v as qv", "vn as qn")
    else:
        qcells = assign_cells(
            qsrc, cents, id_col=id_col, vec_col=vec_col, n_probe=n_probe, spread=False
        )
        qs = qcells.selectExpr(
            "vid as query_id", "cell", "v as qv", f"{norm_sql('v')} as qn"
        )
    if assignments is not None:
        ccells = assignments
    else:
        ccells = assign_cells(vectors, cents, id_col=id_col, vec_col=vec_col, n_probe=1)
    cs = ccells.selectExpr(
        "vid as cand_id", "cell", "v as cv", f"{norm_sql('v')} as cn"
    )
    scored = (
        F.broadcast(qs)
        .join(cs, "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .selectExpr(
            "query_id",
            "cand_id",
            f"{cosine_e4_sql(idot_sql('qv', 'cv'), 'qn', 'cn')} as cosine_e4",
        )
    )
    if n_probe > 1:
        # multi-probe can see the same candidate from two cells (identical
        # cosine both times). One repartition on query_id serves the dedup
        # AND the rank window below (hashpartitioning(query_id) clusters
        # (query_id, cand_id) groups too) — one exchange, not two.
        scored = (
            scored.repartition(F.col("query_id"))
            .groupBy("query_id", "cand_id")
            .agg(F.max("cosine_e4").alias("cosine_e4"))
        )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_e4").desc(), F.col("cand_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cosine_e4", F.col("rank").cast("bigint").alias("rank"))
    )


def semdedup_prune(
    centroids: DataFrame,
    assignments: DataFrame,
    *,
    threshold_e4: int = 4500,
) -> DataFrame:
    """Semantic deduplication by cluster-then-prune (SemDeDup, Abbas et al.
    2023, arXiv:2303.09540): k-means partitions the corpus into cells, exact
    pairwise cosine runs ONLY within a cell, and inside every τ-connected
    duplicate neighborhood the member LEAST similar to its centroid is kept
    (the paper's keep-low-centroid-sim rule — extreme points preserve
    diversity) while dominated members are pruned.

    Dominance is a local, deterministic rule — prune x iff some same-cell
    neighbor y with cosine(x, y) ≥ τ has (cent_sim, vid) lexicographically
    smaller — so the whole operator is two equi-joins and one aggregation:
    no iteration, no connected-components pass, and the only pairs ever
    scored are cell-local. At 100 TB the cell count scales with the corpus
    (n_centroids ∝ N keeps E[cell size] constant, the paper's own regime),
    so the quadratic step stays bounded per cell while the join on ``cell``
    remains a plain shuffle equi-join; cells are also the unit of
    parallelism, so skewed cells split under AQE.

    Inputs are the PERSISTED IVF index (``load_or_build_ivf_index``):
    training is paid once and serves both ANN queries and semantic dedup.
    Returns one row per vector: (vec_id, cell, cent_sim_e4, n_dups, keep).
    All-BIGINT output, so the unrolled-k-means DuckDB oracle is bit-exact.
    """
    c = centroids.selectExpr("cell", "cvec as cv", f"{norm_sql('cvec')} as cn")
    scored = (
        assignments.selectExpr("vid", "cell", "v", f"{norm_sql('v')} as vn")
        .join(F.broadcast(c), "cell")
        .selectExpr(
            "vid",
            "cell",
            "v",
            "vn",
            f"{cosine_e4_sql(idot_sql('v', 'cv'), 'vn', 'cn')} as cent_sim_e4",
        )
    )
    left = scored.select(
        F.col("vid").alias("a_id"),
        "cell",
        F.col("v").alias("av"),
        F.col("vn").alias("an"),
        F.col("cent_sim_e4").alias("a_cs"),
    )
    right = scored.select(
        F.col("vid").alias("b_id"),
        "cell",
        F.col("v").alias("bv"),
        F.col("vn").alias("bn"),
        F.col("cent_sim_e4").alias("b_cs"),
    )
    pairs = (
        left.join(right, "cell")
        .filter(F.col("a_id") != F.col("b_id"))
        .selectExpr(
            "a_id",
            "a_cs",
            "b_id",
            "b_cs",
            f"{cosine_e4_sql(idot_sql('av', 'bv'), 'an', 'bn')} as pair_cos_e4",
        )
        .filter(F.col("pair_cos_e4") >= F.lit(int(threshold_e4)))
    )
    dominated = (F.col("b_cs") < F.col("a_cs")) | (
        (F.col("b_cs") == F.col("a_cs")) & (F.col("b_id") < F.col("a_id"))
    )
    stats = pairs.groupBy("a_id").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.max(dominated.cast("int")).alias("dom"),
    )
    return (
        scored.select(F.col("vid").alias("vec_id"), "cell", "cent_sim_e4")
        .join(stats.withColumnRenamed("a_id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.col("cell").cast("bigint").alias("cell"),
            "cent_sim_e4",
            F.coalesce(F.col("n_dups"), F.lit(0)).cast("bigint").alias("n_dups"),
            (F.lit(1) - F.coalesce(F.col("dom"), F.lit(0))).cast("bigint").alias("keep"),
        )
    )


def bitext_mining_margin(
    side_a: DataFrame,
    side_b: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    margin_threshold_e4: int = 10000,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk, ACL 2019 — the
    CCMatrix/LASER criterion): a pair (x, y) across the two sides is kept
    iff y is x's nearest neighbor AND x is y's nearest neighbor (mutual
    top-1) AND the RATIO margin clears the threshold:

        margin(x, y) = cos(x, y) / ((sum_topk(x) + sum_topk(y)) / 2k)

    where sum_topk includes the pair itself. The margin is what separates
    true translations from hubs — a vector close to EVERYTHING has a high
    denominator and never clears 1.0.

    Arithmetic is the catalog's integer-cosine convention end to end:
    cos_e4 BIGINTs, margin_e4 = cos_e4 * 2k * 10000 div (sum_x + sum_y) —
    a pure integer floor-division chain the DuckDB oracle replays exactly.
    Pairs with a non-positive denominator (pathological all-negative
    neighborhoods) are dropped explicitly.

    Fixture-exact shape: side A broadcasts against side B (the same exact
    bipartite baseline ``brute_force_topk`` uses; |A| x |B| scored rows,
    never materialized wider than the two ranking windows). At corpus
    scale, mining composes with the IVF serve path instead — assign both
    sides to the persisted cells and score within cells (the CCMatrix
    architecture: FAISS-compressed index both directions); this operator
    is the oracle-checkable exact twin of that plan."""
    a = side_a.selectExpr(f"{id_col} as a_id", f"{quantize_sql(vec_col)} as av").selectExpr(
        "a_id", "av", f"{norm_sql('av')} as an"
    )
    b = side_b.selectExpr(f"{id_col} as b_id", f"{quantize_sql(vec_col)} as bv").selectExpr(
        "b_id", "bv", f"{norm_sql('bv')} as bn"
    )
    # Spread the |A|x|B| scoring BEFORE fanning out against the broadcast
    # side: a compact vector table is often ONE parquet split, which would
    # put every HOF dot product on a single core (the same measured lesson
    # as assign_cells' `spread`). One slim O(|B|) shuffle buys the fan-out
    # parallelism.
    par = int(side_b.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    b = b.repartition(par, F.col("b_id"))
    pairs = (
        F.broadcast(a)
        .join(b)
        .selectExpr(
            "a_id", "b_id", f"{cosine_e4_sql(idot_sql('av', 'bv'), 'an', 'bn')} as cos_e4"
        )
    )
    return _margin_mutual_pairs(pairs, k=k, margin_threshold_e4=margin_threshold_e4)


def _margin_mutual_pairs(
    pairs: DataFrame, *, k: int, margin_threshold_e4: int
) -> DataFrame:
    """Mutual-top-1 + ratio-margin filter over a scored (a_id, b_id,
    cos_e4) candidate relation — shared by the exact bipartite form and
    the IVF cell-restricted serve form. Integer floor-division margin.

    Round-13 single-pass shape (guide §2.3 "aggregate before you shuffle";
    round-12 verdict item 4): the old form ran TWO row_number windows over
    the full pair relation — an exchange + full sort by a_id, then another
    exchange + full sort by b_id, each carrying every scored candidate row.
    Mutual-top-1 only needs each side's argmax and the margin only needs
    each side's top-k sum, both of which are aggregates: each pair row is
    exploded into its two directed halves (side, id, other, cos — 4 narrow
    columns), ONE partially-aggregated groupBy(side, id) computes
    (top-1 partner, top-k sum) per node, and a tiny stats-vs-stats equi-join
    keeps exactly the mutual pairs. The pair relation is scored once, never
    sorted, and crosses the wire once (2x half-rows ≈ the bytes one of the
    two old sorts carried); the max(struct) reduces map-side.

    Tie-breaks replay the old windows exactly: ORDER BY cos_e4 DESC,
    other_id ASC == min(struct(-cos_e4, other)) — cos_e4 is BIGINT by the
    catalog's fixed-point convention, so the negation is exact. The top-k
    sum (sort_array desc, slice k, sum) matches SUM(CASE WHEN rn <= k)
    over the full frame: both sum all rows when a node has < k candidates.
    The per-node stats relation (2 slim rows per distinct id) is lazily
    localCheckpoint-ed so the two sides of the mutual join never recompute
    the scored-candidate subtree."""
    stacked = pairs.selectExpr(
        "explode(array(named_struct('side', 0, 'id', a_id, 'other', b_id),"
        " named_struct('side', 1, 'id', b_id, 'other', a_id))) as h",
        "cos_e4",
    ).selectExpr("h.side as side", "h.id as id", "h.other as other", "cos_e4")
    stats = (
        stacked.groupBy("side", "id")
        .agg(
            F.expr("min(named_struct('nc', -cos_e4, 'o', other))").alias("t"),
            F.expr(
                f"aggregate(slice(sort_array(collect_list(cos_e4), false), 1, {k}),"
                " 0L, (s, x) -> s + x)"
            ).alias("sum_k"),
        )
        .selectExpr("side", "id", "-t.nc as top_cos", "t.o as top_other", "sum_k")
        .localCheckpoint(eager=False)
    )
    a_stats = stats.filter(F.col("side") == 0).selectExpr(
        "id as a_id", "top_other as top_b", "top_cos as cos_e4", "sum_k as sum_x"
    )
    b_stats = stats.filter(F.col("side") == 1).selectExpr(
        "id as b_id", "top_other as top_a", "sum_k as sum_y"
    )
    return (
        a_stats.join(
            b_stats,
            (F.col("top_b") == F.col("b_id")) & (F.col("top_a") == F.col("a_id")),
        )
        .filter(F.col("sum_x") + F.col("sum_y") > 0)
        .withColumn(
            "margin_e4",
            F.expr(f"CAST(cos_e4 * {2 * k} * 10000 div (sum_x + sum_y) AS BIGINT)"),
        )
        .filter(F.col("margin_e4") >= margin_threshold_e4)
        .select("a_id", "b_id", "cos_e4", "margin_e4")
    )


def bitext_mining_margin_ivf(
    side_a: DataFrame,
    side_b: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    margin_threshold_e4: int = 10000,
    n_probe: int = 2,
    b_assignments: DataFrame | None = None,
) -> DataFrame:
    """The corpus-scale serve path of ``bitext_mining_margin``: both sides
    assign to the SHARED IVF cells (broadcast centroids — the existing
    train-once index), candidate pairs come from a (cell) EQUI-JOIN, and
    the mutual-top-1 + margin logic runs within the cell-restricted
    candidate set. This is the CCMatrix architecture: a FAISS-style coarse
    quantizer prunes the |A|x|B| bipartite product to
    sum-over-cells(|A_c| x |B_c|) — candidate volume tracks cell occupancy,
    never the full product, and nothing broadcasts but the centroids.

    ``n_probe`` probes that many nearest cells for side A (the query side),
    recovering pairs that straddle a cell boundary; side B stays
    single-cell so each corpus vector lives in exactly one inverted list.
    Neighborhood sums (the margin denominator) see only in-cell candidates
    — margins are computed against the same pruned world the pair came
    from, so a hub that dominates its cell is still suppressed. Recall vs
    the exact form is measured, not assumed (tests/test_similarity_ops.py:
    fixture recall pinned; every served pair must also clear the exact
    margin rule).

    ``b_assignments`` is the persisted inverted-list relation
    ``(vid, cell, v)`` from ``load_or_build_ivf_index`` — when given, side
    B is served from the index (semi-joined to ``side_b``'s ids) instead of
    re-assigning the corpus, which is the part of the query path that
    otherwise scales with corpus volume. Assignment is deterministic, so
    the served plan is bit-identical to the re-assigning one."""
    a_inline = inline_probe_cells(
        side_a, centroids, id_col=id_col, vec_col=vec_col, n_probe=n_probe
    )
    if a_inline is not None:
        # row-local probe: no crossJoin row explosion, no argmax-window
        # exchange, no join-back — the A side stays a narrow map
        a_cells = a_inline.selectExpr("vid as a_id", "cell", "v as av")
    else:
        a_cells = assign_cells(
            side_a, centroids, id_col=id_col, vec_col=vec_col, n_probe=n_probe
        ).select(F.col("vid").alias("a_id"), F.col("cell"), F.col("v").alias("av"))
    if b_assignments is None:
        b_cells = assign_cells(side_b, centroids, id_col=id_col, vec_col=vec_col).select(
            F.col("vid").alias("b_id"), F.col("cell"), F.col("v").alias("bv")
        )
    else:
        b_cells = (
            b_assignments.join(
                side_b.select(F.col(id_col).alias("vid")), "vid", "left_semi"
            ).select(F.col("vid").alias("b_id"), F.col("cell"), F.col("v").alias("bv"))
        )
    pairs = (
        a_cells.join(b_cells, "cell")
        .selectExpr(
            "a_id",
            "b_id",
            f"{cosine_e4_sql(idot_sql('av', 'bv'), norm_sql('av'), norm_sql('bv'))}"
            " as cos_e4",
        )
        # multi-probe can surface the same (a, b) via two probed cells;
        # keep one scored row per pair (cos is cell-independent)
        .distinct()
    )
    return _margin_mutual_pairs(pairs, k=k, margin_threshold_e4=margin_threshold_e4)
