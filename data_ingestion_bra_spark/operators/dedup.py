"""Deduplication operators for LLM-training-data pipelines.

Four tiers, all pure DataFrame/Column expressions (no Python UDFs), all
cross-engine deterministic (hashes are md5-based so a SQL oracle can
reproduce them bit-for-bit):

- exact:    md5(text) group-by — one shuffle on the fingerprint.
- n-gram Jaccard: shingle → explode → self-join on shingle → pair agg.
  Exact but O(pairs-sharing-a-shingle); use for verification tiers.
- MinHash + LSH: the 100 TB path. k md5-min signatures per doc, banded into
  b buckets; only docs sharing a band bucket become candidate pairs, then
  exact Jaccard verifies. Candidate generation is a self-join on
  (band, bucket) — shuffle scales with bucket sizes, not with pairs².
- SimHash: 32-bit signed-projection fingerprint from md5 nibbles; near-dups
  = pairs with small Hamming distance (bit_count(xor)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, *, distinct: bool = True
) -> DataFrame:
    """(doc, shingle) pairs — the base relation for Jaccard/MinHash.

    Word n-gram shingles built in-row with a higher-order transform (no
    UDF). ``distinct=True`` (a shuffle) is required for set-Jaccard
    arithmetic; MinHash signatures are multiset-invariant (min ignores
    duplicates), so the signature path passes ``distinct=False`` and skips
    that whole shuffle.
    """
    # spread_scan: tokenize + shingle-build + the downstream hash work are
    # narrow above the scan; a single-row-group source runs them on one
    # core (conditional; no-op at warehouse scale)
    from data_ingestion_bra_spark.sources.tables import spread_scan

    shingled = spread_scan(df).select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("__toks")
    ).select(
        "doc",
        # array_join(slice(...)) benches ~2-3x faster than per-index
        # concat_ws inside the lambda (fewer GetArrayItem evals per shingle)
        F.expr(
            f"CASE WHEN size(__toks) >= {n} THEN "
            f"transform(sequence(0, size(__toks) - {n}), i -> array_join(slice(__toks, i + 1, {n}), ' ')) "
            f"ELSE array() END"
        ).alias("shingles"),
    )
    out = shingled.select("doc", F.explode("shingles").alias("shingle"))
    return out.distinct() if distinct else out


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: md5 fingerprint → (fp, canonical_id = min id, dup count)."""
    return (
        df.select(F.col(id_col).alias("doc"), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc").alias("canonical_id"), F.count("*").alias("n_docs"))
    )


def jaccard_pairs(
    sh: DataFrame, *, min_jaccard: float, pair_filter: DataFrame | None = None
) -> DataFrame:
    """Exact pairwise Jaccard over a (doc, shingle) relation.

    ``pair_filter``: optional (doc_a, doc_b) candidates (from LSH). The
    shingle relation is first semi-joined down to docs that appear in any
    candidate pair, THEN self-joined — so verification cost tracks the
    candidate set, not the corpus (the whole point of LSH at 100 TB).
    """
    sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    sh_v = sh
    if pair_filter is not None:
        cand_docs = (
            pair_filter.select(F.col("doc_a").alias("doc"))
            .union(pair_filter.select(F.col("doc_b").alias("doc")))
            .distinct()
        )
        sh_v = sh.join(F.broadcast(cand_docs), "doc", "left_semi")
    a = sh_v.select(F.col("doc").alias("doc_a"), "shingle")
    b = sh_v.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    if pair_filter is not None:
        inter = inter.join(F.broadcast(pair_filter), ["doc_a", "doc_b"], "left_semi")
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # integer 1e-4 fixed point (floor(x*10000 + 0.5)) — a rounded
            # DOUBLE output is a cross-engine hash hazard; the integer is not
            F.floor(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                * F.lit(10000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("jaccard_e4"),
        )
        .filter(F.col("jaccard_e4") >= int(round(min_jaccard * 10000)))
    )


# MinHash permutation family: h31 = (md5-derived 60-bit int) mod p, then
# mh_s = min((a_s * h31 + b_s) mod p). One md5 per shingle (not one per
# shingle×seed); all arithmetic stays in int64 (a_s < 2^28, h31 < 2^31 →
# products < 2^59). Same formulas are replayed verbatim in the SQL oracle.
MINHASH_P = 2147483647  # 2^31 - 1 (prime)


def minhash_seed_params(s: int) -> tuple[int, int]:
    return (15485863 * (s + 1)) % MINHASH_P, (32452843 * (s + 7)) % MINHASH_P


def minhash_signatures(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """Wide signature (doc, mh0..mh{k-1}) in ONE shuffle on doc: base hash
    per shingle via md5→int64 (engine-portable, unlike xxhash64), k affine
    permutations as integer min-aggregates.

    Expressions are built as single SQL strings: the Column-API equivalent
    costs one py4j round trip per operator node (~0.45 ms each on the bench
    box), and this builder sits on the serve path of every minhash entry —
    measured ~0.3 s of pure driver-side expression construction per
    invocation before the switch (optimization guide §4: the Python
    boundary is not only per-row data movement, it is also per-expression
    plan construction)."""
    base = sh.selectExpr(
        "doc",
        f"cast(conv(substring(md5(shingle), 1, 15), 16, 10) as bigint)"
        f" % {MINHASH_P} as __h31",
    )
    aggs = []
    for s in range(num_hashes):
        a, b = minhash_seed_params(s)
        aggs.append(F.expr(f"min((__h31 * {a} + {b}) % {MINHASH_P})").alias(f"mh{s}"))
    return base.groupBy("doc").agg(*aggs)


def _banded_signatures(
    signatures: DataFrame, doc: str, prefix: str, *, band_size: int, num_hashes: int
) -> DataFrame:
    """Row-local banding of a wide signature → (``doc``, band, bucket,
    ``prefix``0..``prefix``{k-1}). The bucket is the band's minhashes joined
    in seed order; sharing any (band, bucket) is the LSH candidate
    condition. The k signature columns ride the explode so a banded join
    can estimate Jaccard in-row on the joined pair."""
    n_bands = num_hashes // band_size
    bands_sql = "array(" + ", ".join(
        f"struct({b} as band, concat_ws('|', "
        + ", ".join(f"cast(mh{b * band_size + i} as string)" for i in range(band_size))
        + ") as bucket)"
        for b in range(n_bands)
    ) + ")"
    sig_cols = [f"mh{s}" for s in range(num_hashes)]
    return signatures.selectExpr("doc", f"explode({bands_sql}) as bb", *sig_cols).selectExpr(
        f"doc as {doc}",
        "bb.band as band",
        "bb.bucket as bucket",
        *[f"mh{s} as {prefix}{s}" for s in range(num_hashes)],
    )


def _estimate_e4_sql(num_hashes: int) -> str:
    """MinHash Jaccard estimate of a joined (a*, b*) signature pair: the
    fraction of agreeing components (the unbiased MinHash estimator) at 1e-4
    fixed point. agree/k stays pure-integer (k | 10000), so the estimate is
    the same BIGINT on every engine — no float in the output schema."""
    if 10000 % num_hashes:
        raise ValueError("num_hashes must divide 10000 for an exact e4 estimate")
    agree = " + ".join(f"cast(a{s} = b{s} as int)" for s in range(num_hashes))
    return f"cast(({agree}) as bigint) * {10000 // num_hashes} as jaccard_est_e4"


def band_buckets(
    signatures: DataFrame, *, band_size: int = 4, num_hashes: int = 16
) -> DataFrame:
    """(doc, band, bucket) — the banded signature without its signature
    columns, the shape a persisted bucket store keeps."""
    return _banded_signatures(
        signatures, "doc", "mh", band_size=band_size, num_hashes=num_hashes
    ).select("doc", "band", "bucket")


def lsh_pair_estimates(
    signatures: DataFrame, *, band_size: int = 4, num_hashes: int = 16
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) AND their MinHash Jaccard
    estimate from ONE banded self-join: the wide signature (k bigints) rides
    the band explode, so the estimate is computed in-row on the joined pair
    and the signature never joins back to the pair relation. The shuffles
    are the (band, bucket) equi-join and the pair DISTINCT — candidate cost
    tracks bucket collisions, not n². At corpus scale the shuffle payload is k×8 bytes
    per banded row (Spark ML's own MinHashLSH carries full signatures
    through its explode the same way).

    The DISTINCT dedups multi-band collisions over (doc_a, doc_b, est) —
    est is functionally dependent on the pair, so each pair appears once.
    """
    est = _estimate_e4_sql(num_hashes)
    a = _banded_signatures(signatures, "doc_a", "a", band_size=band_size, num_hashes=num_hashes)
    b = _banded_signatures(signatures, "doc_b", "b", band_size=band_size, num_hashes=num_hashes)
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .selectExpr("doc_a", "doc_b", est)
        .distinct()
    )


def incremental_lsh_candidates(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    *,
    band_size: int = 4,
    num_hashes: int = 16,
) -> DataFrame:
    """Candidates (doc_new, doc_old, jaccard_est_e4) between an incoming
    BATCH and a STANDING corpus: band both signature sets and equi-join
    batch buckets against corpus buckets, estimating in-row exactly as
    ``lsh_pair_estimates`` does.

    This is the daily-crawl-increment shape at 100 TB: the corpus side is a
    persisted signature store (written once per doc, e.g. through the txlog
    table format), so each increment costs shingling the BATCH plus one
    (band, bucket) equi-join whose size tracks the batch — never a corpus
    self-join, never recomputing historical signatures. The corpus bucket
    relation can additionally be bucketed-by (band, bucket) on disk so the
    join is co-located and shuffle-free on the big side.
    """
    est = _estimate_e4_sql(num_hashes)
    new_b = _banded_signatures(
        batch_sigs, "doc_new", "a", band_size=band_size, num_hashes=num_hashes
    )
    old_b = _banded_signatures(
        corpus_sigs, "doc_old", "b", band_size=band_size, num_hashes=num_hashes
    )
    return new_b.join(old_b, ["band", "bucket"]).selectExpr("doc_new", "doc_old", est).distinct()


def simhash_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    nibbles: int = 8,
) -> DataFrame:
    """SimHash (``nibbles`` md5 nibbles × 4 bits, up to 60 bits) per doc.

    Per distinct token: h = md5(token); nibble i's bit b contributes
    (+1 | -1) to bit position 4*i+b; final bit = (sum > 0). All arithmetic is
    SQL-portable, so the DuckDB oracle matches bit-for-bit.

    Scale shape: the per-token nibble weights are computed INLINE on each
    (doc, distinct-token) row — md5 is ~100 ns of codegen per row — and
    summed with ``nbits`` parallel column aggregates in ONE
    map-side-combinable groupBy(doc). Nothing shuffles except the per-doc
    partial sums: a DISTINCT vocabulary relation equi-joined back would
    shuffle the whole Zipf-skewed (doc, token) relation by token just to
    avoid recomputing a hash that is cheaper than the exchange it causes
    (optimization guide §2.4: remove shuffles outright; 4 exchanges → 2
    at sf0.1).

    Expressions are single SQL strings end-to-end: the lambda-based
    Column-API construction of the nibble/weight transforms cost ~0.9 s of
    py4j round trips per invocation (measured, guide §4) before this
    rewrite.
    """
    if nibbles > 15:
        # the packed-bigint path below folds all nibbles into ONE
        # conv(hex, 16, 10); 16^15 = 2^60 is the last power that fits a
        # BIGINT — 16 nibbles would overflow to NULL in non-ANSI mode and
        # silently null every bit sum (round-12 advice item 4)
        raise ValueError("simhash_fingerprints supports at most 15 nibbles (60 bits)")
    nbits = nibbles * 4
    # No spread_scan here (round-13): the token explode is cheap relative to
    # the distinct + 60-column aggregate shuffles that follow, and the
    # round-12 driver artifact measured the inserted exchange as a pure
    # regression (dedup_simhash 1.47 -> 1.96 s at 32 cores, worst core-scaling
    # ratio in the set); the sf1 A/B saw no win either (dedup_simhash_full
    # unchanged — OPTIMIZATION_r12.md Finding 7).
    doc_toks = df.select(
        F.col(id_col).alias("doc"), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).distinct()
    # ONE conv() packs all `nibbles` hex digits into a single bigint
    # (16^15 = 2^60 < 2^63); each bit-position sum extracts its bit by a
    # constant shift — no per-char regex split, no nibble array, no vocab
    # relation. Hex digit i (1-based position i+1) is the (nibbles-1-i)-th
    # hex place of the packed value, so bit b of nibble i lives at shift
    # 4*(nibbles-1-i) + b and contributes (bit * 2 - 1) to its position sum.
    based = doc_toks.selectExpr(
        "doc",
        f"cast(conv(substring(md5(tok), 1, {nibbles}), 16, 10) as bigint) as h",
    )
    sums = based.groupBy("doc").agg(
        *[
            F.expr(
                f"sum((shiftright(h, {4 * (nibbles - 1 - i // 4) + i % 4}) & 1) * 2 - 1)"
            ).alias(f"s{i}")
            for i in range(nbits)
        ]
    )
    fp_sql = " + ".join(
        f"(case when s{i} > 0 then {1 << i}L else 0L end)" for i in range(nbits)
    )
    return sums.selectExpr("doc", f"{fp_sql} as simhash")


def simhash_near_pairs(
    fps: DataFrame,
    *,
    max_hamming: int,
    n_bands: int = 8,
    band_bits: int = 4,
) -> DataFrame:
    """Near-dup pairs by Hamming distance, via pigeonhole band bucketing:
    with ``n_bands`` disjoint bit-bands and ``max_hamming < n_bands``, any
    qualifying pair MUST agree exactly on at least one band — so candidates
    come from an equi-join on (band, band_value) with zero recall loss, and
    the full n² cross product never exists. Exact Hamming then verifies.

    The fingerprint relation is eagerly localCheckpointed before the
    self-join. The fingerprints are tiny (doc id + one long = ~16 B/doc) but
    their lineage is not — the simhash computation is itself a 60-column
    aggregate, and BOTH sides of the band self-join re-derive it when left
    lazy (exchange reuse does not cover the full subtree under AQE).
    Measured at the 100× replica (500k docs, round 9): 211 s median
    end-to-end lazy vs 44 s with the input materialized — a 4.7× cut for
    ~8 MB of executor storage.
    """
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole requires max_hamming < n_bands")
    fps = fps.localCheckpoint(eager=True)
    mask = (1 << band_bits) - 1
    bands_sql = "array(" + ", ".join(
        f"struct({b} as band, shiftright(simhash, {b * band_bits}) & {mask} as val)"
        for b in range(n_bands)
    ) + ")"
    banded = fps.selectExpr("doc", "simhash", f"explode({bands_sql}) as bb").selectExpr(
        "doc", "simhash", "bb.band as band", "bb.val as val"
    )
    a = banded.selectExpr("doc as doc_a", "simhash as h_a", "band", "val")
    b = banded.selectExpr("doc as doc_b", "simhash as h_b", "band", "val")
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .selectExpr(
            "doc_a",
            "doc_b",
            "cast(bit_count(h_a ^ h_b) as bigint) as hamming",
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def cdc_chunk_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 4,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking (the LBFS/FastCDC boundary rule at token
    granularity — Muthitacharoen et al. SOSP 2001): a chunk boundary
    lands after token ``i`` iff the rolling hash of the last ``window``
    tokens satisfies ``h % divisor == 0``, so boundaries move WITH the
    content. That is what fixed-boundary chunk dedup structurally misses:
    insert one token and every later fixed chunk's hash changes, while
    CDC re-synchronizes at the next content boundary and all chunks past
    the edit keep their fingerprints.

    Expected chunk length ~``divisor`` tokens (each eligible position is
    a boundary with probability 1/divisor). The rolling hash is the
    engine-portable md5-hex-prefix integer used by every sampling
    primitive here, so a SQL oracle replays boundaries bit-for-bit.

    Returns (doc, chunk_no, fp, n_tokens) — one row per chunk, fp =
    md5 of the space-joined chunk tokens.

    Scale shape: posexplode at the scan, lag/cumsum windows + the chunk
    groupBy all partition by doc — ONE shuffle class on the doc key (the
    dedup_chunk_level precedent); the cross-doc duplicate count after it
    shuffles only 32-byte fingerprints."""
    from pyspark.sql import Window

    if window < 2 or divisor < 2:
        raise ValueError("need window >= 2 and divisor >= 2")
    toks = F.split(F.col(text_col), " ")
    rows = df.select(
        F.col(id_col).alias("doc"), F.posexplode(toks).alias("pos", "tok")
    )
    w = Window.partitionBy("doc").orderBy("pos")
    gram = F.concat_ws(
        " ", *[F.lag("tok", k).over(w) for k in range(window - 1, 0, -1)], F.col("tok")
    )
    h = F.conv(F.substring(F.md5(gram), 1, 6), 16, 10).cast("bigint")
    boundary = (
        (F.col("pos") >= window - 1) & (h % divisor == 0)
    ).cast("int")
    flagged = rows.withColumn("boundary", boundary).withColumn(
        "new_chunk", F.coalesce(F.lag("boundary").over(w), F.lit(0))
    )
    chunks = flagged.withColumn(
        "chunk_no",
        F.sum("new_chunk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return chunks.groupBy("doc", "chunk_no").agg(
        # space-joined: tokens come from splitting on spaces, so ' ' is the
        # one separator that cannot occur inside a token — a ',' join made
        # ['foo,','bar'] and ['foo',',bar'] collide (round-8 review)
        F.md5(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sort_array(collect_list(struct(pos, tok))),"
                    " x -> x.tok)"
                ),
            )
        ).alias("fp"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    )


def _snm_pass(
    df: DataFrame,
    id_col: str,
    key: "F.Column",
    *,
    window: int,
    block_chars: int,
    max_distance: int,
) -> DataFrame:
    """One sorted-neighborhood pass over one key ordering: block by the
    key's first ``block_chars`` chars, sort within blocks, lead() out at
    most ``window`` candidate pairs per record, verify by Levenshtein on
    the pass key. Returns (doc_a, doc_b, lev) canonicalized, NOT distinct —
    the multi-pass union dedups once at the end."""
    base = df.select(F.col(id_col).alias("doc"), key.alias("k")).withColumn(
        "blk", F.substring("k", 1, block_chars)
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("blk").orderBy("k", "doc")
    leads = base
    pair_cols = []
    for i in range(1, window + 1):
        leads = leads.withColumn(f"doc_{i}", F.lead("doc", i).over(w)).withColumn(
            f"k_{i}", F.lead("k", i).over(w)
        )
        pair_cols.append(
            F.struct(F.col(f"doc_{i}").alias("doc_b"), F.col(f"k_{i}").alias("k_b"))
        )
    pairs = (
        leads.select("doc", "k", F.explode(F.array(*pair_cols)).alias("p"))
        .filter(F.col("p.doc_b").isNotNull())
        .select(
            "doc",
            F.col("p.doc_b").alias("doc_b"),
            F.levenshtein("k", F.col("p.k_b")).cast("bigint").alias("lev"),
        )
        .filter(F.col("lev") <= max_distance)
    )
    return pairs.select(
        F.least("doc", "doc_b").alias("doc_a"),
        F.greatest("doc", "doc_b").alias("doc_b"),
        "lev",
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 3,
    prefix_len: int = 80,
    block_chars: int = 2,
    max_distance: int = 10,
    key_orderings: tuple[str, ...] = ("prefix",),
) -> DataFrame:
    """Fuzzy near-dup candidate pairs by the sorted-neighborhood method
    (Hernandez & Stolfo, SIGMOD'95): sort records by a normalized key and
    compare each record only against its next ``window`` neighbors — the
    linear-cost alternative to blocking when similar records share a
    prefix. Candidate verification is Levenshtein distance on the
    ``prefix_len``-char normalized key, <= ``max_distance``.

    Scale shape: the sort is NOT a global total order (a single-partition
    window is a driver-shaped bottleneck) — records partition by the first
    ``block_chars`` characters of the key (the 'sorted blocks' variant),
    sort WITHIN each block, and the lead() window generates at most
    ``window`` pairs per record.

    MULTI-PASS (the production remedy for the block-boundary blind spot —
    Hernandez & Stolfo run SNM several times under different key
    orderings and union the matches): ``key_orderings`` names the passes,
    each a linear re-run over a different sort key —

    - ``"prefix"``: the normalized ``prefix_len``-char key (head-sorted);
    - ``"reversed"``: that key REVERSED (tail-sorted) — a pair whose heads
      differ (and therefore lands in different prefix blocks) but whose
      tails agree sorts adjacently here. Levenshtein is reversal-invariant,
      so the pair's ``lev`` is identical whichever pass finds it and the
      final distinct() merges cleanly.

    Each pass is the same linear candidate cost; total cost is
    passes × one window scan, never quadratic. Output: (doc_a, doc_b, lev)
    canonicalized doc_a < doc_b; exact BIGINT distance (Levenshtein's DP
    is engine-portable)."""
    norm_key = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), 1, prefix_len
    )
    out: DataFrame | None = None
    for ordering in key_orderings:
        if ordering == "prefix":
            key = norm_key
        elif ordering == "reversed":
            key = F.reverse(norm_key)
        else:
            raise ValueError(f"unknown key ordering: {ordering!r}")
        pass_pairs = _snm_pass(
            df,
            id_col,
            key,
            window=window,
            block_chars=block_chars,
            max_distance=max_distance,
        )
        out = pass_pairs if out is None else out.unionByName(pass_pairs)
    assert out is not None, "key_orderings must be non-empty"
    return out.distinct()


def jaccard_prefix_filter_pairs(sh: DataFrame, *, tau_e4: int) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (Chaudhuri,
    Ganti & Kaushik ICDE'06 SSJoin; Xiao et al. WWW'08 PPJoin) — the
    recall-complete alternative to MinHash-LSH candidate generation.

    LSH candidates are probabilistic (a qualifying pair missing every band
    is silently lost); prefix filtering is a THEOREM: order each doc's
    shingle set by a global total order and keep only its first
    |r| - ceil(tau*|r|) + 1 elements, and any pair with J >= tau MUST
    share at least one prefix element (a disjoint-prefix pair has
    intersection < ceil(tau*|r|) against either side's remainder, so
    J < tau). Candidates therefore come from an equi-join on prefix
    shingles — never all pairs, zero false negatives — and the exact
    verify tier (``jaccard_pairs``) strikes the false positives.

    The global order is (document-frequency ASC, shingle ASC) — rarest
    first, the standard choice because rare shingles generate the fewest
    candidate collisions. The order key is the TUPLE itself, not a dense
    global rank: ranking |V| shingles with one row_number would serialize
    the vocabulary through a single partition at 100 TB, while the tuple
    sort key needs only the per-shingle df (one partial-aggregable
    groupBy) and a PER-DOC window sort. Verification cost tracks the
    candidate set exactly as in the LSH tier.

    Returns (doc_a, doc_b, jaccard_e4) with jaccard_e4 >= tau_e4, rounded
    per the catalog's fixed-point convention."""
    return jaccard_pairs(
        sh, min_jaccard=tau_e4 / 10000.0, pair_filter=prefix_filter_candidates(sh, tau_e4=tau_e4)
    )


def prefix_filter_candidates(sh: DataFrame, *, tau_e4: int) -> DataFrame:
    """The candidate pairs (doc_a < doc_b) of ``jaccard_prefix_filter_pairs``:
    every pair sharing a prefix shingle, before the exact verify."""
    dfreq = sh.groupBy("shingle").agg(F.count("*").cast("bigint").alias("df"))
    sizes = sh.groupBy("doc").agg(F.count("*").cast("bigint").alias("sz"))
    ordered = (
        sh.join(dfreq, "shingle")
        .join(sizes, "doc")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc").orderBy(F.asc("df"), F.asc("shingle"))
            ),
        )
    )
    # the prefix relation feeds BOTH sides of its self-join; checkpoint so
    # the df-join + per-doc window sort lineage materializes once (the
    # persisted-signature discipline of the LSH tier)
    prefix = (
        ordered.filter(F.expr(f"pos <= sz - (sz * {tau_e4} + 9999) div 10000 + 1"))
        .select("doc", "shingle")
        .localCheckpoint(eager=True)
    )
    return (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )
