"""Text-analysis operators for LLM-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

All pure Column expressions (regexp/split/aggregate) — they run inside
whole-stage codegen and their DuckDB oracle twins match exactly.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: packaged default curation config — the reference's config-JSON
#: discipline (app/config/*.json via schema.load_config) applied to the
#: curation tier: gate thresholds and langid marker sets are DECLARED,
#: not hard-coded, so a pipeline tunes them by pointing at another JSON.
DEFAULT_CURATION_CONFIG_PATH = (
    Path(__file__).resolve().parent.parent / "config" / "curation.json"
)


def load_curation_config(path: str | Path | None = None) -> dict:
    """Load a curation config (``gopher`` thresholds + ``langid_markers``),
    defaulting to the packaged JSON. Same loader shape as
    ``schema.load_config`` (reference app/ingestao_api.py:21-23)."""
    with open(path or DEFAULT_CURATION_CONFIG_PATH, encoding="utf-8") as f:
        return json.load(f)


_DEFAULT_CURATION = load_curation_config()

# Marker stopword sets per language for the n-gram/stopword langid heuristic.
# Deterministic and tiny by design — config-declared; the model-grade tier
# (operators/langid_nb.py) plugs into the same score → argmax → label
# surface.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    lang: tuple(words) for lang, words in _DEFAULT_CURATION["langid_markers"].items()
}

BPE_ISH_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(c), r"\s+")).cast("bigint")


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish token count: alpha runs + digit runs + single punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_TOKEN_RE), 0)).cast("bigint")


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("bigint")


def langid_expr(
    text: Column | str, *, markers: dict[str, tuple[str, ...]] | None = None
) -> Column:
    """Stopword-marker language heuristic: argmax of per-language marker hit
    counts, 'und' (undetermined) when no marker fires. Ties break by language
    code order (deterministic). ``markers`` defaults to the config-declared
    sets (``config/curation.json`` → ``langid_markers``)."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.lower(c), r"\s+")
    marker_sets = markers or LANG_MARKERS
    scores = [
        (lang, _marker_hits(toks, tuple(marks)))
        for lang, marks in sorted(marker_sets.items())
    ]
    best = (
        F.greatest(*[s for _, s in scores]) if len(scores) > 1 else scores[0][1]
    )
    out = F.lit("und")
    # First language (in sorted order) achieving the max wins.
    for lang, s in reversed(scores):
        out = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(out)
    return out


def quality_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality signals: length, token counts, type-token ratio,
    mean token length, non-alnum ratio."""
    t = F.col(text_col)
    toks = F.split(F.trim(t), r"\s+")

    def e4(x: Column) -> Column:
        # ratios leave the operator as 1e-4 fixed-point BIGINT: a rounded
        # DOUBLE output is a cross-engine hash hazard (half-boundary /
        # signed-zero); floor(x*10000+0.5) over one exact integer division
        # is the same integer on every engine.
        return F.floor(x * F.lit(10000.0) + F.lit(0.5)).cast("bigint")

    return df.select(
        F.col(id_col).alias("doc_id"),
        F.length(t).cast("bigint").alias("n_chars"),
        token_count_ws(t).alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        e4(F.size(F.array_distinct(toks)) / F.size(toks)).alias("type_token_ratio_e4"),
        e4((F.length(t) - (F.size(toks) - 1)) / F.size(toks)).alias("mean_token_len_e4"),
        e4(
            (F.length(t) - F.length(F.regexp_replace(t, r"[^A-Za-z0-9 ]", ""))) / F.length(t)
        ).alias("non_alnum_ratio_e4"),
    )


def _e4(x: Column) -> Column:
    """Ratio → 1e-4 fixed-point BIGINT (the repo-wide hash-safe convention:
    floor of correctly-rounded IEEE ops is the same integer everywhere)."""
    return F.floor(x * F.lit(10000.0) + F.lit(0.5)).cast("bigint")


def _ngram_structs(toks: Column, n: int) -> Column:
    """Word n-grams of a token array as an ``array<struct>`` of n shifted
    slices zipped together — NO per-gram lambda and NO string building.

    Two deliberate performance properties (measured at the 100× replica):

    - no ``element_at(toks, i+j)`` inside a transform lambda —
      lambda-internal references to the token array re-evaluate per element
      in interpreted mode (e.g. in a Filter predicate), which re-split the
      text once per gram element (~500× slowdown);
    - no ``concat_ws`` gram strings at all — duplicate detection only needs
      DISTINCT COUNTS, and ``array_distinct`` compares the structs
      directly. Tokens come from a ``\\s+`` split so they can't contain the
      separator, making struct-distinct provably equal to string-distinct
      (the SQL oracle keeps the string form).
    """
    count = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, j + 1, count).alias(f"g{j}") for j in range(n)]
    return F.arrays_zip(*parts)


def dup_ngram_ratio_e4_expr(text_col: Column | str, n: int) -> Column:
    """Duplicate word n-gram fraction of a text column at 1e-4 fixed point
    (0 when the doc has fewer than n tokens) — the reusable gate
    expression behind ``repetition_metrics`` and pipeline compositions."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(F.trim(t), r"\s+")
    grams = _ngram_structs(toks, n)
    total = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    distinct = F.size(F.array_distinct(grams))
    return F.when(total > 0, _e4((total - distinct) / total)).otherwise(
        F.lit(0).cast("bigint")
    )


def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Self-repetition quality signals (the Gopher/MassiveText family):
    fraction of DUPLICATE word 2-grams / 3-grams within each document.
    Degenerate machine-generated or boilerplate text repeats itself; these
    ratios are the standard gate. Pure per-row array expressions — zero
    shuffles, rides the scan at any scale."""
    t = F.col(text_col)
    toks = F.split(F.trim(t), r"\s+")

    def dup_ratio(n: int) -> Column:
        return dup_ngram_ratio_e4_expr(t, n)

    return df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.greatest(F.size(toks) - 1, F.lit(0)).cast("bigint").alias("n_2grams"),
        F.size(F.array_distinct(_ngram_structs(toks, 2))).cast("bigint").alias("n_distinct_2grams"),
        dup_ratio(2).alias("dup_2gram_ratio_e4"),
        F.greatest(F.size(toks) - 2, F.lit(0)).cast("bigint").alias("n_3grams"),
        F.size(F.array_distinct(_ngram_structs(toks, 3))).cast("bigint").alias("n_distinct_3grams"),
        dup_ratio(3).alias("dup_3gram_ratio_e4"),
    )


#: Gopher-style rule gates (Rae et al. 2021 §A1.1, re-expressed as integer
#: thresholds): token-count band, mean word length band, minimum fraction
#: of alphabetic tokens, minimum stopword evidence. Values come from the
#: packaged curation config; the module-level names remain the documented
#: defaults (and stay importable for tests/back-compat).
_G = _DEFAULT_CURATION["gopher"]
GOPHER_MIN_TOKENS = _G["min_tokens"]
GOPHER_MAX_TOKENS = _G["max_tokens"]
GOPHER_MIN_MEAN_LEN_E4 = _G["min_mean_token_len_e4"]
GOPHER_MAX_MEAN_LEN_E4 = _G["max_mean_token_len_e4"]
GOPHER_MIN_ALPHA_RATIO_E4 = _G["min_alpha_token_ratio_e4"]
GOPHER_MIN_STOPWORD_HITS = _G["min_stopword_hits"]


def gopher_metric_cols(
    text_col: Column | str, *, config: dict | None = None
) -> dict[str, Column]:
    """The Gopher gate metrics as reusable named Columns (shared by
    ``gopher_quality`` and pipeline compositions — one definition, however
    many call sites). ``config`` is a curation config dict (see
    ``load_curation_config``); None uses the packaged defaults."""
    cfg = (config or _DEFAULT_CURATION)["gopher"]
    markers = (config or _DEFAULT_CURATION)["langid_markers"]
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(F.trim(t), r"\s+")
    ltoks = F.split(F.lower(F.trim(t)), r"\s+")
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    mean_len_e4 = _e4(sum_len / n)
    alpha_ratio_e4 = _e4(F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))) / n)
    stop_hits = _marker_hits(ltoks, tuple(markers[cfg["stopword_lang"]]))
    passes = (
        (n >= cfg["min_tokens"])
        & (n <= cfg["max_tokens"])
        & (mean_len_e4 >= cfg["min_mean_token_len_e4"])
        & (mean_len_e4 <= cfg["max_mean_token_len_e4"])
        & (alpha_ratio_e4 >= cfg["min_alpha_token_ratio_e4"])
        & (stop_hits >= cfg["min_stopword_hits"])
    )
    return {
        "n_tokens": n.cast("bigint"),
        "mean_token_len_e4": mean_len_e4,
        "alpha_token_ratio_e4": alpha_ratio_e4,
        "stopword_hits": stop_hits,
        "passes_quality": passes.cast("bigint"),
    }


def gopher_quality(
    df: DataFrame, id_col: str, text_col: str, *, config: dict | None = None
) -> DataFrame:
    """Gopher-style document quality gates as one codegen projection:
    per-doc metrics plus the final ``passes_quality`` flag (AND of all
    gates). Thresholds are DECLARED in a curation config JSON (packaged
    default: ``config/curation.json``) — the reference's config-driven
    discipline applied to curation; everything integer/fixed-point so the
    oracle twin is exact."""
    cols = gopher_metric_cols(text_col, config=config)
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[c.alias(name) for name, c in cols.items()],
    )


def normalize_text_expr(text: Column | str) -> Column:
    """Normalized text: lowercase, trimmed, whitespace runs collapsed to one
    space. Fingerprints hash this, so noisy duplicates share a key."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


ROLLING_HASH_P = 2147483647  # 2^31 - 1
ROLLING_HASH_B = 131


def rolling_hash_expr(norm: str) -> Column:
    """Polynomial rolling hash over the code points of the (already
    normalized) text column ``norm``: h = fold(h * B + codepoint(c)) mod p.
    A left-to-right fold of integer ops — bit-identical in any engine (the
    md5-free fingerprint family used for streaming/windowed fingerprints;
    per-window substring hashes derive from the same recurrence).

    ``split(norm, '')`` is Spark's code-point split (no regex; a character
    outside the BMP stays one element). The empty string splits to
    ``['']``, whose ``ascii`` is 0, so it folds to 0 like an empty fold."""
    return F.expr(
        f"aggregate(split({norm}, ''), 0L,"
        f" (acc, ch) -> (acc * {ROLLING_HASH_B} + ascii(ch)) % {ROLLING_HASH_P})"
    )


# PII patterns — deliberately restricted to syntax that Java regex (Spark)
# and RE2 (DuckDB) interpret identically: literal classes, bounded repeats,
# \b word boundaries; no backreferences or lookaround.
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # CPF (Brazilian tax id): 000.000.000-00
    "cpf": r"\b[0-9]{3}\.[0-9]{3}\.[0-9]{3}-[0-9]{2}\b",
    # pt-BR phone: (DD) 00000-0000 or (DD) 0000-0000
    "phone": r"\([0-9]{2}\)\s?[0-9]{4,5}-[0-9]{4}",
}

#: redaction replacement tokens, applied in dict order (order matters: a CPF
#: inside an email local-part is consumed by the email pass first).
PII_REPLACEMENTS: dict[str, str] = {
    "email": "[EMAIL]",
    "cpf": "[CPF]",
    "phone": "[PHONE]",
}


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII detection + redaction for training-data curation: per-document
    match counts for each PII class plus an md5 fingerprint of the redacted
    text (the redacted body itself stays out of the result projection so
    only 32-byte fingerprints ever shuffle — at 100 TB the scrub runs
    scan-resident and the audit table stays tiny).

    Pure regexp Column expressions (one codegen stage, no UDF); patterns are
    Java/RE2-portable so the DuckDB oracle replays them verbatim.

    Audit semantics: each class is counted against the text AFTER the prior
    classes' redactions — mirroring the sequential replace chain — so
    ``n_<class>`` is exactly the number of ``[<CLASS>]`` tokens the redacted
    body carries (a CPF span consumed by the earlier email replacement is
    neither redacted as CPF nor counted as one).
    """
    t = F.col(text_col)
    counts = []
    red = t
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(red, F.lit(pat), 0))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, PII_REPLACEMENTS[name])
    return df.select(
        F.col(id_col).alias("doc_id"),
        *counts,
        F.md5(red).alias("redacted_fp"),
        F.length(red).cast("bigint").alias("n_chars_redacted"),
    )


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int,
    overlap_tokens: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    (HF tokenizers' ``return_overflowing_tokens``/``stride`` semantics):
    chunk ``j`` covers whitespace tokens ``[j*stride, j*stride +
    chunk_tokens)`` with ``stride = chunk_tokens - overlap_tokens``, so
    consecutive chunks share exactly ``overlap_tokens`` tokens and every
    token lands in at least one chunk. ``1 + ceil(max(0, n_tokens -
    chunk_tokens) / stride)`` chunks per doc; the final chunk may run
    short (never emitted empty).

    Returns (id, chunk_id, start_token, n_tokens, chunk_text). Pure
    column algebra — split/sequence/explode/slice/array_join all run in
    codegen on the scan; the only row growth is the chunk multiplicity
    itself (corpus-linear, ~n_tokens/stride rows per doc), and no shuffle
    is introduced, so at 100 TB chunking rides the ingest scan for free.

    Exact-integer arithmetic (``div``) keeps the chunk count
    reproducible across engines — the DuckDB twin replays the same
    formula with ``//``.
    """
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError("need 0 <= overlap_tokens < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    toks = F.split(F.col(text_col), " ")
    n_chunks = F.expr(
        f"1 + (greatest(0, size(split({text_col}, ' ')) - {chunk_tokens})"
        f" + {stride - 1}) div {stride}"
    )
    start = F.col("chunk_id") * stride
    piece = F.slice(F.col("toks"), start + 1, chunk_tokens)
    return (
        df.select(
            F.col(id_col),
            toks.alias("toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("int").alias("chunk_id"),
            start.cast("bigint").alias("start_token"),
            F.size(piece).cast("bigint").alias("n_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
# MOSS local fingerprinting algorithm): the guarantee-carrying way to pick
# a sparse, position-aware subset of k-gram hashes. Any shared substring of
# length >= k + w - 1 between two documents is CAUGHT by at least one
# shared selected fingerprint — the property exact-dedup hashes (whole-doc)
# and MinHash (set-resemblance, position-free) both lack.
# --------------------------------------------------------------------------

#: positions are packed below the hash in one BIGINT so a single MIN
#: implements "smallest hash, rightmost position" — 2^20 = 1M chars/doc.
WINNOW_POS_LIMIT = 1 << 20


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Selected (doc, fp, pos) winnowing fingerprints of the normalized
    text: polynomial hashes of every k-char gram (the ``rolling_hash_expr``
    recurrence per gram — O(k) integer ops per position, embarrassingly
    parallel, no UDF), then each window of ``window`` consecutive gram
    hashes selects its minimum, breaking ties by RIGHTMOST position (the
    'robust winnowing' rule that makes selections agree across documents).

    The single-MIN trick: ``code = h * 2^20 + (2^20 - 1 - pos)`` orders by
    (hash asc, pos desc), so one frame-bounded window MIN per position is
    the whole selection — no struct comparators, and the DuckDB oracle
    replays it with the identical integer codes. Docs shorter than
    ``k + window - 1`` normalized chars have no full window and yield no
    fingerprints (documented, replayed by the oracle's length filter).

    Scale shape: everything up to the final distinct() is per-row
    narrow-partition work (explode + window keyed by doc); selected
    fingerprints are ~2/(window+1) of positions (the paper's expected
    density), so the distinct shuffle carries a sparse relation."""
    if not (1 <= window and 1 <= k):
        raise ValueError("k and window must be >= 1")
    norm = normalize_text_expr(text_col)
    # The whole selection is ROW-LOCAL: no per-position regex split (the
    # first formulation re-split the k-gram with a lookahead regex once per
    # position — 45.6 s at sf0.1), no window shuffle, nothing leaves the
    # scan until the sparse selected set explodes.
    #
    # Formulation constraints (all measured hazards, see _ngram_structs):
    # - lambdas never reference an OUTER array (per-element re-evaluation
    #   in the interpreted HOF path); sliding windows come from arrays_zip
    #   of shifted top-level slices instead;
    # - every multi-consumer array lands in its own projection, and each is
    #   referenced several times by the next stage, which is exactly what
    #   stops CollapseProject from inlining the producing expression;
    # - the selection array is CASE-guarded to array() on short docs, so
    #   the size()>0 predicate InferFiltersFromGenerate derives from the
    #   explode can evaluate on ANY row without erroring.
    # (All expressions below are single SQL strings: the Column-API lambda
    # form cost ~1 s of py4j round trips per builder invocation — guide §4.
    # The projection STRUCTURE is unchanged from the measured-hazard notes
    # above: multi-consumer arrays still land in their own projections.)
    doc_len = F.length("norm")
    base = df.select(F.col(id_col).alias("doc"), norm.alias("norm")).filter(
        (doc_len >= k + window - 1) & (doc_len < WINNOW_POS_LIMIT)
    )
    codes = base.selectExpr(
        "doc",
        f"length(norm) - {k} + 1 as np",
        "transform(split(norm, ''), ch -> cast(ascii(ch) as bigint)) as codes",
    )
    # gram hashes: k shifted slices zipped → per-gram struct → unrolled
    # left-fold polynomial (mod at every step, matching rolling_hash_expr)
    gram_cols = [f"slice(codes, {j + 1}, np) as g{j}" for j in range(k)]
    poly_sql = "0L"
    for j in range(k):
        poly_sql = f"(({poly_sql}) * {ROLLING_HASH_B} + s.g{j}) % {ROLLING_HASH_P}"
    hashed = codes.selectExpr("doc", "np", *gram_cols).selectExpr(
        "doc",
        "np",
        f"transform(arrays_zip({', '.join(f'g{j}' for j in range(k))}),"
        f" (s, i) -> ({poly_sql}) * {WINNOW_POS_LIMIT}"
        f" + ({WINNOW_POS_LIMIT - 1} - (i + 1))) as coded",
    )
    # robust winnowing: each of the np-w+1 windows selects min(code) —
    # w shifted slices zipped, least() per struct, distinct per doc
    win_cols = [
        f"slice(coded, {j + 1}, np - {window} + 1) as c{j}" for j in range(window)
    ]
    least_sql = "least(" + ", ".join(f"s.c{j}" for j in range(window)) + ")"
    sel = hashed.selectExpr("doc", "np", *win_cols).selectExpr(
        "doc",
        f"case when np >= {window} then array_distinct("
        f"transform(arrays_zip({', '.join(f'c{j}' for j in range(window))}),"
        f" s -> {least_sql}))"
        " else cast(array() as array<bigint>) end as sel_codes",
    )
    # codes are unique per doc after array_distinct (fp and pos both ride
    # in the code), so no post-explode distinct — zero shuffles end to end.
    return sel.selectExpr("doc", "explode(sel_codes) as sel_code").selectExpr(
        "doc",
        f"cast(sel_code div {WINNOW_POS_LIMIT} as bigint) as fp",
        f"cast({WINNOW_POS_LIMIT - 1} - (sel_code % {WINNOW_POS_LIMIT}) as bigint) as pos",
    )


def phrase_search(
    df: DataFrame, id_col: str, text_col: str, phrase: str
) -> DataFrame:
    """Exact PHRASE query by positional-postings join — the
    inverted-index-with-positions plan every search engine uses, instead
    of the naive full-text scan: tokenize once into (doc, pos, term)
    postings, filter each phrase term's postings (term-selective — the
    scan-side pushdown does the work), and chain adjacency EQUI-joins on
    (doc, pos + offset). Cost tracks the RAREST term's posting list, not
    corpus bytes; a LIKE/contains scan re-reads every byte for every
    query. Output: (doc, n_matches) per matching document, exact
    occurrence counts (overlapping matches included).

    At 100 TB the postings relation is built once and reused across
    queries (write it to a term-bucketed table); this operator expresses
    the per-query plan over it."""
    terms = phrase.split(" ")
    if not terms or any(t == "" for t in terms):
        raise ValueError("phrase must be non-empty single-spaced words")
    postings = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
    )
    out = postings.filter(F.col("term") == terms[0]).select("doc", "pos")
    for i, t in enumerate(terms[1:], start=1):
        nxt = postings.filter(F.col("term") == t).select(
            "doc", (F.col("pos") - i).alias("pos")
        )
        out = out.join(nxt, ["doc", "pos"])
    return out.groupBy("doc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches")
    )
