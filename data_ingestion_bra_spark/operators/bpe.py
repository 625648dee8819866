"""BPE subword tokenization as pure string expressions — zero UDFs, and a
DuckDB twin generated from the same committed merges table.

The merges come from ``config/bpe_merges.json`` (trained offline by
``tools/train_bpe.py`` on the committed en/es/pt prose — the same
train-offline / commit-integer-artifact / replay-in-both-engines playbook
as the langid NB, the perplexity LM, and the quality model). The runtime
never loops: applying ``n`` ranked merges compiles to ``n`` nested literal
``replace`` calls, which whole-stage codegen evaluates JVM-side per word.

Encoding trick that makes literal ``replace`` a CORRECT BPE apply step:
each symbol is wrapped in its own separator pair (``the`` →
``␁t␁␁h␁␁e␁``), so the pattern for merge ``(x, y)`` is ``␁x␁␁y␁`` →
``␁xy␁``. The wrapping separators make matches boundary-safe in both
directions (``x`` can never match the suffix of a longer symbol, ``y``
never a prefix) AND self-contained (adjacent matches share no characters,
so ``replace``'s left-to-right non-overlapping semantics are exactly
BPE's greedy left-to-right merge — a run ``aaaa`` under merge ``(a,a)``
becomes ``aa aa`` in one pass). ``encode_word`` below is the pure-Python
reference twin; equality is property-tested over the fixture vocabulary.

Token count never splits anything: ``#tokens = #separators / 2`` by
construction, so counting is two ``length`` calls. At 100 TB this is a
scan-resident projection — no shuffle, no explode, no Python.

Which variant is the default — MEASURED, round 7 (a scan-resident vs
vocabulary-join bench on the 50k-doc sf1 corpus): at the SAME committed 96
merges the vocabulary join runs 2.56 s vs the scan-resident chain's
19.73 s (7.7×) — corpus text is Zipfian, so evaluating the chain once per
DISTINCT word and joining counts back beats re-scanning the chain over
every document even at a 96-merge depth; and at production depths the
scan-resident chain doesn't run at all (StackOverflowError at 1024+ merges
vs vocab-join 2.8/8.9 s at 1024/5000). The catalog therefore routes doc
token counting through ``doc_token_counts_vocab_join`` /
``doc_token_counts_dense``; ``doc_token_count_expr`` remains for genuinely
tiny relations (its zero-shuffle shape only wins when the per-row chain
cost can't amortize a vocabulary, i.e. near-trivial row counts) and as the
equality twin the tests pin the join variant against.
"""

from __future__ import annotations

import json
from functools import reduce
from pathlib import Path

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Separator byte: never occurs in corpus text (asserted defensively by
#: stripping it from input words before symbolization, both engines).
SEP = "\x01"

DEFAULT_MERGES_PATH = Path(__file__).resolve().parent.parent / "config" / "bpe_merges.json"


def load_merges(path: str | Path | None = None) -> list[tuple[str, str]]:
    with open(path or DEFAULT_MERGES_PATH) as f:
        return [tuple(m) for m in json.load(f)["merges"]]


# ---------------------------------------------------------------- reference
def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python reference encoder (the trainer's apply semantics):
    merges in rank order, each greedy left-to-right. Used by tests to pin
    the Spark/DuckDB expression output, never in the data plane."""
    syms = list(word.replace(SEP, ""))
    for x, y in merges:
        merged, out, i = x + y, [], 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == x and syms[i + 1] == y:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


# ---------------------------------------------------------------- Spark side
def encode_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """Word → separator-wrapped BPE symbol string (``␁th␁␁e␁``)."""
    sym = F.regexp_replace(F.replace(word, F.lit(SEP), F.lit("")), "(.)", f"{SEP}$1{SEP}")
    return reduce(
        lambda acc, m: F.replace(
            acc, F.lit(f"{SEP}{m[0]}{SEP}{SEP}{m[1]}{SEP}"), F.lit(f"{SEP}{m[0]}{m[1]}{SEP}")
        ),
        merges,
        sym,
    )


def word_token_count_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """#BPE tokens of one word. Every token is ``␁sym␁``, so splitting on
    the double separator between tokens yields exactly one piece per token —
    referencing the (merge-depth-deep) encoding expression ONCE, where a
    separator-counting formulation would inline it twice."""
    enc = encode_expr(word, merges)
    return (
        F.when(F.length(F.replace(word, F.lit(SEP), F.lit(""))) == 0, F.lit(0))
        .otherwise(F.size(F.split(enc, SEP + SEP)))
        .cast("bigint")
    )


def word_tokens_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """The actual token array for one word (``array<string>``)."""
    return F.filter(F.split(encode_expr(word, merges), SEP), lambda t: t != F.lit(""))


def detokenize_expr(tokens: Column) -> Column:
    """tokens → text: the exact inverse of ``word_tokens_expr``. BPE merges
    only ever CONCATENATE adjacent symbols — no normalization, no byte
    fallback — so decoding is plain concatenation and
    ``detokenize(word_tokens(w)) = w`` for any ``w`` free of the separator
    byte (which ``encode_expr`` strips defensively). Pinned corpus-wide by
    the ``text_bpe_roundtrip`` catalog entry."""
    return F.array_join(tokens, "")


#: Whitespace class shared VERBATIM by both engines (Java's ``\s`` and
#: RE2's ``\s`` disagree on ``\x0b``; an explicit class can't drift).
_WS_CLASS = "[ \\t\\n\\r\\f]"


def doc_token_count_expr(text: Column, merges: list[tuple[str, str]]) -> Column:
    """#BPE tokens of a whitespace-tokenized document.

    The merge chain runs over the WHOLE symbolized text once, not per word:
    whitespace chars become ordinary (never-merged) symbols that interrupt
    pair adjacency, so merges provably cannot cross word boundaries and the
    whole-text apply is token-identical to per-word application — while
    building one expression tree per document instead of a per-word lambda
    (measured cost-neutral on the fixture — replace scans over the same
    total char volume dominate either way — but structurally simpler and
    free of per-element array materialization). Token count is then
    #symbols − #whitespace-symbols, with #symbols read off the double
    separators between wrapped symbols. ``(?s)`` keeps the symbolizer total
    over newlines in both engines."""
    stripped = F.replace(text, F.lit(SEP), F.lit(""))
    sym = F.regexp_replace(stripped, "(?s)(.)", f"{SEP}$1{SEP}")
    enc = reduce(
        lambda acc, m: F.replace(
            acc, F.lit(f"{SEP}{m[0]}{SEP}{SEP}{m[1]}{SEP}"), F.lit(f"{SEP}{m[0]}{m[1]}{SEP}")
        ),
        merges,
        sym,
    )
    n_ws = F.length(stripped) - F.length(F.regexp_replace(stripped, _WS_CLASS, ""))
    return (
        F.when(F.length(stripped) == 0, F.lit(0))
        .otherwise(F.size(F.split(enc, SEP + SEP)) - n_ws)
        .cast("bigint")
    )


# ---------------------------------------------------------------- oracle side
def _encode_sql(word_sql: str, merges: list[tuple[str, str]]) -> str:
    # DuckDB twin of encode_expr; SEP is embedded as the literal control
    # byte (valid UTF-8) and '\\1' is RE2's backreference.
    enc = f"regexp_replace(replace({word_sql}, '{SEP}', ''), '(.)', '{SEP}\\1{SEP}', 'g')"
    for x, y in merges:
        enc = f"replace({enc}, '{SEP}{x}{SEP}{SEP}{y}{SEP}', '{SEP}{x}{y}{SEP}')"
    return enc


def doc_token_count_sql(text_sql: str, merges: list[tuple[str, str]]) -> str:
    # Whole-text twin of doc_token_count_expr (same equivalence argument);
    # the stripped text is inlined (cheap) but the merge-depth-deep chain
    # appears exactly once.
    stripped = f"replace({text_sql}, '{SEP}', '')"
    enc = f"regexp_replace({stripped}, '(?s)(.)', '{SEP}\\1{SEP}', 'g')"
    for x, y in merges:
        enc = f"replace({enc}, '{SEP}{x}{SEP}{SEP}{y}{SEP}', '{SEP}{x}{y}{SEP}')"
    n_ws = f"(length({stripped}) - length(regexp_replace({stripped}, '{_WS_CLASS}', '', 'g')))"
    return (
        f"CAST(CASE WHEN length({stripped}) = 0 THEN 0 "
        f"ELSE len(string_split({enc}, '{SEP}{SEP}')) - {n_ws} END AS BIGINT)"
    )


# ------------------------------------------------------------- scale variant
#: Measured driver limit for ONE nested-replace expression tree: depth 192
#: analyzes fine, depth 384 StackOverflows the driver during column->
#: expression conversion (Spark 4.1, default JVM thread stack). Batches stay
#: well under it.
MAX_EXPR_MERGES = 128


def _apply_merges_batched(df, in_col: str, merges: list[tuple[str, str]], out_col: str):
    """Apply a merge chain of ANY depth over an (already small) relation:
    symbolize once, then fold the merges in ``MAX_EXPR_MERGES``-sized
    projection batches with a ``localCheckpoint`` barrier between them.

    Why batched: the single-expression chain is structurally bounded — a
    ~200-merge nested replace StackOverflows the DRIVER (recursive
    expression-tree conversion), measured on this build between depth 192
    and 384. The barrier cuts the lineage so Catalyst can't collapse the
    projections back into one over-deep tree; each checkpoint materializes
    only the vocabulary-sized relation (words, not corpus), so a 30-50k
    production merge table costs |merges|/128 small local jobs."""
    sym = F.regexp_replace(
        F.replace(F.col(in_col), F.lit(SEP), F.lit("")), "(?s)(.)", f"{SEP}$1{SEP}"
    )
    df = df.withColumn(out_col, sym)
    for i in range(0, len(merges), MAX_EXPR_MERGES):
        chunk = merges[i : i + MAX_EXPR_MERGES]
        enc = reduce(
            lambda acc, m: F.replace(
                acc,
                F.lit(f"{SEP}{m[0]}{SEP}{SEP}{m[1]}{SEP}"),
                F.lit(f"{SEP}{m[0]}{m[1]}{SEP}"),
            ),
            chunk,
            F.col(out_col),
        )
        df = df.withColumn(out_col, enc)
        if i + MAX_EXPR_MERGES < len(merges):
            df = df.localCheckpoint(eager=True)
    return df


def doc_token_counts_vocab_join(
    df,
    id_col: str | list[str],
    text_col: str,
    merges: list[tuple[str, str]],
):
    """Per-doc BPE token counts via a VOCABULARY join — the measured-default
    twin of the scan-resident ``doc_token_count_expr`` (7.7× faster at the
    committed 96 merges on the 50k-doc sf1 corpus, and the only variant that
    survives production merge depths — see the module docstring).

    The scan-resident expression evaluates the merge chain once per
    document; the chain cost is O(|corpus text|). Real corpora are Zipfian:
    |vocabulary| ≪ |corpus|, so evaluating the chain once per DISTINCT word
    and joining the counts back trades two map-side-combined shuffles for a
    merge-chain cost that no longer grows with corpus size. The
    (word, token-count) table is broadcast: it is vocabulary-sized.

    ``id_col`` may be a single column or a list (e.g. ``["doc_id",
    "chunk_idx"]`` for chunk-level counting, or a GROUPING key like
    ``"lang"``/``"source"`` — summing c·t per group computes the group
    total directly, no per-doc join-back needed).

    Output: (*id_cols, n_tokens_subword) — ids whose text has NO words
    (empty / blank) do not appear (their count is zero); aggregate consumers
    are unaffected, per-row consumers use ``doc_token_counts_dense`` for
    explicit zeros. Equality with the scan-resident expression is
    pytest-pinned.
    """
    from pyspark.sql import functions as FF

    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    # Split on the SHARED explicit whitespace class, not Java's \s+: Java \s
    # includes \x0b, which _WS_CLASS (and doc_token_count_expr's subtraction)
    # deliberately excludes — splitting on \s+ made the two variants' counts
    # diverge on text containing a vertical tab.
    words = (
        df.select(
            *[FF.col(c) for c in ids],
            FF.explode(FF.split(FF.col(text_col), _WS_CLASS + "+")).alias("w"),
        )
        .filter(FF.length("w") > 0)
        .groupBy(*ids, "w")
        .agg(FF.count(FF.lit(1)).alias("c"))
    )
    if len(merges) <= MAX_EXPR_MERGES:
        vocab = (
            words.select("w")
            .distinct()
            .select("w", word_token_count_expr(FF.col("w"), merges).alias("t"))
        )
    else:
        # deep merge tables (the 30-50k production regime): batched apply
        # over the distinct-word relation — the single-expression chain
        # would StackOverflow the driver (see _apply_merges_batched)
        enc = _apply_merges_batched(words.select("w").distinct(), "w", merges, "__enc")
        vocab = enc.select(
            "w",
            FF.when(
                FF.length(FF.replace(FF.col("w"), FF.lit(SEP), FF.lit(""))) == 0,
                FF.lit(0),
            )
            .otherwise(FF.size(FF.split(FF.col("__enc"), SEP + SEP)))
            .cast("bigint")
            .alias("t"),
        )
    return (
        words.join(FF.broadcast(vocab), "w")
        .groupBy(*ids)
        .agg(FF.sum(FF.col("c") * FF.col("t")).cast("bigint").alias("n_tokens_subword"))
    )


def doc_token_counts_dense(
    df,
    id_col: str | list[str],
    text_col: str,
    merges: list[tuple[str, str]],
    *,
    out_col: str = "n_tokens_subword",
):
    """``doc_token_counts_vocab_join`` densified: one row per input row of
    ``df`` (ids assumed unique), with explicit 0 for wordless text — the
    drop-in replacement for a per-row ``doc_token_count_expr`` projection.
    The join-back keys on the id columns; at corpus scale that is one
    equi-join of (id, count) pairs, still dwarfed by the merge-chain scans
    it replaces (measured: module docstring)."""
    from pyspark.sql import functions as FF

    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    counts = doc_token_counts_vocab_join(df, ids, text_col, merges)
    return (
        df.select(*ids)
        .join(counts, ids, "left")
        .select(
            *ids,
            FF.coalesce(FF.col("n_tokens_subword"), FF.lit(0))
            .cast("bigint")
            .alias(out_col),
        )
    )


def _merge_pair_expr(syms: Column, a: str, b: str) -> Column:
    """Apply ONE merge (a, b) -> "ab" to a symbol array, greedy
    left-to-right non-overlapping — the canonical BPE apply step
    (tools/train_bpe.py:apply_merge), as a scan-resident fold:
    state = (out, prev); prev==a and cur==b emit the merged symbol,
    otherwise prev flushes and cur becomes the new prev."""
    a_lit, b_lit = F.lit(a), F.lit(b)
    folded = F.aggregate(
        syms,
        F.struct(
            F.expr("CAST(array() AS array<string>)").alias("out"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, s: F.when(
            acc["prev"].eqNullSafe(a_lit) & (s == b_lit),
            F.struct(
                F.concat(acc["out"], F.array(F.lit(a + b))).alias("out"),
                F.lit(None).cast("string").alias("prev"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["prev"].isNull(), acc["out"])
                .otherwise(F.concat(acc["out"], F.array(acc["prev"])))
                .alias("out"),
                s.alias("prev"),
            )
        ),
        lambda acc: F.when(
            acc["prev"].isNull(), acc["out"]
        ).otherwise(F.concat(acc["out"], F.array(acc["prev"]))),
    )
    return folded


def train_bpe_distributed(
    docs: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int = 32,
    checkpoint_every: int = 8,
) -> list[tuple[str, str]]:
    """DISTRIBUTED BPE training (Sennrich et al. 2016) — the trainer run
    IN-ENGINE, so a 100 TB corpus learns its own tokenizer without the
    text ever leaving the cluster:

    - the corpus is touched ONCE: whitespace words -> one groupBy into
      the (word, freq) VOCABULARY relation, persisted; every iteration
      after that runs over the vocab (distinct words), whose size tracks
      the language, not the corpus;
    - each merge step: explode the vocab's adjacent symbol pairs
      (freq-weighted, partial-aggregable groupBy), take the argmax with
      the offline trainer's exact tie-break (count desc, then
      lexicographically smallest pair — a ONE-ROW collect, control plane
      only), then apply the merge to every word with a scan-resident
      fold (``_merge_pair_expr``);
    - the symbol column localCheckpoints every ``checkpoint_every``
      merges — the same bounded-plan-depth lesson as
      ``_apply_merges_batched``.

    Bit-identical to the pure-Python reference trainer
    (``tools/train_bpe.py:train``) on the same vocabulary, including tie
    breaks and the no-pair-occurs-twice stop rule — pinned by
    ``tests/test_trainers_distributed.py``."""
    vocab = (
        docs.select(F.explode(F.split(F.col(text_col), _WS_CLASS + "+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split("w", "").alias("syms"), "freq")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str]] = []
    for k in range(n_merges):
        pairs = (
            vocab.select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1),"
                        " (s, i) -> struct(s AS a, syms[i + 1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        # the reference trainer's stop rule: no pair occurs twice
        if not pairs or pairs[0]["cnt"] < 2:
            break
        a, b = pairs[0]["a"], pairs[0]["b"]
        merges.append((a, b))
        vocab = vocab.select(_merge_pair_expr(F.col("syms"), a, b).alias("syms"), "freq")
        if (k + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges
