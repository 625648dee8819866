"""Property tests pinning the pt-BR cast quirks BEHAVIORALLY against the
reference implementation (not just by example): hypothesis generates hostile
numeric/string literals, the reference's pandas functions
(/root/reference/app/utils/casting.py) produce the expected values, and our
Column expressions (functions/cleaning.py) must agree element-wise.

The reference module is imported read-only via a file loader — test-only
harness, never shipped; the engine itself has no pandas/reference dependency.

Known, documented divergences (SURVEY §1.2) are pinned explicitly instead of
property-compared:
- to_str(NULL): reference stringifies to "None" (pandas astype(str)
  artifact); we keep NULL.
- to_int on non-integral floats ("3.5"): reference RAISES (astype("Int64")
  cannot safely cast); we truncate. Property domain skips ref-raising inputs.
- strip() vs trim(): pandas strips all Python whitespace, Spark trim only
  ' ' — generators stick to plain spaces (the reference corpus has no tabs).
"""

from __future__ import annotations

import importlib.util
import math
import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from data_ingestion_bra_spark.functions import cleaning

REF = "/root/reference/app/utils/casting.py"

pytestmark = pytest.mark.skipif(
    not os.path.exists(REF), reason="reference casting module not present"
)


def _load_ref():
    spec = importlib.util.spec_from_file_location("ref_casting", REF)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ref = _load_ref() if os.path.exists(REF) else None

# Literal alphabet: digits, pt-BR separators, signs, exponent marker, quote
# noise, spaces, and a couple of junk letters (→ NULL on both engines).
# No 'n'/'i' (pandas parses "nan"/"inf"; the reference corpus has neither),
# no tabs (strip-vs-trim divergence documented above).
NUMERIC_ALPHABET = "0123456789.,-+eE \"xz"
STRING_ALPHABET = "abcxyz 0123456789\"',.-"
NUMERICISH = st.text(alphabet=NUMERIC_ALPHABET, min_size=0, max_size=12)
STRINGISH = st.text(alphabet=STRING_ALPHABET, min_size=0, max_size=15)


def _spark_eval(spark, xs: list[str], expr) -> list:
    df = spark.createDataFrame([(x,) for x in xs], "x string")
    return [r["y"] for r in df.select(expr(F.col("x")).alias("y")).collect()]


def _null(v) -> bool:
    return v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v))


#: literals with a 3+-digit exponent: pandas' parser coerces ANY |exp| > 308
#: to NaN without evaluating the mantissa ("0E309" → NaN), Java's
#: Double.parseDouble evaluates it ("0E309" → 0.0). Outside the reference
#: corpus; pinned in test_to_float_overflow_exponent_divergence_pinned and
#: test_to_int_overflow_exponent_divergence_pinned. Applies to BOTH casts
#: (to_int goes through the same pandas to_numeric parser).
import re

_BIG_EXP = re.compile(r"[eE][+-]?\d{3}")


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(NUMERICISH, min_size=1, max_size=40))
def test_to_int_matches_reference(spark, xs):
    xs = [x for x in xs if not _BIG_EXP.search(x)]
    if not xs:
        return
    try:
        want = list(ref.to_int(pd.Series(xs, dtype="object")))
    except (TypeError, ValueError):
        # non-integral float in the batch: reference raises, our truncating
        # cast is the documented divergence — outside the parity domain
        return
    got = _spark_eval(spark, xs, cleaning.to_int)
    for x, w, g in zip(xs, want, got):
        if _null(w):
            assert g is None, (x, w, g)
        else:
            assert g == int(w), (x, w, g)


def test_to_int_overflow_exponent_divergence_pinned(spark):
    """Found by hypothesis (round 4, '0E310'): pandas' to_numeric rejects
    any exponent beyond double range before looking at the mantissa, so the
    reference yields <NA>; the JVM parses the full literal to 0.0 and our
    cast yields 0. Same parser-implementation divergence as to_float_pt."""
    assert _null(ref.to_int(pd.Series(["0E310"], dtype="object"))[0])
    df = spark.createDataFrame([("0E310",)], "x string")
    assert df.select(cleaning.to_int(F.col("x")).alias("y")).first()["y"] == 0


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(NUMERICISH, min_size=1, max_size=40))
def test_to_float_pt_matches_reference(spark, xs):
    xs = [x for x in xs if not _BIG_EXP.search(x)]
    if not xs:
        return
    want = list(ref.to_float_pt(pd.Series(xs, dtype="object")))
    got = _spark_eval(spark, xs, cleaning.to_float_pt)
    for x, w, g in zip(xs, want, got):
        if _null(w):
            assert g is None, (x, w, g)
        elif _EXP.search(x):
            # exponent literals: pandas' to_numeric parser (xstrtod-style
            # repeated exponent multiplication) is NOT correctly rounded —
            # '3E23' parses 1 ULP below the true nearest double — while the
            # JVM's Double.parseDouble is. Same parser-implementation class
            # as the big-exponent divergence; bounded to 1 ULP here and
            # pinned in test_to_float_exponent_ulp_divergence_pinned.
            assert g == float(w) or math.isclose(g, float(w), rel_tol=5e-16), (
                x,
                w,
                g,
            )
        else:
            # plain decimal literals: both sides parse with correctly-
            # rounded double conversion → bit-equal
            assert g == float(w), (x, w, g)


_EXP = re.compile(r"[eE][+-]?\d")


def test_to_float_overflow_exponent_divergence_pinned(spark):
    """Found by hypothesis: pandas rejects any exponent beyond double range
    before looking at the mantissa; the JVM parses the full literal."""
    assert _null(ref.to_float_pt(pd.Series(["0E309"], dtype="object"))[0])
    df = spark.createDataFrame([("0E309",)], "x string")
    assert df.select(cleaning.to_float_pt(F.col("x")).alias("y")).first()["y"] == 0.0


def test_to_float_exponent_ulp_divergence_pinned(spark):
    """Found by hypothesis (round 7, '3E23'): pandas' to_numeric parses
    scientific notation with accumulated power-of-ten multiplications, so
    the result can land 1 ULP off the correctly-rounded double
    (float('3E23') == 3e+23 but pandas yields 2.9999999999999997e+23);
    the JVM's Double.parseDouble — and Python's float() — are correctly
    rounded. Outside the reference corpus (pt-BR indicator CSVs carry no
    exponent literals); the engine keeps the correctly-rounded value."""
    w = float(ref.to_float_pt(pd.Series(["3E23"], dtype="object"))[0])
    df = spark.createDataFrame([("3E23",)], "x string")
    g = df.select(cleaning.to_float_pt(F.col("x")).alias("y")).first()["y"]
    assert g == float("3E23") == 3e23  # ours: correctly rounded
    assert w != g and math.isclose(w, g, rel_tol=5e-16)  # ref: 1 ULP off


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(STRINGISH, min_size=1, max_size=40))
def test_to_str_matches_reference(spark, xs):
    want = list(ref.to_str(pd.Series(xs, dtype="object")))
    got = _spark_eval(spark, xs, cleaning.to_str)
    for x, w, g in zip(xs, want, got):
        assert g == w, (x, w, g)


def test_to_str_null_divergence_pinned(spark):
    """Reference: NULL → the literal string "None" (pandas astype(str));
    ours: NULL stays NULL. Deliberate, documented (SURVEY §1.2)."""
    assert list(ref.to_str(pd.Series([None], dtype="object"))) == ["None"]
    df = spark.createDataFrame([(None,)], "x string")
    assert df.select(cleaning.to_str(F.col("x")).alias("y")).first()["y"] is None


def test_to_int_nonintegral_divergence_pinned(spark):
    """Reference raises on "3.5" (Int64 safe-cast); we truncate to 3."""
    with pytest.raises((TypeError, ValueError)):
        ref.to_int(pd.Series(["3.5"], dtype="object"))
    df = spark.createDataFrame([("3.5",)], "x string")
    assert df.select(cleaning.to_int(F.col("x")).alias("y")).first()["y"] == 3
