"""The quote-guarded ``to_str`` and the one-pass ``translate`` in
``to_float_pt`` against the regex expressions they replaced, kept here as the
oracle. Runs everywhere (no reference checkout needed).

The generated values use the alphabets of the reference-parity property test
plus line breaks, spaces, non-ASCII letters, NULL and the empty string.
"""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_ingestion_bra_spark.functions import cleaning
from tests.test_cast_reference_property import NUMERIC_ALPHABET, STRING_ALPHABET


def old_to_str(c: Column) -> Column:
    return F.regexp_replace(F.trim(c.cast("string")), '^"|"$', "")


def old_to_float_pt(c: Column) -> Column:
    s = F.regexp_replace(c.cast("string"), r"\.", "")
    return F.regexp_replace(s, ",", ".").cast("double")


TOKENS = sorted(set(NUMERIC_ALPHABET + STRING_ALPHABET)) + [
    "\n",
    "\r\n",
    " ",
    "é",
    "ç",
    "ã",
    "Ü",
    "ñ",
    "Ω",
    "ж",
]
VALUES = st.one_of(
    st.none(),
    st.just(""),
    st.lists(st.sampled_from(TOKENS), max_size=16).map("".join),
)


def _same(spark, xs, new, old) -> None:
    df = spark.createDataFrame([(x,) for x in xs], "x string")
    rows = df.select(new(F.col("x")).alias("n"), old(F.col("x")).alias("o")).collect()
    for x, r in zip(xs, rows):
        # repr tells -0.0 from 0.0 and matches NaN with NaN
        assert repr(r["n"]) == repr(r["o"]), (x, r["n"], r["o"])


SET = settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
EDGE = [
    None,
    "",
    '"',
    '""',
    '"""',
    '  "São Paulo"  ',
    'a"\n',
    '"a\r\n"',
    "1.234,56",
    "64.9073",
    ",.,",
    " 1,5 ",
]


@SET
@example(EDGE)
@given(st.lists(VALUES, min_size=1, max_size=40))
def test_to_str_equals_regex_oracle(spark, xs):
    _same(spark, xs, cleaning.to_str, old_to_str)


@SET
@example(EDGE)
@given(st.lists(VALUES, min_size=1, max_size=40))
def test_to_float_pt_equals_regex_oracle(spark, xs):
    _same(spark, xs, cleaning.to_float_pt, old_to_float_pt)
