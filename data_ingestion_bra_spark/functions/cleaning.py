"""Type-cast / cleaning expressions — reference parity for app/utils/casting.py.

Every function returns a ``pyspark.sql.Column`` expression (no UDFs), so the
whole cast layer stays inside Tungsten whole-stage codegen and vectorizes on
the JVM — the Spark-idiomatic equivalent of the reference's whole-column
pandas ops (reference app/utils/casting.py:5-37).

Semantics reproduced (empirically verified against the reference, SURVEY §1.2):

- ``to_int``:   invalid / empty → NULL  (pd.to_numeric(errors="coerce") →
  non-ANSI ``cast(bigint)``). ``"3.0"`` → 3 needs a double hop first.
- ``to_str``:   cast to string, trim, strip one layer of surrounding double
  quotes; the regex runs only on values that contain a ``"``. Divergence
  (documented, SURVEY §1.2): the reference stringifies null → ``"None"``
  (pandas astype(str) artifact, casting.py:10); we keep NULL — the sane
  Spark behavior — and tests pin the divergence.
- ``to_float_pt``: pt-BR numeric parse — strip ``.`` thousands separators,
  then ``,`` → ``.``, then coerce (casting.py:13-24). One ``translate`` maps
  both characters in a single pass, which equals the reference's two ordered
  replaces: an already-dot-decimal ``"64.9073"`` becomes ``649073.0``, same
  as the reference quirk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Requires spark.sql.ansi.enabled=false (session default via session.tune_session)
# so that cast() coerces malformed input to NULL like pandas errors="coerce".


def to_int(col: Column | str) -> Column:
    """Nullable int64 cast; invalid → NULL. Ref: app/utils/casting.py:5-6."""
    c = F.col(col) if isinstance(col, str) else col
    # Double hop matches pd.to_numeric: "3.0" → 3.0 → 3 (truncation only ever
    # applies to .0 floats in the reference's data; non-numeric → NULL).
    return c.cast("string").cast("double").cast("bigint")


def to_str(col: Column | str) -> Column:
    """String cast + trim + strip surrounding double quotes.

    Ref: app/utils/casting.py:9-10. NULL stays NULL (documented divergence
    from pandas' astype(str) → "None"; SURVEY §1.2). The regex can only
    change a value that contains a ``"``, so only those values run it.
    """
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c.cast("string"))
    return F.when(t.contains('"'), F.regexp_replace(t, '^"|"$', "")).otherwise(t)


def to_float_pt(col: Column | str) -> Column:
    """pt-BR numeric parse: drop '.' (thousands), ','→'.', coerce → double.

    Ref: app/utils/casting.py:13-24. ``translate`` deletes every '.' and
    maps every ',' to '.' in one pass; a '.' it writes is never deleted, so
    the result equals the reference's drop-then-replace order.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c.cast("string"), ",.", ".").cast("double")


def apply_casts(
    df: DataFrame,
    *,
    integer_fields: list[str] | None = None,
    string_fields: list[str] | None = None,
    float_fields: list[str] | None = None,
) -> DataFrame:
    """Batch-apply casts per config-declared column lists; silently skips
    columns absent from the frame. Ref: app/utils/casting.py:27-37."""
    present = set(df.columns)
    updates: dict[str, Column] = {}
    for cols, fn in (
        (integer_fields, to_int),
        (string_fields, to_str),
        (float_fields, to_float_pt),
    ):
        for c in cols or []:
            if c in present:
                updates[c] = fn(c)
    return df.withColumns(updates) if updates else df


def clean_dataframe(
    df: DataFrame,
    *,
    int_cols: list[str] | None = None,
    str_cols: list[str] | None = None,
) -> DataFrame:
    """API-pipeline variant (int + str only). Ref: app/utils/casting.py:40-53."""
    return apply_casts(df, integer_fields=int_cols, string_fields=str_cols)
