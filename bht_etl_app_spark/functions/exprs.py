"""Reusable Column expression builders — the semantic atoms of the
reference app, encoded as pure Spark expressions (no Python UDFs, so
everything stays inside whole-stage codegen).

Each builder cites the reference behavior it reproduces
(``/root/reference/app.py``). The two distinct null regimes of the
reference are the key subtlety:

- ``pandas_str``: pandas ``astype(str)`` turns NaN into the literal
  string ``"nan"`` (app.py:110-111, 521) — nulls *participate* in
  groupings as a ``"nan"`` bucket.
- ``non_empty``: ``safe_value_counts`` (app.py:87-89) instead drops
  nulls and empty strings *before* stringifying.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def norm(col: Column | str) -> Column:
    """Null-safe normalize: ``str(s or "").strip().lower()`` (app.py:29-30)."""
    c = _c(col)
    return F.lower(F.trim(F.coalesce(c.cast("string"), F.lit(""))))


def pandas_str(col: Column | str) -> Column:
    """pandas ``astype(str)`` semantics: NULL becomes the literal "nan"
    (app.py:110, 521). Everything else uses Spark's string cast, which
    matches pandas str() for ints ("1"), floats ("1.5"/"1.0") and strings.
    """
    return F.coalesce(_c(col).cast("string"), F.lit("nan"))


def sel_predicate(col: Column | str) -> Column:
    """The thrice-repeated "selected cell" test (app.py:401, 412, 427):

    ``s.notna() & s.astype(str).str.strip().ne("") &
    s.astype(str).str.lower().ne("0")``

    Quirks preserved exactly: the "0" comparison is on the *un-trimmed*
    lowercase string (so ``" 0"`` counts as selected); ``"0.0"``,
    ``"False"``, ``"no"`` all count as selected; only NULL,
    whitespace-only and the exact literal ``"0"`` are unselected.
    """
    c = _c(col)
    s = c.cast("string")
    return c.isNotNull() & (F.trim(s) != "") & (F.lower(s) != "0")


def non_empty(col: Column | str) -> Column:
    """Filter of ``safe_value_counts`` (app.py:87-89): drop NULL, then
    drop values that are empty after stringify+strip."""
    c = _c(col)
    return c.isNotNull() & (F.trim(c.cast("string")) != "")


def to_double(col: Column | str) -> Column:
    """``pd.to_numeric(errors="coerce")`` (app.py:95-97): invalid -> NULL.
    ``try_cast`` gives null-on-error under Spark 4's default ANSI mode
    (a plain cast would raise on malformed input)."""
    return _c(col).try_cast("double")


def weight_expr(df, weight_col: str | None) -> Column:
    """Weight vector per app.py:101-105: numeric cast with NaN->0 when a
    weight column is given and exists; constant 1.0 otherwise."""
    if weight_col and weight_col in df.columns:
        return F.coalesce(F.col(weight_col).try_cast("double"), F.lit(0.0))
    return F.lit(1.0)


def codebook_recode_expr(col: str, mapping: dict[str, str]) -> Column:
    """Codebook recode of one column (app.py:221-227):
    ``astype(str).map(value->label).fillna(original)`` — look up the
    *stringified* cell; on a miss fall back to the original value.

    Implemented as a literal map lookup (JVM-side, codegen-friendly);
    ``io.readers.apply_codebook`` builds one per mapped column.
    """
    if not mapping:
        return _c(col)
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs.append(F.lit(str(k)))
        pairs.append(F.lit(str(v)))
    m = F.create_map(*pairs)
    return F.coalesce(
        F.try_element_at(m, F.col(col).cast("string")),
        F.col(col).cast("string"),
    )


# ---------- brand-name decode (driver-side metadata, app.py:237-255) ----------

COMMON_PREFIXES = [
    r"^ua[_-]?", r"^aa[_-]?", r"^aw[_-]?", r"^ever[_-]?", r"^everused[_-]?",
    r"^consider[_-]?", r"^consid[_-]?", r"^cs[_-]?", r"^used[_-]?", r"^brand[_-]?",
]
COMMON_SUFFIXES = [
    r"[_-]?brand$", r"[_-]?used$", r"[_-]?ever$", r"[_-]?consider$",
    r"[_-]?aided$", r"[_-]?unaided$",
]


def extract_brand_from_column(colname: str) -> str:
    """Strip coded prefixes/suffixes from a column name, e.g. 'UA_Indomie'
    -> 'Indomie' (app.py:243-252). Pure driver-side metadata function —
    column names are metadata, not data, so no Spark job is involved."""
    raw = str(colname)
    s = raw
    for p in COMMON_PREFIXES:
        s = re.sub(p, "", s, flags=re.IGNORECASE)
    for p in COMMON_SUFFIXES:
        s = re.sub(p, "", s, flags=re.IGNORECASE)
    s = re.sub(r"[_-]+", " ", s).strip()
    return s if s else raw


def brands_from_binary_columns(cols: list[str]) -> list[str]:
    """Sorted distinct decoded brand names (app.py:254-255)."""
    return sorted({extract_brand_from_column(c) for c in cols})
