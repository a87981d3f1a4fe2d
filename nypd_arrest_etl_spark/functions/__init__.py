"""Reusable column-expression builders.

Every reference row-level transform (SURVEY.md §2c/§2g) is a pure
column expression here — no Python UDFs in the hot path. The two
reference Python ``apply`` loops (convert_timestamp,
LAW_CAT_CD_MAPPING.get — /root/reference/scripts/transform.py:38-46,
89-91) become Catalyst CASE/COALESCE chains that whole-stage codegen
vectorizes.

Each row-level transform is defined ONCE, as SQL text over an input
SQL expression (the ``*_sql`` builders). The Column helpers wrap that
text in one ``F.expr`` for a named column. Plan builders that emit many
columns (``operators.clean``) splice the text into a single
``selectExpr``/``filter``: every Column built through the DataFrame API
is one or more Py4J round trips from the Python driver (~2.4 ms each on
a 4-vCPU host), so a plan assembled Column by Column costs more to
construct than a small batch costs to run.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier. Any header is
    legal (CSV names are arbitrary); the name is never parsed as a
    nested-field path."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """A Python string as a Spark SQL string literal (backslash escapes
    are on by default, so backslashes and quotes are escaped)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def domain_guard_sql(e: str, valid: Sequence[str], default: str) -> str:
    """Uppercase, keep if in `valid`, else `default`.

    Mirrors the law_cat_cd / perp_sex CASE guards
    (transform.py:27-35, load.py:128-139). Null-safe: null -> default.
    """
    u = f"upper({e})"
    return f"CASE WHEN {u} IN ({', '.join(map(sql_str, valid))}) THEN {u} ELSE {sql_str(default)} END"


def domain_guard(col: str, valid: Sequence[str], default: str) -> Column:
    return F.expr(domain_guard_sql(sql_ident(col), valid, default))


def dict_map_sql(e: str, mapping: Mapping[str, str], passthrough: bool = True) -> str:
    """Literal dict lookup as a CASE chain (constant-folded by Catalyst).

    passthrough=True keeps the original value when unmapped
    (borough map, transform.py:20-26,148-150).
    """
    assert mapping
    whens = " ".join(f"WHEN {e} = {sql_str(k)} THEN {sql_str(v)}" for k, v in mapping.items())
    return f"CASE {whens}{f' ELSE {e}' if passthrough else ''} END"


def dict_map(col: str, mapping: Mapping[str, str], passthrough: bool = True) -> Column:
    return F.expr(dict_map_sql(sql_ident(col), mapping, passthrough))


_ISO_DATE = r"^\d{4}-\d{1,2}-\d{1,2}([T ].*)?$"
_EPOCH_MILLIS = r"^[+-]?\d{11,}(\.\d*)?$"


def parse_date_with_epoch_fallback_sql(e: str) -> str:
    """Date parse with epoch-millis rescue (transform.py:106-118).

    Tries ISO date / ISO timestamp via the cast grammar (accepts
    ``yyyy-MM-dd`` and ``yyyy-MM-dd[ T]<time>``; rejects trailing
    garbage glued to the date — r9 hypothesis twin-testing caught the
    old ``substring(1,10)`` accepting '2024-01-05junk' that the
    reference's ``to_datetime(errors='coerce')`` nulls). For values
    that fail, retries the value as epoch MILLISECONDS exactly like
    the reference's ``float(value)/1000`` (transform.py:38-46):
    optional sign and fraction accepted (r9; hypothesis found the
    old ``^\\d{11,}$`` dropping pre-1970 and fractional millis the
    pandas twin rescued). Output DateType, null if hopeless.

    Pinned intentional differences from the pandas twin:
    - numerics with fewer than 11 integer digits are NOT rescued
      (epoch-seconds ambiguity guard; the reference would read them
      as tiny millis and emit ~1970-01-01 for every small int);
    - magnitudes beyond pandas' ns-timestamp range (1677–2262) still
      parse here up to Spark's full date range — the engine does not
      inherit pandas' 64-bit-nanosecond ceiling.
    """
    s = f"trim(CAST({e} AS STRING))"
    # full yyyy-mm-dd shape required before the cast: the bare cast
    # grammar also accepts 'yyyy' and 'yyyy-mm', so a 4-digit numeric
    # like '1000' would become year-1000 instead of falling through
    # to the millis rescue / null (r9 hypothesis find)
    iso = f"CASE WHEN {s} RLIKE {sql_str(_ISO_DATE)} THEN try_cast({s} AS DATE) END"
    is_numeric = f"{s} RLIKE {sql_str(_EPOCH_MILLIS)}"
    ms = f"try_cast({s} AS DOUBLE)"
    # stay inside Spark's timestamp range (±~year 0001/9999) so the
    # rescue itself can never raise under ANSI mode
    in_range = f"{ms} >= -62135596800000.0D AND {ms} <= 253402300799000.0D"
    epoch = f"to_date(timestamp_seconds({ms} / 1000.0D))"
    return f"coalesce({iso}, CASE WHEN {is_numeric} AND {in_range} THEN {epoch} END)"


def parse_date_with_epoch_fallback(col: str) -> Column:
    return F.expr(parse_date_with_epoch_fallback_sql(sql_ident(col)))


# Exactly the characters Python's str.strip() treats as whitespace
# (str.isspace() == True): ASCII space/control whitespace INCLUDING
# the information separators \x1c-\x1f, NEL, NBSP, and the Unicode
# space separators. Spark's trim() strips only ' ' — the reference
# filters blanks with pandas .str.strip() (transform.py:100-104), so
# a key like '\\x1f' must be treated as blank here too (hypothesis
# found the divergence in round 8).
_PY_WHITESPACE_ONLY = (
    "^[ \\t\\n\\x0b\\x0c\\r\\x1c-\\x1f\\x85\\xa0"
    "\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]*$"
)


def non_blank_sql(e: str) -> str:
    """Not-null and not whitespace-only (required-key filter,
    transform.py:100-104) — Python-strip semantics, see
    :data:`_PY_WHITESPACE_ONLY`. The null guard stays a separate
    conjunct so Catalyst still pushes IsNotNull into the scan."""
    return f"({e} IS NOT NULL AND NOT CAST({e} AS STRING) RLIKE {sql_str(_PY_WHITESPACE_ONLY)})"


def non_blank(col: str) -> Column:
    return F.expr(non_blank_sql(sql_ident(col)))


def scrub_nan_strings_sql(e: str) -> str:
    """Replace the pandas 'nan' stringification artifact with null.

    The reference casts to str then replaces 'nan' with ''
    (transform.py:79-85); we keep proper nulls internally and apply the
    observable defaults at fill time (T8).
    """
    s = f"CAST({e} AS STRING)"
    return f"CASE WHEN {s} IN ('nan', 'None', '') THEN NULL ELSE {s} END"


def scrub_nan_strings(col: str) -> Column:
    return F.expr(scrub_nan_strings_sql(sql_ident(col)))


# ---------------------------------------------------------------------------
# Vector helpers (LLM-pipeline extensions; embeddings are array<float>)
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns (null-safe on zero norms)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def spread(df, min_partitions: int | None = None):
    """Repartition a DataFrame whose scan produced too few partitions
    to use the cluster — e.g. a single small file read as 1 partition.

    Heavy per-row compute (shingling, signatures, UDF batches) placed
    downstream of a 1-partition scan runs on ONE core no matter how
    many the session has; a round-robin repartition ahead of it costs
    one cheap shuffle of the raw rows and buys full parallelism, and
    the exchange it introduces is reused (ReusedExchange) by every
    self-join branch over the same subtree. On a real cluster reading
    many splits this is a no-op (partitions already >= parallelism).
    """
    want = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)
