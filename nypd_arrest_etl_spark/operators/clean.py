"""The cleaning pipeline: reference transforms T1-T12 as one lazy
column-expression chain (SURVEY.md §2c; /root/reference/scripts/
transform.py:48-172 and load.py:112-159 are the behavioral spec).

Everything here is narrow (no shuffle): at 100 TB this stage is a
single map over input partitions fused by whole-stage codegen, and
Catalyst pushes the required-key filter (T5) into the scan.

The plan is written as SQL text and issued as ONE ``filter`` and ONE
``selectExpr``, so constructing it costs a fixed handful of Py4J round
trips. Built Column by Column through the DataFrame API it would cost
one or more round trips per Column, hundreds for this stage: more
driver time than cleaning a weekly batch takes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from nypd_arrest_etl_spark import schema as S
from nypd_arrest_etl_spark.functions import (
    dict_map_sql,
    domain_guard_sql,
    non_blank_sql,
    parse_date_with_epoch_fallback_sql,
    scrub_nan_strings_sql,
    sql_ident,
    sql_str,
)

# T7: numeric coercion — try_cast nulls garbage (ANSI-safe), matching
# pandas to_numeric(errors='coerce').
_NUMERIC = {
    "arrest_precinct": ("try_cast(try_cast({} AS DOUBLE) AS INT)", "INT"),
    "latitude": ("try_cast({} AS DOUBLE)", "DOUBLE"),
    "longitude": ("try_cast({} AS DOUBLE)", "DOUBLE"),
}
# T3 + T11: domain guards ('' / NONE / unknown -> 'U').
_GUARDS = {"law_cat_cd": S.LAW_CAT_VALID, "perp_sex": S.PERP_SEX_VALID}


def _source_columns(columns: list[str]) -> dict[str, str]:
    """T1: target column -> SQL expression over the input, matching
    headers case-insensitively; a missing expected column is a typed
    null. (Reference synthesizes '' — transform.py:68-76; we keep null
    and apply the same observable default at fill time.) Anything
    outside the expected set, e.g. the nested ``lon_lat`` extra, is
    never referenced, so the projection drops it (T4,
    transform.py:95-97; load.py:182-192 reindex semantics)."""
    lower = {c.lower(): c for c in columns}
    return {
        name: sql_ident(lower[name]) if name in lower else "CAST(NULL AS STRING)"
        for name in S.TARGET_COLUMNS
    }


def clean(df: DataFrame) -> DataFrame:
    """Full T1-T12 pipeline: raw (all-string, dirty) -> target schema.

    Observable semantics match the reference end-to-end:
    - required-key filter drops null/blank arrest_key/arrest_date (T5)
    - date parse with epoch-millis rescue; unparseable dates dropped
      (reference: NaT -> dropna on arrest_date, transform.py:106-118)
    - numeric coercion with null-on-garbage (T7)
    - per-column defaults (T8), borough map then UPPER (T9/T10 order!)
    - domain guards for law_cat_cd / perp_sex (T3 + T11)
    """
    src = _source_columns(df.columns)
    key = scrub_nan_strings_sql(src["arrest_key"])  # T2 applies to the key too
    date = src["arrest_date"]
    parsed = parse_date_with_epoch_fallback_sql(date)
    # T5: required-key filter (the date's null guard is pushed into the
    # scan by Catalyst); T6: unparseable dates dropped.
    keep = f"{non_blank_sql(key)} AND {non_blank_sql(date)} AND {parsed} IS NOT NULL"

    out = []
    for name in S.TARGET_COLUMNS:
        if name == "arrest_key":
            e = key
        elif name == "arrest_date":
            e = parsed
        elif name in _NUMERIC:
            cast, typ = _NUMERIC[name]
            e = cast.format(src[name])
            if typ == "DOUBLE":  # DataFrame.fillna also replaces NaN
                e = f"nanvl({e}, NULL)"
            e = f"coalesce({e}, CAST({S.FILL_DEFAULTS_NUM[name]!r} AS {typ}))"  # T8
        else:
            e = scrub_nan_strings_sql(src[name])  # T2
            if name in _GUARDS:
                e = domain_guard_sql(e, _GUARDS[name], "U")
            if name in S.FILL_DEFAULTS_STR:  # T8
                e = f"coalesce({e}, {sql_str(S.FILL_DEFAULTS_STR[name])})"
            # T9 then T10: borough map THEN uppercase (order is
            # observable: 'B' -> 'Bronx' -> 'BRONX'; unmapped values
            # pass through).
            if name == "arrest_boro":
                e = dict_map_sql(e, S.BORO_MAP)
            if name in S.UPPER_COLUMNS:
                e = f"upper({e})"
        out.append(f"{e} AS {sql_ident(name)}")  # T12: target order
    return df.filter(keep).selectExpr(*out)
