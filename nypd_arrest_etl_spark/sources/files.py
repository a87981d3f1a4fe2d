"""File sources with the reference's scan contracts (SURVEY.md §2a).

- S3: CSV scan — explicit schema (never inferSchema in prod), header,
  required-column validation (import_csv.py:21-53).
- S4: JSON Lines scan — explicit schema skips inference
  (transform.py:64, load.py:189).
- S5: required-column check raises on a structurally bad file
  (extract.py:118-122, import_csv.py:37-41).
- S2: high-watermark probe over the target table's footer statistics.

The reference's 50k/100k chunking disappears: partitions are the unit
of parallelism and ``spark.sql.files.maxPartitionBytes`` bounds memory.
"""

from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nypd_arrest_etl_spark.functions import sql_ident, sql_str
from nypd_arrest_etl_spark.schema import RAW_SCHEMA, REQUIRED_COLUMNS


class MissingRequiredColumns(ValueError):
    pass


def validate_required(df: DataFrame, required: tuple[str, ...] = REQUIRED_COLUMNS) -> DataFrame:
    """S5: structural check against df.schema — fails fast, no job run."""
    have = {c.lower() for c in df.columns}
    missing = [c for c in required if c.lower() not in have]
    if missing:
        raise MissingRequiredColumns(f"scan missing required columns: {missing}")
    return df


def read_csv(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S3. PERMISSIVE mode keeps malformed rows as nulls (the clean
    stage's required-key filter drops them) rather than failing the job.

    NOTE: an explicit CSV schema binds by POSITION, not header name —
    a source file with a column subset would silently misalign. So by
    default we bind names from the header with all-string types
    (inferSchema=False: single pass, no sampling) and let the clean
    stage coerce types; pass ``schema`` only for headerless files
    whose layout is known.
    """
    if schema is not None:
        df = spark.read.csv(path, header=True, schema=schema, mode="PERMISSIVE")
    else:
        df = spark.read.csv(path, header=True, inferSchema=False, mode="PERMISSIVE")
    return validate_required(df)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S4. Explicit schema: no sampling pass over 100 TB of JSON.

    The default path must honor the reference's T1 contract — a batch
    may arrive with UPPERCASE keys (transform.py:68-76) — but Spark's
    JSON reader binds an explicit schema's field names CASE-SENSITIVELY,
    which would silently null (and then drop) every such row. So each
    line is parsed once into ``map<string,string>`` (nested values such
    as ``lon_lat`` come back as their JSON text), its key array is
    lowercased once, and every expected column is bound as the value at
    the FIRST position of its folded name: still a single-pass,
    inference-free scan (safe at 100 TB), and unlike the reference it
    survives casing that is mixed row-to-row within one batch. First
    occurrence wins, matching the reference's precedence (the
    lowercase column is used when both casings appear,
    transform.py:68-76). Pass ``schema`` to take the pruned struct fast
    path when the producer's casing is known.

    The bind always yields the RAW_SCHEMA columns (a missing key is a
    null value), so the required-column check has nothing to reject.

    The bind ends in an ``observe`` barrier. Without it, Catalyst
    pushes a downstream filter through the bind projections and
    inlines the whole parse into every reference: ``clean`` over this
    frame then evaluated ``from_json`` 25 times per row and ran 7-15x
    slower. Filters do not move through a metrics node, so the parse
    stays one projection evaluated once; column pruning still passes.
    The unique name keeps two binds in one plan from clashing.
    """
    if schema is not None:
        df = spark.read.schema(schema).json(path)
        return validate_required(df)

    parsed = spark.read.text(path).selectExpr("from_json(value, 'map<string,string>') AS m")
    entries = parsed.selectExpr("map_values(m) AS v", "transform(map_keys(m), k -> lower(k)) AS k")
    # get() is 0-based and null out of range; array_position is 1-based
    # and 0 when absent.
    bound = entries.selectExpr(
        *[f"get(v, array_position(k, {sql_str(c)}) - 1) AS {sql_ident(c)}" for c in RAW_SCHEMA.fieldNames()]
    )
    return bound.observe(f"read_jsonl.{uuid.uuid4().hex}", F.count(F.lit(1)))


_YEAR_DIR = "arrest_year="  # the year-partitioned target layout (operators.merge.YEAR_COL)


def high_watermark(spark: SparkSession, table_path: str, col: str = "arrest_date", default: str = "1900-01-01"):
    """S2: MAX(col) over the target; default when the target does not
    exist or holds no value of ``col`` (extract.py:42-54).

    Runs no Spark job: the max comes from the Parquet footer statistics
    of the target's data files, read with pyarrow on the driver
    (``spark`` is unused; it stays in the signature of the pipeline
    stage). Paths starting with ``_`` or ``.`` are skipped, as Spark's
    reader skips them, and so are row groups without rows. On a
    year-partitioned target only the newest ``arrest_year=`` directory
    that holds a value is read. A file that is not Parquet, or a row
    group holding values of ``col`` without a max statistic for it,
    raises: a wrong watermark would silently drop or re-admit rows.
    """
    if not os.path.exists(table_path):
        return default
    years = sorted(
        (int(d[len(_YEAR_DIR):]), d)
        for d in os.listdir(table_path)
        if d.startswith(_YEAR_DIR) and d[len(_YEAR_DIR):].isdigit()
    )
    for root in [os.path.join(table_path, d) for _, d in reversed(years)] or [table_path]:
        found = [v for f in _data_files(root) if (v := _footer_max(f, col)) is not None]
        if found:
            return max(found)
    return default


def _data_files(root: str):
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        yield from (os.path.join(dirpath, f) for f in files if not f.startswith(("_", ".")))


def _footer_max(path: str, col: str):
    """Max of ``col`` over one Parquet file's row-group statistics;
    None when the file holds no non-null value of it."""
    meta = pq.ParquetFile(path).metadata
    paths = [meta.schema.column(i).path for i in range(meta.num_columns)]
    best = None
    for g in range(meta.num_row_groups):
        rg = meta.row_group(g)
        if rg.num_rows == 0:
            continue
        st = rg.column(paths.index(col)).statistics if col in paths else None
        if st is not None and st.has_min_max:
            best = st.max if best is None else max(best, st.max)
        elif st is None or not st.has_null_count or st.null_count != rg.num_rows:
            raise ValueError(f"{path}: row group {g} has no max statistic for {col!r}")
    return best


def incremental_filter(df: DataFrame, hwm, col: str = "arrest_date") -> DataFrame:
    """The reference pushes `arrest_date > hwm` into the Socrata API
    (extract.py:60-64); here Catalyst pushes it into the file scan."""
    return df.filter(F.col(col) > F.lit(hwm))


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC scan (built-in vectorized reader; same pushdown /
    pruning behavior as parquet). Schema rides the file footer — no
    inference pass. Required-column contract applies as for S3/S4."""
    return validate_required(spark.read.orc(path))


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink twin of the parquet target — for stacks standardized
    on ORC (Hive-lineage warehouses). Snappy-by-default, splittable."""
    df.write.mode(mode).orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    validate: bool = True,
) -> DataFrame:
    """XML scan (Spark 4 native spark-xml, StAX-based): one row per
    ``row_tag`` element, schema inferred (or pass ``.schema(...)`` on a
    raw reader for production). Socrata publishes every dataset as XML
    alongside JSON/CSV, so this closes the reference's source-format
    matrix (extract.py pulls JSON; import_csv.py pulls CSV).

    Scale note: XML splits by row-tag scan, so files parallelize like
    JSONL; the parser is row-at-a-time (no vectorized reader) — land
    as parquet on first touch, as with every text source here."""
    df = spark.read.format("xml").option("rowTag", row_tag).load(path)
    return validate_required(df) if validate else df


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink twin (export/interchange; not a storage format)."""
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )
