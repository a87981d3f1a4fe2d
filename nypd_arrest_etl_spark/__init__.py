"""nypd_arrest_etl_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference ETL pipeline
(``emmanuel24699/nypd-arrest-etl``, surveyed in SURVEY.md) as an
idiomatic Spark DataFrame/SQL engine, extended with the query surface
and LLM-data-pipeline operators a 100 TB training-data pipeline needs:

- ``session``    — SparkSession factory sized from the host (Arrow, UTC)
- ``schema``     — explicit StructTypes (raw + target NYPD schema)
- ``operators``  — clean (T1-T12), merge (K4), dedup, similarity,
                   text analysis, multimodal plumbing
- ``sources``    — CSV/JSONL readers with the required-column contract,
                   high-watermark incremental scans, REST DataSource
- ``plans``      — the declared query inventory (grouped aggs, joins,
                   windows, cube/rollup, set ops, top-k, sessionization)
- ``streaming``  — Structured Streaming variant of the pipeline
"""

__version__ = "0.1.0"

from nypd_arrest_etl_spark.session import get_spark  # noqa: F401
