"""File-source contracts (S2/S3/S4/S5)."""

import pytest

from nypd_arrest_etl_spark.operators.clean import clean
from nypd_arrest_etl_spark.sources.files import read_csv


def test_csv_partial_columns_bind_by_name(spark, tmp_path):
    """Regression: an explicit CSV schema binds by position — a
    column-subset CSV must still land values in the right columns."""
    p = tmp_path / "arrests.csv"
    p.write_text(
        "arrest_key,arrest_date,law_cat_cd,arrest_boro\nC1,2025-03-01,m,K\n"
    )
    out = clean(read_csv(spark, str(p))).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["law_cat_cd"] == "M"
    assert r["arrest_boro"] == "BROOKLYN"
    assert r["pd_cd"] == "UNKNOWN"


def test_orc_round_trip_preserves_schema_and_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from nypd_arrest_etl_spark.sources.files import read_orc, write_orc

    df = spark.createDataFrame(
        [("K1", "2024-01-05", 40.8), ("K2", "2024-01-06", None)],
        "arrest_key string, arrest_date string, latitude double",
    )
    p = str(tmp_path / "orc_t")
    write_orc(df, p)
    back = read_orc(spark, p)
    assert back.schema == df.schema
    assert back.count() == 2
    # predicate pushdown reaches the ORC scan
    plan = back.filter(F.col("arrest_key") == "K1")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "arrest_key" in plan


def test_jsonl_case_folded_duplicate_keys_first_wins(spark, tmp_path):
    """A row carrying BOTH casings of a key must not fail the job and
    must bind the FIRST occurrence (JSON key order) — matching the
    reference's lowercase-column precedence (transform.py:68-76).
    Works on any SparkSession: no mapKeyDedupPolicy conf required."""
    import json

    from nypd_arrest_etl_spark.sources.files import read_jsonl

    p = tmp_path / "dup.jsonl"
    p.write_text(
        json.dumps({"arrest_key": "low", "ARREST_KEY": "UP", "arrest_date": "2024-01-01"}) + "\n"
        + json.dumps({"ARREST_KEY": "only-upper", "arrest_date": "2024-01-02"}) + "\n"
    )
    rows = {r["arrest_date"]: r["arrest_key"] for r in read_jsonl(spark, str(p)).collect()}
    assert rows["2024-01-01"] == "low"
    assert rows["2024-01-02"] == "only-upper"


def test_xml_roundtrip_and_required_columns(spark, tmp_path):
    from nypd_arrest_etl_spark.sources.files import read_xml, write_xml

    src = spark.createDataFrame(
        [("X1", "2024-01-05", "F"), ("X2", "2024-01-06", "M")],
        "arrest_key string, arrest_date string, law_cat_cd string",
    )
    p = str(tmp_path / "arrests_xml")
    write_xml(src, p)
    back = read_xml(spark, p)
    assert {r["arrest_key"] for r in back.collect()} == {"X1", "X2"}
    assert set(("arrest_key", "arrest_date")) <= set(back.columns)


def test_xml_missing_required_column_fails_loudly(spark, tmp_path):
    import pytest

    from nypd_arrest_etl_spark.sources.files import read_xml, write_xml

    src = spark.createDataFrame([("no-key-here",)], "something string")
    p = str(tmp_path / "bad_xml")
    write_xml(src, p)
    with pytest.raises(Exception, match="arrest_key|required"):
        read_xml(spark, p)


def _write_target(path, dates, name="part-00000.parquet"):
    """A target data file written by pyarrow, as run_etl's Parquet
    would hold it (arrest_date as a DATE column)."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    days = [None if d is None else dt.date.fromisoformat(d) for d in dates]
    table = pa.table(
        {
            "arrest_key": pa.array([f"K{i}" for i in range(len(dates))], pa.string()),
            "arrest_date": pa.array(days, pa.date32()),
        }
    )
    pq.write_table(table, os.path.join(path, name))


def test_high_watermark_reads_footers_and_skips_hidden_paths(tmp_path):
    """The max comes from footer statistics: `_`/`.`-prefixed paths
    and row-group-less files are skipped, all-null files add nothing,
    a missing target gives the default."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nypd_arrest_etl_spark.sources.files import high_watermark

    t = tmp_path / "t"
    assert high_watermark(None, str(t)) == "1900-01-01"
    _write_target(t, ["2024-01-05", "2024-03-01"])
    _write_target(t, ["2024-02-01", None], "part-00001.parquet")
    _write_target(t, [None, None], "part-00002.parquet")
    _write_target(t / "_temporary" / "0", ["2030-01-01"])
    _write_target(t, ["2031-01-01"], ".part-00003.parquet")
    (t / "_SUCCESS").write_text("")
    empty = pa.table({"arrest_key": pa.array([], pa.string()), "arrest_date": pa.array([], pa.date32())})
    pq.write_table(empty, str(t / "part-00004.parquet"))
    assert high_watermark(None, str(t)) == dt.date(2024, 3, 1)


def test_high_watermark_reads_only_newest_year_partition(tmp_path):
    """On a year-partitioned target only the newest arrest_year=
    directory holding a value is read: an unreadable older year is
    never opened, and an empty newest year falls back to the next."""
    import datetime as dt

    from nypd_arrest_etl_spark.sources.files import high_watermark

    t = tmp_path / "t"
    _write_target(t / "arrest_year=2023", ["2023-12-31"])
    (t / "arrest_year=2022").mkdir()
    (t / "arrest_year=2022" / "part-00000.parquet").write_bytes(b"corrupt")
    _write_target(t / "arrest_year=2024", ["2024-06-30", "2024-01-01"])
    _write_target(t / "arrest_year=2025", [None])
    assert high_watermark(None, str(t)) == dt.date(2024, 6, 30)


def test_high_watermark_raises_on_corrupt_file(tmp_path):
    """A corrupt data file must fail the watermark, never fall back to
    the default: a 1900-01-01 watermark would re-admit every row from
    behind the real one."""
    from nypd_arrest_etl_spark.sources.files import high_watermark

    t = tmp_path / "t"
    _write_target(t, ["2024-01-05"])
    (t / "part-00001.parquet").write_bytes(b"PAR1 not really parquet")
    with pytest.raises((ValueError, OSError)):
        high_watermark(None, str(t))


def test_high_watermark_raises_without_statistics(tmp_path):
    """A non-empty file with no max statistic for the column raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nypd_arrest_etl_spark.sources.files import high_watermark

    t = tmp_path / "t"
    t.mkdir()
    table = pa.table({"arrest_date": pa.array([19000], pa.int32()).cast(pa.date32())})
    pq.write_table(table, str(t / "part-00000.parquet"), write_statistics=False)
    with pytest.raises(ValueError, match="no max statistic"):
        high_watermark(None, str(t))


def test_high_watermark_matches_spark_max_on_a_spark_written_target(spark, tmp_path):
    """Footer statistics agree with Spark's own MAX on a target that
    Spark wrote (one partitioned write, one flat) and pyarrow extended."""
    from pyspark.sql import functions as F

    from nypd_arrest_etl_spark.sources.files import high_watermark

    df = spark.createDataFrame(
        [("A", "2023-05-01"), ("B", "2024-02-29"), ("C", None)], "arrest_key string, arrest_date string"
    ).selectExpr("arrest_key", "CAST(arrest_date AS DATE) AS arrest_date")
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    df.write.parquet(flat)
    _write_target(flat, ["2024-03-02"], "part-99999-pyarrow.parquet")
    df.withColumn("arrest_year", F.year("arrest_date")).write.partitionBy("arrest_year").parquet(part)
    for t in (flat, part):
        want = spark.read.parquet(t).agg(F.max("arrest_date")).first()[0]
        assert high_watermark(spark, t) == want


def _jsonl(tmp_path, rows):
    import json

    p = tmp_path / "week.jsonl"
    p.write_text("".join(json.dumps(r) + "\n" for r in rows))
    return str(p)


def test_jsonl_bind_parses_each_line_once(spark, tmp_path):
    """Regression for a trap in the bind: without a barrier, Catalyst
    pushes clean()'s filter through the bind projections and inlines
    the parse into every reference (from_json 25 times per row, 7-15x
    slower). The optimized plan must parse each line exactly once."""
    from nypd_arrest_etl_spark.operators.clean import clean
    from nypd_arrest_etl_spark.sources.files import read_jsonl

    p = _jsonl(tmp_path, [{"ARREST_KEY": "K1", "arrest_date": "2024-01-05"}])
    df = clean(read_jsonl(spark, p))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("from_json(") == 1, plan
    assert [r["arrest_key"] for r in df.collect()] == ["K1"]


def test_jsonl_bind_keeps_nested_values_as_json_text(spark, tmp_path):
    """Numbers, booleans and nested values bind as their JSON text;
    absent keys and JSON nulls bind as null; a malformed line binds
    every column as null."""
    from nypd_arrest_etl_spark.sources.files import read_jsonl

    p = _jsonl(
        tmp_path,
        [{"arrest_key": "K1", "arrest_date": 1748736000000, "Latitude": 40.5, "ky_cd": True,
          "pd_cd": None, "LON_LAT": {"type": "Point", "coordinates": [-73.9, 40.7]}}],
    )
    with open(p, "a") as f:
        f.write("not json\n")
    rows = read_jsonl(spark, p).collect()
    r = rows[0].asDict()
    assert (r["arrest_key"], r["arrest_date"], r["latitude"], r["ky_cd"]) == ("K1", "1748736000000", "40.5", "true")
    assert r["pd_cd"] is None and r["perp_sex"] is None
    assert r["lon_lat"] == '{"type":"Point","coordinates":[-73.9,40.7]}'
    assert set(rows[1].asDict().values()) == {None}


def test_watermark_and_plan_construction_start_no_spark_job(spark, tmp_path):
    """high_watermark reads footers on the driver, and building
    transform(extract(p)) is pure plan construction: neither starts a
    Spark job (census by job group, with a positive control)."""
    from nypd_arrest_etl_spark import pipeline

    _write_target(tmp_path / "t", ["2024-01-05"])
    p = _jsonl(tmp_path, [{"arrest_key": "K1", "arrest_date": "2024-02-01"}])
    sc = spark.sparkContext
    jobs = sc.statusTracker().getJobIdsForGroup

    def census(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(jobs(group))

    assert census("census-control", lambda: spark.range(1).collect()) >= 1
    assert census("census-hwm", lambda: pipeline.high_watermark(spark, str(tmp_path / "t"))) == 0
    assert census("census-build", lambda: pipeline.transform(pipeline.extract(spark, p))) == 0
