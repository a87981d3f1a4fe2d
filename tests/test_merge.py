"""Merge (K4) semantics: first-writer-wins, insert-if-absent,
run-twice idempotency (FIXTURES.md F3; reference load.py:112-159)."""

import json

import pytest

from nypd_arrest_etl_spark.operators.clean import clean
from nypd_arrest_etl_spark.operators.merge import (
    dedup_first_writer_wins,
    merge_insert_if_absent,
    merge_into_parquet,
)
from nypd_arrest_etl_spark.pipeline import run_etl
from nypd_arrest_etl_spark.sources.files import high_watermark


def _df(spark, rows):
    return spark.createDataFrame(rows, "arrest_key string, arrest_date string, v string")


def test_dedup_within_batch(spark):
    df = _df(
        spark,
        [("A", "2025-01-01", "x"), ("A", "2025-01-02", "y"), ("B", "2025-01-01", "z")],
    )
    out = dedup_first_writer_wins(df, "arrest_key", order_col="arrest_date")
    rows = {r["arrest_key"]: r["v"] for r in out.collect()}
    assert rows == {"A": "x", "B": "z"}


def test_insert_if_absent(spark):
    target = _df(spark, [("A", "2025-01-01", "old")])
    incoming = _df(spark, [("A", "2025-02-01", "new"), ("C", "2025-02-01", "c")])
    out = merge_insert_if_absent(incoming, target, "arrest_key")
    assert {r["arrest_key"] for r in out.collect()} == {"C"}


@pytest.fixture()
def raw_jsonl(tmp_path):
    p = tmp_path / "raw.jsonl"
    rows = [
        {"arrest_key": f"K{i}", "arrest_date": f"2025-06-{i + 1:02d}", "perp_sex": "M"}
        for i in range(5)
    ]
    rows.append(rows[0].copy())  # duplicate key within batch
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return str(p)


def test_pipeline_idempotency(spark, tmp_path, raw_jsonl):
    target = str(tmp_path / "nypd_arrests")
    r1 = run_etl(spark, raw_jsonl, target)
    assert r1.inserted == 5  # 6 raw rows, 1 in-batch duplicate
    r2 = run_etl(spark, raw_jsonl, target)
    assert r2.inserted == 0  # run-twice idempotency
    assert spark.read.parquet(target).count() == 5


@pytest.mark.slow  # >15s: excluded from the default gate run
def test_high_watermark_probe(spark, tmp_path, raw_jsonl):
    target = str(tmp_path / "t")
    assert high_watermark(spark, target) == "1900-01-01"
    run_etl(spark, raw_jsonl, target)
    assert str(high_watermark(spark, target)) == "2025-06-05"


@pytest.mark.slow  # >15s: excluded from the default gate run
def test_merge_rowcount_metric(spark, tmp_path):
    target = str(tmp_path / "m")
    df = clean(
        spark.createDataFrame(
            [("A", "2025-01-01"), ("B", "2025-01-02")], "arrest_key string, arrest_date string"
        )
    )
    assert merge_into_parquet(spark, df, target) == 2
    assert merge_into_parquet(spark, df, target) == 0


@pytest.mark.slow  # >15s: excluded from the default gate run
def test_partitioned_target_layout(spark, tmp_path):
    """M1 layout: partitioned=True writes year(arrest_date) directory
    partitions; idempotency and incrementality hold across layouts."""
    import json
    import os

    from nypd_arrest_etl_spark.pipeline import run_etl

    src1 = tmp_path / "b1.jsonl"
    with open(src1, "w") as f:
        f.write(json.dumps({"arrest_key": "P1", "arrest_date": "2023-06-01"}) + "\n")
        f.write(json.dumps({"arrest_key": "P2", "arrest_date": "2024-01-15"}) + "\n")
    target = str(tmp_path / "tgt")

    r1 = run_etl(spark, str(src1), target, partitioned=True)
    assert r1.inserted == 2
    dirs = {d for d in os.listdir(target) if d.startswith("arrest_year=")}
    assert dirs == {"arrest_year=2023", "arrest_year=2024"}

    # idempotent
    assert run_etl(spark, str(src1), target, partitioned=True).inserted == 0

    # incremental append lands in a new partition; older row skipped
    src2 = tmp_path / "b2.jsonl"
    with open(src2, "w") as f:
        f.write(json.dumps({"arrest_key": "P3", "arrest_date": "2022-01-01"}) + "\n")
        f.write(json.dumps({"arrest_key": "P4", "arrest_date": "2025-03-03"}) + "\n")
    r3 = run_etl(spark, str(src2), target, partitioned=True)
    assert r3.inserted == 1
    final = spark.read.parquet(target)
    assert {r["arrest_key"] for r in final.collect()} == {"P1", "P2", "P4"}
    assert "arrest_year=2025" in set(os.listdir(target))


def test_merge_overwrite_partitions_semantics(spark, tmp_path):
    """Dynamic partition-overwrite merge: first-wins + insert-if-absent
    + run-twice idempotency, and untouched partitions are never
    rewritten (their files stay byte-identical on disk)."""
    import os

    from nypd_arrest_etl_spark.operators.merge import merge_overwrite_partitions

    target = str(tmp_path / "tgt")
    base = _df(
        spark,
        [("A", "2023-06-01", "a"), ("B", "2024-01-15", "b")],
    )
    assert merge_overwrite_partitions(spark, base, target) == 2

    def files_of(year):
        d = os.path.join(target, f"arrest_year={year}")
        return {
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before_2023 = files_of(2023)

    # batch touches ONLY 2024: dup key within batch (first wins),
    # existing key (target wins), one genuinely new key
    batch = _df(
        spark,
        [
            ("C", "2024-02-01", "c1"),
            ("C", "2024-02-02", "c2"),
            ("B", "2024-03-01", "clobber"),
        ],
    )
    assert merge_overwrite_partitions(spark, batch, target) == 1
    # idempotent re-run
    assert merge_overwrite_partitions(spark, batch, target) == 0

    rows = {r["arrest_key"]: r["v"] for r in spark.read.parquet(target).collect()}
    assert rows == {"A": "a", "B": "b", "C": "c1"}
    # 2023 partition never read-for-rewrite nor rewritten
    assert files_of(2023) == before_2023


def test_merge_overwrite_rejects_key_that_moved_partitions(spark, tmp_path):
    """K4 holds across partitions by default: a key re-sent with a
    corrected date (different year) is still discarded, because the
    anti-join checks the full target's key column, not just the
    batch's own partitions."""
    from nypd_arrest_etl_spark.operators.merge import merge_overwrite_partitions

    target = str(tmp_path / "tgt")
    assert merge_overwrite_partitions(
        spark, _df(spark, [("K1", "2023-06-01", "orig")]), target
    ) == 1
    # same key, corrected date -> other partition: must be rejected
    assert merge_overwrite_partitions(
        spark, _df(spark, [("K1", "2024-02-01", "corrected")]), target
    ) == 0
    rows = spark.read.parquet(target).collect()
    assert len(rows) == 1 and rows[0]["v"] == "orig"


def test_merge_overwrite_null_partition_keys_stay_deduped(spark, tmp_path):
    """A NULL partition value (unparseable date) is a touched partition
    too: re-sending a null-year key must anti-join against the target's
    null partition, not insert a duplicate."""
    from pyspark.sql import functions as F

    from nypd_arrest_etl_spark.operators.merge import merge_overwrite_partitions

    target = str(tmp_path / "tgt")
    batch = spark.createDataFrame(
        [("N1", None, "x"), ("A", "2024-01-01", "a")],
        "arrest_key string, arrest_date string, v string",
    )
    assert merge_overwrite_partitions(spark, batch, target) == 2
    assert merge_overwrite_partitions(spark, batch, target) == 0
    final = spark.read.parquet(target)
    assert final.count() == 2
    assert final.filter(F.col("arrest_key") == "N1").count() == 1


def test_merge_overwrite_prunes_target_scan(spark, tmp_path):
    """The anti-join's target side is partition-pruned to the batch's
    years: the parquet scan plan carries a partition filter and reads
    only the touched partition's files."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "tgt")
    base = _df(
        spark,
        [("A", "2023-06-01", "a"), ("B", "2024-01-15", "b")],
    )
    from nypd_arrest_etl_spark.operators.merge import merge_overwrite_partitions

    merge_overwrite_partitions(spark, base, target)
    t = spark.read.parquet(target)
    pruned = t.filter(F.col("arrest_year").isin([2024]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "arrest_year" in plan.split(
        "PartitionFilters"
    )[1][:120]
    assert pruned.count() == 1


def test_observe_metrics_report_scanned_and_dropped(spark, tmp_path):
    """Observation metrics ride the write action (no extra job) and
    reproduce the reference's stage counters + dropped-row log
    (etl.py:49-53, transform.py:100-104)."""
    p = tmp_path / "dirty.jsonl"
    rows = [
        {"arrest_key": "A", "arrest_date": "2025-06-01"},
        {"arrest_key": "  ", "arrest_date": "2025-06-02"},  # blank key -> dropped
        {"arrest_date": "2025-06-03"},  # missing key -> dropped
        {"arrest_key": "B", "arrest_date": "2025-06-04"},
    ]
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    r = run_etl(spark, str(p), str(tmp_path / "t"))
    assert r.inserted == 2
    assert r.details == {"scanned": 4, "cleaned": 2, "dropped_invalid": 2}


def test_merge_into_corrupt_target_raises_and_adds_no_file(spark, tmp_path):
    """An unreadable target fails the merge; it never degrades to a
    plain append, which could land keys the target already holds."""
    import os

    target = tmp_path / "t"
    target.mkdir()
    (target / "part-00000.parquet").write_bytes(b"PAR1 not really parquet PAR1")
    before = sorted(os.walk(target))
    df = clean(spark.createDataFrame([("A", "2025-01-01")], "arrest_key string, arrest_date string"))
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        merge_into_parquet(spark, df, str(target))
    assert sorted(os.walk(target)) == before
