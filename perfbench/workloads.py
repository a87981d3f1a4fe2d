"""The workloads, each one client in a closed loop.

A workload prepares its inputs (``prepare``, repeatable, part of
set-up), then the loop calls ``run_op`` once per operation in the
order ``pass_order`` gives. ``run_op`` returns the operation's wall
time and the verdict of the output checks it makes afterwards, which
are not timed: ``None``, or why the output is wrong.

With a ``Tracer`` the workload also records spans, job groups, GC and
storage per operation, and runs the probes the layer split needs,
outside the operation's span.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

import duckdb
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds

from gen import TABLES, EtlFeed, write_tables
from tracing import Tracer, jvm_gc, storage


class CheckFailed(AssertionError):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def verdict(check_fn, *args) -> str | None:
    try:
        check_fn(*args)
    except CheckFailed as e:
        return f"CheckFailed: {e}"
    return None


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    min_passes = 2

    def __init__(self, spark, seed: int, size: dict, tracer: Tracer | None):
        self.spark, self.seed, self.size, self.tracer = spark, seed, size, tracer
        self.per_op: list[dict] = []  # traced measurements, one per operation

    def group(self, gid: str) -> None:
        if self.tracer:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def op_record(self, op: int, name: str, before_gc: tuple[float, int], **extra) -> None:
        gc_s, gc_n = jvm_gc(self.spark)
        rdds, mb = storage(self.spark)
        self.per_op.append(
            {
                "op": op, "name": name,
                "jvm.gc_s": gc_s - before_gc[0], "jvm.gc_count": gc_n - before_gc[1],
                "storage.cached_rdds_after_op": rdds, "storage.cached_mb_after_op": mb,
                **extra,
            }
        )


# ---------------------------------------------------------------------------
# etl_weekly
# ---------------------------------------------------------------------------


def read_target(path: str) -> tuple[int, int, str]:
    """(rows, distinct keys, newest date) of the target, read with
    pyarrow so the check does not go through the engine under test."""
    t = ds.dataset(path, format="parquet").to_table(columns=["arrest_key", "arrest_date"])
    newest = pc.max(t["arrest_date"]).as_py()
    return t.num_rows, len(pc.unique(t["arrest_key"])), newest.isoformat() if newest else ""


class EtlWeekly(Workload):
    """``run_etl(..., incremental=True)`` on the next weekly file."""

    name = "etl_weekly"
    suite_weeks = 3  # the first week is cold; the next three make the suite
    min_passes = 1 + suite_weeks

    def __init__(self, spark, seed, size, tracer):
        super().__init__(spark, seed, size, tracer)
        from nypd_arrest_etl_spark import pipeline

        self.pipeline = pipeline
        if tracer:
            self._wrap_stages()

    def _wrap_stages(self) -> None:
        """Span the stage functions ``run_etl`` calls, by rebinding the
        module globals it looks them up in; the package is unchanged."""
        p, tr = self.pipeline, self.tracer

        def spanned(name, fn, group=None, resume=None):
            def wrapper(*a, **k):
                if group:
                    self.group(f"op{tr.op}.{group}")
                try:
                    with tr.span(name):
                        return fn(*a, **k)
                finally:
                    if resume:
                        self.group(f"op{tr.op}.{resume}")

            return wrapper

        def load(spark, df, *a, **k):
            self._merge_input = df
            return real_load(spark, df, *a, **k)

        real_load = p.load
        p.extract = spanned("sources.extract", p.extract)
        p.transform = spanned("operators.clean", p.transform)
        p.high_watermark = spanned("sources.high_watermark", p.high_watermark, "hwm", "build")
        p.load = spanned("operators.merge", load, "action")

    def prepare(self, work: str) -> None:
        """Seed the target with the history; weekly files come later."""
        self.dir = work
        os.makedirs(work, exist_ok=True)
        self.target = os.path.join(work, "target")
        self.feed = EtlFeed(self.seed, **self.size)
        truth = self.feed.write_history(self.target)
        rows, keys, newest = read_target(self.target)
        check((rows, keys, newest) == (truth["target_rows"], rows, truth["watermark"]), "history target")

    def _check(self, res, truth: dict) -> None:
        check(res.inserted == truth["inserted"], f"inserted {res.inserted} != {truth['inserted']}")
        check(res.details.get("scanned") == truth["rows"], f"scanned {res.details.get('scanned')} != {truth['rows']}")
        rows, keys, newest = read_target(self.target)
        check(rows == truth["target_rows"], f"target rows {rows} != {truth['target_rows']}")
        check(keys == rows, f"{rows - keys} duplicated arrest_key values")
        check(newest == truth["watermark"], f"watermark {newest} != {truth['watermark']}")

    def pass_order(self, p: int) -> list[str]:
        return [f"week{p + 1}"]

    def run_op(self, op: int, name: str) -> tuple[float, str | None]:
        path = os.path.join(self.dir, f"{name}.jsonl")
        truth = self.feed.write_week(path)
        tr = self.tracer
        try:
            if not tr:
                t0 = time.perf_counter()
                res = self.pipeline.run_etl(self.spark, path, self.target, incremental=True)
                wall = time.perf_counter() - t0
            else:
                tr.op = op
                files_before = self._files()
                gc0 = jvm_gc(self.spark)
                self.group(f"op{op}.build")
                with tr.span("op") as s:
                    res = self.pipeline.run_etl(self.spark, path, self.target, incremental=True)
                wall = s.end - s.start
                self._probe(op, name, path, gc0, wall, res, files_before)
            return wall, verdict(self._check, res, truth)
        finally:
            os.remove(path)

    def _files(self) -> dict[str, int]:
        out = {}
        for root, _d, files in os.walk(self.target):
            for f in files:
                if f.endswith(".parquet"):
                    out[os.path.join(root, f)] = os.path.getsize(os.path.join(root, f))
        return out

    def _probe(self, op, name, path, gc0, wall, res, files_before) -> None:
        """Layer probes, run after the operation's span has closed.

        ``probe.scan`` writes ``extract(week)`` to ``noop``; its self
        time (without the ``sources.extract`` construction span inside
        it) is the scan's execution. ``probe.merge_input`` writes the
        DataFrame the operation handed to ``load`` (scan, clean and the
        watermark filter, already built) and counts its rows.
        """
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        p, tr = self.pipeline, self.tracer
        self.group(f"probe{op}")
        with tr.span("probe.scan") as scan:
            noop_write(p.extract(self.spark, path))
        obs = Observation("rows_in")
        with tr.span("probe.merge_input") as merge_in:
            noop_write(self._merge_input.observe(obs, F.count(F.lit(1)).alias("n")))
        rows_in = obs.get["n"]
        self._merge_input = None
        files = self._files()
        added = [f for f in files if f not in files_before]
        scanned = res.details["scanned"]
        scan_s = tr.self_time(scan)
        merge_in_s = merge_in.end - merge_in.start

        def took(span_name: str) -> float:
            s = tr.of_op(op, span_name)[0]
            return s.end - s.start

        load_s = took("operators.merge")
        self.op_record(
            op, name, gc0,
            wall=wall,
            build_s=wall - load_s,
            action_s=load_s,
            layers={
                "sources.rows_scanned": scanned,
                "sources.rows_per_s": scanned / wall,
                "sources.extract.build_s": took("sources.extract"),
                "sources.scan_s": scan_s,
                "sources.high_watermark_s": took("sources.high_watermark"),
                "operators.clean.build_s": took("operators.clean"),
                "operators.clean.self_s": merge_in_s - scan_s,
                "operators.clean.kept_share": res.details["cleaned"] / scanned,
                "operators.merge.self_s": load_s - merge_in_s,
                "operators.merge.rows_in": rows_in,
                "operators.merge.insert_share": res.inserted / rows_in if rows_in else 0.0,
                "operators.merge.files_added": len(added),
                "operators.merge.bytes_per_row": sum(files[f] for f in added) / max(res.inserted, 1),
                "operators.merge.target_files": len(files),
            },
        )


# ---------------------------------------------------------------------------
# query_iterative
# ---------------------------------------------------------------------------


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash: columns by name, rows by value, floats to
    9 places, as the repository's oracle comparison canonicalizes."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    cols = [df[c].round(9).astype(str) if df[c].dtype.kind == "f" else df[c].astype(str) for c in df.columns]
    text = "|".join(df.columns) + "\n" + "\n".join("|".join(r) for r in zip(*cols))
    return hashlib.sha256(text.encode()).hexdigest()


FAMILIES = {"dedup": "dedup_", "graph": "graph_", "text": "ccnet_"}


def family(entry: str) -> str | None:
    return next((f for f, prefix in FAMILIES.items() if entry.startswith(prefix)), None)


class QueryWorkload(Workload):
    """One registry entry per operation: the call, then a ``noop`` write.

    Every result must give the same value hash on every pass. Entries
    with a DuckDB twin are compared with it once per run, on the result
    of their first (cold) operation. Entries without one must be
    non-empty and hash the same on every run with the same seed
    (``hash_file``).
    """

    def __init__(self, spark, seed, size, tracer, name: str, entries: list[str], hash_file: str):
        super().__init__(spark, seed, size, tracer)
        import __spark_entry__

        self.name = name
        self.entries = entries
        registry = __spark_entry__.queries()
        self.fns = {e: registry[e] for e in entries}
        self.oracle = {e: s for e, s in __spark_entry__.oracle_sql().items() if e in entries}
        self.hash_file = hash_file
        self.hashes: dict[str, str] = {}

    def prepare(self, work: str) -> None:
        self.dir = work
        write_tables(work, self.seed, **self.size)

    def pass_order(self, p: int) -> list[str]:
        order = list(self.entries)
        random.Random(self.seed * 1000 + p).shuffle(order)
        return order

    def run_op(self, op: int, name: str) -> tuple[float, str | None]:
        fn, tr = self.fns[name], self.tracer
        if not tr:
            t0 = time.perf_counter()
            df = fn(self.spark, self.dir)
            noop_write(df)
            wall = time.perf_counter() - t0
        else:
            tr.op = op
            gc0 = jvm_gc(self.spark)
            with tr.span("op") as s:
                self.group(f"op{op}.build")
                with tr.span("plans.build") as build:
                    df = fn(self.spark, self.dir)
                self.group(f"op{op}.action")
                with tr.span("plans.action") as action:
                    noop_write(df)
            wall = s.end - s.start
            self.op_record(
                op, name, gc0, wall=wall,
                build_s=build.end - build.start, action_s=action.end - action.start,
                layers={},
            )
            self.group(f"check{op}")
        return wall, verdict(self._check, name, df)

    def _check(self, name: str, df) -> None:
        result = df.toPandas()
        got = value_hash(result)
        if name not in self.hashes:
            self.hashes[name] = got
            if name in self.oracle:  # compared with its twin once per run
                twin = self._duck().sql(self.oracle[name]).df()
                check(sorted(result.columns) == sorted(twin.columns), f"{name}: columns {sorted(result.columns)} != {sorted(twin.columns)}")
                check(len(result) == len(twin), f"{name}: {len(result)} rows, oracle {len(twin)}")
                check(got == value_hash(twin), f"{name}: values differ from the oracle")
            else:
                check(len(result) > 0, f"{name}: empty result")
        check(self.hashes[name] == got, f"{name}: value hash changed between passes")

    def _duck(self) -> duckdb.DuckDBPyConnection:
        if not hasattr(self, "_con"):
            self._con = duckdb.connect()
            for t in TABLES:
                self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.dir, t)}.parquet'")
        return self._con

    def check_across_runs(self) -> dict[str, str]:
        """Entries without a twin must hash as in the first recorded run
        with this seed; returns the failures by entry."""
        mine = {e: h for e, h in self.hashes.items() if e not in self.oracle}
        before = {}
        if os.path.exists(self.hash_file):
            with open(self.hash_file) as f:
                before = json.load(f)
        os.makedirs(os.path.dirname(self.hash_file), exist_ok=True)
        with open(self.hash_file, "w") as f:
            json.dump({**mine, **before}, f, indent=1, sort_keys=True)
        return {
            e: f"CheckFailed: {e}: value hash differs from an earlier run with seed {self.seed}"
            for e, h in mine.items()
            if before.get(e, h) != h
        }


ITERATIVE = ["dedup_keep_best", "ccnet_buckets", "graph_pagerank_converged"]


def cleanup(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
