"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_weekly --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, and the run also writes its
spans and a layer table. The line before it records the run's
settings and any failed operation. See perfbench/README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
SETUP_REPEATS = 3

# Sizes per workload; "tiny" is the configuration the benchmark's own
# tests run.
SIZES = {
    "full": {
        "etl_weekly": {"history_rows": 200_000, "week_rows": 8_000, "new_rows": 1_000},
        "query_iterative": {"sf": 0.05, "docs": 2_000},
    },
    "tiny": {
        "etl_weekly": {"history_rows": 3_000, "week_rows": 2_000, "new_rows": 200},
        "query_iterative": {"sf": 0.001, "docs": 300},
    },
}
WORKLOADS = tuple(SIZES["full"])

END_TO_END = {
    "setup_s": "s", "op_s.p50": "s", "suite_s": "s", "cold_suite_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "jvm.gc_s": "s", "jvm.gc_count": "count",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.action_s": "s", "plans.action_jobs": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.task_gc_share": "share",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.core_busy_share": "share",
    "storage.cached_rdds_after_op": "count", "storage.cached_mb_after_op": "MB",
    "trace.overhead_share": "share",
    "sources.rows_scanned": "count", "sources.rows_per_s": "rows/s",
    "sources.extract.build_share": "share", "sources.scan_share": "share",
    "sources.high_watermark_share": "share", "sources.high_watermark_jobs": "count",
    "operators.clean.build_share": "share", "operators.clean.self_share": "share",
    "operators.clean.kept_share": "share",
    "operators.merge.self_share": "share", "operators.merge.rows_in": "count",
    "operators.merge.insert_share": "share", "operators.merge.files_added": "count",
    "operators.merge.bytes_per_row": "B", "operators.merge.target_files": "count",
    "operators.dedup.build_share": "share", "operators.graph.build_share": "share",
    "operators.text.build_share": "share",
}
# Layer times that only some workloads have, or that often read 0, are
# reported to the driver as shares (0 where the layer is absent); the
# layer table gives them in seconds too.
SHARE_OF = {
    "sources.extract.build_share": "sources.extract.build_s",
    "operators.clean.build_share": "operators.clean.build_s",
    "sources.scan_share": "sources.scan_s",
    "sources.high_watermark_share": "sources.high_watermark_s",
    "operators.clean.self_share": "operators.clean.self_s",
    "operators.merge.self_share": "operators.merge.self_s",
}
MEAN_PER_OP = ("jvm.gc_s", "jvm.gc_count", "spark.task_gc_s")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def host_settings(seed: int) -> dict:
    with open("/proc/meminfo") as f:
        avail = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    return {
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "mem_available_mb": avail // 1024,
    }


def configure_env(work: str) -> None:
    """Session settings shared by every run, set before the package is
    imported (it reads them at import time)."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path[:0] = [ROOT]


def start_spark(work: str, trace: bool):
    from nypd_arrest_etl_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, spark, seed: int, size: dict, tracer, work_root: str):
    from workloads import ITERATIVE, EtlWeekly, QueryWorkload

    if name == "etl_weekly":
        return EtlWeekly(spark, seed, size, tracer)
    hash_file = os.path.join(work_root, "hashes", f"{name}-seed{seed}.json")
    return QueryWorkload(spark, seed, size, tracer, name, ITERATIVE, hash_file)


def closed_loop(wl, seconds: float) -> list[dict]:
    """One client: each operation starts when the previous one returns.
    Whole passes run until ``seconds`` have passed, at least
    ``wl.min_passes`` of them."""
    ops: list[dict] = []
    start = time.perf_counter()
    p = 0
    while p < wl.min_passes or time.perf_counter() - start < seconds:
        for name in wl.pass_order(p):
            rec = {"op": len(ops), "name": name, "pass": p, "wall": None, "error": None}
            try:  # a wrong output keeps its time; both count as failed
                rec["wall"], rec["error"] = wl.run_op(rec["op"], name)
            except Exception as e:  # a failed operation is counted, never skipped
                rec["error"] = f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
            ops.append(rec)
        p += 1
    return ops


def end_to_end(wl, ops: list[dict]) -> dict[str, float]:
    ok = [o for o in ops if o["wall"] is not None]
    warm = [o["wall"] for o in ok if o["pass"] > 0]
    if wl.name == "etl_weekly":
        suite = sum(o["wall"] for o in ok if 1 <= o["pass"] <= wl.suite_weeks)
        cold = sum(o["wall"] for o in ok if o["pass"] == 0)
    else:
        names = sorted({o["name"] for o in ops})
        suite = sum(median([o["wall"] for o in ok if o["name"] == n and o["pass"] > 0]) for n in names)
        cold = sum(o["wall"] for o in ok if o["pass"] == 0)
    return {"op_s.p50": median(warm), "suite_s": suite, "cold_suite_s": cold}


def layer_metrics(wl, ops: list[dict], groups: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics over warm operations: medians per operation,
    means for GC."""
    from tracing import GROUP_KEYS
    from workloads import family

    warm = {o["op"] for o in ops if o["pass"] > 0 and o["wall"] is not None}
    rows = []
    for rec in wl.per_op:
        if rec["op"] not in warm:
            continue
        k = rec["op"]
        g = {key: sum(v[key] for gid, v in groups.items() if gid.startswith(f"op{k}.")) for key in GROUP_KEYS}
        jobs = {sfx: groups.get(f"op{k}.{sfx}", {}).get("jobs", 0) for sfx in ("build", "hwm", "action")}
        row = {
            "jvm.gc_s": rec["jvm.gc_s"], "jvm.gc_count": rec["jvm.gc_count"],
            "plans.build_s": rec["build_s"], "plans.build_jobs": jobs["build"] + jobs["hwm"],
            "plans.action_s": rec["action_s"], "plans.action_jobs": jobs["action"],
            "spark.core_busy_share": g["executor_run_s"] / (rec["wall"] * cores),
            "spark.task_gc_share": g["task_gc_s"] / g["executor_run_s"] if g["executor_run_s"] else 0.0,
            "storage.cached_rdds_after_op": rec["storage.cached_rdds_after_op"],
            "storage.cached_mb_after_op": rec["storage.cached_mb_after_op"],
            **{f"spark.{key}": v for key, v in g.items()},
            **rec["layers"],
        }
        if "sources.rows_scanned" in row:
            row["sources.high_watermark_jobs"] = jobs["hwm"]
        for share, secs in SHARE_OF.items():
            if secs in row:
                row[share] = row[secs] / rec["wall"]
        fam = family(rec["name"])
        if fam:
            row[f"operators.{fam}.build_s"] = rec["build_s"]
            row[f"operators.{fam}.build_share"] = rec["build_s"] / rec["wall"]
        rows.append(row)
    keys = sorted({key for r in rows for key in r} | set(PER_LAYER) - {"session.start_s", "trace.overhead_share"})
    out = {}
    for key in keys:
        vals = [r[key] for r in rows if key in r]
        out[key] = (sum(vals) / len(vals) if vals else 0.0) if key in MEAN_PER_OP else median(vals)
    return out


def untraced_p50(args) -> float:
    """Base of trace.overhead_share: op_s.p50 of an untraced run with the
    same arguments, made just before in a child process so that both
    runs see the same host."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0", "--size", args.size]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=170, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["op_s.p50"]["value"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "nypd_arrest_etl_spark") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found next to {HERE}; run it from a full checkout", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench")
    t_start = T0
    base_p50 = None
    if args.trace:
        base_p50 = untraced_p50(args)
        t_start = time.perf_counter()
    work = os.path.join(work_root, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    os.makedirs(work)
    configure_env(work)
    os.chdir(work)  # crash logs and spark-warehouse/ land here
    sys.path.insert(0, HERE)
    from tracing import Tracer, jvm_peak_rss_mb, read_event_log
    from workloads import cleanup

    tracer = Tracer() if args.trace else None
    spark = start_spark(work, bool(args.trace))
    try:
        spark.range(1).count()
        session_s = time.perf_counter() - t_start
        wl = make_workload(args.workload, spark, args.seed, SIZES[args.size][args.workload], tracer, work_root)
        preps = []
        for i in range(SETUP_REPEATS):  # set up several times; report the median
            data = os.path.join(work, f"data{i}")
            t = time.perf_counter()
            wl.prepare(data)
            preps.append(time.perf_counter() - t)
            if i + 1 < SETUP_REPEATS:
                cleanup(data)
        setup_s = session_s + median(preps)
        ops = closed_loop(wl, args.seconds)
        if hasattr(wl, "check_across_runs"):
            for entry, err in wl.check_across_runs().items():
                first = next(o for o in ops if o["name"] == entry)
                first["error"] = first["error"] or err
        peak_rss = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)
        cleanup(os.path.join(work, "tmp"))
    for d in os.listdir(work):
        if d.startswith("data"):
            cleanup(os.path.join(work, d))

    failed = [o for o in ops if o["error"] is not None]
    settings = {**host_settings(args.seed), "workload": args.workload, "seconds": args.seconds,
                "trace": args.trace, "size": args.size, "operations": len(ops),
                "passes": 1 + max(o["pass"] for o in ops), "setup_repeats_s": preps,
                "op_walls": [[o["name"], o["wall"]] for o in ops]}
    if not args.trace:
        values = {"setup_s": setup_s, **end_to_end(wl, ops), "peak_rss_mb": peak_rss}
        units = END_TO_END
        if not failed:
            cleanup(work)
    else:
        groups = read_event_log(os.path.join(work, "eventlog"))
        cleanup(os.path.join(work, "eventlog"))
        layers = layer_metrics(wl, ops, groups, int(os.environ["SPARK_GRAFT_CPUS"]))
        layers["session.start_s"] = session_s
        traced_p50 = end_to_end(wl, ops)["op_s.p50"]
        layers["trace.overhead_share"] = traced_p50 / base_p50 - 1
        tracer.write(os.path.join(work, "spans.jsonl"))
        with open(os.path.join(work, "layers.json"), "w") as f:
            json.dump({"settings": settings, "layers": layers, "ops": ops}, f, indent=1)
        print_layer_table(args.workload, layers, tracer, file=sys.stderr)
        values = {k: layers[k] for k in PER_LAYER}
        units = PER_LAYER
    print(json.dumps({"settings": settings, "failed_ops": [[o["name"], o["error"]] for o in failed]}))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


def print_layer_table(workload: str, layers: dict, tracer, file) -> None:
    spans: dict[str, int] = {}
    for s in tracer.spans:
        spans[s.name] = spans.get(s.name, 0) + 1
    print(f"# layer table: {workload} (warm operations; medians per operation, GC as means)", file=file)
    for key in sorted(layers):
        print(f"{key:40s} {layers[key]:14.6g}", file=file)
    print(f"# spans recorded: {json.dumps(spans, sort_keys=True)}", file=file)


if __name__ == "__main__":
    sys.exit(main())
