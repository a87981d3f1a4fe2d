"""The benchmark's own tests, on the tiny configuration.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and once traced; a traced run makes
its own untraced child run. That takes about five minutes on 4 cores.
The generator tests take seconds.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def digest(directory: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(directory):
        for name in files:
            path = os.path.join(root, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, directory)] = hashlib.sha256(f.read()).hexdigest()
    return out


def generate(out: str, seed: int) -> dict[str, str]:
    feed = gen.EtlFeed(seed, history_rows=2_000, week_rows=1_000, new_rows=100)
    feed.write_history(os.path.join(out, "target"))
    for week in range(2):
        feed.write_week(os.path.join(out, f"week{week}.jsonl"))
    gen.write_tables(os.path.join(out, "tables"), seed, sf=0.001, docs=200)
    return digest(out)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = generate(str(tmp_path / "a"), 7), generate(str(tmp_path / "b"), 7)
    assert len(a) == 2 + 4 + len(gen.TABLES)
    assert a == b


def test_different_seed_gives_different_inputs(tmp_path):
    a, b = generate(str(tmp_path / "a"), 7), generate(str(tmp_path / "b"), 8)
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a if k not in ("tables/region.parquet", "tables/nation.parquet"))


def test_week_ground_truth_follows_the_feed(tmp_path):
    feed = gen.EtlFeed(3, history_rows=500, week_rows=400, new_rows=50)
    history = feed.write_history(str(tmp_path / "target"))
    week = feed.write_week(str(tmp_path / "week.jsonl"))
    assert history["target_rows"] == 500
    assert week["inserted"] == 50 and week["target_rows"] == 550
    assert week["rows"] == sum(1 for _ in open(tmp_path / "week.jsonl")) >= 400
    assert week["watermark"] > history["watermark"]


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric_with_its_unit(workload, trace):
    result = run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {k: v["unit"] for k, v in result["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
