"""Session factory: host-derived defaults, their overrides, and Python
UDF workers that import the package from any working directory.

    python -m pytest tests/test_session.py -q
"""

import os
import subprocess
import sys
import textwrap

import nypd_arrest_etl_spark
from nypd_arrest_etl_spark.session import cpu_count, driver_memory

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mem_available_kib() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))


def test_derived_defaults_fit_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    heap = driver_memory()
    assert heap.endswith("g")
    gib = int(heap[:-1])
    assert 1 <= gib <= 48
    assert gib * 1024**2 <= _mem_available_kib()
    assert cpu_count() == len(os.sched_getaffinity(0))


def test_env_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "123g")
    cpus = len(os.sched_getaffinity(0)) + 5
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
    assert driver_memory() == "123g"
    assert cpu_count() == cpus


def test_udf_imports_package_outside_the_repo(tmp_path):
    """A UDF that imports the package runs with the driver's cwd outside
    the repo and no PYTHONPATH: the session ships the path to workers."""
    script = tmp_path / "probe.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {ROOT!r})
            from pyspark.sql import functions as F
            from nypd_arrest_etl_spark import get_spark

            spark = get_spark(app_name="cwd_probe", shuffle_partitions=1)

            @F.udf("string")
            def version(_):
                import nypd_arrest_etl_spark
                return nypd_arrest_etl_spark.__version__

            print(spark.range(1).select(version("id")).first()[0])
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == nypd_arrest_etl_spark.__version__
