"""Process set-up shared by the benchmark entry points: locations inside
the checkout, the environment Spark and its Python workers need, the
generated tables, and a clean Spark stop."""

from __future__ import annotations

import fcntl
import os
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
DATA_DIR = os.path.join(BENCH_DIR, ".data")
WORK_ROOT = os.path.join(BENCH_DIR, ".work")
OUT_DIR = os.path.join(BENCH_DIR, ".out")
SF = 0.1


def missing_sources() -> list[str]:
    """Files of the repository the benchmark drives; empty when present."""
    need = [
        os.path.join(ROOT, "am_kinesis_pay_spark", "__init__.py"),
        os.path.join(ROOT, "tools", "correctness_full.py"),
        os.path.join(ROOT, "bench.py"),
    ]
    return [p for p in need if not os.path.isfile(p)]


def prepare_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and the package
    at ``work`` and let Python workers import the package.  Must run
    before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    py_path = [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(py_path)
    for p in (BENCH_DIR, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    # no JVM perf-data file under /tmp, from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    extra = [
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
        " -XX:-UsePerfData",
        "spark.ui.showConsoleProgress=false",
    ]
    prior = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join([prior] + extra if prior else extra)
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)


def tables_dir() -> str:
    """Generated fixture tables at ``SF``, built once per checkout."""
    out = os.path.join(DATA_DIR, f"sf{SF}")
    if os.path.isfile(os.path.join(out, "embeddings.parquet")):
        return out
    os.makedirs(DATA_DIR, exist_ok=True)
    with open(os.path.join(DATA_DIR, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(out):
            from datagen import write_tables

            write_tables(out, SF)
    return out


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    other process started under this one (Python workers) have exited."""
    import time

    from pyspark import SparkContext

    from procmon import tree

    started = set(tree(os.getpid())) - {os.getpid()}
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway server exits on stdin EOF
                try:
                    proc.wait(timeout=timeout_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in started):
        time.sleep(0.1)


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
