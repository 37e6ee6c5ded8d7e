"""Paths, session and summary helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
#: everything a run leaves behind lives under here (git-ignored)
STATE_DIR = os.path.join(ROOT, ".perfbench")
CPUS = 4
#: the batch tables are generated once per checkout from this seed; the
#: warehouse artifacts fitted on them (about a minute of fits) are keyed
#: by the files' size and mtime, so regenerating per run would refit
DATA_SEED = 20240101
DATA_SF = "0.01"


def import_program():
    """Put the checkout root on ``sys.path`` and import the package; raises
    ImportError when the benchmark runs outside a checkout."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import crypto_datalake_spark  # noqa: F401
    import crypto_datalake_spark.queries  # noqa: F401


def configure_process(tmp: str) -> None:
    """Keep the JVM's and Python's scratch files inside the run directory.
    Must run before the Spark gateway starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            f"--conf spark.local.dir={tmp}",
            # job/stage accounting is read after each query, but a run
            # can hold a few thousand jobs: keep them all in the store
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def start_session():
    from crypto_datalake_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on end of input
        proc.wait(timeout=60)


def make_run_dir() -> str:
    base = os.path.join(STATE_DIR, "tmp")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(path)
    return path


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def tail(values) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; the median when there are fewer than 21 samples."""
    xs = sorted(values)
    n = len(xs)
    if n >= 21:
        return 100.0 * (n - 10) / n, xs[n - 11]
    return 50.0, statistics.median(xs)


def finite(x: float) -> float:
    if not math.isfinite(x):
        raise ValueError(f"non-finite metric value {x!r}")
    return x
