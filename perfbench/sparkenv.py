"""The Spark session a benchmark run measures.

Started through the engine's own ``get_spark`` with its defaults, pinned
to ``local[<cores>]`` with shuffle partitions = cores, and isolated in the
checkout: every file the run writes stays under it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def isolate(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and put the
    checkout on the Python workers' path."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    for k in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
        os.environ.pop(k, None)


def _worker_engine(batches):
    import pandas as pd

    import graphblast_spark

    for b in batches:
        yield pd.DataFrame({"path": [graphblast_spark.__file__] * len(b)})


def start(cores: int, run_dir: str):
    """Start the session through the engine's ``get_spark`` and warm the
    Python workers. Only the master, the partitions, where files go and
    how many stages the status store keeps differ from its defaults."""
    from graphblast_spark.session import get_spark

    spark = get_spark(
        master=f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=cores,
        extra_conf={
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the per-layer counters diff the status store: keep every
            # stage and job of the run
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the Python workers, and prove they import the engine from here
    paths = {
        r.path
        for r in spark.range(0, cores, 1, cores).mapInPandas(_worker_engine, "path string").collect()
    }
    bad = [p for p in paths if not os.path.abspath(p).startswith(ROOT + os.sep)]
    if bad:
        raise RuntimeError(f"Python workers import graphblast_spark from {bad}, not {ROOT}")
    return spark


def collect_garbage(spark) -> None:
    """Full collections in the JVM and the driver's Python, so that an
    operation does not pay for garbage its predecessors left."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _descendants(pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            parents.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in parents.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop(spark) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)
