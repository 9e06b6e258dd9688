"""SparkSession construction with scale-appropriate defaults.

The conf here is the engine's analog of the reference Descriptor's
environment knobs (reference docs/env_var.md): AQE on for batch
queries (runtime re-planning, skew-join splitting — the merge-path
load-balancing analog, reference spmspv_inner.hpp:62-320) and off
inside superstep loops, where ``runtime/superstep.py`` turns it off so
each superstep is one Spark job; Arrow enabled for the
Python paths that remain (corpus generation, WARC parsing, the
multimodal codec kernels, the ``mapInArrow`` SpMV kernel, pandas
streaming state; distillation needs none), and shuffle
partitions sized to the parallelism level rather than Spark's 200
default.

Two confs make a plan compile once per session. At benchmark sizes an
op's CPU goes mostly to compiling its whole-stage classes (and to the
JIT compiling them again), not to its data:

- ``spark.sql.codegen.cache.maxEntries`` = 4096. Spark's default LRU of
  100 classes is smaller than one web pipeline op (~180 classes), so
  every op recompiled what the op before it, or the set-up, had
  already compiled. It is a static conf, read once when the JVM first
  generates code, so it must be on the builder before the session's
  first query; it cannot be changed on a running session.
- ``spark.sql.codegen.useIdInClassName`` = false. The stage id is then
  left out of the generated class, so an identical pipeline that AQE
  or another plan puts at a different stage position reuses the
  compiled class instead of compiling a renamed copy.

The cache only helps plans whose generated code repeats: a value that
varies per call or per superstep belongs in the data, not in an
``F.lit`` (see ``algorithms/pagerank.py``'s teleport column).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "graphblast_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count so that a
    local[N] run is shuffle-bound, not scheduler-bound — required for the
    N→4N scaling-efficiency evidence (BASELINE.md).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[k] / local[*] → match parallelism; cluster → leave higher.
        inner = master[len("local[") : -1] if master.startswith("local[") else ""
        if inner == "*":
            shuffle_partitions = os.cpu_count() or cpus
        elif inner.isdigit():
            shuffle_partitions = int(inner)
        else:
            shuffle_partitions = 2 * cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Iterative graph supersteps re-shuffle the same keys; keep the
        # broadcast threshold generous so small frontiers go push-path.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.createHiveTableByDefault", "false")
        # Compile each plan once per session (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
