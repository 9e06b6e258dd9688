"""Superstep runtime: one loop driver for every iterative algorithm.

The reference's iterative algorithms are driver-side loops with one
device→host sync per iteration (the scalar convergence reduce,
reference pr.hpp:50-84, cc.hpp:102-104) and one timing line per
iteration (pr.hpp:54-62). :meth:`SuperstepRunner.iterate` is that loop,
once, for the whole engine. The caller supplies only the algorithm:

- ``init()`` → the starting state, a dict of named DataFrames;
- ``step(state, it, scalars)`` → the next state, lazily (or ``None``
  when an observation shows nothing left to do — an empty frontier);
- either a fixed superstep count, or ``converged(scalars)`` →
  ``(scalars, done)``, called after the superstep's action. It sees
  only scalars, never a frame: it reads an :class:`Observed` that the
  step hung on its output, so it cannot run a Spark job of its own.

The driver owns everything else, identically for every loop:

- **resume**: a fresh driver pointed at the same ``run_dir`` continues
  from the newest valid checkpoint, with the scalars saved beside it
  (so a convergence test's "previous value" survives the restart);
- **loop settings** (see :func:`_pinned`): ``spark.sql.shuffle.partitions``
  pinned to one value for the whole loop (see :func:`loop_width`) and
  AQE off, restored on exit — so a superstep with shuffles is ONE Spark
  job with several stages, not one job per AQE query stage;
- **one action per superstep**: every state frame is truncated once
  per superstep with :func:`truncate_plan` (without it the logical plan
  doubles per superstep and the driver OOMs planning iteration ~30),
  and that action also computes the stop test's observed scalars;
- **durable checkpoints**: every ``checkpoint_every`` supersteps the
  state's parquet write IS the superstep's action (no truncation
  first); the frames are re-read from it, the stop test runs, and only
  then is ``meta.json`` — iteration number and scalars — renamed into
  place atomically;
- **metrics**: one JSON line per superstep in ``run_dir/metrics.jsonl``
  with ``iter``, wall ``ms`` (the checkpoint write included), the Spark
  ``jobs`` it ran and the Janino ``classes`` it compiled (see
  :func:`compiled_classes`) and the scalars;
- **the stop test**, and its outcome, returned to the caller — what to
  do when the cap is hit (raise or return) stays the algorithm's call.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession

State = dict[str, DataFrame]


def truncate_plan(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` + Catalyst size-statistic reset — THE
    lineage truncation for superstep loops (use as
    ``df.transform(truncate_plan)``).

    ``localCheckpoint`` alone is not enough. Its ``LogicalRDD`` carries
    the ORIGIN plan's ``Statistics`` forward, and Spark's default
    (non-CBO) stats visitor estimates every inner/outer join as the
    PRODUCT of its children's ``sizeInBytes``. In a loop whose state
    feeds a self-join, the estimate therefore *squares* every
    superstep — measured on Spark 4.1: the stat's decimal digit count
    doubles per iteration (22 → 54 → 118 → … → 10^6 digits by ~iter
    16). The number is a ``BigInteger``; every action then formats the
    plan tree for the SQL UI (``SQLExecution.withNewExecutionId`` and
    AQE's ``onUpdatePlan`` → ``QueryExecution.explainString`` →
    ``Statistics.simpleString`` → ``Utils.bytesToString`` →
    ``BigDecimal.bigDigitLength`` → ``BigInteger.pow(10, n)``), whose
    Toom-Cook squaring is superlinear in the digit count — so
    per-superstep DRIVER wall time doubles every round (1 s → 36 s in
    8 rounds on a 37k-edge input) while executor time stays flat, and
    the JVM eventually dies allocating the number itself. This was
    round 3's "pointer-jump pathology"; thread dumps pinned every
    slow second inside ``BigInteger.square`` under ``explainString``.

    The cure: rebuild the DataFrame JVM-side from the *checkpointed*
    RDD (zero recompute, no Python round-trip) — the fresh
    ``LogicalRDD`` has no origin stats, so ``sizeInBytes`` resets to
    the bounded session default and join estimates stay a few dozen
    digits no matter how many supersteps compound. Estimating the
    checkpointed state as "large" is the safe direction at scale: the
    engine's hot joins pin their strategy with explicit hints, and an
    oversized estimate can only suppress an automatic broadcast, never
    produce one that OOMs. Falls back to the plain checkpoint when the
    internal constructor is unavailable (e.g. Spark Connect)."""
    return _without_stats(df.localCheckpoint(eager=True))


def _without_stats(leaf: DataFrame) -> DataFrame:
    """``leaf`` (a checkpoint or a file read) rebuilt JVM-side from its
    RDD without running it, so it carries no size statistics (see
    :func:`truncate_plan`); ``leaf`` itself without a JVM handle."""
    try:
        jdf = leaf._jdf
        fresh = leaf.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(fresh, leaf.sparkSession)
    except Exception:
        return leaf


def compiled_classes(spark: SparkSession) -> int:
    """Janino classes this JVM has compiled so far (Spark's
    ``CodegenMetrics``), one py4j read. A superstep whose plan matches
    one already compiled this session compiles none; a count that stays
    above zero superstep after superstep means its generated code
    depends on a per-superstep value (a literal that should be data).
    In local mode driver and task threads compile each new pipeline
    once each. 0 without a JVM handle (e.g. Spark Connect)."""
    try:
        return int(
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount()
        )
    except AttributeError:
        return 0


def spark_jobs(spark: SparkSession) -> int:
    """Id of the newest Spark job this context has started, plus one,
    read from the status store once its listener queue has drained: the
    difference across a superstep is the jobs it ran. 0 without a JVM
    handle (e.g. Spark Connect)."""
    try:
        jsc = spark.sparkContext._jsc.sc()
    except AttributeError:
        return 0
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)  # newest first
    return jobs.head().jobId() + 1 if jobs.nonEmpty() else 0


class Observed:
    """Named aggregates that a superstep computes inside its own action
    (``DataFrame.observe``): the stop test's scalar rides the job that
    materialises the state, instead of a ``.first()`` or ``.count()``
    job of its own — the reference's one device→host sync per
    iteration. ``on(df)`` hangs a fresh observation on the step's
    output; after the superstep's action, :meth:`get` returns
    ``{name: value}``.

    The one way a loop decides to stop: in ``converged``, in a ``step``
    that returns ``None`` and in a hand-rolled loop. Hang it above the
    step's last exchange, so it is computed in the action's result
    stage: a result task's metrics are merged once per partition, so a
    retried task is not counted twice. Decide on a count or a decimal
    sum: partials merge in task-completion order, so a double sum's
    last bits vary. On a plan leaf (see :func:`_has_lineage`) it never
    fires, since nothing materialises a leaf again."""

    def __init__(self, **metrics: Column):
        self._metrics = [c.alias(k) for k, c in metrics.items()]
        self._ob: Observation | None = None

    def on(self, df: DataFrame) -> DataFrame:
        self._ob, self._spark = Observation(), df.sparkSession
        return df.observe(self._ob, *self._metrics)

    def get(self) -> dict:
        jo = getattr(self._ob, "_jo", None)
        if jo is not None and not jo.future().isCompleted():
            # the metrics arrive through the listener bus after the
            # action returns; Observation.get would block forever on a
            # frame no action ran
            self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            if not jo.future().isCompleted():
                raise RuntimeError("observed frame has not been materialised yet")
        return self._ob.get


def _has_lineage(df: DataFrame) -> bool:
    """False for frames that are already a plan leaf — a truncated
    checkpoint, a parquet read, a local relation — which a truncation
    would only copy."""
    try:
        return not df._jdf.queryExecution().logical().children().isEmpty()
    except AttributeError:  # no JVM handle (e.g. Spark Connect)
        return True


def loop_width(spark: SparkSession, n_rows: int | None = None) -> int:
    """THE shuffle width of one superstep loop, decided once before it:
    the session width, or — given the loop's state/edge row count — one
    partition per 150k rows clamped to [4, session width]. Feed the
    same value to the loop's prep ``repartition`` and to
    :meth:`SuperstepRunner.iterate` so persisted inputs stay
    co-partitioned with the state.

    Why clamp: a loop inherits the session width, sized for the batch
    queries. On a small state (a trimmed remainder, a converging
    frontier) a multi-shuffle superstep at 32+ partitions schedules
    hundreds of near-empty tasks whose fixed cost dominates — measured
    31 s of executor time per superstep on a 37k-edge input, ~2 s at 4
    partitions. At real volumes the clamp reaches the session width and
    is a no-op."""
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n_rows is None:
        return width
    return max(4, min(width, -(-int(n_rows) // 150_000)))


@contextmanager
def _pinned(spark: SparkSession, width: int | None):
    """Pin the shuffle width and turn AQE off for one loop, restoring
    both on exit; batch queries outside loops (distill, build, TC,
    ingest) keep AQE.

    Why: AQE runs every query stage as its own Spark job, so a
    superstep with three shuffles cost four or more jobs, each with the
    driver's fixed scheduling cost — on a 36k-edge graph CC ran 53 jobs
    for 4 supersteps. Without AQE the superstep is one job with several
    stages. Its partition coalescing also re-planned every iteration's
    small shuffles down to a handful of partitions, so the next join
    had to redistribute again (measured 1.7× slower on a 16M-edge
    PageRank loop at local[32]).

    What is given up inside loops: skew-join splitting and runtime
    conversion of a shuffle join to a broadcast. The loop joins pin
    their strategy with explicit hints instead (``broadcast`` push,
    ``shuffle_hash`` pull, operators/vecmat.py), and ``vxm`` salts a
    hub's reduce when its fan-in exceeds ``desc.salt_budget``."""
    conf = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    if width is not None:
        conf["spark.sql.shuffle.partitions"] = str(width)
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def child_runner(runner: "SuperstepRunner | None", spark: SparkSession, tag: str) -> "SuperstepRunner":
    """A sub-runner for one of several loops run under one public call
    (root batches, sweep phases, levels): inherits the parent's
    checkpoint cadence but writes under its own ``run_dir/tag`` so each
    loop resumes from its own newest checkpoint instead of mixing
    states in one checkpoint namespace."""
    if runner is None:
        return SuperstepRunner(spark)
    return SuperstepRunner(
        spark,
        run_dir=os.path.join(runner.run_dir, tag) if runner.run_dir else None,
        checkpoint_every=runner.checkpoint_every,
        name=f"{runner.name}/{tag}",
    )


@dataclass
class SuperstepRunner:
    spark: SparkSession
    run_dir: str | None = None      # None → in-memory only (no durable ckpt)
    checkpoint_every: int = 0       # 0 → never write durable checkpoints
    name: str = "run"
    _classes: int = field(default=0, init=False, repr=False)  # compile count at the last line
    _jobs: int = field(default=0, init=False, repr=False)  # job count at the last line

    def iterate(
        self,
        init: Callable[[], State],
        step: Callable[[State, int, dict], State | None],
        iters: int,
        converged: Callable[[dict], tuple[dict, bool]] | None = None,
        width: int | None = None,
    ) -> tuple[State, dict, bool]:
        """Run supersteps ``0 .. iters-1`` (resuming after the newest
        checkpoint) and return ``(state, scalars, converged)``.

        ``step(state, it, scalars)`` returns the next state lazily; the
        driver materialises every frame that still carries lineage —
        truncated, or written as the durable checkpoint when one is due
        — so a step may truncate an intermediate it reuses itself.
        Returning ``None`` stops the loop as converged without a
        superstep. ``converged(scalars)`` runs after the superstep's
        action: it gets the previous scalars (``{}`` on a fresh start,
        the checkpointed ones after a resume) and returns the new
        scalars and whether to stop. It reads the new values from an
        :class:`Observed` on the step's output; it never sees a frame.
        Without it the loop runs exactly ``iters`` supersteps. The
        returned flag is True only when a stop test ended the loop;
        ``width`` pins the loop's shuffle width (default: the session's,
        see :func:`loop_width`)."""
        with _pinned(self.spark, width):
            state, start, scalars = self._resume_or_init(init)
            if self.run_dir:
                self._classes = compiled_classes(self.spark)
                self._jobs = spark_jobs(self.spark)
            for it in range(start, iters):
                t0 = time.time()
                new = step(state, it, scalars)
                if new is None:
                    return state, scalars, True
                durable = self._durable(it) and bool(new)
                new = self._write(it, new) if durable else self._truncate(new)
                done = False
                if converged is not None:
                    scalars, done = converged(scalars)
                if durable:
                    self._commit(it, new, scalars)
                self._log({"iter": it, "ms": (time.time() - t0) * 1000.0,
                           **({"scalars": scalars} if scalars else {})})
                state = new
                if done:
                    return state, scalars, True
        return state, scalars, False

    # -- paths ---------------------------------------------------------
    def _ckpt_dir(self, it: int) -> str:
        return os.path.join(self.run_dir, f"ckpt_{it:06d}")

    def _meta_path(self, it: int) -> str:
        return os.path.join(self._ckpt_dir(it), "meta.json")

    # -- resume ----------------------------------------------------------
    def latest_checkpoint(self) -> dict | None:
        """Newest checkpoint whose meta.json exists (the atomic commit
        marker — parquet dirs without it are torn writes and ignored)."""
        if not self.run_dir or not os.path.isdir(self.run_dir):
            return None
        best = None
        for d in sorted(os.listdir(self.run_dir)):
            if d.startswith("ckpt_"):
                mp = os.path.join(self.run_dir, d, "meta.json")
                if os.path.exists(mp):
                    with open(mp) as fh:
                        best = json.load(fh)
        return best

    def _resume_or_init(self, init: Callable[[], State]) -> tuple[State, int, dict]:
        """(state, next_iter, scalars); next_iter == 0 means fresh."""
        meta = self.latest_checkpoint()
        if meta is None:
            return self._truncate(init()), 0, {}
        it = meta["iter"]
        state = {
            k: self.spark.read.parquet(os.path.join(self._ckpt_dir(it), k))
            for k in meta["states"]
        }
        return state, it + 1, meta.get("scalars", {})

    # -- per-iteration bookkeeping ---------------------------------------
    @staticmethod
    def _truncate(state: State) -> State:
        """The superstep action when no checkpoint is due (and init's):
        materialize and cut the lineage of every frame that has any (see
        :func:`truncate_plan` for why the stat reset is load-bearing)."""
        return {k: truncate_plan(df) if _has_lineage(df) else df for k, df in state.items()}

    def _durable(self, it: int) -> bool:
        return bool(self.checkpoint_every and self.run_dir
                    and (it + 1) % self.checkpoint_every == 0)

    def _write(self, it: int, state: State) -> State:
        """The superstep's action when a checkpoint is due: write each
        frame's parquet straight from its plan and re-read it — read
        with the known schema, so no inference job runs, and without
        the files' size statistics, so the next superstep plans exactly
        as after a truncation (no size-driven broadcast job). Not yet a
        checkpoint: :meth:`_commit` marks it."""
        cdir = self._ckpt_dir(it)
        for k, df in state.items():
            df.write.mode("overwrite").parquet(os.path.join(cdir, k))
        return {
            k: _without_stats(self.spark.read.schema(df.schema).parquet(os.path.join(cdir, k)))
            for k, df in state.items()
        }

    def _commit(self, it: int, state: State, scalars: dict) -> None:
        """Commit the checkpoint :meth:`_write` left: ``meta.json``
        with the iteration and the stop test's scalars, atomically."""
        meta = {
            "iter": it,
            "name": self.name,
            "states": sorted(state.keys()),
            "scalars": scalars,
            "wall_ts": time.time(),
        }
        tmp = self._meta_path(it) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, self._meta_path(it))  # atomic commit marker

    def _log(self, rec: dict) -> None:
        """Append one metrics line; ``jobs`` and ``classes`` count the
        Spark jobs run and the Janino compiles since the previous line
        (or since init), the superstep's checkpoint write included.
        No-op without a run_dir."""
        if not self.run_dir:
            return
        seen, self._jobs = self._jobs, spark_jobs(self.spark)
        rec["jobs"] = self._jobs - seen
        seen, self._classes = self._classes, compiled_classes(self.spark)
        rec["classes"] = self._classes - seen
        os.makedirs(self.run_dir, exist_ok=True)
        with open(os.path.join(self.run_dir, "metrics.jsonl"), "a") as fh:
            fh.write(json.dumps(rec) + "\n")
