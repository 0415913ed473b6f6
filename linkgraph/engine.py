"""Superstep runtime: the DataFrame re-expression of the BSP loop.

The reference's worker loop is literally ``PEval()`` once then
``IncEval()`` until no messages are pending
(analytical_engine/core/worker/default_worker.h:89-122), with MPI
allreduce collectives for global convergence metrics
(apps/pagerank/pagerank_networkx.h:146). Here:

  * a superstep is one driver-side iteration producing a new
    vertex-state DataFrame from the previous one,
  * the allreduce is a ``df.agg(...)`` collected to the driver,
  * vote-to-halt is the driver inspecting those scalars,
  * durability is a per-superstep (or every-k) checkpoint of the state
    frame to a table (parquet here; Iceberg snapshots in production —
    same layout, swap the writer), together with a metrics row
    carrying per-partition lineage so a killed job resumes
    mid-iteration.

Nothing in Catalyst iterates, so this loop is the one genuinely custom
"engine" component (SURVEY.md §7.2); everything inside a superstep is
a declarative plan.
"""

from __future__ import annotations

import gc
import json
import os
import time
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel


@dataclass
class Observed:
    """Declarative finalize: the convergence aggregates (the Sum
    collectives) are attached to the superstep plan with
    ``DataFrame.observe`` and computed AS A SIDE EFFECT of the
    truncation action — no second scan of the materialized state, one
    driver job per superstep instead of two. ``CollectMetrics`` merges
    per-partition partials on the driver like an accumulator: no extra
    shuffle, no extra pass (verified to fire on both
    localCheckpoint(eager=True) and the durable parquet write).

    exprs       aggregate Columns (each must carry an .alias)
    to_metrics  maps the observed {alias: scalar} dict to the usual
                metrics dict ('halt': bool + any jsonable scalars)
    """

    exprs: list
    to_metrics: Callable[[dict[str, Any]], dict[str, Any]]


def observed_counts(
    halt_on: tuple[str, ...],
    extra: dict[str, Any] | None = None,
    **conds: Any,
) -> Observed:
    """Row counts of boolean state conditions (metric name = keyword,
    value = Column) as an :class:`Observed`, so the counts ride the
    truncation action instead of a second scan; votes to halt when any
    count named in ``halt_on`` is zero. ``extra`` scalars are added to
    every metrics row."""

    def to_metrics(agg: dict[str, Any]) -> dict[str, Any]:
        m = {k: int(agg[k] or 0) for k in conds}
        return {"halt": any(m[k] == 0 for k in halt_on), **m, **(extra or {})}

    return Observed(
        exprs=[F.sum(c.cast("long")).alias(k) for k, c in conds.items()], to_metrics=to_metrics
    )


def observed_count(
    col: str,
    n_edges: int,
    key: str = "frontier",
    extra: dict[str, Any] | None = None,
) -> Observed:
    """The common vote-to-halt finalize: count a boolean state column
    (frontier/changed) under ``key``, halt when zero."""
    return observed_counts((key,), {"edges_processed": n_edges, **(extra or {})},
                           **{key: F.col(col)})


@dataclass
class SuperstepResult:
    """Final state + per-superstep metrics of one run."""

    state: DataFrame
    rounds: int
    converged: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)

    @property
    def last(self) -> dict[str, Any]:
        return self.metrics[-1] if self.metrics else {}


class SuperstepEngine:
    """Runs ``step_fn`` until convergence with persistence + checkpoints.

    step_fn(state: DataFrame, round: int) -> (new_state, finalize)
      where ``finalize`` is an :class:`Observed` (the convergence
      aggregates, the Sum collectives, ride the truncation action, so
      each superstep executes its plan exactly once) or a plain metrics
      dict (a step that needs no aggregate, e.g. a fixed round count).
      The metrics may contain 'halt': True to vote-to-halt, plus any
      scalars (l1_delta, frontier, ...).

    Layout: a fresh (not resumed) initial state is repartitioned
    across ``spark.sql.shuffle.partitions``, on ``id`` when the state
    has that column and round-robin otherwise, so an algorithm hands
    over its initial state as built. A resumed state is read back from
    its checkpoint as written.

    Lineage control: the plan is truncated EVERY round — durably
    (parquet write+read under checkpoint_dir, on the
    ``checkpoint_every`` cadence and at halt) or in-memory
    (localCheckpoint). Without per-round truncation Catalyst
    re-analyzes a logical plan that grows with the iteration count and
    superstep latency climbs superlinearly.
    """

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
        record_partition_lineage: bool = False,
        checkpoint_format: str | None = None,
        truncate_level: StorageLevel | None = None,
    ) -> None:
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = max(1, checkpoint_every)
        # storage level for the per-round localCheckpoint truncation of
        # the state frame. None keeps the JVM default (deserialized
        # MEMORY_AND_DISK_DESER rows). PySpark's MEMORY_AND_DISK is the
        # SERIALIZED variant; with spark.rdd.compress it shrinks
        # long-lived state 2-4x at a small CPU cost — the knob for
        # iterative jobs whose state+edge cache crowds the heap at
        # 10^9-edge scale. Env override: SPARK_GRAFT_STATE_LEVEL.
        env_lvl = os.environ.get("SPARK_GRAFT_STATE_LEVEL")
        if truncate_level is None and env_lvl:
            truncate_level = getattr(StorageLevel, env_lvl)
        self.truncate_level = truncate_level
        self.record_partition_lineage = record_partition_lineage
        # table format for durable checkpoints: parquet by default;
        # set "iceberg" (env SPARK_GRAFT_CHECKPOINT_FORMAT or arg) on a
        # cluster with the Iceberg runtime + a path-based hadoop
        # catalog to get snapshot-isolation checkpoints — the write
        # path is format-agnostic (.format(fmt).save/load)
        self.checkpoint_format = checkpoint_format or os.environ.get(
            "SPARK_GRAFT_CHECKPOINT_FORMAT", "parquet"
        )
        if self.checkpoint_format == "iceberg" and not iceberg_available(spark):
            # fail at construction with an actionable message instead of
            # a ClassNotFoundException out of round N's checkpoint write
            raise RuntimeError(
                "checkpoint_format='iceberg' needs the iceberg-spark-runtime "
                "jar on the session classpath (spark.jars.packages "
                "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>) "
                "plus a catalog conf; this environment ships no Iceberg "
                "runtime — see README 'Checkpoint formats'"
            )
        # Shuffle files of completed supersteps are reclaimed by
        # ContextCleaner only when the DRIVER JVM garbage-collects the
        # dropped ShuffleDependency objects. A skinny driver under an
        # iterative load may not GC for the whole job while each
        # superstep leaves ~E-row shuffle files on disk; at 10^9-edge
        # scale that fills local storage mid-run (observed: the 1B-edge
        # local-cluster leg grew disk at >1 GB/min past a 90 s
        # spark.cleaner.periodicGC.interval and hit ENOSPC at round 9).
        # driver_gc_every = k forces a Python gc pass (drops py4j refs
        # to retired DataFrames) followed by an explicit driver-JVM
        # System.gc() every k supersteps, making shuffle reclamation
        # deterministic: on-disk garbage is bounded by k rounds' shuffle
        # volume instead of by GC luck. Env: SPARK_GRAFT_DRIVER_GC_EVERY
        # (0 = off, the default — small jobs never need it).
        try:
            self.driver_gc_every = max(
                0, int(os.environ.get("SPARK_GRAFT_DRIVER_GC_EVERY", "0") or 0)
            )
        except ValueError as exc:
            raise ValueError(
                "SPARK_GRAFT_DRIVER_GC_EVERY must be an integer round count "
                f"(got {os.environ['SPARK_GRAFT_DRIVER_GC_EVERY']!r})"
            ) from exc
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)

    # -- checkpoint store ------------------------------------------------

    def _ckpt_path(self, round_: int) -> str:
        return os.path.join(self.checkpoint_dir, f"round={round_:05d}")

    def _metrics_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "metrics.jsonl")

    def _append_metrics_row(self, state: DataFrame, round_: int, metrics: dict) -> None:
        path = self._ckpt_path(round_)
        if self.record_partition_lineage:
            lineage = [
                {"partition": int(r["p"]), "rows": int(r["n"])}
                for r in state.groupBy(F.spark_partition_id().alias("p"))
                .agg(F.count("*").alias("n"))
                .collect()
            ]
        else:
            lineage = None
        row = {
            "round": round_,
            "path": path,
            "ts": time.time(),
            "partitions": state.rdd.getNumPartitions(),
            "partition_lineage": lineage,
            **{k: v for k, v in metrics.items() if _jsonable(v)},
        }
        with open(self._metrics_path(), "a") as fh:
            fh.write(json.dumps(row) + "\n")

    def latest_checkpoint(self) -> tuple[int, DataFrame] | None:
        """(round, state) of the newest durable checkpoint, or None —
        the resume entrypoint the north rule requires."""
        if not self.checkpoint_dir or not os.path.exists(self._metrics_path()):
            return None
        last = None
        with open(self._metrics_path()) as fh:
            for line in fh:
                rec = json.loads(line)
                if "path" in rec and os.path.exists(rec["path"]):
                    last = rec
        if last is None:
            return None
        return int(last["round"]), self.spark.read.format(self.checkpoint_format).load(
            last["path"]
        )

    # -- the loop ---------------------------------------------------------

    def run(
        self,
        initial_state: DataFrame,
        step_fn: Callable[[DataFrame, int], tuple[DataFrame, Observed | dict[str, Any]]],
        max_rounds: int = 100,
        resume: bool = False,
        start_round: int = 0,
    ) -> SuperstepResult:
        latest = self.latest_checkpoint() if resume else None
        if latest is not None:
            start_round, state = latest
            start_round += 1
        else:
            # a fresh state is laid out across the shuffle partitions,
            # hashed on its vertex key where it has one: round 0's map
            # side runs P tasks however few partitions the algorithm's
            # prologue produced. Later rounds re-shuffle the state in
            # their joins (a local checkpoint keeps no partitioning).
            P = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            state = initial_state.repartition(P, *(["id"] if "id" in initial_state.columns else []))

        state = state.localCheckpoint(
            eager=True, storageLevel=self.truncate_level
        )  # materialize PEval input
        all_metrics: list[dict[str, Any]] = []
        converged = False
        round_ = start_round

        while round_ < max_rounds:
            t0 = time.time()
            new_state, finalize = step_fn(state, round_)
            obs: Observation | None = None
            if isinstance(finalize, Observed):
                obs = Observation(f"superstep-{round_}")
                new_state = new_state.observe(obs, *finalize.exprs)
            on_cadence = self.checkpoint_dir and (round_ + 1) % self.checkpoint_every == 0
            if on_cadence:
                # durable truncation: the parquet write executes the
                # superstep plan; the reread is a shallow scan, stored
                # by the next job that reads it (not registered in the
                # session cache, so the returned state pins nothing)
                path = self._ckpt_path(round_)
                new_state.write.mode("overwrite").format(self.checkpoint_format).save(path)
                new_state = self.spark.read.format(self.checkpoint_format).load(path) \
                    .localCheckpoint(eager=False, storageLevel=self.truncate_level)
            else:
                # in-memory truncation (single execution, cached)
                new_state = new_state.localCheckpoint(
                    eager=True, storageLevel=self.truncate_level)

            metrics = dict(finalize.to_metrics(obs.get) if obs is not None else finalize)
            metrics["superstep_sec"] = time.time() - t0
            metrics["round"] = round_

            halt = bool(metrics.pop("halt", False))
            if self.checkpoint_dir and (halt or on_cadence):
                # metrics/lineage row always accompanies a durable state;
                # at halt the cached frame is dumped durably too
                if not on_cadence:
                    new_state.write.mode("overwrite").format(self.checkpoint_format).save(
                        self._ckpt_path(round_)
                    )
                self._append_metrics_row(new_state, round_, metrics)

            state.unpersist()
            state = new_state
            all_metrics.append(metrics)
            if self.driver_gc_every and (round_ + 1) % self.driver_gc_every == 0:
                gc.collect()  # release py4j handles of retired frames first
                # sparkContext._jvm is classic-mode only (absent under
                # Spark Connect); skip the JVM GC there with one warning
                # instead of crashing mid-run
                jvm = getattr(getattr(self.spark, "sparkContext", None), "_jvm", None)
                if jvm is not None:
                    jvm.System.gc()
                elif not getattr(self, "_warned_no_jvm_gc", False):
                    self._warned_no_jvm_gc = True
                    warnings.warn(
                        "SPARK_GRAFT_DRIVER_GC_EVERY: driver-JVM System.gc() "
                        "is unavailable under Spark Connect; running Python "
                        "gc only", stacklevel=2)
            round_ += 1
            if halt:
                converged = True
                break

        return SuperstepResult(
            state=state, rounds=round_ - start_round, converged=converged, metrics=all_metrics
        )


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg DataSource is loadable in this session's
    JVM (the iceberg-spark-runtime jar is on the classpath). Classic
    mode only; under Spark Connect the classpath is remote, so assume
    available and let the server validate."""
    jvm = getattr(getattr(spark, "sparkContext", None), "_jvm", None)
    if jvm is None:
        return True
    try:
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:
        return False


def _jsonable(v: Any) -> bool:
    return isinstance(v, (int, float, str, bool, type(None), list, dict))

