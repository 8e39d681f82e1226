"""Stage-boundary checkpointing for iterative / multi-consumer plans —
one helper every operator routes through instead of calling
``DataFrame.localCheckpoint`` directly.

Why a central helper:

**Auditability.** ``localCheckpoint()`` truncates lineage, so any
kernel executed *before* the checkpoint vanishes from the final plan —
``scripts/audit_plans.py``'s duplicated-Arrow-stage and red-flag
checks were blind to everything upstream of a checkpoint (e.g.
``emb_clusters`` audited as 0 MapInPandas while running three Arrow
kernels). Under ``SPARK_GRAFT_AUDIT=1`` this helper records the
pre-checkpoint physical plan of every stage boundary; the audit script
drains those fragments per query and applies the same contracts to the
FULL lineage. Recording happens at checkpoint time, so each fragment
corresponds to exactly one materialization — duplication WITHIN a
fragment is a real duplicated scan; the same kernel appearing in two
different fragments is two different rounds of an iteration, not a
re-execution.

**Fault tolerance at cluster scale.** ``localCheckpoint`` stores
blocks on executors, UNREPLICATED, and discards the lineage needed to
recompute them — on a 1000-executor cluster a single executor loss
mid-iteration kills the whole job (Spark cannot rebuild the lost
blocks). Locally it is the right default (no distributed FS round
trip). Which boundary runs is a deployment decision, so it is made
once, here, for every stage boundary: ``SPARK_GRAFT_CHECKPOINT`` picks

- ``"local"`` (default): ``localCheckpoint`` — fastest, lineage
  truncated, blocks on executors; a lost executor is fatal to the job.
- ``"reliable"``: ``DataFrame.checkpoint`` to the SparkContext
  checkpoint directory (HDFS/S3A on a cluster — set it with
  ``sc.setCheckpointDir``; this helper falls back to
  ``$SPARK_GRAFT_CKPT_DIR`` or a local tmp dir so tests run without
  ceremony). Survives executor loss: blocks are re-read from the
  distributed FS, lineage is not needed.

Both truncate lineage, and the iterative operators depend on it: each
round of reachability, shortest paths, k-core and dup_clusters refers
to its predecessor two or more times, so a boundary that kept lineage
would grow the plan geometrically with the round count, and
``operators.ranks`` needs a lost block to fail loudly or re-read, never
to recompute through a fresh range-partitioner sample. Any other
value raises before the boundary plans or runs anything.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame

STRATEGIES = ("local", "reliable")

# (label, physical-plan string) per stage boundary, in execution order;
# populated only under SPARK_GRAFT_AUDIT=1 and drained per query by
# scripts/audit_plans.py
_AUDIT_FRAGMENTS: list[tuple[str, str]] = []


def audit_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_AUDIT") == "1"


def drain_audit_fragments() -> list[tuple[str, str]]:
    """Return and clear the recorded pre-checkpoint plan fragments."""
    out = list(_AUDIT_FRAGMENTS)
    _AUDIT_FRAGMENTS.clear()
    return out


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        d = os.environ.get("SPARK_GRAFT_CKPT_DIR")
        if d is None:
            # a tempfile fallback is DRIVER-LOCAL: on a cluster it would
            # silently defeat the executor-loss fault tolerance that is
            # the 'reliable' strategy's entire purpose (Spark only
            # warns). Allow it on local masters only.
            if not sc.master.startswith("local"):
                raise ValueError(
                    "checkpoint strategy 'reliable' on a non-local master "
                    f"({sc.master}) needs a DISTRIBUTED checkpoint dir: call "
                    "sc.setCheckpointDir('hdfs://...'|'s3a://...') or set "
                    "SPARK_GRAFT_CKPT_DIR before the first checkpoint"
                )
            d = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
            # the fallback dir is ours alone and is useless once this
            # driver exits — reclaim it instead of leaking one /tmp
            # dir per process (checkpoint data never outlives the
            # SparkContext that wrote it)
            import atexit
            import shutil

            atexit.register(shutil.rmtree, d, ignore_errors=True)
        sc.setCheckpointDir(d)


def stage_checkpoint(
    df: DataFrame,
    eager: bool = True,
    label: str = "",
) -> DataFrame:
    """Materialize a stage boundary (see module docstring). ``label``
    names the boundary in audit fragments (falls back to the calling
    operator being obvious from the fragment's own plan text)."""
    strategy = os.environ.get("SPARK_GRAFT_CHECKPOINT", "local")
    if strategy not in STRATEGIES:
        raise ValueError(
            f"unknown SPARK_GRAFT_CHECKPOINT {strategy!r}; use {STRATEGIES}"
        )
    if audit_enabled():
        try:
            _AUDIT_FRAGMENTS.append(
                (label, df._jdf.queryExecution().executedPlan().toString())
            )
        except Exception:  # noqa: BLE001 - audit must never break the job
            _AUDIT_FRAGMENTS.append((label, "<plan unavailable>"))
    if strategy == "reliable":
        _ensure_checkpoint_dir(df)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
