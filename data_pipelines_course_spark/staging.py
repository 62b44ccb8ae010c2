"""Env-gated materialization for shared digest tables (VERDICT r5 #3).

The LSH/Jaccard/curation family computes compact digest tables (shingle
hashes, minhash signatures, simhash chunks, quality-gate survivor sets)
that are consumed by MORE THAN ONE downstream operator — typically both
sides of a self-join. Spark's exchange reuse does not fire across a
BroadcastExchange boundary, so without explicit staging each consumer
re-runs the whole digest pipeline (measured r5: the checkpoint sweep
halved the family's warm bench). `stage()` is the one place that
materialization strategy lives, selected by ``SPARK_GRAFT_STAGING``:

- ``checkpoint`` (default) — ``localCheckpoint(eager=False)``. Fastest:
  blocks land on executors and lineage is TRUNCATED. The trade-off a
  cluster deployment must know: localCheckpoint stores blocks WITHOUT a
  lineage fallback, so on a real cluster losing one executor (spot
  kill, dynamic-allocation reap) makes the checkpointed partitions
  unrecoverable and FAILS the job. Right default for local/single-JVM
  runs (this repo's bench/driver) and for clusters with stable
  executors and ``spark.dynamicAllocation.enabled=false``.
- ``persist`` — ``persist(StorageLevel.MEMORY_AND_DISK)``. Same shared
  materialization, but lineage is retained: a lost executor's blocks
  are recomputed, not fatal. The at-scale default for preemptible /
  dynamically-allocated clusters (set
  ``spark.dynamicAllocation.cachedExecutorIdleTimeout`` high enough
  that idle reaping doesn't evict the digest mid-query). Values are
  identical to checkpoint mode — proven by the driver_sim full-registry
  sweep under ``SPARK_GRAFT_STAGING=persist`` (NOTES_r06) — and the
  recompute-on-block-loss behavior is OBSERVED, not assumed:
  ``tests/test_staging.py::test_persist_mode_recomputes_lost_blocks``
  drops every staged block between two consumers of one constructed
  frame and requires a hash match (VERDICT r6 #4). The mirror
  injection under ``checkpoint`` (drop a block, watch the job fail) is
  not locally testable — localCheckpoint blocks live in RDD storage
  with no catalog handle, and a single JVM has no executor to lose —
  which is precisely why that mode's caveat is documented here.
- ``none`` — no staging: consumers re-derive the digest from raw
  lineage. Slowest (re-runs the pipeline per consumer) but exposes the
  FULL logical plan — used by ``plan_audit.py --staging=none`` to audit
  the pre-staging plan shapes, and doubles as proof that staging is
  value-neutral end-to-end.

The mode is read at query-CONSTRUCTION time, per call — a fresh process
(driver, bench, audit) picks its strategy with one env var and no code
change.

Block lifecycle: repeated query constructions stage fresh tables, but
neither mode leaks unboundedly — once a constructed frame becomes
unreachable, Spark's ContextCleaner GC hook drops its checkpoint/cache
blocks, and under memory pressure persist's MEMORY_AND_DISK evicts LRU
(recomputing from lineage on re-read). The six session memos
(``memo.session_memo``: ``datasets._CACHED``, ``graph._CLUSTER_MEMO``,
``textprep._BPE_MEMO``, ``similarity._BUCKET_MEMO`` / ``_TRAIN_MEMO`` /
``_INDEX_MEMO``) hold at most one session's entries, one value per key.
The iterative driver loops (``operators/graph.py`` label
propagation, ``operators/textprep.py`` BPE training) are NOT routed
through this gate: they need lineage TRUNCATION each round — under
``persist`` their plan would double every iteration and the fixpoint
loop's analysis cost would explode — so they keep eager
``localCheckpoint()`` unconditionally; their executor-loss exposure is
one round's worth of K-row state, restarted cheaply, and is documented
at the loop sites.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_MODES = ("checkpoint", "persist", "none")


def stage(df: DataFrame) -> DataFrame:
    """Materialize a multiply-consumed digest table per the env-selected
    strategy (see module docstring). Lazy in every mode: the first
    consumer's action pays the build, later consumers reuse it."""
    mode = os.environ.get("SPARK_GRAFT_STAGING", "checkpoint").lower()
    if mode == "checkpoint":
        return df.localCheckpoint(eager=False)
    if mode == "persist":
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    if mode == "none":
        return df
    raise ValueError(
        f"SPARK_GRAFT_STAGING={mode!r}: expected one of {_MODES}")
