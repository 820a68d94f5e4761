"""Lineage-truncating materialization with a cluster-grade fallback.

Every iterative / multi-consumer operator in the dedup tier must
materialize an intermediate exactly once (posting lists, signature
tables, per-round CC edge sets): an unmaterialized plan re-runs the
upstream — usually the most expensive stage in the job — once per
consumer or per iteration, and iterative lineage grows without bound.

``localCheckpoint`` is the right default on local[*] and in tests
(no configuration, RAM+disk blocks), but its blocks live on executors:
on a real cluster, losing one executor kills the cached partitions and
— because lineage was truncated — the JOB, not just the task. The
production-grade form is a RELIABLE checkpoint to the configured
checkpoint directory (HDFS/S3), which survives executor loss.

``materialize(df)`` picks per session:
- reliable ``checkpoint(eager=True)`` when the session opted in
  (``spark.iceberg_cache.reliableCheckpoint=true``) AND a checkpoint
  dir is configured (``sparkContext.setCheckpointDir``);
- ``localCheckpoint(eager=True)`` otherwise.

Opt-in (not auto-on-checkpoint-dir) so a session that sets a
checkpoint dir for unrelated reasons doesn't silently pay the
write-to-DFS cost in every dedup operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

RELIABLE_CONF = "spark.iceberg_cache.reliableCheckpoint"


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate lineage and materialize ``df`` once (see module doc).

    ``eager=False`` truncates the logical plan immediately but defers
    the checkpoint write to the FIRST job that touches the result — the
    fused-job pattern for iterative loops that follow each round's
    materialization with a small aggregate (e.g. the star-CC fixpoint
    fingerprint): the aggregate both computes the round and persists its
    blocks, halving the loop's job count versus eager + aggregate.

    The fusion applies to ``localCheckpoint`` ONLY: a lazy RELIABLE
    ``checkpoint`` does not persist blocks on first use — it re-runs
    the full lineage in a separate job after the first action, doubling
    the work and (for nondeterministic upstreams) checkpointing
    different data than the first action observed. The reliable branch
    therefore always checkpoints eagerly, whatever ``eager`` says."""
    spark = df.sparkSession
    try:
        reliable = spark.conf.get(RELIABLE_CONF, "false").lower() == "true"
    except Exception:
        reliable = False
    if reliable and spark.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def spread_scan(
    df: DataFrame, *key_cols: str, min_bytes_per_task: int = 256 << 10
) -> DataFrame:
    """Re-spread an under-parallel SOURCE frame to the cluster's
    compute width before a CPU-heavy derivation (tokenize+explode,
    multi-hash signatures, media decode).

    Scan parallelism is sized by BYTES (file splits, AQE coalescing),
    which under-provisions stages whose cost is per-row compute: a
    small or unsplittable input funnels the whole derivation into one
    task while the rest of the cluster idles (guide: "one huge
    unsplittable file — repartition immediately after the read").
    Scale-adaptive by construction: when the source already carries at
    least defaultParallelism partitions — any real table scan at
    cluster scale — this is a NO-OP and costs nothing; only an
    under-parallel source pays one exchange of its (by definition
    small) bytes. Hash-partitioning on ``key_cols`` keeps the
    row-to-partition assignment deterministic under task retry
    (SPARK-38388 class); pass the row's id column.

    ``min_bytes_per_task`` (round 14) gates the spread on the
    optimizer's size estimate — plan statistics, no job: an exchange
    only pays off when each would-be task owns enough bytes that the
    derivation's CPU dominates the exchange + task-scheduling overhead
    it adds. Round 13 spread every under-parallel source and the
    driver bench convicted the light-derivation case (gopher's
    tokenize+count over a ~0.6 MB corpus: q117 0.9 s → 9.9 s
    median-of-3 — the 32-way fan-out's straggler jitter swamps the
    sub-second single-task compute; reproduced locally at 1.1–13.2 s
    vs 0.87 s stable unspread). Calibration is CPU-per-byte of the
    DERIVATION, not the data: the default (256 KB/task) keeps ~50
    cycles/byte derivations (shingle + 64-hash signatures, decimal
    partial sums) spreading exactly as round 13 measured them winning,
    while light consumers pass a higher floor (gopher passes 64 MB —
    a plain tokenize earns an exchange only when a task owns a real
    file split's worth of text); 0 restores unconditional spreading.
    When statistics are unavailable the spread proceeds (conservative
    at scale: the no-op guard still catches already-parallel scans).

    ``df.rdd`` here only compiles the physical plan to read its
    partitioning (no job); use on scan-level frames. Streaming frames
    pass through untouched (``.rdd`` is undefined for them and their
    micro-batch partitioning is the planner's job)."""
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    parts = df.rdd.getNumPartitions()
    if parts >= n:
        return df
    if min_bytes_per_task > 0:
        try:
            raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            est = int(raw if isinstance(raw, int) else str(raw))
        except Exception:
            est = None
        if est is not None and est // max(parts, 1) < min_bytes_per_task:
            return df
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def _root_rdd(df: DataFrame):
    """The java RDD behind ``df`` iff its plan ROOT is a checkpointed
    scan (what ``materialize`` returns), else None."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.nodeName() == "LogicalRDD" else None


def unmaterialize(df: DataFrame, successor: DataFrame | None = None) -> None:
    """Release the storage blocks of a ``materialize`` result whose
    plan ROOT is the checkpointed scan — i.e. ``df`` is exactly what
    ``materialize`` returned, not a derivation of it (then it's a
    silent no-op). Root-only on purpose: walking the tree could free a
    still-live upstream materialization (the CC edge list every round
    derives from). Best-effort — reflection failures are ignored, and
    unreferenced blocks are eventually reclaimed by the ContextCleaner
    regardless; calling this frees executor memory NOW, which matters
    in iterative loops and long-lived sessions where superseded round
    checkpoints otherwise accumulate (r6 advice).

    ``successor`` guards the iterative-loop pattern (r7 advice): a
    round's ``materialize(..., eager=False)`` result is only
    self-contained once an intervening action has actually filled its
    checkpoint — local-checkpointed RDDs CANNOT recompute their
    predecessor's unpersisted blocks, so releasing ``df`` before that
    action would fail unrecoverably on a code reordering. Pass the
    lazily-materialized successor and the unpersist is SKIPPED (blocks
    kept, correctness preserved, only memory deferred) unless the
    successor's checkpoint is verifiably complete
    (``RDD.isCheckpointed``). Call sites that can't hand over the
    successor handle must guarantee the ordering by construction and
    say so in a comment."""
    try:
        rdd = _root_rdd(df)
        if rdd is None:
            return
        if successor is not None:
            srdd = _root_rdd(successor)
            if srdd is None or not srdd.isCheckpointed():
                return  # successor not self-contained yet: keep blocks
        rdd.unpersist(False)
    except Exception:
        pass
