"""Skew-resilient gap sessionization.

Gap sessionization is a per-key chain computation (each event's session
depends on its predecessor), so the natural plan — lag + running sum
per user — serializes a key's ENTIRE history through one window task.
Under Zipf traffic (the skew gate's regime: one user holding ~86% of a
100 TB stream) that task is not merely slow, it is impossible.

This module parallelizes the chain exactly, in two phases:

1. **Local phase, per (key, time-bucket)** — the heavy, per-event work:
   order events within the bucket, flag gap breaks, running-sum local
   session ids. Every window task is bounded by one bucket of one key,
   independent of key skew.
2. **Merge phase, per key over BUCKET SUMMARIES** — tiny data (one row
   per non-empty bucket): a session spans a bucket boundary iff the
   first event of bucket *b* follows the last event of the previous
   non-empty bucket within the gap, which merges the boundary-local
   sessions; global ids come from an exclusive prefix sum of
   ``local_sessions - merged`` per bucket. Sessions spanning 3+
   buckets chain correctly: a spanned-through bucket contributes one
   local session and one merge, netting zero new sessions.

The result is bit-identical to the single-window formulation (see the
property tests): same session numbering (1-based per key in
(time NULLS LAST, id) order), same per-session aggregates. NULL event
times keep their declared contract — each NULL-time event is its own
session, numbered after all timed sessions of its key.

Two chunked entry points, each beside the single-window plan it
reproduces (``sessionize_default``, ``session_funnel_default``, the
bodies of q152 and q156): :func:`sessionize_chunked` returns
per-SESSION aggregates (count, start, end) and pre-aggregates inside
the local phase so per-event rows never leave it (q167);
:func:`session_funnel_chunked` returns the per-session ordered funnel
flags (q168). Callers pick the plan; ``operators/rolling.py``'s
``choose_rolling_plan`` estimates the key skew that decides it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _join_on_part(
    left: DataFrame,
    right: DataFrame,
    part_col: str,
    extra: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join on the partition key NULL-SAFELY (plus an optional exact
    extra key). Window/groupBy treat a NULL key as one ordinary group
    on both engines, so the merge joins must too — a plain equi-join
    would silently drop every NULL-key row (rows the single-window
    formulation keeps)."""
    rp = right.withColumnRenamed(part_col, "_rpart")
    cond = F.col(part_col).eqNullSafe(F.col("_rpart"))
    if extra is not None:
        rp = rp.withColumnRenamed(extra, "_rextra")
        cond = cond & (F.col(extra) == F.col("_rextra"))
    out = left.join(rp, cond, how).drop("_rpart")
    return out.drop("_rextra") if extra is not None else out


def _local_and_merge(
    nn: DataFrame,
    gap_us: int,
    bucket_us: int,
    part_col: str,
    id_col: str,
    us_col: str,
):
    """Shared phases over the non-NULL-time rows: per-(key, bucket)
    local session ids (``loc``: input columns + ``_b``/``_lsid``) and
    the per-bucket merge table (``bmerge``: ``_merged``/``_base``)."""
    bkt = F.expr(
        f"(({us_col} - pmod({us_col}, {bucket_us})) DIV {bucket_us})"
    )
    wloc = W.partitionBy(part_col, "_b").orderBy(us_col, id_col)
    loc = (
        nn.withColumn("_b", bkt)
        .withColumn(
            "_new",
            F.when(
                F.lag(us_col).over(wloc).isNull()
                | (F.col(us_col) - F.lag(us_col).over(wloc) > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_lsid",
            F.sum("_new").over(wloc.rowsBetween(W.unboundedPreceding, 0)),
        )
        .drop("_new")
    )
    bsum = loc.groupBy(part_col, "_b").agg(
        F.max("_lsid").alias("_nloc"),
        F.min(us_col).alias("_first"),
        F.max(us_col).alias("_last"),
    )
    wb = W.partitionBy(part_col).orderBy("_b")
    prev_last = F.lag("_last").over(wb)
    bmerge = bsum.select(
        part_col,
        "_b",
        "_nloc",
        F.when(
            prev_last.isNotNull()
            & (F.col("_first") - prev_last <= gap_us),
            1,
        )
        .otherwise(0)
        .alias("_merged"),
    ).withColumn(
        "_base",
        F.coalesce(
            F.sum(F.col("_nloc") - F.col("_merged")).over(
                wb.rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    return loc, bmerge


def sessionize_chunked(
    events: DataFrame,
    gap_us: int,
    bucket_us: int,
    part_col: str = "user_id",
    id_col: str = "event_id",
    us_col: str = "us",
) -> DataFrame:
    """Per-session aggregates ``(part, session_id, n_events, start_us,
    end_us)`` equal to the classic lag+running-sum sessionization over
    ``(us NULLS LAST, id)`` order with a ``gap_us`` inactivity break.
    ``bucket_us`` bounds each window task; any value > 0 is exact
    (bucket boundaries only add merge rows, never change semantics —
    unlike the rolling halo there is no width constraint)."""
    if bucket_us <= 0:
        raise ValueError(f"bucket_us={bucket_us} must be positive")
    ev = events.select(part_col, id_col, us_col)
    nn = ev.filter(F.col(us_col).isNotNull())
    loc, bmerge = _local_and_merge(
        nn, gap_us, bucket_us, part_col, id_col, us_col
    )
    # aggregate per local session BEFORE the merge join: per-event rows
    # never leave the local phase
    locagg = loc.groupBy(part_col, "_b", "_lsid").agg(
        F.count("*").alias("_n"),
        F.min(us_col).alias("_min_us"),
        F.max(us_col).alias("_max_us"),
    )
    gsid = (F.col("_base") + F.col("_lsid") - F.col("_merged")).cast("bigint")
    timed = (
        _join_on_part(locagg, bmerge, part_col, extra="_b")
        .select(part_col, gsid.alias("session_id"), "_n", "_min_us", "_max_us")
        .groupBy(part_col, "session_id")
        .agg(
            F.sum("_n").cast("bigint").alias("n_events"),
            F.min("_min_us").alias("start_us"),
            F.max("_max_us").alias("end_us"),
        )
    )
    nulls = _null_sessions(ev, bmerge, part_col, id_col, us_col).select(
        part_col,
        "session_id",
        F.lit(1).cast("bigint").alias("n_events"),
        F.lit(None).cast("long").alias("start_us"),
        F.lit(None).cast("long").alias("end_us"),
    )
    return timed.unionByName(nulls)


def _null_sessions(
    ev: DataFrame, bmerge: DataFrame, part_col: str, id_col: str, us_col: str
) -> DataFrame:
    """NULL-time rows as their own sessions, numbered after all timed
    sessions of their key (id order). The rank window is bounded by the
    key's NULL-time row count."""
    total = bmerge.groupBy(part_col).agg(
        F.sum(F.col("_nloc") - F.col("_merged")).alias("_S")
    )
    wnull = W.partitionBy(part_col).orderBy(id_col)
    return (
        _join_on_part(
            ev.filter(F.col(us_col).isNull()), total, part_col, how="left"
        )
        .select(
            part_col,
            id_col,
            (
                F.coalesce(F.col("_S"), F.lit(0)) + F.row_number().over(wnull)
            )
            .cast("bigint")
            .alias("session_id"),
        )
    )


def session_funnel_chunked(
    events: DataFrame,
    gap_us: int,
    bucket_us: int,
    part_col: str = "user_id",
    id_col: str = "event_id",
    us_col: str = "us",
    type_col: str = "event_type",
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
) -> DataFrame:
    """Session-scoped ordered three-stage funnel (did stage1 → then
    stage2 → then stage3 happen, in event order, within each gap
    session), computed with every task bounded by one (key, bucket):

    - the heavy per-event pass computes q156-style running stage flags
      WITHIN each (key, bucket, local-session) segment — one window
      shuffle, segment-bounded sorts;
    - segments aggregate to one summary row carrying the funnel
      MONOID state: (v, c, p) stage presence, (vc, cp, vcp) ordered
      pairs/triple within the segment;
    - per session, summaries compose across buckets with two stacked
      cumulative windows over SEGMENT rows (one per spanned bucket —
      tiny): a cross-segment pair exists iff a later segment supplies
      the next stage after an earlier prefix supplied the previous one
        vc* (s) = vc(s) ∨ (v_before(s) ∧ c(s))
        vcp*(s) = vcp(s) ∨ (vc*_before(s) ∧ p(s)) ∨ (v_before(s) ∧ cp(s))
      — an exhaustive case split on which segment holds each stage, so
      the composition is exact, not heuristic.

    Returns ``(part, session_id, n_events, reached_view, reached_click,
    reached_purchase)`` bit-identical to the single-window funnel
    (property-tested). NULL-time events are single-event sessions
    numbered after the timed ones: stage1 may be reached, ordered pairs
    never (one row cannot order two stages)."""
    if bucket_us <= 0:
        raise ValueError(f"bucket_us={bucket_us} must be positive")
    s1, s2, s3 = stages
    ev = events.select(part_col, id_col, us_col, type_col)
    nn = ev.filter(F.col(us_col).isNotNull())
    loc, bmerge = _local_and_merge(
        nn, gap_us, bucket_us, part_col, id_col, us_col
    )
    wseg = (
        W.partitionBy(part_col, "_b", "_lsid")
        .orderBy(us_col, id_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    is1 = F.when(F.col(type_col) == s1, 1).otherwise(0)
    is2 = F.when(F.col(type_col) == s2, 1).otherwise(0)
    is3 = F.when(F.col(type_col) == s3, 1).otherwise(0)
    flagged = (
        loc.withColumn("_sv", F.max(is1).over(wseg))
        .withColumn("_sc", F.max(is2).over(wseg))
        .withColumn("_vc", F.max(is2 * F.col("_sv")).over(wseg))
        .withColumn("_cp", F.max(is3 * F.col("_sc")).over(wseg))
        .withColumn("_vcp", F.max(is3 * F.col("_vc")).over(wseg))
    )
    seg = flagged.groupBy(part_col, "_b", "_lsid").agg(
        F.count("*").alias("_n"),
        F.max(is1).alias("_v"),
        F.max(is2).alias("_c"),
        F.max(is3).alias("_p"),
        F.max("_vc").alias("_seg_vc"),
        F.max("_cp").alias("_seg_cp"),
        F.max("_vcp").alias("_seg_vcp"),
    )
    gsid = (F.col("_base") + F.col("_lsid") - F.col("_merged")).cast("bigint")
    seg = _join_on_part(seg, bmerge, part_col, extra="_b").select(
        part_col,
        gsid.alias("session_id"),
        "_b",
        "_n",
        "_v",
        "_c",
        "_p",
        "_seg_vc",
        "_seg_cp",
        "_seg_vcp",
    )
    # cross-segment composition: one row per spanned bucket per session
    wprev = (
        W.partitionBy(part_col, "session_id")
        .orderBy("_b")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    v_before = F.coalesce(F.max("_v").over(wprev), F.lit(0))
    comp1 = seg.withColumn(
        "_vc_star",
        F.greatest(F.col("_seg_vc"), v_before * F.col("_c")),
    ).withColumn("_v_before", v_before)
    vc_before = F.coalesce(F.max("_vc_star").over(wprev), F.lit(0))
    comp2 = comp1.withColumn(
        "_vcp_star",
        F.greatest(
            F.col("_seg_vcp"),
            vc_before * F.col("_p"),
            F.col("_v_before") * F.col("_seg_cp"),
        ),
    )
    timed = comp2.groupBy(part_col, "session_id").agg(
        F.sum("_n").cast("bigint").alias("n_events"),
        F.max("_v").cast("int").alias("reached_view"),
        F.max("_vc_star").cast("int").alias("reached_click"),
        F.max("_vcp_star").cast("int").alias("reached_purchase"),
    )
    nulls = (
        _null_sessions(
            ev.select(part_col, id_col, us_col), bmerge, part_col, id_col, us_col
        )
        .join(
            ev.filter(F.col(us_col).isNull()).select(id_col, type_col),
            [id_col],
        )
        .select(
            part_col,
            "session_id",
            F.lit(1).cast("bigint").alias("n_events"),
            is1.cast("int").alias("reached_view"),
            F.lit(0).cast("int").alias("reached_click"),
            F.lit(0).cast("int").alias("reached_purchase"),
        )
    )
    return timed.unionByName(nulls)


# ---------------------------------------------------------------------------
# default (single-window) plans
# ---------------------------------------------------------------------------


def sessionize_default(
    events: DataFrame,
    gap_us: int,
    part_col: str = "user_id",
    id_col: str = "event_id",
    us_col: str = "us",
) -> DataFrame:
    """The classic lag + running-sum sessionization (q152's plan):
    cheapest when keys are plentiful — one hash shuffle on the key,
    both windows and the final aggregate reuse the exchange. Same
    output contract as :func:`sessionize_chunked`: ``(part,
    session_id, n_events, start_us, end_us)``, NULL-time events as
    their own trailing sessions."""
    w = W.partitionBy(part_col).orderBy(
        F.col(us_col).asc_nulls_last(), id_col
    )
    ev = events.select(part_col, id_col, us_col)
    gaps = ev.withColumn(
        "_new_sess",
        F.when(
            F.col(us_col).isNull()
            | (F.col(us_col) - F.lag(us_col).over(w) > gap_us)
            | F.lag(us_col).over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn(
        "session_id",
        F.sum("_new_sess")
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint"),
    )
    return sess.groupBy(part_col, "session_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min(us_col).alias("start_us"),
        F.max(us_col).alias("end_us"),
    )


def session_funnel_default(
    events: DataFrame,
    gap_us: int,
    part_col: str = "user_id",
    id_col: str = "event_id",
    us_col: str = "us",
    type_col: str = "event_type",
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
) -> DataFrame:
    """The single-shuffle stacked-window ordered funnel (q156's plan).
    Same output contract as :func:`session_funnel_chunked`."""
    s1, s2, s3 = stages
    wu = W.partitionBy(part_col).orderBy(
        F.col(us_col).asc_nulls_last(), id_col
    )
    ev = events.select(part_col, id_col, type_col, us_col)
    gaps = ev.withColumn(
        "_new_sess",
        F.when(
            F.col(us_col).isNull()
            | (F.col(us_col) - F.lag(us_col).over(wu) > gap_us)
            | F.lag(us_col).over(wu).isNull(),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn(
        "session_id",
        F.sum("_new_sess")
        .over(wu.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint"),
    )
    ws = (
        W.partitionBy(part_col, "session_id")
        .orderBy(F.col(us_col).asc_nulls_last(), id_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    flag1 = sess.withColumn(
        "_seen1",
        F.max(F.when(F.col(type_col) == s1, 1).otherwise(0)).over(ws),
    )
    flag2 = flag1.withColumn(
        "_s2after",
        F.max(
            F.when(
                (F.col(type_col) == s2) & (F.col("_seen1") == 1), 1
            ).otherwise(0)
        ).over(ws),
    )
    flag3 = flag2.withColumn(
        "_s3after",
        F.max(
            F.when(
                (F.col(type_col) == s3) & (F.col("_s2after") == 1), 1
            ).otherwise(0)
        ).over(ws),
    )
    return flag3.groupBy(part_col, "session_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max("_seen1").cast("int").alias("reached_view"),
        F.max("_s2after").cast("int").alias("reached_click"),
        F.max("_s3after").cast("int").alias("reached_purchase"),
    )

