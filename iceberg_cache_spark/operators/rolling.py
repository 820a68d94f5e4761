"""Exact rolling time-range aggregates in O(n log n).

Spark's sliding RANGE frame (``RANGE BETWEEN w PRECEDING AND CURRENT
ROW``) re-evaluates the aggregate buffer over the frame rows for every
output row — there is no retraction support — so a partition costs
O(n * frame_width). On bursty event data (many same-key events inside
one frame width) that is effectively quadratic: the round-5 scale probe
measured the naive formulation at 18.6 s for 500k events vs 0.78 s for
50k (x24 at x10 rows) on the bursty sessions corpus, and ~x100 per
decade beyond that.

This module computes the SAME exact per-event frame with two
incremental cumulative windows over a union:

- every event contributes a REAL row at ``t = ts`` and a PROBE row at
  ``t = ts - width - 1`` (integer microseconds; probes carry zero
  weight);
- one ``RANGE UNBOUNDED PRECEDING`` cumulative window per partition
  key (incremental in Spark — O(n) after the sort) gives, at each real
  row, the prefix aggregate over ``ts' <= ts`` (peer-inclusive, both
  engines' RANGE semantics), and at each probe row the prefix over
  ``ts' <= ts - width - 1``, i.e. ``ts' < ts - width``;
- rolling value = real-row prefix − its probe's prefix — exactly the
  inclusive ``[ts - width, ts]`` frame — joined back on the event id.

Cost: one union (no shuffle), one window shuffle on the partition key,
one join-back shuffle on the event id: O(n log n) total, independent
of frame width. Sums accumulate in DECIMAL so the subtraction is exact
and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def rolling_time_agg(
    events: DataFrame,
    width_us: int,
    part_col: str = "user_id",
    id_col: str = "event_id",
    us_col: str = "us",
    val_col: str = "dv",
    cnt_out: str = "n_roll",
    sum_out: str = "sum_roll",
) -> DataFrame:
    """(id, part, us, cnt_out, sum_out): per-event exact count and
    DECIMAL sum over the inclusive ``[us - width_us, us]`` same-key
    time frame. ``val_col`` must already be a DECIMAL column and
    ``id_col`` must be unique per row (the probe join-back keys on it;
    duplicate ids would fan out). Rows whose frame holds only NULL
    values yield a NULL sum, matching ``SUM(v) OVER w`` on both Spark
    and DuckDB: a third prefix window counts non-null values, and the
    sum is emitted only when the frame's non-null count is positive.

    NULL ``us_col`` rows follow SQL-standard RANGE-frame semantics (the
    round-6 driver red): a NULL ordering key's frame is exactly its
    NULL peer group, so such a row gets COUNT/SUM over the same-key
    NULL-ts rows — what ``COUNT(*) OVER (... RANGE w PRECEDING)``
    returns on both Spark and DuckDB. No extra scan or shuffle: the
    cumulative window sorts NULLs first (Spark's asc default, made
    explicit below), so a NULL row's prefix IS its peer-group
    aggregate, and the final projection simply skips the probe
    subtraction for NULL-ts rows (a NULL row's probe ``NULL - w - 1``
    is its own peer, so subtracting it would zero the frame — the
    round-5/6 divergence). Non-NULL rows are unaffected: their prefix
    and their probe's prefix both include the leading NULL group, so
    the difference cancels it."""
    ev = events.select(part_col, id_col, us_col, val_col)
    real = ev.select(
        part_col,
        id_col,
        F.col(us_col).alias("_t"),
        F.lit(1).cast("long").alias("_c"),
        F.when(F.col(val_col).isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_cn"),
        F.col(val_col).alias("_v"),
        F.lit(0).alias("_probe"),
        F.col(us_col),
    )
    zero_v = F.lit(0).cast(ev.schema[val_col].dataType)
    probe = ev.select(
        part_col,
        id_col,
        (F.col(us_col) - F.lit(width_us) - F.lit(1)).alias("_t"),
        F.lit(0).cast("long").alias("_c"),
        F.lit(0).cast("long").alias("_cn"),
        zero_v.alias("_v"),
        F.lit(1).alias("_probe"),
        F.col(us_col),
    )
    u = real.unionByName(probe)
    w = (
        W.partitionBy(part_col)
        .orderBy(F.col("_t").asc_nulls_first())
        .rangeBetween(W.unboundedPreceding, 0)
    )
    cum = u.select(
        part_col,
        id_col,
        "_probe",
        F.col(us_col),
        F.sum("_c").over(w).alias("_cum_c"),
        F.sum("_cn").over(w).alias("_cum_cn"),
        F.coalesce(F.sum("_v").over(w), zero_v).alias("_cum_v"),
    )
    at_event = cum.filter(F.col("_probe") == 0).select(
        part_col,
        id_col,
        F.col(us_col),
        F.col("_cum_c").alias("_c1"),
        F.col("_cum_cn").alias("_cn1"),
        F.col("_cum_v").alias("_v1"),
    )
    at_probe = cum.filter(F.col("_probe") == 1).select(
        F.col(id_col).alias("_pid"),
        F.col("_cum_c").alias("_c0"),
        F.col("_cum_cn").alias("_cn0"),
        F.col("_cum_v").alias("_v0"),
    )
    # NULL-ts rows: the prefix at the NULL peer group IS the frame
    # (NULLs sort first; probes weigh zero), so skip the probe
    # subtraction — subtracting a NULL row's own-peer probe zeroes it.
    is_null_ts = F.col(us_col).isNull()
    cnt = F.when(is_null_ts, F.col("_c1")).otherwise(
        F.col("_c1") - F.col("_c0")
    )
    nn_cnt = F.when(is_null_ts, F.col("_cn1")).otherwise(
        F.col("_cn1") - F.col("_cn0")
    )
    val = F.when(is_null_ts, F.col("_v1")).otherwise(
        F.col("_v1") - F.col("_v0")
    )
    return at_event.join(
        at_probe, at_event[id_col] == at_probe["_pid"]
    ).select(
        part_col,
        id_col,
        us_col,
        cnt.alias(cnt_out),
        F.when(nn_cnt > 0, val).alias(sum_out),
    )


def estimate_key_skew(
    df: DataFrame,
    part_col: str,
    id_col: str,
    one_in: int = 16,
) -> dict:
    """Cheap deterministic key-skew estimate: a 1-in-``one_in`` hash
    sample on the unique row id (``xxhash64`` — no RNG, so the estimate
    and therefore the plan choice are reproducible run-to-run), one
    column-pruned hash aggregate over the sample, and a 1-row collect.

    Returns ``sampled_rows``, ``top_share`` (hottest key's share of the
    sample), and ``est_top_rows`` (scaled-up hottest-key row count).
    Cost at 100 TB: one scan of two columns over 1/16 of the rows with
    map-side combine — negligible next to the window it steers, and
    the same kind of tiny driver-side statistics read AQE itself does
    between stages. NULL partition keys group as one key, matching the
    window semantics they get downstream."""
    s = df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(one_in)) == 0)
    counts = s.groupBy(part_col).agg(F.count("*").alias("_n"))
    row = counts.agg(
        F.sum("_n").alias("_tot"), F.max("_n").alias("_top")
    ).first()
    tot = row["_tot"] or 0
    top = row["_top"] or 0
    return {
        "sampled_rows": int(tot),
        "top_share": (top / tot) if tot else 0.0,
        "est_top_rows": int(top) * one_in,
        "one_in": one_in,
    }


def choose_rolling_plan(
    df: DataFrame,
    part_col: str = "user_id",
    id_col: str = "event_id",
    hot_share_threshold: float = 0.3,
    max_task_rows: int = 2_000_000,
    sample_one_in: int = 16,
) -> tuple[str, dict]:
    """Decide ``"default"`` (one window per key — cheapest when keys
    are plentiful) vs ``"chunked"`` (per-(key, bucket) windows + halo —
    the only parallel plan when one key dominates). Chunked wins when
    EITHER trigger fires:

    - ``top_share >= hot_share_threshold``: the SCALE_r7/BENCH skew
      probes measured the chunked plans 4.7–11.8× faster at 86%
      hot-share and ~1.3–2.3× slower on uniform keys, so any clearly
      dominant key pays for the chunk overhead many times over;
    - ``est_top_rows >= max_task_rows``: at 100 TB a key can hold
      billions of rows at a tiny SHARE — what actually breaks is the
      absolute size of the one task that must sort that key's history,
      so the share test alone is not scale-safe.

    Both plans are bit-identical in output (property-tested), so the
    estimator only steers cost, never correctness."""
    stats = estimate_key_skew(df, part_col, id_col, one_in=sample_one_in)
    chunked = (
        stats["top_share"] >= hot_share_threshold
        or stats["est_top_rows"] >= max_task_rows
    )
    stats["hot_share_threshold"] = hot_share_threshold
    stats["max_task_rows"] = max_task_rows
    return ("chunked" if chunked else "default", stats)


def rolling_time_agg_auto(
    events: DataFrame,
    width_us: int,
    bucket_us: int | None = None,
    part_col: str = "user_id",
    id_col: str = "event_id",
    us_col: str = "us",
    val_col: str = "dv",
    cnt_out: str = "n_roll",
    sum_out: str = "sum_roll",
    hot_share_threshold: float = 0.3,
    max_task_rows: int = 2_000_000,
    sample_one_in: int = 16,
) -> DataFrame:
    """Skew-adaptive rolling aggregate: measure the key distribution
    (``choose_rolling_plan``) and run :func:`rolling_time_agg` on
    well-distributed keys or :func:`rolling_time_agg_chunked` when one
    key would serialize a window task — the engine's decision instead
    of the caller's (round-8; previously the user had to know to
    switch, which at 100 TB means everyone who didn't gets the
    straggler). Identical output either way; only the physical plan
    changes. ``bucket_us`` defaults to 4 frame-widths (the measured
    halo-replication sweet spot, plans/sessions.py).

    NOTE (ADVICE r8): the estimate is an EAGER Spark action at
    DataFrame-construction time — one two-column scan of 1/16 of the
    input plus a tiny aggregate. On a parquet scan that is negligible,
    but when ``events`` is a derived pipeline its full upstream lineage
    is recomputed (uncached) for the estimate: materialize or persist
    derived inputs before calling it, or call
    :func:`choose_rolling_plan` yourself on the cheap base table and
    dispatch manually."""
    plan, _ = choose_rolling_plan(
        events,
        part_col=part_col,
        id_col=id_col,
        hot_share_threshold=hot_share_threshold,
        max_task_rows=max_task_rows,
        sample_one_in=sample_one_in,
    )
    kw = dict(
        part_col=part_col,
        id_col=id_col,
        us_col=us_col,
        val_col=val_col,
        cnt_out=cnt_out,
        sum_out=sum_out,
    )
    if plan == "chunked":
        return rolling_time_agg_chunked(
            events, width_us, bucket_us or 4 * width_us, **kw
        )
    return rolling_time_agg(events, width_us, **kw)


def rolling_time_agg_chunked(
    events: DataFrame,
    width_us: int,
    bucket_us: int,
    part_col: str = "user_id",
    id_col: str = "event_id",
    us_col: str = "us",
    val_col: str = "dv",
    cnt_out: str = "n_roll",
    sum_out: str = "sum_roll",
) -> DataFrame:
    """Skew-resilient variant of :func:`rolling_time_agg` — identical
    output contract, but the cumulative windows run per
    ``(part, time-bucket)`` instead of per ``part``, so ONE hot key
    (one user holding most of a 100 TB event stream — the Zipf regime
    the skew gate manufactures) parallelizes across time buckets
    instead of serializing its entire history through a single task's
    sort.

    Exactness: each event lands in bucket ``us DIV bucket_us``; every
    event in the LAST ``width_us`` of its bucket is replicated into the
    next bucket as a zero-output context ("halo") row. With
    ``bucket_us >= width_us`` the inclusive ``[us - width_us, us]``
    frame of any row is fully contained in (own bucket ∪ halo), so the
    per-bucket prefix difference equals the global one — bit-identical,
    not approximate. Replication cost is bounded by
    ``width_us / bucket_us`` of the corpus.

    NULL ordering keys keep their SQL peer-group semantics via a
    separate per-key aggregate over the NULL-ts rows (no bucket is
    defined for them), joined back — same results as the prefix
    formulation's NULLS-FIRST trick.

    Trade-off vs the unchunked version: one extra small aggregate and
    ~(w/B) row replication, in exchange for max-task work dropping from
    O(hot-key rows) to O(hot-key rows per bucket). Prefer this when a
    single key can dominate a partition; the unchunked form when keys
    are plentiful."""
    if bucket_us < width_us:
        raise ValueError(
            f"bucket_us={bucket_us} must be >= width_us={width_us}: the "
            "halo only replicates one bucket back"
        )
    ev = events.select(part_col, id_col, us_col, val_col)
    nn = ev.filter(F.col(us_col).isNotNull())
    zero_v = F.lit(0).cast(ev.schema[val_col].dataType)

    # exact FLOOR division (DIV truncates toward zero, which would
    # misplace pre-epoch timestamps; pmod is non-negative, so this is
    # integer floor for any sign — no double-precision detour)
    bkt = F.expr(
        f"(({us_col} - pmod({us_col}, {bucket_us})) DIV {bucket_us})"
    )
    own = nn.select(
        part_col,
        id_col,
        us_col,
        val_col,
        bkt.alias("_b"),
        F.lit(0).alias("_ctx"),
    )
    halo = nn.filter(
        F.col(us_col) >= (bkt + 1) * F.lit(bucket_us) - F.lit(width_us)
    ).select(
        part_col,
        id_col,
        us_col,
        val_col,
        (bkt + 1).alias("_b"),
        F.lit(1).alias("_ctx"),
    )
    rows = own.unionByName(halo)
    real = rows.select(
        part_col,
        id_col,
        "_b",
        "_ctx",
        F.col(us_col).alias("_t"),
        F.lit(1).cast("long").alias("_c"),
        F.when(F.col(val_col).isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("_cn"),
        F.col(val_col).alias("_v"),
        F.lit(0).alias("_probe"),
        F.col(us_col),
    )
    probe = own.select(
        part_col,
        id_col,
        "_b",
        F.lit(0).alias("_ctx"),
        (F.col(us_col) - F.lit(width_us) - F.lit(1)).alias("_t"),
        F.lit(0).cast("long").alias("_c"),
        F.lit(0).cast("long").alias("_cn"),
        zero_v.alias("_v"),
        F.lit(1).alias("_probe"),
        F.col(us_col),
    )
    u = real.unionByName(probe)
    w = (
        W.partitionBy(part_col, "_b")
        .orderBy(F.col("_t").asc())
        .rangeBetween(W.unboundedPreceding, 0)
    )
    cum = u.select(
        part_col,
        id_col,
        "_probe",
        "_ctx",
        F.col(us_col),
        F.sum("_c").over(w).alias("_cum_c"),
        F.sum("_cn").over(w).alias("_cum_cn"),
        F.coalesce(F.sum("_v").over(w), zero_v).alias("_cum_v"),
    )
    at_event = cum.filter((F.col("_probe") == 0) & (F.col("_ctx") == 0)).select(
        part_col,
        id_col,
        F.col(us_col),
        F.col("_cum_c").alias("_c1"),
        F.col("_cum_cn").alias("_cn1"),
        F.col("_cum_v").alias("_v1"),
    )
    at_probe = cum.filter(F.col("_probe") == 1).select(
        F.col(id_col).alias("_pid"),
        F.col("_cum_c").alias("_c0"),
        F.col("_cum_cn").alias("_cn0"),
        F.col("_cum_v").alias("_v0"),
    )
    out_nn = at_event.join(
        at_probe, at_event[id_col] == at_probe["_pid"]
    ).select(
        part_col,
        id_col,
        us_col,
        (F.col("_c1") - F.col("_c0")).alias(cnt_out),
        F.when(
            (F.col("_cn1") - F.col("_cn0")) > 0, F.col("_v1") - F.col("_v0")
        ).alias(sum_out),
    )

    # NULL ordering keys: SQL peer-group frame = all same-key NULL-ts
    # rows. One tiny aggregate over the NULL slice, joined back.
    nulls = ev.filter(F.col(us_col).isNull())
    ngrp = nulls.groupBy(part_col).agg(
        F.count("*").alias("_gn"),
        F.sum(
            F.when(F.col(val_col).isNotNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("_gnn"),
        F.sum(val_col).alias("_gs"),
    )
    # NULL-SAFE key join: a NULL partition key is one ordinary peer
    # group in window semantics; a plain equi-join would drop its rows
    out_null = nulls.join(
        ngrp.withColumnRenamed(part_col, "_rpart"),
        F.col(part_col).eqNullSafe(F.col("_rpart")),
    ).select(
        part_col,
        id_col,
        us_col,
        F.col("_gn").alias(cnt_out),
        F.when(F.col("_gnn") > 0, F.col("_gs")).alias(sum_out),
    )
    # align sum types before the union (window SUM and groupBy SUM both
    # widen DECIMAL(p,s) the same way, but be explicit)
    out_null = out_null.select(
        part_col,
        id_col,
        us_col,
        F.col(cnt_out).cast("long").alias(cnt_out),
        F.col(sum_out).cast(dict(out_nn.dtypes)[sum_out]).alias(sum_out),
    )
    out_nn = out_nn.select(
        part_col,
        id_col,
        us_col,
        F.col(cnt_out).cast("long").alias(cnt_out),
        F.col(sum_out),
    )
    return out_nn.unionByName(out_null)
