"""Round-14 optimization invariants.

spread_scan's byte gate (round 14): the spread must keep firing for
sources big enough that per-task compute dominates, stay a no-op for
tiny sources (the driver-measured q117 regression: 32-way fan-out
jitter on sub-second single-task work), and spread unconditionally at
a zero per-task floor.
"""

from __future__ import annotations

from iceberg_cache_spark.operators.materialize import spread_scan


def _parts(df) -> int:
    return df.rdd.getNumPartitions()


def test_spread_gate_small_source_is_noop(spark):
    # ~8 KB estimate in one partition: under the 256 KB/task default,
    # the spread must NOT fire.
    small = spark.range(0, 1000, 1, 1)
    assert _parts(spread_scan(small, "id")) == 1


def test_spread_gate_zero_threshold_restores_unconditional(spark):
    small = spark.range(0, 1000, 1, 1)
    n = spark.sparkContext.defaultParallelism
    assert _parts(spread_scan(small, "id", min_bytes_per_task=0)) == n


def test_spread_gate_big_source_spreads(spark):
    # ~80 MB estimate in one partition: well over any per-call floor
    # the operators use at this scale.
    big = spark.range(0, 10_000_000, 1, 1)
    n = spark.sparkContext.defaultParallelism
    assert _parts(spread_scan(big, "id")) == n


def test_spread_gate_already_parallel_is_noop(spark):
    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 10_000_000, 1, n)
    out = spread_scan(wide, "id", min_bytes_per_task=0)
    assert out is wide


def test_q16_order_matches_r13_formulation(spark, sf_dir):
    """q16's round-14 form (per-distinct-size match arrays + pre-fan-out
    sort) must reproduce the round-13 output ROW FOR ROW — the total
    (p_partkey, s_suppkey) order is produced by construction (ordered
    range partitions × ascending arrays), not by a terminal sort, so
    pin it exactly."""
    from pyspark.sql import functions as F

    from iceberg_cache_spark.plans import QUERIES
    from iceberg_cache_spark.sources.testdata import load_table as T

    new = QUERIES["q16_theta_join"](spark, sf_dir).collect()

    p, s = T(spark, sf_dir, "part"), T(spark, sf_dir, "supplier")
    keys = s.agg(F.sort_array(F.collect_list("s_suppkey")).alias("_ks"))
    old = (
        p.repartitionByRange("p_partkey")
        .crossJoin(F.broadcast(keys))
        .select(
            "p_partkey",
            F.explode(
                F.filter(F.col("_ks"), lambda k: k > F.col("p_size"))
            ).alias("s_suppkey"),
        )
        .sortWithinPartitions("p_partkey", "s_suppkey")
    ).collect()

    assert new == old
    assert new == sorted(new, key=lambda r: (r.p_partkey, r.s_suppkey))


def test_gapfill_span_generation_matches_dense_grid_reference(spark):
    """Property check for the round-14 gap-fill rewrite: on a
    randomized (seeded) events fixture with NULL values, NULL users,
    duplicate buckets, and multi-bucket gaps, the span-generation
    LOCF/interpolation must equal a brute-force dense-grid reference
    computed in plain Python."""
    import random

    from pyspark.sql import functions as F

    from iceberg_cache_spark.plans.sessions import (
        gapfill_interpolate,
        gapfill_locf,
    )

    rng = random.Random(14)
    rows = []
    eid = 0
    for u in [None, 1, 2, 3, 4]:
        base = rng.randrange(0, 10**6)
        for _ in range(rng.randrange(1, 25)):
            eid += 1
            # hour buckets with gaps up to 5; duplicates allowed
            ts_h = base + rng.randrange(0, 40)
            v = None if rng.random() < 0.3 else rng.uniform(-50, 50)
            rows.append((eid, u, ts_h * 3600, v))
    e = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s long, value double"
    ).select(
        "event_id",
        "user_id",
        F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "value",
    )

    # brute-force reference: per user-key, bucket events, dense grid,
    # LOCF and integer lerp exactly as declared
    import math

    obs: dict = {}
    for eid_, u, ts_s, v in rows:
        b = ts_s // 3600
        k = ("n",) if u is None else ("v", u)
        d = obs.setdefault(k, {}).setdefault(b, {"n": 0, "picks": []})
        d["n"] += 1
        dvc = None if v is None else math.floor(v * 100.0)
        if dvc is not None:
            d["picks"].append((ts_s * 10**6, eid_, dvc))
    ref_locf, ref_lerp = {}, {}
    for k, buckets in obs.items():
        u = None if k[0] == "n" else k[1]
        bs = sorted(buckets)
        vlast = {
            b: (max(d["picks"])[2] if d["picks"] else None)
            for b, d in buckets.items()
        }
        carried = None
        for b in range(bs[0], bs[-1] + 1):
            n = buckets[b]["n"] if b in buckets else 0
            if b in buckets and vlast[b] is not None:
                carried = vlast[b]
            ref_locf[(u, b)] = (n, carried)
        obs_b = [b for b in bs if vlast[b] is not None]
        for b in range(bs[0], bs[-1] + 1):
            n = buckets[b]["n"] if b in buckets else 0
            prev = max((x for x in obs_b if x <= b), default=None)
            nxt = min((x for x in obs_b if x >= b), default=None)
            if prev is None or nxt is None:
                lerp = None
            elif nxt == prev:
                lerp = vlast[prev]
            else:
                num = (vlast[nxt] - vlast[prev]) * (b - prev)
                lerp = vlast[prev] + (num - (num % (nxt - prev) + (nxt - prev)) % (nxt - prev)) // (nxt - prev)
            ref_lerp[(u, b)] = (n, lerp)

    got_locf = {
        (r.user_id, r.bucket_h): (r.n_obs, r.v_cents_locf)
        for r in gapfill_locf(e).collect()
    }
    got_lerp = {
        (r.user_id, r.bucket_h): (r.n_obs, r.v_cents_lerp)
        for r in gapfill_interpolate(e).collect()
    }
    assert got_locf == ref_locf
    assert got_lerp == ref_lerp

