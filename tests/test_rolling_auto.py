"""Round-8 auto skew-plan selection (VERDICT r7 item 4).

The chunked tier shipped in r7 as a parallel API — a 100 TB user got
the hot-key straggler unless they knew to switch. ``rolling_time_agg_auto``
makes the engine decide: a deterministic hash-sample skew estimate
picks the unchunked plan on well-distributed keys and the chunked plan
when one key's share or absolute row count would serialize a window
task. These tests pin the decision on both regimes and that the auto
path's OUTPUT is identical to the plan it delegates to.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from iceberg_cache_spark.operators.rolling import (
    choose_rolling_plan,
    estimate_key_skew,
    rolling_time_agg,
    rolling_time_agg_auto,
)

WIDTH = 3_600 * 1_000_000


def _events(spark, sf_dir):
    from iceberg_cache_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("value").cast("decimal(18,2)").alias("dv"),
    )


def test_uniform_corpus_selects_default(spark, sf_dir):
    ev = _events(spark, sf_dir)
    plan, stats = choose_rolling_plan(ev)
    assert plan == "default", stats
    # 150 users at sf0.001: the hottest key holds a few percent
    assert stats["top_share"] < 0.3
    assert stats["est_top_rows"] < 2_000_000


def test_hotkey_corpus_selects_chunked(spark):
    from tools.gen_skewdata import ensure_hotkey_events

    d = ensure_hotkey_events(50_000)
    ev = _events(spark, d)
    plan, stats = choose_rolling_plan(ev)
    assert plan == "chunked", stats
    assert stats["top_share"] > 0.5  # generator plants ~86% on one key


def test_absolute_row_trigger_scale_path(spark, sf_dir):
    """The share test alone is not scale-safe: a key with a small
    SHARE of 100 TB still breaks the one task that sorts it. The
    absolute est_top_rows trigger must fire even at low shares."""
    ev = _events(spark, sf_dir)
    # force the absolute trigger with a tiny threshold: the hottest
    # key in the sample, scaled by one_in, exceeds 1 row easily
    plan, stats = choose_rolling_plan(ev, max_task_rows=2)
    assert plan == "chunked"
    assert stats["top_share"] < 0.3  # share trigger did NOT fire


def test_estimate_is_deterministic(spark, sf_dir):
    ev = _events(spark, sf_dir)
    a = estimate_key_skew(ev, "user_id", "event_id")
    b = estimate_key_skew(ev, "user_id", "event_id")
    assert a == b  # hash sample, no RNG: plan choice is reproducible


@pytest.mark.parametrize("force", ["default", "chunked"])
def test_auto_output_identical_on_both_branches(spark, sf_dir, force):
    """Whichever branch the estimator picks, the rows are the ones the
    declared oracle pins — compare auto against the unchunked
    reference plan on the same input."""
    ev = _events(spark, sf_dir)
    kw = dict(cnt_out="n", sum_out="s")
    if force == "default":
        auto = rolling_time_agg_auto(ev, WIDTH, **kw)  # picks default here
    else:
        auto = rolling_time_agg_auto(ev, WIDTH, max_task_rows=2, **kw)
    ref = rolling_time_agg(ev, WIDTH, **kw)
    a = {tuple(r) for r in auto.collect()}
    b = {tuple(r) for r in ref.collect()}
    assert a == b

