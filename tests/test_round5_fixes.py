"""Round-5 hardening regressions (VERDICT r4 / ADVICE items):

- size-ratio prefilter must not prune exact-threshold pairs when the
  threshold float rounds up in binary (0.3 -> 0.30000000000000004);
- n-gram operators use SET semantics for docs with internally repeated
  grams (array_distinct per doc == the oracle's SELECT DISTINCT), with
  repeats planted AT the df cap and at a threshold-boundary pair;
- connected_components_star verifies the star-forest shape of its edge
  fixpoint instead of trusting the fingerprint.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from iceberg_cache_spark.operators import dedup as D


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


# ---------------------------------------------------------------------------
# ADVICE #1: float-threshold prefilter boundary
# ---------------------------------------------------------------------------


def test_prefilter_keeps_exact_threshold_pair(spark):
    """Subset pair with gram sets |A|=10, |B|=3, B ⊂ A: J = 3/10 = 0.3
    exactly. With threshold=0.3, the unslacked prefilter evaluated
    10 * 0.3 = 3.0000000000000004 > 3 and pruned it; the slacked
    prefilter keeps it and the exact final filter admits it."""
    w = [f"t{i}" for i in range(12)]
    a = " ".join(w)            # 12 tokens -> 10 distinct trigrams
    b = " ".join(w[:5])        # 5 tokens -> 3 trigrams, all in A
    pairs = D.ngram_jaccard_pairs(
        _docs(spark, [a, b]), n=3, threshold=0.3
    ).collect()
    assert len(pairs) == 1
    row = pairs[0]
    assert (row.id_a, row.id_b) == (0, 1)
    assert row.jaccard == pytest.approx(0.3)


def test_prefilter_boundary_incremental(spark):
    """Same boundary in incremental_dedup_flags (corpus doc = superset,
    batch doc = 3-gram subset, threshold=0.3): near_dup must be 1."""
    w = [f"t{i}" for i in range(12)]
    corpus = _docs(spark, [" ".join(w)])
    batch = spark.createDataFrame([(100, " ".join(w[:5]))], ["doc_id", "text"])
    out = {
        r.doc_id: (r.exact_dup, r.near_dup)
        for r in D.incremental_dedup_flags(corpus, batch, threshold=0.3).collect()
    }
    assert out[100] == (0, 1)


def test_prefilter_threshold_monotone():
    assert D._prefilter_threshold(0.0) == 0.0
    assert D._prefilter_threshold(0.5) < 0.5
    assert D._prefilter_threshold(0.5) > 0.499


# ---------------------------------------------------------------------------
# ADVICE #2: repeated-gram documents — set semantics vs the DuckDB oracle
# ---------------------------------------------------------------------------


def _repeat_corpus():
    """Docs with internal gram repeats planted at the nasty spots:
    a trigram repeated many times inside one doc (multiset count would
    blow past the df cap; set count must not), and a repeat inside a
    threshold-boundary near-dup pair."""
    loop = "a b c " * 30  # trigram 'a b c' ~30x inside ONE doc
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " x0 x1"
    return [
        loop.strip(),          # doc 0: heavy internal repetition
        loop.strip() + " zz",  # doc 1: near-dup of doc 0
        base,                  # doc 2
        near,                  # doc 3: near-dup of doc 2
        "solo " + " ".join(f"u{i}" for i in range(20)),  # doc 4
    ]


def test_repeated_grams_match_duckdb_pairs(spark):
    """ngram_jaccard_pairs on repeat-heavy docs equals the oracle's
    DISTINCT-gram formulation with a df cap LOW enough (3) that any
    multiset counting would change which grams survive the cap."""
    import duckdb

    texts = _repeat_corpus()
    df = _docs(spark, texts)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(df, n=3, threshold=0.5, max_doc_freq=3).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") AS t(doc_id, text)"
    )
    want = {
        (ia, ib): j
        for ia, ib, j in con.execute(
            """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            allgrams AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                       array_to_string(t[CAST(i+1 AS BIGINT):CAST(i+3 AS BIGINT)], ' ') AS g
                FROM toks, UNNEST(range(greatest(len(t) - 2, 1))) AS u(i))),
            gram_df AS (SELECT g, COUNT(*) AS dfreq FROM allgrams GROUP BY g),
            grams AS (SELECT doc_id, g FROM allgrams JOIN gram_df USING (g)
                      WHERE dfreq <= 3),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
              FROM grams a JOIN grams b USING (g)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 4) AS j
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.5
            """
        ).fetchall()
    }
    assert got == want
    assert (0, 1) in got  # the repeat-heavy near-dup pair was found


def test_repeated_grams_match_duckdb_incremental(spark):
    """incremental_dedup_flags with repeat-heavy docs: batch = odd ids,
    corpus = even ids, df computed over DISTINCT (doc, gram)."""
    import duckdb

    texts = _repeat_corpus()
    all_docs = _docs(spark, texts)
    corpus = all_docs.filter(F.col("doc_id") % 2 == 0)
    batch = all_docs.filter(F.col("doc_id") % 2 == 1)
    got = {
        r.doc_id: (r.exact_dup, r.near_dup)
        for r in D.incremental_dedup_flags(
            corpus, batch, threshold=0.5, max_doc_freq=3
        ).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") AS t(doc_id, text)"
    )
    want = {
        d: (e, n)
        for d, e, n in con.execute(
            """
            WITH corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
            batch AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
            exact AS (
              SELECT DISTINCT b.doc_id FROM batch b
              JOIN corpus c ON md5(b.text) = md5(c.text)),
            toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            allgrams AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id,
                       array_to_string(t[CAST(i+1 AS BIGINT):CAST(i+3 AS BIGINT)], ' ') AS g
                FROM toks, UNNEST(range(greatest(len(t) - 2, 1))) AS u(i))),
            gram_df AS (SELECT g, COUNT(*) AS dfreq FROM allgrams GROUP BY g),
            grams AS (SELECT doc_id, g FROM allgrams JOIN gram_df USING (g)
                      WHERE dfreq <= 3),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
            inter AS (
              SELECT bg.doc_id AS bid, cg.doc_id AS cid, COUNT(*) AS i
              FROM grams bg JOIN grams cg USING (g)
              WHERE bg.doc_id % 2 = 1 AND cg.doc_id % 2 = 0
              GROUP BY 1, 2),
            near AS (
              SELECT DISTINCT bid FROM inter
              JOIN sizes sb ON sb.doc_id = bid
              JOIN sizes sc ON sc.doc_id = cid
              WHERE i / CAST(sb.sz + sc.sz - i AS DOUBLE) >= 0.5)
            SELECT b.doc_id,
                   CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END,
                   CASE WHEN n.bid IS NOT NULL THEN 1 ELSE 0 END
            FROM batch b
            LEFT JOIN exact e ON e.doc_id = b.doc_id
            LEFT JOIN near n ON n.bid = b.doc_id
            """
        ).fetchall()
    }
    assert got == want
    assert got[1] == (0, 1)  # repeat-heavy near-dup detected across sides


# ---------------------------------------------------------------------------
# ADVICE #4: star-forest verification of the CC fixpoint
# ---------------------------------------------------------------------------


def _edges(spark, rows):
    return spark.createDataFrame(rows, ["u", "v"])


def test_assert_star_forest_accepts_star(spark):
    D._assert_star_forest(_edges(spark, [(2, 1), (3, 1), (5, 4)]))


def test_assert_star_forest_accepts_duplicate_edges(spark):
    # the standalone probe dedupes first (r6: the fused pass counts
    # parents by row and relies on the CC loop's distinct edges)
    D._assert_star_forest(_edges(spark, [(2, 1), (2, 1), (3, 1)]))


def test_assert_star_forest_rejects_multi_parent(spark):
    with pytest.raises(RuntimeError, match="star forest"):
        D._assert_star_forest(_edges(spark, [(3, 1), (3, 2)]))


def test_assert_star_forest_rejects_bad_orientation(spark):
    with pytest.raises(RuntimeError, match="star forest"):
        D._assert_star_forest(_edges(spark, [(1, 2)]))


def test_assert_star_forest_rejects_depth_two(spark):
    # 3 -> 2 -> 1: 2 appears as both child and parent
    with pytest.raises(RuntimeError, match="star forest"):
        D._assert_star_forest(_edges(spark, [(3, 2), (2, 1)]))


def test_star_cc_still_correct_on_path_graph(spark):
    """End-to-end: the shape check passes on a real contraction result
    (30-hop path — diameter far above what min-label reaches in few
    rounds) and labels equal the transitive closure."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    labels = {
        r.id: r.cid for r in D.connected_components_star(pairs).collect()
    }
    assert labels == {i: 0 for i in range(31)}


# ---------------------------------------------------------------------------
# VERDICT item 4: plan-cache participant tracking
# ---------------------------------------------------------------------------


def test_plan_cache_survives_unrelated_invalidation(spark, sf_dir):
    """A commit to table A must keep a cached SQL result that only read
    table B (the entry records the tables its analyzed plan read), and
    still drop results that DID read A."""
    import os

    from iceberg_cache_spark.cache import CacheManager
    from iceberg_cache_spark.engine import CachedQueryEngine

    engine = CachedQueryEngine(spark, CacheManager(capacity_bytes=10**9))
    engine.register_parquet("pp_a", os.path.join(sf_dir, "region.parquet"))
    engine.register_parquet("pp_b", os.path.join(sf_dir, "nation.parquet"))

    only_b = "SELECT count(*) AS n FROM pp_b"
    reads_a = (
        "SELECT count(*) AS n FROM pp_a JOIN pp_b ON r_regionkey = n_regionkey"
    )
    engine.sql(only_b, cache_result=True)
    engine.sql(reads_a, cache_result=True)
    plans = [k for k in engine.cache.keys() if k.startswith("__plan#")]
    assert len(plans) == 2
    assert engine._plan_tables(engine.sql(only_b)) == frozenset({"pp_b"})
    assert engine._plan_tables(engine.sql(reads_a)) == frozenset({"pp_a", "pp_b"})

    engine.invalidate_table("pp_a")
    survivors = [k for k in engine.cache.keys() if k.startswith("__plan#")]
    assert len(survivors) == 1  # only-B result survived the A commit
    assert engine.cache._entries[survivors[0]].tables == frozenset({"pp_b"})

    engine.invalidate_table("pp_b")
    assert not [k for k in engine.cache.keys() if k.startswith("__plan#")]
    engine.cache.clear()  # don't leak InMemoryRelations into later tests


def test_plan_cache_untracked_entries_still_drop(spark, sf_dir, monkeypatch):
    """A walker failure must fall back to drop-on-any-invalidation,
    never to a stale hit: the entry records every registered table."""
    import os

    from iceberg_cache_spark.cache import CacheManager
    from iceberg_cache_spark.engine import CachedQueryEngine

    engine = CachedQueryEngine(spark, CacheManager(capacity_bytes=10**9))
    engine.register_parquet("pp_c", os.path.join(sf_dir, "region.parquet"))
    engine.register_parquet("pp_d", os.path.join(sf_dir, "nation.parquet"))

    class Unwalkable:
        @property
        def _jdf(self):
            raise RuntimeError("plan walk failed")

    walk = engine._plan_tables
    monkeypatch.setattr(engine, "_plan_tables", lambda df: walk(Unwalkable()))
    engine.sql("SELECT count(*) AS n FROM pp_c", cache_result=True)
    (key,) = [k for k in engine.cache.keys() if k.startswith("__plan#")]
    assert engine.cache._entries[key].tables == frozenset({"pp_c", "pp_d"})
    engine.invalidate_table("pp_d")  # a table the plan never read
    assert not [k for k in engine.cache.keys() if k.startswith("__plan#")]
    engine.cache.clear()  # don't leak InMemoryRelations into later tests


# ---------------------------------------------------------------------------
# VERDICT item 6: unexpected events.ts parquet type fails loudly
# ---------------------------------------------------------------------------


def test_events_ts_unknown_type_raises(spark, tmp_path):
    """events.ts stored as anything but the known fixture generations
    (int64-ns, timestamp[us] LTZ, timestamp_ntz) must raise, not coerce
    to nulls (FIXTURES.md schema-drift contract)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_cache_spark.sources.testdata import load_table

    bad = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(["2024-01-01", "2024-01-02"], pa.string()),
        }
    )
    d = tmp_path / "badfixture"
    d.mkdir()
    pq.write_table(bad, str(d / "events.parquet"))
    with pytest.raises(ValueError, match="unexpected parquet type"):
        load_table(spark, str(d), "events")


def test_plan_fingerprint_salts_only_participants(spark, tmp_path):
    """A commit to an unrelated catalog table must NOT change a cached
    plan's fingerprint (the result keeps serving); a commit to a
    participant must (natural miss)."""
    from iceberg_cache_spark.cache import CacheManager
    from iceberg_cache_spark.engine import CachedQueryEngine
    from iceberg_cache_spark.sources.catalog import SnapshotParquetCatalog

    engine = CachedQueryEngine(spark, CacheManager(capacity_bytes=10**9))
    cat = SnapshotParquetCatalog(spark, str(tmp_path / "fpcat"))
    cat.write_snapshot("fp_x", spark.range(5).withColumnRenamed("id", "x"))
    cat.write_snapshot("fp_y", spark.range(5).withColumnRenamed("id", "y"))
    engine.register_catalog_table(cat, "fp_x")
    engine.register_catalog_table(cat, "fp_y")

    def fingerprint(query):
        df = engine.sql(query)
        return engine._plan_fingerprint(df, engine._plan_tables(df))

    q = "SELECT count(*) AS n FROM fp_y"
    fp_before = fingerprint(q)
    cat.write_snapshot("fp_x", spark.range(3).withColumnRenamed("id", "x"))
    engine._registered.clear()  # force view re-resolution
    fp_after_unrelated = fingerprint(q)
    assert fp_before == fp_after_unrelated

    cat.write_snapshot("fp_y", spark.range(3).withColumnRenamed("id", "y"))
    engine._registered.clear()
    fp_after_participant = fingerprint(q)
    assert fp_after_participant != fp_before
    engine.cache.clear()


def test_materialize_reliable_checkpoint_opt_in(spark, tmp_path):
    """materialize() uses a RELIABLE checkpoint (survives executor
    loss) when the session opts in and a checkpoint dir exists, and
    localCheckpoint otherwise — same data either way."""
    import os

    from iceberg_cache_spark.operators.materialize import (
        RELIABLE_CONF,
        materialize,
    )

    df = spark.range(100).withColumnRenamed("id", "x")
    out = materialize(df)
    assert out.count() == 100  # default path: localCheckpoint

    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    spark.conf.set(RELIABLE_CONF, "true")
    try:
        out2 = materialize(spark.range(100).withColumnRenamed("id", "x"))
        assert out2.count() == 100
        found = any(files for _, _, files in os.walk(ckpt))
        assert found, "no reliable checkpoint files written"
        # the dedup tier rides the same switch end-to-end
        from iceberg_cache_spark.operators import dedup as D

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], ["id_a", "id_b"]
        )
        labels = {r.id: r.cid for r in D.connected_components_star(pairs).collect()}
        assert labels == {i: 0 for i in range(11)}
    finally:
        spark.conf.set(RELIABLE_CONF, "false")


def test_cc_loop_releases_superseded_round_blocks(spark):
    """r7 (ADVICE r6): each star-CC round must UNPERSIST the superseded
    round's checkpoint blocks — a long-lived session running many dedup
    jobs otherwise accumulates storage blocks without bound. After the
    call, at most the final edge set + the grouped-label frame may
    remain persisted (the returned labels must stay usable)."""
    from iceberg_cache_spark.operators import dedup as D

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    base = len(jsc.getRDDStorageInfo())
    # a 64-node chain forces several star-contraction rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["id_a", "id_b"]
    )
    labels = D.connected_components_star(pairs)
    assert labels.filter("cid != 0").count() == 0
    remaining = len(jsc.getRDDStorageInfo()) - base
    assert remaining <= 2, (
        f"{remaining} persisted RDDs left after one CC call — superseded "
        "round checkpoints are leaking"
    )


def test_assert_star_forest_releases_probe_blocks(spark):
    """The assertion-only wrapper discards its labels — its probe
    blocks must be released before returning (r6 advice)."""
    from iceberg_cache_spark.operators.dedup import _assert_star_forest

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    base = len(jsc.getRDDStorageInfo())
    e = spark.createDataFrame([(1, 0), (2, 0), (5, 4)], ["u", "v"])
    _assert_star_forest(e)
    # <= not ==: the leak check is "no NEW blocks"; the async
    # ContextCleaner may release an earlier test's blocks between the
    # base capture and here, making the delta negative in a full-suite
    # run (observed r10 — exact-zero was order-flaky)
    assert len(jsc.getRDDStorageInfo()) - base <= 0
