"""Property-based equivalence: random filter/projection predicates run
through Spark and DuckDB must agree (generalizes the corpus's fixed
queries; catches dialect drift the declared set doesn't cover)."""

from __future__ import annotations

import os

import duckdb
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from iceberg_cache_spark.sources.testdata import load_table

COLUMNS = {
    "l_quantity": (1, 50),
    "l_discount": (0.0, 0.1),
    "l_linenumber": (1, 7),
    "l_orderkey": (1, 60000),
}
OPS = ("<", "<=", ">", ">=", "=", "<>")


@st.composite
def predicate(draw) -> str:
    col = draw(st.sampled_from(sorted(COLUMNS)))
    op = draw(st.sampled_from(OPS))
    lo, hi = COLUMNS[col]
    if isinstance(lo, float):
        val = round(draw(st.floats(lo, hi, allow_nan=False)), 3)
    else:
        val = draw(st.integers(lo, hi))
    return f"{col} {op} {val}"


@st.composite
def where_clause(draw) -> str:
    preds = draw(st.lists(predicate(), min_size=1, max_size=3))
    glue = draw(st.sampled_from([" AND ", " OR "]))
    return glue.join(preds)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    path = os.path.join(sf_dir, "lineitem.parquet")
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')"
    )
    yield con
    con.close()


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(clause=where_clause())
def test_random_filters_match_duckdb(spark, sf_dir, duck, clause):
    li = load_table(spark, sf_dir, "lineitem")
    got = sorted(
        (r.l_orderkey, r.l_linenumber)
        for r in li.filter(clause).select("l_orderkey", "l_linenumber").collect()
    )
    want = sorted(
        duck.execute(
            f"SELECT l_orderkey, l_linenumber FROM lineitem WHERE {clause}"
        ).fetchall()
    )
    assert got == want, f"filter mismatch for: {clause}"


JOIN_TYPES = ("inner", "left", "left_semi", "left_anti")


@st.composite
def join_case(draw):
    jt = draw(st.sampled_from(JOIN_TYPES))
    bal = round(draw(st.floats(-999.0, 9999.0, allow_nan=False)), 2)
    return jt, bal


@pytest.fixture(scope="module")
def duck_join(sf_dir):
    con = duckdb.connect()
    for t in ("orders", "customer"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=join_case())
def test_random_joins_match_duckdb(spark, sf_dir, duck_join, case):
    from iceberg_cache_spark.sources.testdata import load_table

    jt, bal = case
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(f"c_acctbal > {bal}")
    got = o.join(c, o.o_custkey == c.c_custkey, jt).count()
    sub = f"SELECT c_custkey FROM customer WHERE c_acctbal > {bal}"
    if jt == "inner":
        sql = f"SELECT COUNT(*) FROM orders o JOIN ({sub}) c ON o.o_custkey = c.c_custkey"
    elif jt == "left":
        sql = f"SELECT COUNT(*) FROM orders o LEFT JOIN ({sub}) c ON o.o_custkey = c.c_custkey"
    elif jt == "left_semi":
        sql = f"SELECT COUNT(*) FROM orders o WHERE o.o_custkey IN ({sub})"
    else:
        sql = f"SELECT COUNT(*) FROM orders o WHERE o.o_custkey NOT IN ({sub})"
    want = duck_join.execute(sql).fetchone()[0]
    assert got == want, f"{jt} join mismatch at bal>{bal}: spark={got} duckdb={want}"


# ---------------------------------------------------------------------------
# Round 5: Jaccard threshold-boundary property — for ANY float threshold,
# the Spark pair set equals the DISTINCT-gram DuckDB oracle (the class of
# bug ADVICE r5 #1 found: binary-rounding thresholds pruning exact-
# threshold pairs via the size prefilter).
# ---------------------------------------------------------------------------


def _jaccard_oracle_pairs(texts, threshold):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
        + ") AS t(doc_id, text)"
    )
    rows = con.execute(
        f"""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        allgrams AS (
          SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   array_to_string(t[CAST(i+1 AS BIGINT):CAST(i+3 AS BIGINT)], ' ') AS g
            FROM toks, UNNEST(range(greatest(len(t) - 2, 1))) AS u(i))),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM allgrams GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM allgrams a JOIN allgrams b USING (g)
          WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(i / CAST(sa.sz + sb.sz - i AS DOUBLE), 4) >= {threshold!r}
        """
    ).fetchall()
    con.close()
    return set(map(tuple, rows))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    threshold=st.sampled_from([0.1, 0.2, 0.25, 0.3, 0.4, 0.5, 0.6, 0.7, 0.75]),
    seed=st.integers(0, 10_000),
)
def test_jaccard_pairs_match_oracle_any_threshold(spark, threshold, seed):
    import random as _random

    from iceberg_cache_spark.operators.dedup import ngram_jaccard_pairs

    rng = _random.Random(seed)
    vocab = [f"w{i}" for i in range(25)]
    texts = []
    for i in range(12):
        if texts and rng.random() < 0.5:
            # overlap-heavy variant of an earlier doc (exercises the
            # size-ratio prefilter at many intersection/size ratios)
            base = texts[rng.randrange(len(texts))].split()
            cut = rng.randrange(1, len(base) + 1)
            extra = [rng.choice(vocab) for _ in range(rng.randrange(0, 6))]
            texts.append(" ".join(base[:cut] + extra))
        else:
            texts.append(
                " ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 25)))
            )
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(
            df, n=3, threshold=threshold, max_doc_freq=10**9
        ).collect()
    }
    assert got == _jaccard_oracle_pairs(texts, threshold)


# -- arrow vs fold candidate-generation parity under random vectors --------
#
# Generalizes the fixture parity tests: on random (tie-free) float
# vectors, the Arrow matmul path and the Catalyst fold path must
# produce identical IVF assignments and LSH buckets. (Exact distance
# ties are excluded by construction — random draws hit them with
# probability 0 — because the two formulations round differently at
# the ulp and the approximation contract allows either side of a tie.)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(seed=st.integers(0, 2**31 - 1))
def test_ivf_and_lsh_arrow_fold_parity_random(spark, seed):
    import random as _random

    from iceberg_cache_spark.operators import similarity as S

    rng = _random.Random(seed)
    dim = 8
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = [(c, [rng.uniform(-1, 1) for _ in range(dim)]) for c in range(4)]
    fold = {r.vec_id: r.ivf_cell
            for r in S.ivf_assign(df, cents, impl="fold").collect()}
    arrow = {r.vec_id: r.ivf_cell
             for r in S.ivf_assign(df, cents, impl="arrow").collect()}
    assert fold == arrow
    bf = {r.vec_id: r.lsh_bucket
          for r in S.with_lsh_bucket(df, "embedding", dim, 5, seed=seed % 97, impl="fold").collect()}
    ba = {r.vec_id: r.lsh_bucket
          for r in S.with_lsh_bucket(df, "embedding", dim, 5, seed=seed % 97, impl="arrow").collect()}
    assert bf == ba


# -- rolling time-range aggregate vs Spark's own RANGE frame ---------------
#
# Randomized form of the fixed-case tests in test_operators.py: on
# random (user, ts, value-with-NULLs) corpora and random frame widths,
# the O(n log n) prefix-sum rewrite must agree exactly with Spark's
# naive bounded RANGE frame — including COUNT(*) counting NULL-value
# rows while an all-NULL frame sums to NULL (the round-5 driver red).


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(seed=st.integers(0, 2**31 - 1), width=st.sampled_from([1, 40, 120]))
def test_rolling_time_agg_matches_naive_random(spark, seed, width):
    import random as _random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from iceberg_cache_spark.operators.rolling import rolling_time_agg

    rng = _random.Random(seed)
    rows = [
        (
            i,
            rng.randint(0, 2),
            rng.randint(0, 300),  # dense ts range: frames overlap heavily
            None if rng.random() < 0.25 else round(rng.uniform(-50, 50), 2),
        )
        for i in range(rng.randint(1, 60))
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, us bigint, v double"
    ).select(
        "event_id", "user_id", "us",
        F.col("v").cast("decimal(18,2)").alias("dv"),
    )
    got = {
        r.event_id: (r.n, None if r.s is None else float(r.s))
        for r in rolling_time_agg(ev, width, cnt_out="n", sum_out="s").collect()
    }
    w = W.partitionBy("user_id").orderBy("us").rangeBetween(-width, 0)
    naive = {
        r.event_id: (r.n, None if r.s is None else float(r.s))
        for r in ev.select(
            "event_id",
            F.count("*").over(w).alias("n"),
            F.sum("dv").over(w).alias("s"),
        ).collect()
    }
    assert got == naive


# -- chunked rolling aggregate: bit-identical to the unchunked plan --------
#
# The skew-resilient (user, time-bucket)+halo decomposition
# (rolling_time_agg_chunked) must agree exactly with rolling_time_agg
# on random corpora — including NULL timestamps (peer-group frames),
# NULL values, events landing exactly ON bucket boundaries, and bucket
# widths at the legality floor (bucket_us == width_us).


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 2**31 - 1),
    width=st.sampled_from([1, 40, 120]),
    bucket_mult=st.sampled_from([1, 2, 4]),
)
def test_rolling_chunked_matches_unchunked_random(spark, seed, width, bucket_mult):
    import random as _random

    from pyspark.sql import functions as F

    from iceberg_cache_spark.operators.rolling import (
        rolling_time_agg,
        rolling_time_agg_chunked,
    )

    rng = _random.Random(seed)
    bucket = width * bucket_mult
    rows = []
    for i in range(rng.randint(1, 60)):
        if rng.random() < 0.1:
            ts = None  # NULL ordering keys: peer-group frames
        elif rng.random() < 0.2:
            ts = bucket * rng.randint(0, 4)  # exactly on a boundary
        else:
            ts = rng.randint(0, 300)
        rows.append(
            (
                i,
                None if rng.random() < 0.1 else rng.randint(0, 2),
                ts,
                None if rng.random() < 0.25 else round(rng.uniform(-50, 50), 2),
            )
        )
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, us bigint, v double"
    ).select(
        "event_id", "user_id", "us",
        F.col("v").cast("decimal(18,2)").alias("dv"),
    )
    base = {
        r.event_id: (r.n, None if r.s is None else float(r.s))
        for r in rolling_time_agg(ev, width, cnt_out="n", sum_out="s").collect()
    }
    chunked = {
        r.event_id: (r.n, None if r.s is None else float(r.s))
        for r in rolling_time_agg_chunked(
            ev, width, bucket, cnt_out="n", sum_out="s"
        ).collect()
    }
    assert chunked == base


def test_rolling_chunked_rejects_narrow_buckets(spark):
    import pytest as _pytest

    from pyspark.sql import functions as F

    from iceberg_cache_spark.operators.rolling import rolling_time_agg_chunked

    ev = spark.createDataFrame(
        [(1, 1, 10, 1.0)], "event_id bigint, user_id bigint, us bigint, v double"
    ).select(
        "event_id", "user_id", "us", F.col("v").cast("decimal(18,2)").alias("dv")
    )
    with _pytest.raises(ValueError):
        rolling_time_agg_chunked(ev, width_us=100, bucket_us=99)


# -- chunked sessionization: bit-identical to the single-window plan -------
#
# sessionize_chunked's two-phase (local sessions per bucket, bucket-
# summary merge) must reproduce the lag+running-sum sessionization
# exactly on random corpora: NULL timestamps (own trailing sessions),
# sessions spanning 2 and 3+ buckets, boundary-exact events, and
# buckets smaller than the gap (legal here, unlike the rolling halo).


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 2**31 - 1),
    gap=st.sampled_from([5, 30]),
    bucket=st.sampled_from([7, 40, 200]),
)
def test_sessionize_chunked_matches_single_window_random(spark, seed, gap, bucket):
    import random as _random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from iceberg_cache_spark.operators.sessionize import sessionize_chunked

    rng = _random.Random(seed)
    rows = []
    t = 0
    for i in range(rng.randint(1, 80)):
        if rng.random() < 0.1:
            ts = None
        else:
            # mostly small steps (sessions span buckets), occasional
            # long jumps (gap breaks), some boundary-exact landings
            t += rng.choice([1, 2, 3, gap, gap + 1, bucket, 2 * bucket + gap])
            ts = t - (t % bucket) if rng.random() < 0.2 else t
        rows.append((i, None if rng.random() < 0.1 else rng.randint(0, 2), ts))
    ev = spark.createDataFrame(rows, "event_id bigint, user_id bigint, us bigint")

    got = {
        (r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us)
        for r in sessionize_chunked(ev, gap, bucket).collect()
    }
    w = W.partitionBy("user_id").orderBy(F.col("us").asc_nulls_last(), "event_id")
    gaps = ev.withColumn(
        "new_sess",
        F.when(
            F.col("us").isNull()
            | (F.col("us") - F.lag("us").over(w) > gap)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn(
        "session_id",
        F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
    )
    ref = {
        (r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us)
        for r in sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
        )
        .collect()
    }
    assert got == ref


def test_sessionize_chunked_rejects_nonpositive_bucket(spark):
    import pytest as _pytest

    from iceberg_cache_spark.operators.sessionize import sessionize_chunked

    ev = spark.createDataFrame([(1, 1, 10)], "event_id bigint, user_id bigint, us bigint")
    with _pytest.raises(ValueError):
        sessionize_chunked(ev, gap_us=5, bucket_us=0)


# -- chunked session funnel: bit-identical to the single-window plan -------
#
# session_funnel_chunked's monoid composition (segment flags per
# (user, bucket, local-session), two cumulative windows over segment
# summaries) must reproduce q156's stacked running-max flags exactly:
# stages split across buckets in every arrangement, sessions spanning
# 3+ buckets, NULL timestamps, buckets smaller than the gap.


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(0, 2**31 - 1),
    gap=st.sampled_from([5, 30]),
    bucket=st.sampled_from([7, 40, 200]),
)
def test_session_funnel_chunked_matches_single_window_random(spark, seed, gap, bucket):
    import random as _random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from iceberg_cache_spark.operators.sessionize import session_funnel_chunked

    rng = _random.Random(seed)
    rows, t = [], 0
    for i in range(rng.randint(1, 80)):
        if rng.random() < 0.1:
            ts = None
        else:
            t += rng.choice([1, 2, 3, gap, gap + 1, bucket, 2 * bucket + gap])
            ts = t - (t % bucket) if rng.random() < 0.2 else t
        rows.append(
            (i, None if rng.random() < 0.1 else rng.randint(0, 2), ts, rng.choice(["view", "click", "purchase", "other"]))
        )
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, us bigint, event_type string"
    )
    got = {
        (r.user_id, r.session_id): (
            r.n_events, r.reached_view, r.reached_click, r.reached_purchase
        )
        for r in session_funnel_chunked(ev, gap, bucket).collect()
    }
    # the q156 single-window formulation, inline
    wu = W.partitionBy("user_id").orderBy(F.col("us").asc_nulls_last(), "event_id")
    sess = ev.withColumn(
        "new_sess",
        F.when(
            F.col("us").isNull()
            | (F.col("us") - F.lag("us").over(wu) > gap)
            | F.lag("us").over(wu).isNull(),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("new_sess").over(wu.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"),
    )
    ws = (
        W.partitionBy("user_id", "session_id")
        .orderBy(F.col("us").asc_nulls_last(), "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    f1 = sess.withColumn(
        "sv", F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).over(ws)
    )
    f2 = f1.withColumn(
        "cv",
        F.max(
            F.when((F.col("event_type") == "click") & (F.col("sv") == 1), 1).otherwise(0)
        ).over(ws),
    )
    f3 = f2.withColumn(
        "pc",
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("cv") == 1), 1).otherwise(0)
        ).over(ws),
    )
    ref = {
        (r.user_id, r.session_id): (r.n_events, r.rv, r.rc, r.rp)
        for r in f3.groupBy("user_id", "session_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("sv").cast("int").alias("rv"),
            F.max("cv").cast("int").alias("rc"),
            F.max("pc").cast("int").alias("rp"),
        )
        .collect()
    }
    assert got == ref


# -- connected components: star vs min-label vs a driver union-find --------
#
# Random graphs (including disconnected nodes, chains, dense blobs):
# both distributed CC algorithms must agree with an independent
# in-Python union-find on the min-id-per-component labeling. This is
# the cross-check that guards the dedup tier's transitive closure —
# the star fixpoint's shape contract is loud, but agreement on random
# graph SHAPES (not just planted near-dup clusters) is what rules out
# a wrong-but-star-shaped fixpoint.


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(seed=st.integers(0, 2**31 - 1))
def test_cc_star_minlabel_unionfind_agree(spark, seed):
    import random as _random

    from iceberg_cache_spark.operators import dedup as D

    rng = _random.Random(seed)
    n = rng.randint(2, 28)
    m = rng.randint(1, 70)
    edges = []
    while len(edges) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:  # pair emitters never emit self-pairs
            edges.append((a, b))
    # driver-side union-find reference
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = sorted({v for e in edges for v in e})
    want = {}
    comp_min: dict = {}
    for v in touched:
        comp_min.setdefault(find(v), v)  # touched is sorted: first is min
    for v in touched:
        want[v] = comp_min[find(v)]

    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    star = {r.id: r.cid for r in D.connected_components_star(pairs).collect()}
    minl = {r.id: r.cid for r in D.connected_components(pairs, max_iter=40).collect()}
    assert star == want
    assert minl == want


# ---------------------------------------------------------------------------
# Packing-tier invariants (round 11): random corpora through q179/q184/
# q187 must satisfy the structural laws of concat-and-chunk packing —
# properties the fixed oracle fixtures can't sweep (random doc sizes,
# empty/NULL mixes, boundary-straddling docs of every phase).
# ---------------------------------------------------------------------------


@st.composite
def random_corpus(draw):
    """(doc_id, text) rows: random token counts 0..1300 (crossing the
    512-token pack budget at every phase), with NULL/empty sprinkles
    and non-contiguous ids."""
    n = draw(st.integers(3, 12))
    ids = draw(
        st.lists(st.integers(0, 4000), min_size=n, max_size=n, unique=True)
    )
    rows = []
    for i in ids:
        kind = draw(st.sampled_from(["tok", "tok", "tok", "empty", "null"]))
        if kind == "null":
            rows.append((i, None))
        elif kind == "empty":
            rows.append((i, ""))
        else:
            rows.append((i, "w " * draw(st.integers(1, 1300))))
    return rows


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=random_corpus())
# a corpus with no tokens at all packs nothing: every tier must be empty
@example(rows=[(0, ""), (1, None), (2, "")])
def test_packing_invariants(spark, tmp_path_factory, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_cache_spark.plans import QUERIES
    from iceberg_cache_spark.plans.datapipe import PACK_TOKENS

    d = tmp_path_factory.mktemp("packprop")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array(["en"] * len(rows)),
            "n_chars": pa.array(
                [len(r[1]) if r[1] else 0 for r in rows], pa.int64()
            ),
            "source": pa.array(["t"] * len(rows)),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))

    place = QUERIES["q179_sequence_packing"](spark, str(d)).collect()
    exp_tokens = {
        i: (len(t.split()) if t else 0) for i, t in rows
    }
    exp_packed = {i: n for i, n in exp_tokens.items() if n > 0}
    # every non-empty doc placed exactly once, in doc_id order, with a
    # seamless prefix sum (start_off = sum of all smaller-id docs)
    assert {r.doc_id for r in place} == set(exp_packed)
    off = 0
    for r in sorted(place, key=lambda r: r.doc_id):
        assert r.n_tokens == exp_packed[r.doc_id]
        assert r.start_off == off
        assert r.pack_first == off // PACK_TOKENS
        assert r.pack_last == (off + r.n_tokens - 1) // PACK_TOKENS
        off += r.n_tokens

    man = QUERIES["q184_pack_manifest"](spark, str(d)).collect()
    # per-doc slices reassemble the doc exactly: contiguous from 0
    by_doc: dict = {}
    for m in man:
        by_doc.setdefault(m.doc_id, []).append(m)
    assert set(by_doc) == set(exp_packed)
    for i, slices in by_doc.items():
        slices.sort(key=lambda m: m.slice_start)
        assert slices[0].slice_start == 0
        pos = 0
        for s in slices:
            assert s.slice_start == pos and s.slice_len > 0
            pos += s.slice_len
        assert pos == exp_packed[i]
    # per-pack: positions gap-free from 0; every pack except the last
    # filled to exactly PACK_TOKENS
    by_pack: dict = {}
    for m in man:
        by_pack.setdefault(m.pack_id, []).append(m)
    last = max(by_pack, default=-1)
    assert set(by_pack) == set(range(last + 1))  # no empty packs
    for p, slices in by_pack.items():
        slices.sort(key=lambda m: m.pos_in_pack)
        pos = 0
        for s in slices:
            assert s.pos_in_pack == pos
            pos += s.slice_len
        assert pos == PACK_TOKENS if p < last else pos <= PACK_TOKENS

    stats = {
        r.pack_id: r for r in QUERIES["q187_pack_stats"](spark, str(d)).collect()
    }
    assert set(stats) == set(by_pack)
    for p, slices in by_pack.items():
        s = stats[p]
        assert s.n_slices == len(slices)
        assert s.tokens_filled == sum(m.slice_len for m in slices)
        whole = sum(1 for m in slices if m.slice_len == exp_packed[m.doc_id])
        assert s.n_whole_docs == whole
        assert s.n_split_slices == len(slices) - whole


# ---------------------------------------------------------------------------
# Decontamination-triad invariants (round 11): random corpora through
# q180/q185/q186 must match an independent pure-Python model — a THIRD
# implementation besides Spark and the DuckDB oracle, covering random
# overlap/island phases the planted fixtures can't sweep. Texts are
# single-space lowercase words so whitespace split IS the engine
# tokenizer on this domain.
# ---------------------------------------------------------------------------


def _decon_model(rows, span_k=5, mod=97):
    """(doc_id, text) -> (flagged q180 view, q185 rewrite view)."""
    toks = {i: (t.split() if t else []) for i, t in rows}

    def spans(t):
        n = len(t)
        out = []
        for i in range(max(n - span_k + 1, 1)):
            s = " ".join(t[i : i + span_k])
            if s:
                out.append((i, s))
        return out

    bench_ids = {i for i, _ in rows if i % mod == 0}
    bench = {s for i in bench_ids for _, s in spans(toks[i])}
    rewrite = {}
    flagged = {}
    for i, t in rows:
        if i in bench_ids:
            continue
        tt = toks[i]
        hits = sorted(
            (p, min(p + span_k, len(tt)) - 1)
            for p, s in spans(tt)
            if s in bench
        )
        # interval union
        isles = []
        for s, e in hits:
            if isles and s <= isles[-1][1]:
                isles[-1] = (isles[-1][0], max(isles[-1][1], e))
            else:
                isles.append((s, e))
        kept = [
            w
            for k, w in enumerate(tt)
            if not any(s <= k <= e for s, e in isles)
        ]
        rewrite[i] = (" ".join(kept), len(tt), len(kept), 1 if isles else 0)
        if isles:
            n_spans = len({s for _, s in spans(tt) if s in bench})
            flagged[i] = n_spans
    return flagged, rewrite


@st.composite
def decon_corpus(draw):
    """Small shared vocabulary so bench/corpus spans actually collide;
    doc 0 always present (the bench split's anchor)."""
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    n = draw(st.integers(3, 9))
    ids = [0] + draw(
        st.lists(st.integers(1, 400), min_size=n, max_size=n, unique=True)
    )
    rows = []
    for i in ids:
        ln = draw(st.integers(0, 14))
        words = [draw(st.sampled_from(vocab)) for _ in range(ln)]
        rows.append((i, " ".join(words)))
    return rows


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=decon_corpus())
def test_decontam_triad_matches_python_model(spark, tmp_path_factory, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iceberg_cache_spark.plans import QUERIES

    flagged, rewrite = _decon_model(rows)
    d = tmp_path_factory.mktemp("deconprop")
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array(["en"] * len(rows)),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            "source": pa.array(["t"] * len(rows)),
        }
    )
    pq.write_table(tbl, str(d / "documents.parquet"))

    got180 = {
        r.doc_id: r.n_shared_spans
        for r in QUERIES["q180_benchmark_decontam"](spark, str(d)).collect()
    }
    assert got180 == flagged

    got185 = {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_kept, r.was_contaminated)
        for r in QUERIES["q185_decontam_rewrite"](spark, str(d)).collect()
    }
    assert got185 == rewrite

    got186 = {
        r.doc_id: (r.tokens_contaminated, r.n_tokens)
        for r in QUERIES["q186_decontam_accounting"](spark, str(d)).collect()
    }
    assert set(got186) == set(flagged)
    for i, (masked, n) in got186.items():
        # accounting must agree with the rewrite's kept count
        assert n - masked == rewrite[i][2]
