"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (broadcast the query set; one pass
over the corpus; per-query top-k via window rank).

Scale path: random-hyperplane LSH — bucket vectors by sign pattern of a
fixed seeded projection set, then search only matching buckets. The
hyperplanes are generated from a deterministic seed and shipped as plan
literals (no driver-side state, no UDF).

Determinism: reported similarities accumulate through DECIMAL(28,12) of
the per-element double product — exact and order-independent, identical
on a 1000-executor cluster and in the DuckDB oracle.

Performance: norms are computed once per vector (not once per pair),
and threshold operators pre-filter with a cheap double-fold dot (also
deterministic: fixed fold order), rescoring only survivors exactly —
the exact-decimal path runs on a tiny fraction of the pair space.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from iceberg_cache_spark.operators.materialize import materialize

PDEC = "decimal(28,12)"

# Implementation dial for the *candidate-generation* stages (LSH bucket
# assignment, IVF cell assignment / probe selection):
#   "arrow" (default) — Arrow-batched pandas_udf doing one float64 numpy
#       matmul per batch. This is the 100 TB hot path: dense linear
#       algebra is exactly what Catalyst's higher-order functions
#       evaluate interpreted (~1 ms/vector for 16 centroids x 64 dims,
#       measured in SCALE_r5.md), and what a BLAS matmul does in ~1 us.
#   "fold" — pure Catalyst zip_with/aggregate folds with a fixed
#       accumulation order: bit-reproducible across machines and kept as
#       the reference implementation (and for plan-literal-only
#       deployments where no Python workers exist).
# The dial only moves WHICH candidates are generated; both paths feed
# the same exact-decimal rescoring, and the operators' declared contract
# is approximate (rows-only in the driver check). A vector whose
# projection / centroid margin sits within ~1 ulp may bucket differently
# between the two paths — that is inside the approximation contract.
DEFAULT_IMPL = "arrow"


def _exact_dot(a: Column, b: Column) -> Column:
    """Order-independent dot product: Σ decimal(double(x)*double(y))."""
    prods = F.zip_with(
        a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(PDEC)
    )
    # merge result must keep the accumulator's exact decimal type
    # (decimal + decimal widens precision, which aggregate() rejects)
    return F.aggregate(
        prods, F.lit(0).cast(PDEC), lambda acc, v: (acc + v).cast(PDEC)
    ).cast("double")


def _fast_dot(a: Column, b: Column) -> Column:
    """Double-fold dot: deterministic (fixed order) but not decimal-exact.
    Used only as a pre-filter with an epsilon margin."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(_exact_dot(a, a))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force cosine top-k: (query_id, vec_id, sim, rnk).

    The query side is broadcast; the corpus is scanned once with its
    norm computed once per vector. At large n, pre-prune with
    ``lsh_cosine_topk``.
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        id_col, vec_col, _norm(F.col(vec_col)).alias("c_norm")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        (
            F.round(
                _exact_dot(F.col(vec_col), F.col("q_vec"))
                / (F.col("c_norm") * F.col("q_norm")),
                6,
            )
            + 0.0  # normalize IEEE -0.0 (engines disagree on its sign)
        ).alias("sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "sim", "rnk")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit hyperplanes (seeded PRNG, driver-independent)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def _stack_batch(vs: pd.Series) -> np.ndarray:
    """(B, dim) float64 matrix from an Arrow batch of array<float>.

    Raises a diagnosable error on null / ragged vectors: at scale one
    bad row would otherwise kill the stage with numpy's opaque
    "all input arrays must have the same shape"."""
    if vs.isna().values.any():
        raise ValueError(
            "embedding column contains a NULL vector in this Arrow batch; "
            "filter nulls upstream (or use impl='fold')"
        )
    try:
        m = np.stack(vs.to_numpy())
    except (ValueError, TypeError) as exc:
        raise ValueError(
            "embedding column contains a NULL or ragged-length vector in "
            "this Arrow batch; filter nulls / enforce a fixed dim upstream "
            f"(or use impl='fold'): {exc}"
        ) from None
    if m.ndim != 2:
        raise ValueError(
            "embedding column is not a fixed-dim array<float> in this "
            "Arrow batch (stacked shape %r); enforce a fixed dim upstream"
            % (m.shape,)
        )
    return m.astype(np.float64, copy=False)


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    impl: str | None = None,
) -> DataFrame:
    """Attach a sign-pattern LSH bucket id (int in [0, 2^n_planes)).

    impl="arrow": one (B, dim) x (dim, n_planes) float64 matmul per
    Arrow batch — sign bits packed with a weight vector. impl="fold":
    the Catalyst double-fold reference (fixed accumulation order).
    Exactness doesn't matter for bucketing; see DEFAULT_IMPL."""
    impl = impl or DEFAULT_IMPL
    planes = _hyperplanes(dim, n_planes, seed)
    if impl == "fold":
        bucket = F.lit(0)
        for i, plane in enumerate(planes):
            lit_plane = F.array(*[F.lit(x) for x in plane])
            d = _fast_dot(F.col(vec_col), lit_plane)
            bucket = bucket + F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        return df.withColumn("lsh_bucket", bucket)

    P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @F.pandas_udf("int")
    def _bucket(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=np.int32)
        signs = _stack_batch(vs) @ P.T >= 0.0  # (B, n_planes)
        return pd.Series((signs * weights).sum(axis=1).astype(np.int32))

    return df.withColumn("lsh_bucket", _bucket(F.col(vec_col)))


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_planes: int = 6,
    impl: str | None = None,
) -> DataFrame:
    """Approximate top-k: only candidates in the query's LSH bucket are
    scored. Recall < 1 by design; at 100 TB this turns a full-corpus
    scan per query into a bucket-pruned probe (buckets can be the
    table's partition key so pruning happens at the file level)."""
    c = with_lsh_bucket(corpus, vec_col, dim, n_planes, impl=impl).select(
        id_col, vec_col, "lsh_bucket", _norm(F.col(vec_col)).alias("c_norm")
    )
    q = with_lsh_bucket(queries, vec_col, dim, n_planes, impl=impl).select(
        F.col(query_id_col),
        F.col(vec_col).alias("q_vec"),
        "lsh_bucket",
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    scored = c.join(F.broadcast(q), "lsh_bucket").select(
        query_id_col,
        id_col,
        (
            F.round(
                _exact_dot(F.col(vec_col), F.col("q_vec"))
                / (F.col("c_norm") * F.col("q_norm")),
                6,
            )
            + 0.0  # normalize IEEE -0.0 (engines disagree on its sign)
        ).alias("sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "sim", "rnk")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 4,
    impl: str | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs by cosine ≥ threshold, LSH-bucketed
    so the pair space is per-bucket instead of n². Survivor pairs of a
    cheap double prefilter (threshold − 1e-6 margin) are rescored with
    the exact decimal dot before the final threshold test.

    impl="arrow" (default, round 13): candidate generation is ONE
    chunked numpy matmul per bucket inside applyInPandas — the bucket
    self-join previously materialized every b² candidate row through a
    Catalyst higher-order-function dot (interpreted per element, no
    codegen), so the prefilter itself dominated. The kernel emits only
    the prefilter survivors; the exact decimal rescore then runs on
    those few rows via two id-keyed join-backs. impl="fold" keeps the
    join+fold reference shape; both paths end at the SAME exact decimal
    threshold test, and any float64-vs-decimal disagreement lives
    strictly inside the 1e-6 prefilter margin (a 64-term float64 dot
    carries ~1e-13 relative error), so the emitted pair set is
    identical — pinned fold-vs-arrow in test_round13_opt.py."""
    impl = impl or DEFAULT_IMPL
    b = with_lsh_bucket(df, vec_col, dim, n_planes, impl=impl).select(
        F.col(id_col), F.col(vec_col), "lsh_bucket", _norm(F.col(vec_col)).alias("nrm")
    )
    exact_sim = (
        F.round(
            _exact_dot(F.col("v_a"), F.col("v_b"))
            / (F.col("n_a") * F.col("n_b")),
            6,
        )
        + 0.0
    ).alias("sim")
    if impl == "fold":
        a = b.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("v_a"),
            F.col("nrm").alias("n_a"),
            "lsh_bucket",
        )
        c = b.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("v_b"),
            F.col("nrm").alias("n_b"),
            "lsh_bucket",
        )
        fast_sim = _fast_dot(F.col("v_a"), F.col("v_b")) / (
            F.col("n_a") * F.col("n_b")
        )
        return (
            a.join(c, "lsh_bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(fast_sim >= threshold - 1e-6)
            .select("id_a", "id_b", exact_sim)
            .filter(F.col("sim") >= threshold)
            .distinct()
        )

    # arrow: the bucket frame feeds candidate generation plus both
    # rescore join-backs — materialize once (lazy; the first consumer's
    # job fills the blocks).
    b = materialize(b, eager=False)
    id_type = df.schema[id_col].dataType.simpleString()
    margin = threshold - 1e-6
    # Rows the fold prefilter could never emit (a NULL id never
    # satisfies id_a < id_b; NULL/wrong-dim/NULL-element vectors and
    # NULL norms yield NULL fast_sim) are dropped before the kernel so
    # np.stack sees a clean fixed-dim batch.
    clean = b.filter(
        F.col(id_col).isNotNull()
        & F.col("nrm").isNotNull()
        & (F.size(F.col(vec_col)) == dim)
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
    ).select(id_col, vec_col, "nrm", "lsh_bucket")

    def _gen(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                                 "id_b": pd.Series([], dtype="int64")})
        ids = pdf[id_col].to_numpy()
        V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        out_a, out_b = [], []
        # chunked rows bound the score matrix at CH x n whatever the
        # bucket size (hot buckets stream, never allocate b² floats)
        CH = 2048
        with np.errstate(divide="ignore", invalid="ignore"):
            for i0 in range(0, n, CH):
                i1 = min(i0 + CH, n)
                S = (V[i0:i1] @ V.T) / np.outer(nrm[i0:i1], nrm)
                ia, ib = np.nonzero(S >= margin)
                keep = ids[i0 + ia] < ids[ib]
                out_a.append(ids[i0 + ia][keep])
                out_b.append(ids[ib][keep])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    cand = clean.groupBy("lsh_bucket").applyInPandas(
        _gen, f"id_a {id_type}, id_b {id_type}"
    )
    sa = b.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        F.col("nrm").alias("n_a"),
    )
    sb = b.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        F.col("nrm").alias("n_b"),
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", exact_sim)
        .filter(F.col("sim") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantization + probed search
# ---------------------------------------------------------------------------


def _centroid_mats(
    centroids: list[tuple[int, list[float]]]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, C, ||c||^2) in centroid-list order (ties keep list order,
    matching the fold path's strict `<`). Zero centroids (an empty
    corpus seeded zero cells — empty-input gate, r6) yields explicit
    (0, 0)-shaped matrices instead of an axis error; downstream probe
    UDFs never run because there are no data rows either."""
    ids = np.asarray([cid for cid, _ in centroids], dtype=np.int64)
    C = np.asarray([c for _, c in centroids], dtype=np.float64)
    if C.size == 0:
        C = C.reshape(0, 0)
    return ids, C, (C * C).sum(axis=1)


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out: str = "ivf_cell",
    impl: str | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (argmin L2).

    impl="arrow": per Arrow batch, argmin over ||c||^2 - 2 v.C^T (the
    ||v||^2 term is constant per row) — one matmul instead of
    n_cells x dim interpreted lambda steps per vector (SCALE_r5.md
    measured the fold at ~1 ms/vector for 16x64). impl="fold": the
    bit-reproducible Catalyst reference; centroids ship as plan
    literals. Both break distance ties toward the earlier centroid in
    list order."""
    impl = impl or DEFAULT_IMPL
    # zero centroids (an empty corpus seeded zero cells): a typed NULL
    # cell on BOTH impls — the fold loop would otherwise build
    # withColumn(out, None) and fail at plan time even with no data
    # rows (empty-input gate, r6; review follow-up for impl="fold")
    if not centroids:
        return df.withColumn(out, F.lit(None).cast("int"))
    if impl == "fold":
        best_id, best_d = None, None
        for cid, cvec in centroids:
            lit_c = F.array(*[F.lit(float(x)) for x in cvec])
            d = F.aggregate(
                F.zip_with(
                    F.col(vec_col), lit_c, lambda x, y: (x.cast("double") - y) ** 2
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            if best_id is None:
                best_id, best_d = F.lit(cid), d
            else:
                best_id = F.when(d < best_d, F.lit(cid)).otherwise(best_id)
                best_d = F.least(d, best_d)
        return df.withColumn(out, best_id)

    ids, C, cc = _centroid_mats(centroids)

    @F.pandas_udf("int")
    def _cell(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=np.int32)
        score = cc[None, :] - 2.0 * (_stack_batch(vs) @ C.T)  # (B, m)
        return pd.Series(ids[np.argmin(score, axis=1)].astype(np.int32))

    return df.withColumn(out, _cell(F.col(vec_col)))


def ivf_centroids_from_sample(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids: per hash bucket, the vector with
    the smallest id (a seeding pass; k-means refinement is an optional
    offline job — the *index structure* is what matters for the probe
    path). One partial-aggregating hash aggregate — map-side combine
    reduces each task to ≤n_cells rows before the shuffle, so the job
    scales with the corpus like any groupBy, with **no** single-digit-
    partition window sort (the previous row_number().over(partitionBy
    (_b)) funneled the whole corpus through n_cells sort tasks). The
    result is n_cells rows — a legitimate driver-side collect, broadcast
    into the plan as literals."""
    rows = (
        corpus.select(id_col, vec_col)
        .withColumn("_b", F.abs(F.xxhash64(F.col(id_col).cast("string"))) % n_cells)
        .groupBy("_b")
        .agg(F.min_by(F.col(vec_col), F.col(id_col)).alias(vec_col))
        .collect()
    )
    return [(int(r["_b"]), [float(x) for x in r[vec_col]]) for r in rows]


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    impl: str | None = None,
) -> DataFrame:
    """IVF probe: score only corpus vectors in the query's ``n_probe``
    nearest cells. At 100 TB the corpus is *partitioned by ivf_cell*, so
    a probe is file-level pruning + a small scan, not a full pass."""
    impl = impl or DEFAULT_IMPL
    if not centroids:
        # no cells to probe (empty corpus): typed empty result on both
        # impls — the fold probe array and the arrow argsort are both
        # undefined over zero centroids
        return corpus.sparkSession.createDataFrame(
            [],
            f"{query_id_col} bigint, {id_col} bigint, sim double, rnk bigint",
        )
    c = ivf_assign(corpus, centroids, vec_col, impl=impl).select(
        id_col, vec_col, "ivf_cell", _norm(F.col(vec_col)).alias("c_norm")
    )
    # query → its n_probe nearest centroids (explode into probe rows);
    # both impls order by (distance asc, cell id asc)
    if impl == "fold":
        probe_structs = []
        for cid, cvec in centroids:
            lit_c = F.array(*[F.lit(float(x)) for x in cvec])
            d = F.aggregate(
                F.zip_with(
                    F.col(vec_col), lit_c, lambda x, y: (x.cast("double") - y) ** 2
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            probe_structs.append(F.struct(d.alias("d"), F.lit(cid).alias("cell")))
        probes = F.slice(F.array_sort(F.array(*probe_structs)), 1, n_probe)
        probe_cells = F.transform(probes, lambda p: p["cell"])
    else:
        ids, C, cc = _centroid_mats(centroids)

        @F.pandas_udf("array<int>")
        def _probe(vs: pd.Series) -> pd.Series:
            if len(vs) == 0:
                return pd.Series([], dtype=object)
            score = cc[None, :] - 2.0 * (_stack_batch(vs) @ C.T)  # (B, m)
            # lexsort: primary key = distance (last), secondary = cell id
            order = np.lexsort((np.broadcast_to(ids, score.shape), score))
            picked = ids[order[:, :n_probe]].astype(np.int32)
            return pd.Series(list(picked))

        probe_cells = _probe(F.col(vec_col))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.explode(probe_cells).alias("ivf_cell"),
    )
    scored = c.join(F.broadcast(q), "ivf_cell").select(
        query_id_col,
        id_col,
        (
            F.round(
                _exact_dot(F.col(vec_col), F.col("q_vec"))
                / (F.col("c_norm") * F.col("q_norm")),
                6,
            )
            + 0.0
        ).alias("sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "sim", "rnk")
    )


# ---------------------------------------------------------------------------
# Storage-side embedding transforms
# ---------------------------------------------------------------------------


def quantize_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max |x|, code =
    round_half_up(x / scale * 127). 4x storage reduction for ANN
    shortlists; codes + scale reconstruct within 1/254 relative error.
    FLOOR(v + 0.5) keeps rounding portable (engines' round/cast-to-int
    conventions differ)."""
    absmax = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    df = df.withColumn("q_scale", F.when(absmax > 0, absmax).otherwise(F.lit(1.0)))
    codes = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") / F.col("q_scale") * 127 + 0.5).cast("int"),
    )
    return df.withColumn("q_codes", codes)


def random_projection(
    df: DataFrame, vec_col: str, dim: int, out_dim: int = 8, seed: int = 42
) -> DataFrame:
    """Johnson–Lindenstrauss-style dense random projection to
    ``out_dim`` dims using the deterministic seeded hyperplanes (plan
    literals, exact-decimal dots) — the cheap pre-step before clustering
    or coarse ANN over very wide embeddings."""
    planes = _hyperplanes(dim, out_dim, seed)
    cols = []
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        cols.append(
            (F.round(_exact_dot(F.col(vec_col), lit_plane), 6) + 0.0).alias(f"p{i}")
        )
    return df.select("*", *cols)
