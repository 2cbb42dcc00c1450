"""Similarity search over embeddings (north-star extension; BASELINE.json).

Approximate-nearest-neighbor surface over the ``embeddings`` table
(``array<float>`` 64-dim):

* ``cosine_topk`` — brute-force cosine top-k: query vectors (a keyed
  subset) broadcast against all candidates; dot products via
  ``zip_with``/``aggregate`` higher-order functions (JVM-side, codegen —
  no Python). O(Q×N) — the exact baseline every ANN variant is measured
  against. Results are rank-deterministic: candidates order by the
  1e6-scaled integer cosine with id tie-break.
* ``lsh_bucket_topk`` — the sub-linear path: random-hyperplane
  (SimHash-style) signs bucket the vectors; top-k is computed only
  within the query's bucket. Plane weights are md5-derived integers and
  the sign sum runs in **exact fixed-point integer space** (embedding
  ×1e6 as BIGINT × integer weight), so buckets are bit-identical across
  engines — the whole query is DuckDB-oracle-checkable despite recall<1
  vs the unbucketed top-k (the oracle reproduces the same buckets).
* ``embedding_near_dup`` — all pairs with cosine ≥ τ, computed over a
  **block-partitioned pair space**: vectors land in B blocks by
  ``vec_id mod B``; each of the B(B+1)/2 block-cells compares its two
  blocks with one vectorized numpy matmul over the **e6 integer lift**
  (Arrow-batched ``applyInPandas``; every float64 partial sum stays
  below 2⁵³, so the BLAS dot is the exact integer dot in any summation
  order). Exact (recall = 1) with no full-table broadcast
  and no O(n²) row explosion through the shuffle — each vector is
  replicated exactly B+1 times regardless of pair count. At cluster
  scale B grows with √executors; the numpy kernel stays the same. The
  brute-force DataFrame variant is kept as the oracle twin / small-data
  baseline.

At 100 TB: broadcast the query set (small side by definition), partition
candidates evenly (no key skew — hash on vec_id), per-partition local
top-k before the global k-way merge — exactly what Spark's
window-over-partition + filter plan does here.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from demo_etl_spark.context import DEFAULT_CONTEXT, RunContext
from demo_etl_spark.io import (
    load_star,
    register_memo_warmer,
    session_memo,
)

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
N_PLANES = 8  # LSH hyperplanes → 2^8 sign buckets
WEIGHT_OFFSET = 1 << 31  # md5-uint32 − offset → signed 32-bit plane weight
EMB_DIMS = 64  # embeddings table dimensionality (TESTDATA.md)


def valid_embeddings(embeddings: DataFrame) -> DataFrame:
    """Vector-identity quarantine (r7): a row without a vec_id or whose
    vector is NULL / not the table's modal dimensionality is unusable
    for similarity math — Spark's aggregate over a NULL array yields
    NULL scores that a DuckDB CASE maps to 0, and a short vector makes
    the subspace split engine-divergent. The modal (most frequent)
    length is the table's real dimensionality even if hostile rows are
    interleaved; ties break toward the smaller length on both engines.
    The ``_EMB_SRC`` oracle subquery is the exact DuckDB twin."""
    d = _emb_dims(embeddings)  # memoized modal scan (shared, r10)
    # component finiteness (r8 hostile wave): ONE NaN/Inf component in
    # an otherwise-valid vector crashes the whole scan at the ANSI
    # fixed-point cast (CAST_OVERFLOW on Infinity) while DuckDB's
    # TRY_CAST silently NULLs it — divergent even when it doesn't
    # crash. forall's NULL semantics (a NULL element makes the
    # predicate NULL, which filter drops) match the oracle's bool_and.
    finite = F.forall(
        "embedding",
        lambda x: x.isNotNull()
        & ~F.isnan(x)
        & (F.abs(x) < F.lit(float("inf"))),
    )
    return embeddings.filter(
        F.col("vec_id").isNotNull() & (F.size("embedding") == d) & finite
    )


_EMB_SRC = (
    "(SELECT * FROM embeddings WHERE vec_id IS NOT NULL "
    "AND embedding IS NOT NULL AND len(embedding) = "
    "(SELECT len(embedding) AS d FROM embeddings "
    "WHERE embedding IS NOT NULL "
    "GROUP BY 1 ORDER BY COUNT(*) DESC, d LIMIT 1) "
    # component-finiteness twin of valid_embeddings' forall screen
    "AND list_aggregate(list_transform(embedding, "
    "x -> x IS NOT NULL AND isfinite(x)), 'bool_and')) embeddings"
)


#: per-DataFrame-object memo of the modal dimensionality — load_star
#: hands every builder the SAME persisted scan frame, so the modal scan
#: runs once per session instead of once per registered seat (r10
#: review); ad-hoc frames simply recompute. WeakKey: entries die with
#: their frame.
import weakref as _weakref

_DIMS_CACHE: "_weakref.WeakKeyDictionary[DataFrame, int]" = (
    _weakref.WeakKeyDictionary()
)


def _emb_dims(embeddings: DataFrame) -> int:
    """MODAL dimensionality of the embedding column over non-NULL rows
    (falls back to EMB_DIMS on an empty table) — the same definition
    valid_embeddings uses, NOT a one-row probe: an unordered raw scan
    whose first row is NULL crashed (size(NULL) is NULL under ANSI) and
    a hostile short first row silently mis-sized every plane-weight
    literal while the oracle derives weights per-row (r10 review). The
    plane-weight tables are sized to THIS, not the constant, so
    regenerated testdata with different dims cannot diverge from the
    oracle."""
    try:
        return _DIMS_CACHE[embeddings]
    except (KeyError, TypeError):
        pass
    row = (
        embeddings.filter(F.col("embedding").isNotNull())
        .groupBy(F.size("embedding").alias("d"))
        .count()
        .orderBy(F.desc("count"), F.asc("d"))
        .limit(1)
        .first()
    )
    d = int(row["d"]) if row is not None else EMB_DIMS
    try:
        _DIMS_CACHE[embeddings] = d
    except TypeError:
        pass
    return d


def _plane_weight(prefix: str, p: int, i: int) -> int:
    """The (plane, dim) pseudo-weight: md5-derived signed 32-bit integer.

    Computed ONCE driver-side with hashlib — bit-identical to the SQL
    ``md5(...)`` derivation the oracles spell out — then embedded as a
    literal, so the per-row path is a pure integer multiply-add with no
    hashing (measured: the in-expression md5/conv variant cost ~6 s per
    sf0.1 signature pass and ballooned codegen; literals take <1 s).
    """
    import hashlib

    return int(hashlib.md5(f"{prefix}{p}|{i}".encode()).hexdigest()[:8], 16) - WEIGHT_OFFSET


def _plane_sign_lit(prefix: str, p: int, dims: int = EMB_DIMS):
    """Sign of the exact integer projection onto literal plane weights.
    The weight array is sliced to the embedding's length, so shorter
    vectors stay correct (longer-than-``dims`` vectors are out of
    contract — EMB_DIMS tracks the table schema)."""
    ws = F.array(*[F.lit(_plane_weight(prefix, p, i)) for i in range(dims)])
    return (
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.slice(ws, F.lit(1), F.size("embedding")),
                lambda x, w: F.round(x.cast("double") * 1_000_000).cast("long") * w,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        >= 0
    )


def _e6_frame(embeddings: DataFrame) -> DataFrame:
    """The exact-cosine population frame shared by the whole exact
    kernel family: ``_nonzero`` screen → 1e-6 fixed-point integer lift
    (``v``: array<bigint>) → exact integer self-dot norm (``_nrm``).

    Every dot product downstream is an EXACT BIGINT sum — no float
    accumulation anywhere, so the cosine is independent of summation
    order (the r10-declared BLAS-ulp risk class: a float64 fold and a
    BLAS matmul can disagree by 1 ulp at an exact .5 rounding boundary
    and flip a cos_e6 hash). The only float ops left are two correctly-
    rounded IEEE sqrts, one multiply, one divide, one scale — a fixed
    sequence identical in Spark, numpy and DuckDB (`_e6_norm_cte`).

    Same int-norm>0 guard as ``_emb6``: a vector whose every component
    quantizes to zero leaves the population on BOTH engines (an ANSI
    x/0 would otherwise raise). Keeps the raw ``embedding`` column for
    bucket/signature derivation."""
    return (
        _nonzero(embeddings)
        .select("vec_id", "embedding", _e6_vec("embedding").alias("v"))
        .withColumn("_nrm", _int_norm("v"))
        .filter(_int_dot("v", "v") > 0)
    )


def _e6_cos(a: str, b: str, na: str, nb: str):
    """cos_e6 of two e6 vectors: exact BIGINT dot, then the fixed
    4-op IEEE sequence ROUND(dot / (na*nb) * 1e6) — the op order every
    oracle twin spells out verbatim."""
    return F.round(
        _int_dot(a, b).cast("double") / (F.col(na) * F.col(nb)) * 1_000_000
    ).cast("long")


def _nonzero(embeddings: DataFrame) -> DataFrame:
    """Drop DEGENERATE embeddings at the source of every cosine-family
    operator: zero-norm (cosine undefined; Spark 4 ANSI x/0 RAISES —
    fuzz-pinned) and, since the r8 hostile wave, any vector carrying a
    NULL/NaN/Inf COMPONENT — one Inf crashes the fixed-point ANSI cast
    (CAST_OVERFLOW) and one NaN poisons the score on one engine only.
    The SQL twin filters with the same exact predicates — "some
    component ≠ 0" and "every component finite" are engine-independent,
    unlike a float-norm comparison."""
    finite = F.forall(
        "embedding",
        lambda x: x.isNotNull()
        & ~F.isnan(x)
        & (F.abs(x) < F.lit(float("inf"))),
    )
    return embeddings.filter(
        F.exists("embedding", lambda x: x != F.lit(0.0)) & finite
    )


#: DuckDB twin of the ``_nonzero`` predicate
_NONZERO_SQL = (
    "len(list_filter(embedding, x -> x <> 0)) > 0 AND "
    "list_aggregate(list_transform(embedding, "
    "x -> x IS NOT NULL AND isfinite(x)), 'bool_and')"
)


def _e6_norm_cte(src: str = "embeddings") -> str:
    """DuckDB twin of ``_e6_frame``: the shared WITH-prefix of every
    exact-cosine oracle — _nonzero screen → e6 BIGINT lift (``v``) →
    exact integer self-dot norm, with the same all-zero-e6 population
    guard. Emits CTEs ``_e6l`` and ``e(vec_id, embedding, v, nrm)``."""
    return f"""_e6l AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
           y -> TRY_CAST(ROUND(CAST(y AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
  FROM {src} WHERE {_NONZERO_SQL}
),
e AS (
  SELECT vec_id, embedding, v,
         sqrt(CAST(list_sum(list_transform(v, y -> y * y)) AS DOUBLE)) AS nrm
  FROM _e6l WHERE list_sum(list_transform(v, y -> y * y)) > 0
)"""


def _e6_cos_sql(x: str, y: str) -> str:
    """DuckDB twin of ``_e6_cos``: exact BIGINT dot of two e6 vectors
    (list_sum over BIGINT is exact integer arithmetic), then the same
    fixed 4-op IEEE sequence ROUND(dot / (nx*ny) * 1e6) as the engine —
    no float accumulation, so summation order cannot flip the hash."""
    return f"""TRY_CAST(ROUND(
           CAST(list_sum(list_transform(range(1, len({x}.v) + 1),
                i -> {x}.v[i] * {y}.v[i])) AS DOUBLE)
           / ({x}.nrm * {y}.nrm) * 1000000, 0) AS BIGINT)"""


def cosine_topk(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
) -> DataFrame:
    emb = _e6_frame(embeddings)
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("_qv"),
        F.col("_nrm").alias("_qn"),
    ).filter(F.col("query_id") < n_queries)
    c = emb.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("v").alias("_cv"),
        F.col("_nrm").alias("_cn"),
    )
    pairs = c.join(F.broadcast(q), F.col("candidate_id") != F.col("query_id"))
    scored = pairs.withColumn("_cos_e6", _e6_cos("_qv", "_cv", "_qn", "_cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos_e6"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "candidate_id",
            "rank",
            F.expr("CAST(_cos_e6 / 1000000 AS DOUBLE)").alias("cosine"),
        )
    )


def _bucket_expr(n_planes: int = N_PLANES, dims: int = EMB_DIMS):
    """Sign-pattern bucket from integer-space hyperplane projections.

    Per (plane, dim), the pseudo-weight is md5-derived: first 8 hex chars
    → uint32 − 2³¹ (a signed 32-bit integer; see ``_plane_weight`` — the
    oracle derives the SAME constants with SQL md5). The projection sums
    round(x·1e6)·w in BIGINT — exact integer arithmetic, so the sign (and
    hence the bucket) is bit-identical in any engine. Bounds: |x_e6| ≤
    ~1e7, |w| < 2³¹, 64 dims → |sum| < 1.4e18 < 2⁶³.
    """
    return F.concat(
        *[
            _plane_sign_lit("", p, dims).cast("int").cast("string")
            for p in range(n_planes)
        ]
    )


def lsh_bucket_topk(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """SimHash-bucketed ANN: same-bucket candidates only → recall < 1 vs
    the exact top-k, shuffle O(N), compare O(N·Q/2^planes)."""
    emb = _e6_frame(embeddings).select(
        "vec_id",
        "v",
        "_nrm",
        _bucket_expr(n_planes, _emb_dims(embeddings)).alias("bucket"),
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("_qv"),
        F.col("_nrm").alias("_qn"),
        "bucket",
    ).filter(F.col("query_id") < n_queries)
    pairs = emb.join(F.broadcast(q), on="bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.withColumn("_cos_e6", _e6_cos("_qv", "v", "_qn", "_nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos_e6"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("candidate_id"),
            "bucket",
            "rank",
            F.expr("CAST(_cos_e6 / 1000000 AS DOUBLE)").alias("cosine"),
        )
    )


@session_memo
def _cached_topk(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Top-k result frame of one search ``kind`` — every recall audit
    joins the SAME top-k set its standalone seat computes (exact
    brute-force baseline, LSH, trained IVF, PQ-ADC), so one
    localCheckpoint serves both consumers. Same share-the-expensive-stage
    pattern as _cached_emb_pairs; results are tiny (n_queries × k rows)."""
    from demo_etl_spark.io import read_star_table

    raw = lambda: load_star(spark, sf_dir)["embeddings"]  # noqa: E731
    valid = lambda: valid_embeddings(  # noqa: E731
        read_star_table(spark, sf_dir, "embeddings")
    )
    make = {
        # populations mirror each standalone builder exactly
        "cos_raw": lambda: cosine_topk(raw()),
        "lsh_raw": lambda: lsh_bucket_topk(raw()),
        "cos_valid": lambda: cosine_topk(valid()),
        "ivf_valid": lambda: ivf_topk(
            valid(), cent=_cached_lloyd(spark, sf_dir)
        ),
        "pq_valid": lambda: pq_topk(valid()),
    }[kind]
    return make().localCheckpoint(eager=True)


def build_topk(spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT) -> DataFrame:
    return _cached_topk(spark, sf_dir, "cos_raw")


def build_lsh(spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT) -> DataFrame:
    return _cached_topk(spark, sf_dir, "lsh_raw")


def _weight_sql(p: int) -> str:
    # DuckDB twin of the (plane, dim) integer weight; i is 1-based there.
    return (
        f"(CAST('0x' || substr(md5('{p}|' || CAST(i - 1 AS VARCHAR)), 1, 8) "
        f"AS BIGINT) - {WEIGHT_OFFSET})"
    )


def _bucket_sql(n_planes: int = N_PLANES) -> str:
    signs = " || ".join(
        f"""(CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1),
             i -> TRY_CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)
                  * {_weight_sql(p)})) >= 0 THEN '1' ELSE '0' END)"""
        for p in range(n_planes)
    )
    return signs


def _topk_oracle(src: str = "embeddings") -> str:
    """Exact brute-force top-k oracle over ``src`` — parameterized so
    recall audits can point the exact side at the SAME screened
    population their approximate side indexes (r10 review: ivf_recall's
    Spark exact side is valid_embeddings-screened, so its oracle twin
    must read _EMB_SRC, not the raw table)."""
    return f"""
WITH {_e6_norm_cte(src)},
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         {_e6_cos_sql("q", "c")} AS cos_e6
  FROM e q JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_e6 DESC, candidate_id ASC) AS INTEGER) AS rank
  FROM pairs
)
SELECT query_id, candidate_id, rank,
       CAST(cos_e6 / 1000000 AS DOUBLE) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


ORACLE_SQL_TOPK = _topk_oracle()

ORACLE_SQL_LSH = f"""
WITH {_e6_norm_cte()},
eb AS (
  SELECT vec_id, v, nrm, {_bucket_sql()} AS bucket FROM e
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id, q.bucket,
         {_e6_cos_sql("q", "c")} AS cos_e6
  FROM eb q JOIN eb c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_e6 DESC, candidate_id ASC) AS INTEGER) AS rank
  FROM pairs
)
SELECT query_id, candidate_id, bucket, rank,
       CAST(cos_e6 / 1000000 AS DOUBLE) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


# ----------------------------------------------------------- IVF ANN ----
CENTROID_STRIDE = 50  # every 50th vec_id seeds a centroid (data-size adaptive)
N_PROBES = 2  # cells searched per query
IVF_LLOYD_ITERS = 2  # deterministic spherical-k-means refinement rounds


def _e6_vec(col: str):
    """array<float> → array<bigint>: exact 1e-6 fixed-point lift."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * 1_000_000).cast("long")
    )


def _int_dot(a: str, b: str):
    """Exact BIGINT dot of two e6 vectors (|x|≤1e6, 64 dims → ≪ 2⁶³)."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_norm(col: str):
    return F.sqrt(_int_dot(col, col).cast("double"))


def _signed_mean(s: str, n: str):
    """Exact HALF_UP-away-from-zero of s/n in BIGINT (sign-safe: the
    round_div helper's floor==truncate shortcut only holds for s ≥ 0)."""
    return F.expr(
        f"CASE WHEN {s} >= 0 THEN ({s} * 2 + {n}) div (2 * {n}) "
        f"ELSE -((-({s}) * 2 + {n}) div (2 * {n})) END"
    )


def _lloyd_centroids(emb6: DataFrame, stride: int, iters: int) -> DataFrame:
    """Seeded deterministic Lloyd refinement, entirely as DataFrame aggs
    in exact fixed-point: init centroids = every ``stride``-th vector;
    each round reassigns by integer-cosine argmax and recomputes each
    cell's per-dimension mean with sign-safe HALF_UP integer division.
    Every quantity is either an exact BIGINT or a double derived from
    the same BIGINTs in the same op order — bit-identical across
    engines, so the trained index is still oracle-checkable.

    Returns (cent_id, cv: array<bigint>). Emptied cells drop out (their
    seed id simply stops existing — same in the SQL twin).
    """
    cent = emb6.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        scored = (
            emb6.join(F.broadcast(cent), how="cross")
            .withColumn("_cn", _int_norm("cv"))
            .withColumn(
                "_c_e6",
                F.round(
                    _int_dot("v", "cv").cast("double")
                    / (F.col("_n") * F.col("_cn"))
                    * 1_000_000
                ).cast("long"),
            )
        )
        # r14: argmax-as-aggregate — min(struct(-cos, cent_id)) is the
        # former row_number() over (ORDER BY _c_e6 DESC, cent_id ASC)
        # = 1 (negation is safe: |_c_e6| ≤ 1e6), computed as a hash agg
        # whose map-side partials collapse the |vectors|·|centroids|
        # fanout before the exchange instead of sort-shuffling it all.
        # The group key is the SCALAR vec_id and v rides through as
        # max(v) — v is constant per vec_id, so max is its value, and a
        # scalar key keeps the agg HASH-based (an array group key forces
        # SortAggregate, and its plan shape additionally re-ordered the
        # quarantine predicates into the e6 cast on the hostile corpus
        # — fuzz-caught CAST_OVERFLOW).
        assign = (
            scored.groupBy("vec_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_c_e6")).alias("_nc"),
                        F.col("cent_id").alias("cent_id"),
                    )
                ).alias("_b"),
                F.max("v").alias("v"),
            )
            .select(F.col("_b.cent_id").alias("cell"), "v")
        )
        sums = (
            assign.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("m", _signed_mean("s", "n"))
        )
        cent = (
            sums.groupBy("cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm")
            )
            .select(
                F.col("cell").alias("cent_id"),
                F.transform("_pm", lambda st: st["m"]).alias("cv"),
            )
            # a cell mean can cancel to the zero vector — it can anchor
            # no cosine cell, and its norm would zero the divisions
            .filter(_int_dot("cv", "cv") > 0)
        )
    return cent


def _emb6(embeddings: DataFrame) -> DataFrame:
    """Norm-guarded e6 fixed-point frame shared by the trained-index
    family: a vector whose every |component| < 5e-7 quantizes to the
    zero e6 vector and must stay out of the index structure entirely
    (the int-norm guard is strictly stronger than the float one)."""
    return (
        _nonzero(embeddings)
        .select("vec_id", _e6_vec("embedding").alias("v"))
        .withColumn("_n", _int_norm("v"))
        .filter(F.col("_n") > 0)
    )


@session_memo
def _cached_lloyd(
    spark: SparkSession,
    sf_dir: str,
    stride: int = CENTROID_STRIDE,
    iters: int = IVF_LLOYD_ITERS,
) -> DataFrame:
    """The TRAINED centroid table (tiny: ≤ n/stride rows) — IVF search and
    semantic dedup share ONE Lloyd training per session, the same
    amortization the graph family applies to its co-purchase edge set."""
    emb6 = _emb6(valid_embeddings(load_star(spark, sf_dir)["embeddings"]))
    return _lloyd_centroids(emb6, stride, iters).localCheckpoint(eager=True)


def ivf_topk(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    stride: int = CENTROID_STRIDE,
    n_probes: int = N_PROBES,
    iters: int = IVF_LLOYD_ITERS,
    cent: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN with TRAINED centroids: seeded Lloyd
    (``_lloyd_centroids``) coarse-quantizes the corpus, then each query
    searches only its n_probes nearest cells.

    Build: K ≪ n trained centroids broadcast against the corpus — one
    map-side join per Lloyd round plus one for the final assignment.
    Query: probe join hits only the probed cells' members, exact
    integer-cosine top-k within them. At 100 TB the assignment is a
    map-side broadcast join and the probe join reads ~n_probes/K of the
    corpus — never all of it; Lloyd trains on a sample there (the agg
    shapes are identical).
    """
    emb6 = _emb6(embeddings)
    if cent is None:
        cent = _lloyd_centroids(emb6, stride, iters)
    cent = cent.withColumn("_cn", _int_norm("cv"))
    cos_e6 = F.round(
        _int_dot("v", "cv").cast("double") / (F.col("_n") * F.col("_cn")) * 1_000_000
    ).cast("long")
    scored = emb6.join(F.broadcast(cent), how="cross").withColumn("_c_e6", cos_e6)
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("_c_e6"), F.asc("cent_id")
    )
    ranked = scored.withColumn("_r", F.row_number().over(w_assign))
    assign = (
        ranked.filter(F.col("_r") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"))
        .join(emb6, "vec_id")
    )
    probes = (
        ranked.filter((F.col("vec_id") < n_queries) & (F.col("_r") <= n_probes))
        .select(F.col("vec_id").alias("query_id"), F.col("cent_id").alias("cell"))
        .join(
            emb6.select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("_qv"),
                F.col("_n").alias("_qn"),
            ),
            "query_id",
        )
    )
    cand = assign.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    # query-side rerank dot is the same exact-integer discipline as the
    # assignment dot above — no float accumulation in any IVF stage
    q_cos = _e6_cos("_qv", "v", "_qn", "_n")
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("_cos_e6"), F.asc("vec_id"))
    return (
        cand.withColumn("_cos_e6", q_cos)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("candidate_id"),
            F.col("cell"),
            "rank",
            F.expr("CAST(_cos_e6 / 1000000 AS DOUBLE)").alias("cosine"),
        )
    )


def build_ivf(spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT) -> DataFrame:
    return _cached_topk(spark, sf_dir, "ivf_valid")


# integer-cosine between an e6 vector x.v and an e6 centroid c.cv — the
# exact BIGINT dot cast to double, divided in the same op order as Spark
_INT_COS_SQL = """TRY_CAST(ROUND(
           CAST(list_sum(list_transform(range(1, len(x.v) + 1),
                i -> x.v[i] * c.cv[i])) AS DOUBLE)
           / (x.n * c.cn) * 1000000, 0) AS BIGINT)"""


def _lloyd_prefix_sql(stride: int, iters: int) -> list[str]:
    """Shared WITH-prefix of every trained-centroid oracle (IVF top-k,
    semantic dedup): e6 lift → norm guard → seed centroids c0 → one
    (assign → per-dim mean → c{t+1}) CTE triple per Lloyd round. Every
    arithmetic step mirrors the Spark fixed-point ops exactly, so the
    TRAINED index itself is cross-engine bit-identical."""
    parts = [
        f"""WITH e6 AS (
  SELECT vec_id,
         list_transform(embedding,
           y -> TRY_CAST(ROUND(CAST(y AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
  FROM {_EMB_SRC}
),
en AS (
  SELECT vec_id, v,
         sqrt(CAST(list_sum(list_transform(v, y -> y * y)) AS DOUBLE)) AS n
  FROM e6 WHERE list_sum(list_transform(v, y -> y * y)) > 0
),
c0 AS (
  SELECT vec_id AS cent_id, v AS cv,
         sqrt(CAST(list_sum(list_transform(v, y -> y * y)) AS DOUBLE)) AS cn
  FROM e6 WHERE vec_id % {stride} = 0
    AND list_sum(list_transform(v, y -> y * y)) > 0
)"""
    ]
    for t in range(iters):
        parts.append(f""",
a{t} AS (
  SELECT cell, v FROM (
    SELECT x.vec_id, c.cent_id AS cell, x.v,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY {_INT_COS_SQL} DESC, c.cent_id ASC) AS r
    FROM en x CROSS JOIN c{t} c
  ) WHERE r = 1
),
s{t} AS (
  SELECT cell, i, SUM(val) AS s, COUNT(*) AS cnt
  FROM (SELECT cell, unnest(v) AS val,
               unnest(range(1, len(v) + 1)) AS i
        FROM a{t})
  GROUP BY cell, i
),
c{t + 1} AS (
  SELECT cent_id, cv,
         sqrt(CAST(list_sum(list_transform(cv, y -> y * y)) AS DOUBLE)) AS cn
  FROM (
    SELECT cell AS cent_id, list(m ORDER BY i) AS cv
    FROM (SELECT cell, i,
                 CASE WHEN s >= 0 THEN (s * 2 + cnt) // (2 * cnt)
                      ELSE -(((-s) * 2 + cnt) // (2 * cnt)) END AS m
          FROM s{t})
    GROUP BY cell
  ) WHERE list_sum(list_transform(cv, y -> y * y)) > 0
)""")
    return parts


def _ivf_oracle(
    stride: int = CENTROID_STRIDE,
    n_probes: int = N_PROBES,
    iters: int = IVF_LLOYD_ITERS,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
) -> str:
    """DuckDB twin of the trained-IVF query: the shared Lloyd prefix,
    then the probe/rerank tail."""
    parts = _lloyd_prefix_sql(stride, iters)
    parts.append(f""",
scored AS (
  SELECT x.vec_id, c.cent_id, {_INT_COS_SQL} AS ce6
  FROM en x CROSS JOIN c{iters} c
),
ranked AS (
  SELECT vec_id, cent_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
           ORDER BY ce6 DESC, cent_id ASC) AS r
  FROM scored
),
assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE r = 1),
probes AS (
  SELECT vec_id AS query_id, cent_id AS cell
  FROM ranked WHERE vec_id < {n_queries} AND r <= {n_probes}
),
cand AS (
  SELECT p.query_id, a.vec_id AS candidate_id, a.cell,
         TRY_CAST(ROUND(
           CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                i -> q.v[i] * xx.v[i])) AS DOUBLE)
           / (q.n * xx.n) * 1000000, 0) AS BIGINT) AS cos_e6
  FROM assign a
  JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN en q ON q.vec_id = p.query_id
  JOIN en xx ON xx.vec_id = a.vec_id
),
ranked2 AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_e6 DESC, candidate_id ASC) AS INTEGER) AS rank
  FROM cand
)
SELECT query_id, candidate_id, cell, rank,
       CAST(cos_e6 / 1000000 AS DOUBLE) AS cosine
FROM ranked2 WHERE rank <= {k}""")
    return "".join(parts)


ORACLE_SQL_IVF = _ivf_oracle()


# ---------------------------------------------- semantic dedup ----------
SEM_DEDUP_THRESHOLD_E6 = 450_000  # within-cluster cosine ≥ 0.45 → dup


def semantic_dedup(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    stride: int = CENTROID_STRIDE,
    iters: int = IVF_LLOYD_ITERS,
    threshold_e6: int = SEM_DEDUP_THRESHOLD_E6,
    cent: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    method): coarse-cluster the corpus with the SAME seeded fixed-point
    Lloyd index IVF search trains, then compare cosine only WITHIN each
    cluster and drop every vector that has an above-threshold neighbor
    with a smaller vec_id — the deterministic keep-the-minimum policy
    the dedup family uses everywhere (exact dedup, LSH clusters). Output
    is the full per-vector verdict (vec_id, cell, is_kept), so kept-set
    extraction AND drop-rate monitoring read from one result.

    The clustering is what makes this sub-quadratic: all-pairs cosine
    runs per CELL (the SemDeDup design point — K bounds cluster size,
    so pair work is Σ|cell|² ≪ n²). Plan: the Lloyd rounds are
    broadcast joins + per-dimension aggs (shared shape with ivf_topk),
    the final assignment is one broadcast cross + argmax window, the
    pair scan is ONE self-join shuffled on cell with the exact BIGINT
    dot evaluated JVM-side (zip_with/aggregate — no Python). At 100 TB:
    K scales with the corpus (n/stride here) keeping cells bounded;
    train Lloyd on a sample, and the self-join stays partitioned on
    cell — no global pair grid ever materializes.
    """
    emb6 = _emb6(embeddings)
    if cent is None:
        cent = _lloyd_centroids(emb6, stride, iters)
    cent = cent.withColumn("_cn", _int_norm("cv"))
    cos_e6 = F.round(
        _int_dot("v", "cv").cast("double")
        / (F.col("_n") * F.col("_cn"))
        * 1_000_000
    ).cast("long")
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("_c_e6"), F.asc("cent_id")
    )
    assign = (
        emb6.join(F.broadcast(cent), how="cross")
        .withColumn("_c_e6", cos_e6)
        .withColumn("_r", F.row_number().over(w_assign))
        .filter(F.col("_r") == 1)
        .select("vec_id", F.col("cent_id").alias("cell"), "v", "_n")
        # consumed twice (both sides of the pair join) and again for the
        # verdict join — flatten the Lloyd lineage once
        .localCheckpoint(eager=True)
    )
    a, b = assign.alias("a"), assign.alias("b")
    pair_cos = F.round(
        _int_dot("a.v", "b.v").cast("double")
        / (F.col("a._n") * F.col("b._n"))
        * 1_000_000
    ).cast("long")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .withColumn("_p", pair_cos)
        .filter(F.col("_p") >= threshold_e6)
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
    )
    return (
        assign.join(dropped.withColumn("_d", F.lit(1)), "vec_id", "left")
        .select("vec_id", "cell", F.col("_d").isNull().alias("is_kept"))
    )


def build_semantic_dedup(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return semantic_dedup(
        valid_embeddings(load_star(spark, sf_dir)["embeddings"]),
        ctx,
        cent=_cached_lloyd(spark, sf_dir),
    )


def _semantic_dedup_oracle(
    stride: int = CENTROID_STRIDE,
    iters: int = IVF_LLOYD_ITERS,
    threshold_e6: int = SEM_DEDUP_THRESHOLD_E6,
) -> str:
    """DuckDB twin: the shared Lloyd prefix, the same argmax assignment,
    then the within-cell pair scan with the identical integer-cosine
    expression and the same keep-the-minimum drop rule."""
    parts = _lloyd_prefix_sql(stride, iters)
    parts.append(f""",
sassign AS (
  SELECT vec_id, cell, v, n FROM (
    SELECT x.vec_id, c.cent_id AS cell, x.v, x.n,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY {_INT_COS_SQL} DESC, c.cent_id ASC) AS r
    FROM en x CROSS JOIN c{iters} c
  ) WHERE r = 1
),
sdrop AS (
  SELECT DISTINCT a.vec_id
  FROM sassign a JOIN sassign b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE TRY_CAST(ROUND(
          CAST(list_sum(list_transform(range(1, len(a.v) + 1),
               i -> a.v[i] * b.v[i])) AS DOUBLE)
          / (a.n * b.n) * 1000000, 0) AS BIGINT) >= {threshold_e6}
)
SELECT s.vec_id, s.cell, d.vec_id IS NULL AS is_kept
FROM sassign s LEFT JOIN sdrop d ON s.vec_id = d.vec_id""")
    return "".join(parts)


ORACLE_SQL_SEMANTIC_DEDUP = _semantic_dedup_oracle()


# ------------------------------------------------- embedding near-dup ----
NEAR_DUP_THRESHOLD = 0.45  # cosine; data max is ~0.51 (random vectors)
NEAR_DUP_ROWS_PER_BLOCK = 4000  # memory bound: max rows per grid block
NEAR_DUP_MIN_ROWS_PER_BLOCK = 250  # don't shatter tiny inputs into overhead
NEAR_DUP_MAX_BLOCKS = 64


def embedding_near_dup(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = NEAR_DUP_THRESHOLD,
    n_blocks: int | None = None,
) -> DataFrame:
    """Semantic near-dup pairs: cosine ≥ τ over ALL vector pairs — exact,
    via the block-partitioned pair space (module docstring). Each block
    cell compares its two blocks with one numpy matmul OVER THE e6
    INTEGER LIFT: products are ≤ ~1e14 and row sums ≤ dims·1e14 < 2⁵³,
    so every float64 partial sum is exactly representable and the BLAS
    result is the exact integer dot REGARDLESS of summation order (the
    r10-declared ulp risk: a float-embedding matmul could differ from
    the oracle's sequential fold by 1 ulp at a .5 boundary). Cosines are
    then rounded to 1e-6 fixed point exactly like the SQL oracle, so the
    result is hash-identical to brute force.

    ``n_blocks`` defaults to auto along BOTH axes: enough blocks that
    the B(B+1)/2 cells fill the cores (measured: 2 blocks = 3 cells left
    a 32-core box 90% idle — 13.2 s vs 2.1 s at 4 blocks, sf0.1), but
    never so many that blocks shrink below ~250 rows (Python-worker
    overhead) or exceed ~4k rows (cell memory bound). The result is
    identical for ANY block count (exactness is block-independent), only
    the parallelism changes. Size to the cluster at real scale.
    """
    t_e6 = int(round(threshold * 1_000_000))
    spark = embeddings.sparkSession
    emb = _e6_frame(embeddings).select("vec_id", F.col("v").alias("embedding"))
    if n_blocks is None:
        n = emb.count()  # cheap: scan is cached/columnar, count-only
        par = spark.sparkContext.defaultParallelism
        b_mem = -(-n // NEAR_DUP_ROWS_PER_BLOCK)  # block-size ceiling
        b_par = int(((8 * par + 1) ** 0.5 - 1) // 2)  # cells ≈ cores
        b_overhead = -(-n // NEAR_DUP_MIN_ROWS_PER_BLOCK)
        n_blocks = max(1, min(NEAR_DUP_MAX_BLOCKS,
                              max(b_mem, min(b_par, b_overhead))))
    tagged = emb.withColumn(
        "block", F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    )
    grid = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    # every vector visits each cell that references its block: once as the
    # row side (bi) and once as the column side (bj); diagonal cells get
    # one tagged copy per side and the kernel deduplicates.
    a_side = tagged.join(F.broadcast(grid), F.col("block") == F.col("bi")).withColumn(
        "side", F.lit(0)
    )
    b_side = tagged.join(F.broadcast(grid), F.col("block") == F.col("bj")).withColumn(
        "side", F.lit(1)
    )
    both = a_side.unionByName(b_side)

    def cell_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        a = pdf[pdf["side"] == 0]
        b = a if bi == bj else pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        ids_a = a["vec_id"].to_numpy()
        ids_b = b["vec_id"].to_numpy()
        ia = np.stack(a["embedding"].to_numpy())  # int64 e6 lift
        ib = ia if bi == bj else np.stack(b["embedding"].to_numpy())
        # exactness bound: with |v| ≤ vmax every partial sum of a row dot
        # is ≤ dims·vmax². Below 2⁵³ all float64 adds are exact, so the
        # BLAS matmul returns the exact integer dot in any summation
        # order — e6-lifted unit-ish embeddings sit ~100× inside that.
        # Up to 2⁶³ the int64 matmul is exact instead (slower, no BLAS);
        # the final int64→float64 casts are correctly rounded, i.e. the
        # same value DuckDB's CAST(exact int AS DOUBLE) and Spark's
        # long→double produce (fuzz corpus with |x| = 100 exercises this
        # branch). Beyond 2⁶³ the dot itself overflows — fail loudly.
        vmax = float(max(np.abs(ia).max(), np.abs(ib).max()))
        bound = ia.shape[1] * vmax * vmax
        if bound < 2.0**53:
            ma = ia.astype(np.float64)
            mb = ma if bi == bj else ib.astype(np.float64)
            dot = ma @ mb.T
            sa = (ma * ma).sum(axis=1)
            sb = sa if bi == bj else (mb * mb).sum(axis=1)
        elif bound < 2.0**63:
            dot = (ia @ ib.T).astype(np.float64)
            sa = (ia * ia).sum(axis=1).astype(np.float64)
            sb = sa if bi == bj else (ib * ib).sum(axis=1).astype(np.float64)
        else:
            raise ValueError(
                "e6 components overflow the exact int64 dot bound"
            )
        na = np.sqrt(sa)
        nb = na if bi == bj else np.sqrt(sb)
        cos = dot / np.outer(na, nb)
        # fixed-point HALF_UP away from zero — Spark's ROUND semantics for
        # BOTH signs (np.rint would be banker's; floor(x+0.5) alone would
        # round negative halves toward +inf and diverge from the oracle
        # whenever the caller passes a negative threshold)
        scaled = cos * 1_000_000
        cos_e6 = np.where(
            scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
        )
        ia, ib = np.nonzero(cos_e6 >= t_e6)
        va, vb = ids_a[ia], ids_b[ib]
        if bi == bj:
            keep = va < vb  # upper triangle, once per unordered pair
        else:
            keep = np.ones(len(va), dtype=bool)
        lo = np.minimum(va[keep], vb[keep])
        hi = np.maximum(va[keep], vb[keep])
        return pd.DataFrame(
            {
                "vec_a": lo.astype("int64"),
                "vec_b": hi.astype("int64"),
                "cosine": cos_e6[ia[keep], ib[keep]] / 1_000_000.0,
            }
        )

    return both.groupBy("bi", "bj").applyInPandas(
        cell_kernel, "vec_a long, vec_b long, cosine double"
    )


def embedding_near_dup_bruteforce(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = NEAR_DUP_THRESHOLD,
) -> DataFrame:
    """Brute-force O(n²/2) twin of ``embedding_near_dup`` in pure column
    expressions — the small-data baseline the blocked kernel is verified
    against (and the shape of the SQL oracle)."""
    emb = _e6_frame(embeddings)
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    t_e6 = int(round(threshold * 1_000_000))
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
    scored = pairs.withColumn("_cos_e6", _e6_cos("_va", "_vb", "_na", "_nb"))
    return (
        scored.filter(F.col("_cos_e6") >= t_e6)
        .select(
            "vec_a",
            "vec_b",
            F.expr("CAST(_cos_e6 / 1000000 AS DOUBLE)").alias("cosine"),
        )
    )


@session_memo
def _cached_emb_pairs(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Embedding near-dup pair set of one ``kind`` — the exact blocked
    kernel and the banded-LSH path each feed two registered queries
    (their own seat + the recall audit that joins them), the same
    share-the-expensive-stage pattern as dedup's _cached_minhash_pairs."""
    emb = load_star(spark, sf_dir)["embeddings"]
    if kind == "exact":
        pairs = embedding_near_dup(emb)
    else:
        # r14: the banded build consumes the shared signature memo —
        # the same (vec_id, band, sig) frame the incremental seat
        # needs, so the posexplode→join→agg signature pipeline runs
        # once per session instead of once per consumer
        pairs = embedding_ann_pairs(emb, sigs=_cached_band_sigs(spark, sf_dir))
    return pairs.localCheckpoint(eager=True)


def build_near_dup(spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT) -> DataFrame:
    return _cached_emb_pairs(spark, sf_dir, "exact")


ORACLE_SQL_NEAR_DUP = f"""
WITH {_e6_norm_cte()},
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_e6_cos_sql("a", "b")} AS cos_e6
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, CAST(cos_e6 / 1000000 AS DOUBLE) AS cosine
FROM pairs WHERE cos_e6 >= {int(round(NEAR_DUP_THRESHOLD * 1_000_000))}
"""


# ------------------------------------- banded-LSH semantic near-dup ------
ANN_BANDS = 8  # bands ORed together (any shared band → candidate pair)
ANN_BAND_PLANES = 6  # hyperplane sign bits per band


def _band_signatures(
    embeddings: DataFrame, bands: int = ANN_BANDS, ppb: int = ANN_BAND_PLANES
) -> DataFrame:
    """(vec_id, band, sig) for every vector — computed as a broadcast
    weights-table join + one hash aggregation instead of 48 giant
    per-row expression trees (measured: the expression form cost 6-36 s
    per pass at sf0.1 and ballooned codegen; this plans as scan →
    posexplode → broadcast-join → partial agg, all vectorized, and
    scales linearly in rows × dims × planes). Weight values are
    identical to the oracle's SQL md5 derivation (``_plane_weight``)."""
    spark = embeddings.sparkSession
    n_planes = bands * ppb
    dims = _emb_dims(embeddings)
    wrows = [
        (p, i, _plane_weight("nd|", p, i))
        for p in range(n_planes)
        for i in range(dims)
    ]
    wdf = spark.createDataFrame(wrows, "plane int, i int, w long")
    ex = embeddings.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x_e6", F.round(F.col("x").cast("double") * 1_000_000).cast("long"))
    contrib = (
        ex.join(F.broadcast(wdf), "i")
        .withColumn("band", (F.col("plane") / ppb).cast("int"))
        .withColumn("pos", (F.col("plane") % ppb).cast("int"))
    )
    proj = contrib.groupBy("vec_id", "band").agg(
        *[
            F.sum(F.when(F.col("pos") == j, F.col("x_e6") * F.col("w"))).alias(
                f"_s{j}"
            )
            for j in range(ppb)
        ]
    )
    return proj.select(
        "vec_id",
        "band",
        F.concat(
            *[(F.col(f"_s{j}") >= 0).cast("int").cast("string") for j in range(ppb)]
        ).alias("sig"),
    )


@session_memo
def _cached_band_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band, sig) hyperplane-LSH signatures at the DEFAULT
    (ANN_BANDS, ANN_BAND_PLANES) dial. Two registered consumers compute
    this identical frame: the banded ann-pair memo build (feeding
    dedup_embedding_ann + dedup_ann_pair_recall) and
    dedup_embedding_incremental's cross-boundary candidate stage — the
    signature pipeline (posexplode of N×dims rows → broadcast weights
    join → ppb-way partial agg) is the expensive stage of both, and it
    appeared TWICE in each consumer's static plan (both join sides
    reference it). One eager localCheckpoint serves all four references."""
    emb = _e6_frame(load_star(spark, sf_dir)["embeddings"])
    return _band_signatures(
        emb.select("vec_id", "embedding"), ANN_BANDS, ANN_BAND_PLANES
    ).localCheckpoint(eager=True)


def embedding_ann_pairs(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = NEAR_DUP_THRESHOLD,
    bands: int = ANN_BANDS,
    ppb: int = ANN_BAND_PLANES,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Sub-quadratic semantic near-dup: banded hyperplane-LSH candidate
    generation + exact cosine verify — the registered 100 TB default
    (the blocked-exact ``embedding_near_dup`` stays as the baseline twin).

    Shape: O(N·bands) signature rows, an equi-join per shared (band,
    signature) bucket, exact integer-cosine only on the candidate set —
    no O(n²) pair stage anywhere in the plan. Recall < 1 by design and
    is *governed*, not guessed: ``ann_pair_recall`` (pytest) audits it
    against the exact kernel, and bands/ppb are the dial — more bands
    raise recall, more planes per band cut candidate volume. The
    integer-space signatures make the whole path oracle-checkable: the
    DuckDB twin reproduces the same buckets bit-for-bit, so the
    correctness gate pins the algorithm, and the recall audit pins its
    quality.
    """
    t_e6 = int(round(threshold * 1_000_000))
    emb = _e6_frame(embeddings)
    # reuse the SAME screened frame for candidates and verify — two
    # independent _nonzero() subtrees could silently desynchronize the
    # two populations under a future edit (r10 review). An injected
    # ``sigs`` memo (the registered build) is this exact frame's
    # signatures computed from the same deterministic expression.
    if sigs is None:
        sigs = _band_signatures(emb.select("vec_id", "embedding"), bands, ppb)
    a = sigs.select(
        F.col("vec_id").alias("vec_a"), "band", "sig"
    )
    b = sigs.select(
        F.col("vec_id").alias("vec_b"), "band", "sig"
    )
    cand = (
        a.join(b, ["band", "sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    scored = (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("_cos_e6", _e6_cos("_va", "_vb", "_na", "_nb"))
    )
    return scored.filter(F.col("_cos_e6") >= t_e6).select(
        "vec_a",
        "vec_b",
        F.expr("CAST(_cos_e6 / 1000000 AS DOUBLE)").alias("cosine"),
    )


def build_ann_pairs(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return _cached_emb_pairs(spark, sf_dir, "ann")


def _band_sign_sql(band: int, ppb: int = ANN_BAND_PLANES) -> str:
    def w(p: int) -> str:
        return (
            f"(CAST('0x' || substr(md5('nd|{p}|' || CAST(i - 1 AS VARCHAR)), 1, 8) "
            f"AS BIGINT) - {WEIGHT_OFFSET})"
        )

    return " || ".join(
        f"""(CASE WHEN list_sum(list_transform(range(1, len(embedding) + 1),
             i -> TRY_CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)
                  * {w(band * ppb + j)})) >= 0 THEN '1' ELSE '0' END)"""
        for j in range(ppb)
    )


def _ann_pairs_oracle(
    threshold: float = NEAR_DUP_THRESHOLD,
    bands: int = ANN_BANDS,
    ppb: int = ANN_BAND_PLANES,
) -> str:
    sig_cols = ", ".join(
        f"({_band_sign_sql(b, ppb)}) AS s{b}" for b in range(bands)
    )
    sig_list = ", ".join(f"s{b}" for b in range(bands))
    return f"""
WITH {_e6_norm_cte()},
sigw AS (SELECT vec_id, {sig_cols} FROM e),
sig AS (
  SELECT vec_id,
         unnest(range(0, {bands})) AS band,
         unnest([{sig_list}]) AS sig
  FROM sigw
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sig a JOIN sig b ON a.band = b.band AND a.sig = b.sig
                       AND a.vec_id < b.vec_id
),
scored AS (
  SELECT c.vec_a, c.vec_b,
         {_e6_cos_sql("x", "y")} AS cos_e6
  FROM cand c
  JOIN e x ON x.vec_id = c.vec_a
  JOIN e y ON y.vec_id = c.vec_b
)
SELECT vec_a, vec_b, CAST(cos_e6 / 1000000 AS DOUBLE) AS cosine
FROM scored WHERE cos_e6 >= {int(round(threshold * 1_000_000))}
"""


ORACLE_SQL_ANN_PAIRS = _ann_pairs_oracle()


def ann_pair_recall(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = NEAR_DUP_THRESHOLD,
    exact_pairs: DataFrame | None = None,
    ann_pairs: DataFrame | None = None,
) -> DataFrame:
    """Pair-level recall of the banded-LSH near-dup path vs the exact
    blocked kernel — the standing accuracy audit of the registered
    sub-quadratic default, computed in-engine and oracle-checked (both
    sides are deterministic, so the recall NUMBER sits under the
    correctness gate: re-banding that silently loses recall fails the
    hash check, not just a dashboard). Single-row result."""
    from demo_etl_spark.functions.fixedpoint import round_div

    if exact_pairs is None:
        exact_pairs = embedding_near_dup(embeddings, ctx, threshold)
    if ann_pairs is None:
        ann_pairs = embedding_ann_pairs(embeddings, ctx, threshold)
    exact = exact_pairs.select("vec_a", "vec_b")
    ann = ann_pairs.select("vec_a", "vec_b").withColumn("_hit", F.lit(1))
    return (
        exact.join(ann, ["vec_a", "vec_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact_pairs"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_found"),
        )
        .select(
            "n_exact_pairs",
            "n_found",
            # an exact-pair-free corpus makes recall vacuous, not a
            # divide-by-zero (ANSI raises): define it as 1.0
            F.when(
                F.col("n_exact_pairs") > 0,
                round_div("n_found", "n_exact_pairs", 4),
            )
            .otherwise(F.lit(1.0))
            .alias("pair_recall"),
        )
    )


def build_ann_pair_recall(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    # The two sides are independent subtrees and each materializes via an
    # eager localCheckpoint that underuses the executor on its own —
    # submit both jobs concurrently (standard Spark multi-thread job
    # submission; the fair scheduler interleaves their stages). The two
    # _cached_emb_pairs keys differ, but both threads reach the SHARED
    # unlocked check-then-set memos underneath (_SCAN_CACHE via
    # load_star, _DIMS_CACHE via _emb_dims) — so warm those on the
    # calling thread FIRST; a lost race there would only duplicate scan
    # work, never corrupt results, but there is no reason to pay it
    # (r10 ADVICE). Measured: 4.0 → 2.6 s for a cold recall seat at sf0.1.
    from concurrent.futures import ThreadPoolExecutor

    _emb_dims(load_star(spark, sf_dir)["embeddings"])
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_exact = pool.submit(_cached_emb_pairs, spark, sf_dir, "exact")
        f_ann = pool.submit(_cached_emb_pairs, spark, sf_dir, "ann")
        exact_pairs, ann_pairs = f_exact.result(), f_ann.result()
    return ann_pair_recall(
        load_star(spark, sf_dir)["embeddings"], ctx,
        exact_pairs=exact_pairs,
        ann_pairs=ann_pairs,
    )


def _ann_pair_recall_oracle() -> str:
    from demo_etl_spark.functions.fixedpoint import round_div_expr

    hits = "CAST(SUM(CASE WHEN a.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
    return f"""
SELECT COUNT(*) AS n_exact_pairs,
       {hits} AS n_found,
       CASE WHEN COUNT(*) = 0 THEN CAST(1.0 AS DOUBLE)
            ELSE {round_div_expr(hits, "COUNT(*)", 4, "duckdb")} END
         AS pair_recall
FROM ({ORACLE_SQL_NEAR_DUP}) e
LEFT JOIN ({ORACLE_SQL_ANN_PAIRS}) a
  ON a.vec_a = e.vec_a AND a.vec_b = e.vec_b
"""


ORACLE_SQL_ANN_PAIR_RECALL = _ann_pair_recall_oracle()


# ---------------------------------------------------- ANN recall audit ----
def _recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """THE shared recall@k harness — ann_recall (LSH), ivf_recall and
    pq_recall are all this one construction over different (exact,
    approx) top-k pairs: exact LEFT JOIN approx on (query_id,
    candidate_id), per-query hit count, exact HALF_UP 4dp recall.
    One definition so the three audits cannot drift (r10 verdict #4);
    ``_recall_oracle_sql`` is its DuckDB twin generator."""
    from demo_etl_spark.functions.fixedpoint import round_div

    approx = approx.select("query_id", "candidate_id").withColumn(
        "_hit", F.lit(1)
    )
    return (
        exact.select("query_id", "candidate_id")
        .join(approx, ["query_id", "candidate_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("hits"),
        )
        .select(
            "query_id", "k", "hits", round_div("hits", "k", 4).alias("recall_at_k")
        )
    )


def _recall_oracle_sql(
    exact_sql: str, approx_sql: str, approx_cand_col: str = "candidate_id"
) -> str:
    """DuckDB twin of ``_recall_at_k``, parameterized over the two
    top-k subqueries (and the approx side's candidate column name —
    pq_topk emits ``vec_id``)."""
    from demo_etl_spark.functions.fixedpoint import round_div_expr

    hits = (
        f"CAST(SUM(CASE WHEN a.{approx_cand_col} IS NOT NULL "
        "THEN 1 ELSE 0 END) AS BIGINT)"
    )
    return f"""
SELECT e.query_id,
       COUNT(*) AS k,
       {hits} AS hits,
       {round_div_expr(hits, "COUNT(*)", 4, "duckdb")} AS recall_at_k
FROM ({exact_sql}) e
LEFT JOIN ({approx_sql}) a
  ON a.query_id = e.query_id AND a.{approx_cand_col} = e.candidate_id
GROUP BY e.query_id
"""


def ann_recall(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
) -> DataFrame:
    """Per-query recall@k of the LSH-bucketed ANN against the exact
    brute-force top-k — the accuracy/​cost dial of the ANN family,
    computed inside the engine (both sides are deterministic, so recall
    itself is an oracle-checkable quantity, which is unusual and useful:
    a quality regression in the ANN path fails the correctness gate, not
    just a benchmark). At scale this is the standing audit you run on a
    sampled query set after any re-bucketing."""
    return _recall_at_k(
        cosine_topk(embeddings, ctx, n_queries, k),
        lsh_bucket_topk(embeddings, ctx, n_queries, k),
    )


def build_recall(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    # joins the SAME memoized top-k frames the standalone topk/lsh seats
    # return — the recall audit costs one tiny join, not a recompute
    return _recall_at_k(
        _cached_topk(spark, sf_dir, "cos_raw"),
        _cached_topk(spark, sf_dir, "lsh_raw"),
    )


ORACLE_SQL_RECALL = _recall_oracle_sql(ORACLE_SQL_TOPK, ORACLE_SQL_LSH)


def ivf_recall(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    cent: DataFrame | None = None,
) -> DataFrame:
    """Per-query recall@k of the TRAINED-IVF search against the exact
    brute-force top-k — closes the audit symmetry (r10): the LSH path
    has ann_recall + dedup_ann_pair_recall, but the IVF default's
    n_probes/stride dial had no standing accuracy gate. Same
    construction: both sides deterministic, so the recall NUMBER sits
    under the cross-engine hash gate — widening a cell stride that
    silently loses recall fails correctness, not just a dashboard."""
    return _recall_at_k(
        cosine_topk(embeddings, ctx, n_queries, k),
        ivf_topk(embeddings, ctx, n_queries, k, cent=cent),
    )


def build_ivf_recall(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return _recall_at_k(
        _cached_topk(spark, sf_dir, "cos_valid"),
        _cached_topk(spark, sf_dir, "ivf_valid"),
    )


ORACLE_SQL_IVF_RECALL = _recall_oracle_sql(_topk_oracle(_EMB_SRC), ORACLE_SQL_IVF)


# ---------------------------------------------- int8 quantization -----
def quantize_embeddings(
    embeddings: DataFrame, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Symmetric int8 quantization per vector (absmax scaling).

    The storage-scale operator of an embedding lake: float32 → int8 is
    a 4× footprint cut, and at 100 TB the quantized copy is what ANN
    scans read. Pure higher-order array expressions (transform /
    array_max / aggregate) — JVM codegen, one narrow pass, no shuffle.
    Cross-engine exact: the absmax and every rounded element are the
    same IEEE double ops in Spark and DuckDB (float32 operands promote
    exactly; both engines round half away from zero), so the row hash
    of the quantized vector is oracle-checkable.
    """
    absmax = F.array_max(F.transform("embedding", F.abs)).cast("double")
    scale = F.greatest(absmax, F.lit(1e-12))
    d = embeddings.withColumn("q_scale", scale).withColumn(
        "_qv",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 127 / F.col("q_scale")).cast(
                "int"
            ),
        ),
    )
    return d.select(
        "vec_id",
        "label",
        "q_scale",
        F.aggregate(
            "_qv",
            F.lit(0).cast("long"),
            lambda acc, v: acc + (v * v).cast("long"),
        ).alias("q_l2sq"),
        F.md5(
            F.array_join(F.transform("_qv", lambda v: v.cast("string")), ",")
        ).alias("q_hash"),
    )


def build_quantize(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return quantize_embeddings(valid_embeddings(load_star(spark, sf_dir)["embeddings"]), ctx)


ORACLE_SQL_QUANTIZE = f"""
WITH scaled AS (
  SELECT vec_id, label, embedding,
         greatest(CAST(list_max(list_transform(embedding,
                  x -> abs(x))) AS DOUBLE), 1e-12) AS q_scale
  FROM {_EMB_SRC}
),
q AS (
  SELECT vec_id, label, q_scale,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 127 / q_scale, 0) AS INT)
         ) AS qv
  FROM scaled
)
SELECT vec_id, label, q_scale,
       CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS q_l2sq,
       md5(array_to_string(list_transform(qv, v -> CAST(v AS VARCHAR)), ','))
         AS q_hash
FROM q
"""


# ------------------------------------------------- class centroids -----
def embedding_centroids(
    embeddings: DataFrame, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Exact per-label mean vector in long format (label, dim,
    n_vectors, centroid): each float lifts to the 1e-6 fixed-point
    BIGINT (the module's shared discipline), sums are exact integers,
    and the mean rounds HALF_UP at 6dp — bit-identical across engines
    regardless of partial-sum order. The classifier-prototype /
    per-class-drift monitor of an embedding pipeline; posexplode +
    one partial+final agg on (label, dim), so it scales as a plain
    grouped aggregate (dims are a constant fanout like the ANN plane
    count)."""
    from demo_etl_spark.functions.fixedpoint import round_div_signed

    return (
        embeddings.select(
            "label", F.posexplode(_e6_vec("embedding")).alias("dim", "v6")
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("v6").alias("_s6"),
        )
        .select(
            "label",
            "dim",
            "n_vectors",
            round_div_signed("_s6", "n_vectors * 1000000", 6).alias("centroid"),
        )
    )


def build_centroids(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    from demo_etl_spark.io import read_star_table

    return embedding_centroids(
        valid_embeddings(read_star_table(spark, sf_dir, "embeddings")), ctx
    )


from demo_etl_spark.functions.fixedpoint import round_div_signed_expr as _rde_centroids

ORACLE_SQL_CENTROIDS = f"""
WITH e AS (
  SELECT label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         TRY_CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS v6
  FROM {_EMB_SRC}
)
SELECT label, dim,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       {_rde_centroids("CAST(SUM(v6) AS BIGINT)", "COUNT(*) * 1000000", 6, "duckdb")} AS centroid
FROM e
GROUP BY label, dim
"""


# ----------------------------------------- per-dimension drift audit ----
def embedding_dim_stats(
    embeddings: DataFrame, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Per-dimension corpus health profile: n, mean, variance, min/max
    and dead-dimension (exact-zero) fraction for every embedding
    coordinate — the drift/collapse monitor an embedding lake runs per
    ingest batch (a dimension whose variance collapses or mean walks is
    an upstream-encoder regression).

    Shares the module's 1e-6 fixed-point lift: per-element q and q² are
    exact BIGINTs; the variance moments are summed in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) because the BIGINT identity n·Q − S²
    wraps silently in-engine around n ≈ 3·10³ unit-range vectors (n·Q
    grows as n²·(1e6·xmax)², not n·d·(…)² — ADVICE r3). In 38-digit
    space the worst term n·Q ≤ n²·(1e6·xmax)² stays exact to n ≈ 10¹³
    unit-range vectors, and the emitted quotient var_q ≤ (2e6·xmax)²
    < 2⁵³ is exact as a LONG and as a DOUBLE. mean = S/n and var =
    (n·Q − S²)/n² round HALF_UP in integer space (4dp, in float units)
    — bit-identical across engines and partial-sum orders (mean's
    BIGINT rounding keeps |S|·2·10⁴ < 2⁶³, i.e. n ≲ 4·10⁸ unit-range
    vectors). One posexplode + one grouped agg on a constant-fanout key
    (64 dims), so it scales as a plain partial+final aggregate.
    """
    from demo_etl_spark.functions.fixedpoint import round_div, round_div_signed

    return (
        embeddings.select(F.posexplode(_e6_vec("embedding")).alias("dim", "q"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("q").alias("_s"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,0)")).alias("_q2"),
            F.min("q").alias("min_q"),
            F.max("q").alias("max_q"),
            F.sum((F.col("q") == 0).cast("long")).alias("_nz"),
        )
        .select(
            "dim",
            "n",
            round_div_signed("_s", "n * 1000000", 4).alias("mean"),
            # HALF_UP((n·Q − S²)/n²) in exact DECIMAL(38,0) space (div
            # floors; num ≥ 0 by Cauchy–Schwarz so floor == HALF_UP
            # staging), then one deterministic IEEE double division
            # rescales q² units to float units²
            F.expr(
                "CAST(((CAST(n AS DECIMAL(38,0)) * _q2"
                "       - CAST(_s AS DECIMAL(38,0)) * CAST(_s AS DECIMAL(38,0))) * 2"
                "      + CAST(n AS DECIMAL(38,0)) * n) div "
                "     (CAST(n AS DECIMAL(38,0)) * n * 2) AS DOUBLE)"
                " / 1000000000000"
            ).alias("variance"),
            "min_q",
            "max_q",
            round_div("_nz", "n", 4).alias("zero_frac"),
        )
    )


def build_dim_stats(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    from demo_etl_spark.io import read_star_table

    return embedding_dim_stats(
        valid_embeddings(read_star_table(spark, sf_dir, "embeddings")), ctx
    )


from demo_etl_spark.functions.fixedpoint import (  # noqa: E402
    round_div_expr as _rde_dimstats,
)

ORACLE_SQL_DIM_STATS = f"""
WITH e AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         TRY_CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
  FROM {_EMB_SRC}
),
g AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS s,
         SUM(q * q) AS q2,
         MIN(q) AS min_q,
         MAX(q) AS max_q,
         CAST(SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nz
  FROM e GROUP BY dim
)
SELECT dim, n,
       {_rde_centroids("s", "n * 1000000", 4, "duckdb")} AS mean,
       CAST(CAST(((CAST(n AS HUGEINT) * q2
                   - CAST(s AS HUGEINT) * s) * 2
                  + CAST(n AS HUGEINT) * n)
                 // (CAST(n AS HUGEINT) * n * 2) AS BIGINT) AS DOUBLE)
         / 1000000000000 AS variance,
       min_q, max_q,
       {_rde_dimstats("nz", "n", 4, "duckdb")} AS zero_frac
FROM g
"""


# --------------------------------------------- product quantization -----
PQ_M = 4          # subspaces
PQ_STRIDE = 61    # every 61st vector seeds a per-subspace code
PQ_ITERS = 1      # deterministic L2 Lloyd refinement rounds


def _pq_subvectors(emb6: DataFrame) -> DataFrame:
    """(vec_id, label, m, sv): split each e6 vector into PQ_M contiguous
    subvectors; the last subspace absorbs any remainder dims."""
    sd = (F.size("v") / PQ_M).cast("int")
    subs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(
                    "v",
                    sd * m + 1,
                    F.when(F.lit(m) == PQ_M - 1, F.size("v") - sd * (PQ_M - 1))
                    .otherwise(sd),
                ).alias("sv"),
            )
            for m in range(PQ_M)
        ]
    )
    return emb6.select(
        "vec_id", "label", F.explode(subs).alias("s")
    ).select("vec_id", "label", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def _int_l2(a: str, b: str):
    """Exact BIGINT squared-L2 between two e6 (sub)vectors."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pq_book(sub: DataFrame, stride: int, iters: int) -> DataFrame:
    """Seeded deterministic per-subspace L2 Lloyd codebook (m, code_id,
    cv) — exact-BIGINT distances and HALF_UP integer means, so both
    the codes and the book itself are engine-portable."""
    book = sub.filter(F.col("vec_id") % stride == 0).select(
        "m", F.col("vec_id").alias("code_id"), F.col("sv").alias("cv")
    )
    # r14: the argmin per (vec_id, m) is a hash AGGREGATE
    # min(struct(_d, code_id)) — lexicographic struct min ≡ the former
    # row_number() over (ORDER BY _d, code_id) = 1 — instead of a sort
    # window: map-side partials collapse the |vectors|·|codes| distance
    # fanout to one row per subvector BEFORE the exchange (the window
    # shuffled and sorted every distance row). Group keys stay SCALAR
    # ((vec_id, m) is unique in sub) and sv rides through as max(sv) —
    # an array group key would force SortAggregate (see
    # _lloyd_centroids' note).
    for _ in range(iters):
        assign = (
            sub.join(F.broadcast(book), "m")
            .withColumn("_d", _int_l2("sv", "cv"))
            .groupBy("vec_id", "m")
            .agg(
                F.min(
                    F.struct(
                        F.col("_d").alias("_d"),
                        F.col("code_id").alias("code_id"),
                    )
                ).alias("_b"),
                F.max("sv").alias("sv"),
            )
            .select("m", F.col("_b.code_id").alias("cell"), "sv")
        )
        book = (
            assign.select("m", "cell", F.posexplode("sv").alias("pos", "val"))
            .groupBy("m", "cell", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn("mu", _signed_mean("s", "n"))
            .groupBy("m", "cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("_pm"))
            .select(
                "m",
                F.col("cell").alias("code_id"),
                F.transform("_pm", lambda st: st["mu"]).alias("cv"),
            )
        )
    return book


def product_quantize(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    stride: int = PQ_STRIDE,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """Product quantization: train a per-subspace L2 codebook (seeded
    deterministic Lloyd, exact-integer distances) and encode every
    vector as PQ_M code ids + its exact reconstruction error.

    The vector-lake compression tier below int8: 64 floats → 4 codes.
    All arithmetic is exact BIGINT (squared-L2 of e6 ints; HALF_UP
    integer means), so codes AND the reconstruction error are
    bit-identical across engines — the oracle retrains the codebook in
    SQL. Scale: codebook training joins the corpus against a broadcast
    codebook (codes = n/stride rows); at 100 TB you train on a sample
    and keep stride fixed — the plan shape (broadcast join + argmin
    window + per-dim agg) is unchanged.
    """
    emb6 = embeddings.select(
        "vec_id", "label", _e6_vec("embedding").alias("v")
    )
    sub = _pq_subvectors(emb6).localCheckpoint(eager=True)
    book = _pq_book(sub, stride, iters)
    # r14: same argmin-as-aggregate rewrite as _pq_book's assign stage
    # (see the note there) — the encode pass no longer sorts the full
    # distance fanout through a window
    coded = (
        sub.join(F.broadcast(book), "m")
        .withColumn("_d", _int_l2("sv", "cv"))
        .groupBy("vec_id", "label", "m")
        .agg(
            F.min(
                F.struct(
                    F.col("_d").alias("_d"),
                    F.col("code_id").alias("code_id"),
                )
            ).alias("_b")
        )
        .select(
            "vec_id",
            "label",
            "m",
            F.col("_b.code_id").alias("code_id"),
            F.col("_b._d").alias("_d"),
        )
    )
    return (
        coded.groupBy("vec_id", "label")
        .agg(
            *[
                F.max(F.when(F.col("m") == m, F.col("code_id"))).alias(
                    f"code_{m}"
                )
                for m in range(PQ_M)
            ],
            F.sum("_d").alias("recon_err"),
        )
    )


def build_pq(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    from demo_etl_spark.io import read_star_table

    return product_quantize(valid_embeddings(read_star_table(spark, sf_dir, "embeddings")), ctx)


def _pq_oracle(stride: int = PQ_STRIDE, iters: int = PQ_ITERS) -> str:
    """DuckDB twin: retrains the per-subspace codebook with the same
    seeded Lloyd in exact integer space, then encodes."""
    sub_expr = " UNION ALL ".join(
        f"""SELECT vec_id, label, {m} AS m,
       CASE WHEN {m} = {PQ_M - 1}
            THEN v[sd * {PQ_M - 1} + 1 :]
            ELSE v[sd * {m} + 1 : sd * {m + 1}] END AS sv
FROM e6"""
        for m in range(PQ_M)
    )
    l2 = (
        "CAST(COALESCE(list_sum(list_transform(range(1, len(s.sv) + 1), "
        "i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))), 0) AS BIGINT)"
    )
    parts = [
        f"""WITH e6 AS (
  SELECT vec_id, label,
         list_transform(embedding,
           y -> TRY_CAST(ROUND(CAST(y AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v,
         CAST(len(embedding) // {PQ_M} AS INTEGER) AS sd
  FROM {_EMB_SRC}
),
sub AS ({sub_expr}),
book0 AS (
  SELECT m, vec_id AS code_id, sv AS cv FROM sub WHERE vec_id % {stride} = 0
)"""
    ]
    for it in range(1, iters + 1):
        prev = f"book{it - 1}"
        parts.append(
            f""",
assign{it} AS (
  SELECT m, cell, sv FROM (
    SELECT s.m AS m, b.code_id AS cell, s.sv AS sv,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {l2} ASC, b.code_id ASC) AS r
    FROM sub s JOIN {prev} b USING (m)
  ) WHERE r = 1
),
book{it} AS (
  SELECT m, cell AS code_id, list(mu ORDER BY pos) AS cv
  FROM (
    SELECT m, cell, pos,
           CASE WHEN SUM(val) >= 0
                THEN (SUM(val) * 2 + COUNT(*)) // (2 * COUNT(*))
                ELSE -((-SUM(val) * 2 + COUNT(*)) // (2 * COUNT(*)))
           END AS mu
    FROM (SELECT m, cell, g.i AS pos, sv[g.i + 1] AS val
          FROM assign{it}, unnest(generate_series(0, len(sv) - 1)) AS g(i))
    GROUP BY m, cell, pos
  )
  GROUP BY m, cell
)"""
        )
    codes = ", ".join(
        f"MAX(CASE WHEN m = {m} THEN cell END) AS code_{m}"
        for m in range(PQ_M)
    )
    parts.append(
        f"""
SELECT vec_id, label, {codes},
       CAST(SUM(d) AS BIGINT) AS recon_err
FROM (
  SELECT s.vec_id AS vec_id, s.label AS label, s.m AS m,
         b.code_id AS cell, {l2} AS d,
         row_number() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY {l2} ASC, b.code_id ASC) AS r
  FROM sub s JOIN book{iters} b USING (m)
) WHERE r = 1
GROUP BY vec_id, label"""
    )
    return "".join(parts)


ORACLE_SQL_PQ = _pq_oracle()


def pq_topk(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    stride: int = PQ_STRIDE,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """PQ-ADC top-k search: the query meets only the 4-code table.

    Asymmetric distance computation — the search mode PQ exists for:
    the codebook is trained on the CANDIDATE corpus (queries held out),
    every candidate is stored as PQ_M code ids, and a query's distance
    to a candidate is the sum of PQ_M precomputed (query-subvector →
    code) table lookups. Emits each query's top-k by ADC distance plus
    the exact full-vector squared-L2 for those k (the approximation
    error is part of the result — accuracy governance like ann_recall).

    Scale: the per-pair work drops from a 64-float dot to 4 integer
    lookups over a (Q × codes × M) broadcast table, and the scan reads
    the code table (3 ints/row), not the vectors — the classic
    memory-bandwidth win; the pair count stays O(N·Q) like the exact
    baseline, so at 100 TB this composes with the IVF cell pruning
    (probe cells first, ADC within cells). All distances are exact
    BIGINTs — approximate SEARCH, deterministic ARITHMETIC.
    """
    emb6 = embeddings.select("vec_id", _e6_vec("embedding").alias("v"))
    sub = _pq_subvectors(
        emb6.withColumn("label", F.lit(0))
    ).localCheckpoint(eager=True)
    cand = sub.filter(F.col("vec_id") >= n_queries)
    qsub = sub.filter(F.col("vec_id") < n_queries)
    book = _pq_book(cand, stride, iters)
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("_d"), F.asc("code_id"))
    codes = (
        cand.join(F.broadcast(book), "m")
        .withColumn("_d", _int_l2("sv", "cv"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("vec_id", "m", F.col("code_id").alias("cell"))
    )
    lut = (
        qsub.join(F.broadcast(book), "m")
        .select(
            F.col("vec_id").alias("q_id"),
            "m",
            "code_id",
            _int_l2("sv", "cv").alias("d"),
        )
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes.m == lut.m) & (codes.cell == lut.code_id),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    wr = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    top = adc.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= k
    )
    qv = emb6.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    xv = emb6.select("vec_id", F.col("v").alias("xv"))
    return (
        top.join(F.broadcast(qv), "q_id")
        .join(xv, "vec_id")
        .select(
            F.col("q_id").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            "vec_id",
            "adc_dist",
            _int_l2("qv", "xv").alias("exact_dist"),
        )
    )


def build_pq_topk(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return _cached_topk(spark, sf_dir, "pq_valid")


def _pq_topk_oracle(
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    stride: int = PQ_STRIDE,
    iters: int = PQ_ITERS,
) -> str:
    sub_expr = " UNION ALL ".join(
        f"""SELECT vec_id, {m} AS m,
       CASE WHEN {m} = {PQ_M - 1}
            THEN v[sd * {PQ_M - 1} + 1 :]
            ELSE v[sd * {m} + 1 : sd * {m + 1}] END AS sv
FROM e6"""
        for m in range(PQ_M)
    )
    l2 = (
        "CAST(COALESCE(list_sum(list_transform(range(1, len(s.sv) + 1), "
        "i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))), 0) AS BIGINT)"
    )
    parts = [
        f"""WITH e6 AS (
  SELECT vec_id,
         list_transform(embedding,
           y -> TRY_CAST(ROUND(CAST(y AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v,
         CAST(len(embedding) // {PQ_M} AS INTEGER) AS sd
  FROM {_EMB_SRC}
),
sub AS ({sub_expr}),
cand AS (SELECT * FROM sub WHERE vec_id >= {n_queries}),
qsub AS (SELECT * FROM sub WHERE vec_id < {n_queries}),
book0 AS (
  SELECT m, vec_id AS code_id, sv AS cv FROM cand WHERE vec_id % {stride} = 0
)"""
    ]
    for it in range(1, iters + 1):
        prev = f"book{it - 1}"
        parts.append(
            f""",
assign{it} AS (
  SELECT m, cell, sv FROM (
    SELECT s.m AS m, b.code_id AS cell, s.sv AS sv,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {l2} ASC, b.code_id ASC) AS r
    FROM cand s JOIN {prev} b USING (m)
  ) WHERE r = 1
),
book{it} AS (
  SELECT m, cell AS code_id, list(mu ORDER BY pos) AS cv
  FROM (
    SELECT m, cell, pos,
           CASE WHEN SUM(val) >= 0
                THEN (SUM(val) * 2 + COUNT(*)) // (2 * COUNT(*))
                ELSE -((-SUM(val) * 2 + COUNT(*)) // (2 * COUNT(*)))
           END AS mu
    FROM (SELECT m, cell, g.i AS pos, sv[g.i + 1] AS val
          FROM assign{it}, unnest(generate_series(0, len(sv) - 1)) AS g(i))
    GROUP BY m, cell, pos
  )
  GROUP BY m, cell
)"""
        )
    parts.append(
        f""",
codes AS (
  SELECT vec_id, m, cell FROM (
    SELECT s.vec_id AS vec_id, s.m AS m, b.code_id AS cell,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {l2} ASC, b.code_id ASC) AS r
    FROM cand s JOIN book{iters} b USING (m)
  ) WHERE r = 1
),
lut AS (
  SELECT s.vec_id AS q_id, s.m AS m, b.code_id AS code_id, {l2} AS d
  FROM qsub s JOIN book{iters} b USING (m)
),
adc AS (
  SELECT l.q_id, c.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
  FROM codes c JOIN lut l ON c.m = l.m AND c.cell = l.code_id
  GROUP BY 1, 2
),
top AS (
  SELECT q_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist ASC, vec_id ASC) AS rank
  FROM adc QUALIFY rank <= {k}
)
SELECT t.q_id AS query_id, CAST(t.rank AS INTEGER) AS rank, t.vec_id,
       t.adc_dist,
       CAST(COALESCE(list_sum(list_transform(range(1, len(q.v) + 1),
            i -> (q.v[i] - x.v[i]) * (q.v[i] - x.v[i]))), 0) AS BIGINT)
         AS exact_dist
FROM top t
JOIN e6 q ON q.vec_id = t.q_id
JOIN e6 x ON x.vec_id = t.vec_id"""
    )
    return "".join(parts)


ORACLE_SQL_PQ_TOPK = _pq_topk_oracle()


# ------------------------------------------------ PQ-ADC recall audit ----
def l2_topk(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
) -> DataFrame:
    """Exact brute-force squared-L2 top-k over the PQ search's own
    query/candidate split (queries < n_queries are held OUT of the
    candidate corpus, mirroring ``pq_topk``) — the exact baseline of
    ``pq_recall``. All distances are exact BIGINTs (``_int_l2`` over
    the e6 lift), so ranks are engine-portable with no rounding step
    at all."""
    emb6 = embeddings.select("vec_id", _e6_vec("embedding").alias("v"))
    q = emb6.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = emb6.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("candidate_id"), F.col("v").alias("xv")
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn("_d", _int_l2("qv", "xv"))
    w = Window.partitionBy("query_id").orderBy(F.asc("_d"), F.asc("candidate_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "candidate_id")
    )


def pq_recall(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    stride: int = PQ_STRIDE,
    iters: int = PQ_ITERS,
) -> DataFrame:
    """Per-query recall@k of the PQ-ADC search against the exact
    squared-L2 top-k — the missing third leg of the audit symmetry
    (LSH → ann_recall, IVF → ivf_recall, PQ → this; r10 verdict #4).
    Built on the ONE shared ``_recall_at_k`` harness; both sides are
    deterministic, so the recall number sits under the cross-engine
    hash gate — a stride/iters/PQ_M retune that silently loses recall
    fails correctness, not just a dashboard."""
    approx = pq_topk(embeddings, ctx, n_queries, k, stride, iters).select(
        "query_id", F.col("vec_id").alias("candidate_id")
    )
    return _recall_at_k(l2_topk(embeddings, ctx, n_queries, k), approx)


def build_pq_recall(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    from demo_etl_spark.io import read_star_table

    exact = l2_topk(
        valid_embeddings(read_star_table(spark, sf_dir, "embeddings")), ctx
    )
    approx = _cached_topk(spark, sf_dir, "pq_valid").select(
        "query_id", F.col("vec_id").alias("candidate_id")
    )
    return _recall_at_k(exact, approx)


def _l2_topk_oracle(n_queries: int = N_QUERIES, k: int = TOP_K) -> str:
    """DuckDB twin of ``l2_topk`` (same held-out query split as the
    PQ oracle's cand/qsub CTEs)."""
    return f"""
WITH e6 AS (
  SELECT vec_id,
         list_transform(embedding,
           y -> TRY_CAST(ROUND(CAST(y AS DOUBLE) * 1000000, 0) AS BIGINT)) AS v
  FROM {_EMB_SRC}
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         CAST(COALESCE(list_sum(list_transform(range(1, len(q.v) + 1),
              i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i]))), 0) AS BIGINT) AS d
  FROM e6 q JOIN e6 c ON c.vec_id >= {n_queries}
  WHERE q.vec_id < {n_queries}
),
ranked AS (
  SELECT query_id, candidate_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d ASC, candidate_id ASC) AS rank
  FROM pairs
)
SELECT query_id, candidate_id FROM ranked WHERE rank <= {k}
"""


ORACLE_SQL_PQ_RECALL = _recall_oracle_sql(
    _l2_topk_oracle(), ORACLE_SQL_PQ_TOPK, "vec_id"
)


# ------------------------------------- hybrid lexical→vector retrieval ----
#: minimum shared df-capped shingles for a doc to become a rerank
#: candidate. 1 is the recall setting — the lexical stage is the
#: CANDIDATE GENERATOR, not the scorer; precision comes from the vector
#: rerank. (The word-level unit is useless on this corpus: 31 distinct
#: tokens with median df 388/500 — every doc matches every doc. The
#: 3-word shingle space is 16k-distinct with median df 1, which is what
#: an inverted index needs.)
HYBRID_MIN_OVERLAP = 1


def hybrid_rerank(
    documents: DataFrame,
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    min_overlap: int = HYBRID_MIN_OVERLAP,
    index: DataFrame | None = None,
) -> DataFrame:
    """Two-stage HYBRID retrieval — the production search architecture
    (lexical recall stage → vector precision stage; cf. BM25+dense
    rerank in public IR literature):

    1. **Lexical candidates**: the df-capped 3-word-shingle inverted
       index (``dedup._indexed_shingles`` — the SAME shared index the
       near-dup family builds) joins query postings to corpus postings
       on the 40-bit shingle hash; docs sharing ≥ ``min_overlap``
       shingles with a query become candidates. Candidate volume is
       O(n_queries × df-capped posting mass) — sub-linear in corpus
       size, never O(Q×N).
    2. **Vector rerank**: ONLY the candidates get an exact e6
       integer-cosine score (``_e6_frame`` lift — bit-identical across
       engines); per-query top-k by (cos DESC, candidate_id ASC).

    Identity convention: ``doc_id == vec_id`` (TESTDATA.md — the
    embeddings table is the documents' vector column stored long-form).
    A candidate or query without a valid embedding (NULL / degenerate /
    wrong-dim — ``_e6_frame`` screens) silently drops from the rerank on
    both engines.

    At 100 TB: the query posting set broadcasts (queries ≪ corpus); the
    candidate set re-shuffles once on candidate_id to meet the embedding
    table; the rerank window runs over ≤ candidates-per-query rows, not
    the corpus. The df cap (``dedup.MAX_SHINGLE_DF``) is the same scale
    lever the dedup family uses — a boilerplate shingle shared by
    millions of docs never floods the candidate join."""
    from demo_etl_spark.operators.dedup import (
        MAX_SHINGLE_DF,
        _indexed_shingles,
    )

    sh = (
        index
        if index is not None
        else _indexed_shingles(documents, MAX_SHINGLE_DF)
    )
    q_post = sh.select(F.col("doc_id").alias("query_id"), "h").filter(
        F.col("query_id") < n_queries
    )
    c_post = sh.select(F.col("doc_id").alias("candidate_id"), "h")
    cand = (
        q_post.join(c_post, "h")
        .filter(F.col("candidate_id") != F.col("query_id"))
        .groupBy("query_id", "candidate_id")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap"))
        .filter(F.col("overlap") >= min_overlap)
    )
    emb = _e6_frame(embeddings)
    qe = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("_qv"),
        F.col("_nrm").alias("_qn"),
    )
    ce = emb.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("v").alias("_cv"),
        F.col("_nrm").alias("_cn"),
    )
    scored = (
        cand.join(F.broadcast(qe.filter(F.col("query_id") < n_queries)), "query_id")
        .join(ce, "candidate_id")
        .withColumn("_cos_e6", _e6_cos("_qv", "_cv", "_qn", "_cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos_e6"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "candidate_id",
            "overlap",
            "rank",
            F.expr("CAST(_cos_e6 / 1000000 AS DOUBLE)").alias("cosine"),
        )
    )


def build_hybrid(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    from demo_etl_spark.operators.dedup import MAX_SHINGLE_DF, _cached_index

    star = load_star(spark, sf_dir)
    return hybrid_rerank(
        star["documents"],
        star["embeddings"],
        ctx,
        index=_cached_index(spark, sf_dir, MAX_SHINGLE_DF),
    )


def _hybrid_oracle() -> str:
    from demo_etl_spark.operators.dedup import _INDEXED_SH_SQL

    return f"""
WITH {_INDEXED_SH_SQL},
{_e6_norm_cte()},
cand AS (
  SELECT q.doc_id AS query_id, c.doc_id AS candidate_id,
         CAST(COUNT(*) AS BIGINT) AS overlap
  FROM sh q JOIN sh c ON c.h = q.h AND c.doc_id <> q.doc_id
  WHERE q.doc_id < {N_QUERIES}
  GROUP BY 1, 2
  HAVING COUNT(*) >= {HYBRID_MIN_OVERLAP}
),
scored AS (
  SELECT cand.query_id, cand.candidate_id, cand.overlap,
         {_e6_cos_sql("qe", "ce")} AS cos_e6
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ce ON ce.vec_id = cand.candidate_id
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_e6 DESC, candidate_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, candidate_id, overlap, rank,
       CAST(cos_e6 / 1000000 AS DOUBLE) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


ORACLE_SQL_HYBRID = _hybrid_oracle()


def hybrid_recall(
    documents: DataFrame,
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    index: DataFrame | None = None,
) -> DataFrame:
    """Per-query recall@k of the hybrid lexical→vector path against the
    exact brute-force top-k — the fourth member of the shared
    ``_recall_at_k`` audit family (LSH, IVF, PQ, hybrid). On this
    synthetic corpus text shingles and embedding geometry are largely
    independent, so the number reads LOW by construction (0.0–0.4) —
    the gate's value is that the number is deterministic and
    hash-pinned: a lexical-stage change that silently shifts what the
    rerank can see fails correctness, not a dashboard."""
    return _recall_at_k(
        cosine_topk(embeddings, ctx, n_queries, k),
        hybrid_rerank(
            documents, embeddings, ctx, n_queries, k, index=index
        ),
    )


def build_hybrid_recall(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    from demo_etl_spark.operators.dedup import MAX_SHINGLE_DF, _cached_index

    star = load_star(spark, sf_dir)
    # exact side joins the SAME memoized top-k frame the standalone
    # topk seat returns; the hybrid side is cheap (memoized shingle
    # index + candidate-only rerank) and is recomputed
    return _recall_at_k(
        _cached_topk(spark, sf_dir, "cos_raw"),
        hybrid_rerank(
            star["documents"],
            star["embeddings"],
            ctx,
            index=_cached_index(spark, sf_dir, MAX_SHINGLE_DF),
        ),
    )


ORACLE_SQL_HYBRID_RECALL = _recall_oracle_sql(
    ORACLE_SQL_TOPK, ORACLE_SQL_HYBRID
)


def _warm_shared_memos(spark: SparkSession, sf_dir: str) -> None:
    """Shared-memo warmer (io.register_memo_warmer contract): the Lloyd
    centroids (IVF + semantic dedup), every multi-consumer top-k memo
    (standalone seat + the recall audit that joins it), and the two
    embedding pair sets (standalone seat + ann-pair recall). pq_recall's
    exact-L2 baseline is computed inline by that query alone and is
    deliberately NOT warmed — it is that query's own work."""
    _cached_lloyd(spark, sf_dir)  # eager localCheckpoint
    for kind in ("cos_raw", "lsh_raw", "cos_valid", "ivf_valid", "pq_valid"):
        _cached_topk(spark, sf_dir, kind)  # eager localCheckpoint
    # the band-signature memo feeds the "ann" pair build below AND the
    # registered incremental seat — warm it first on this thread so the
    # pair build consumes the checkpoint
    _cached_band_sigs(spark, sf_dir)
    for kind in ("exact", "ann"):
        _cached_emb_pairs(spark, sf_dir, kind)  # eager localCheckpoint


register_memo_warmer(_warm_shared_memos)


# ---------------------------------------------- BM25 lexical retrieval ----
# Exact fixed-point BM25 over the 3-word-shingle term space (r13 verdict
# item 4) — the public-standard lexical scorer (Robertson/Spärck Jones;
# the k1/b defaults are the universal Lucene/Okapi setting), replacing
# raw overlap count as the candidate scorer in the retrieval stack.
# Everything is integer-exact so the DuckDB twin matches bit-for-bit:
#
# * k1 = 1.2 and b = 0.75 enter as the rationals 6/5 and 3/4 and are
#   FOLDED into one integer fraction — with A = avgdl·100 (HALF_UP
#   integer) the per-term tf factor tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
#   is exactly 22·A·tf / (10·A·tf + 3·A + 900·dl).
# * The IDF log uses the repo's floor-log2 trick (doc_surprisal_bits):
#   ⌊log₂((N+1)/(df+0.5))⌋ = length(bin((2N+2) div (2df+1))) − 1 — no
#   transcendental float ln anywhere (declared hash-fragile in
#   doc_typicality). Bit-quantized IDF keeps the rare-term dominance
#   shape; ties that true-log IDF would split resolve by the exact
#   integer tf factor and then the deterministic id tiebreak.
# * Per-term contributions round HALF_UP into e6 fixed point and SUM as
#   BIGINT. Overflow headroom: idf_bits ≤ 64, A ≤ 100·max dl, so the
#   pre-division product stays under 2^63 for corpora up to ~10⁶-token
#   documents — the same bound the packing family documents.
#
# Term statistics (tf WITH multiplicity, df, dl) come from one extra
# aggregate over the SAME raw shingle stream the dedup family hashes —
# df-capped like every other consumer (a boilerplate shingle shared by
# more than MAX_SHINGLE_DF docs never floods the candidate join; at
# 100 TB the vocabulary-sized tf/df tables broadcast).
def _bm25_tf_index(documents: DataFrame) -> DataFrame:
    """(doc_id, h, tf, df): hashed shingle index WITH term frequency."""
    from demo_etl_spark.operators.dedup import (
        HASH_HEX,
        MAX_SHINGLE_DF,
        _shingles,
    )

    h = F.conv(F.substring(F.md5("shingle"), 1, HASH_HEX), 16, 10).cast(
        "long"
    )
    occ = _shingles(documents).select("doc_id", h.alias("h"))
    tf = occ.groupBy("doc_id", "h").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = (
        tf.groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
    )
    return tf.join(dfreq, "h").select("doc_id", "h", "tf", "df")


def bm25_scores(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    tf_index: DataFrame | None = None,
) -> DataFrame:
    """Per-query BM25 top-k: (query_id, candidate_id, n_terms, rank,
    bm25). Queries are the doc_id < n_queries documents (the retrieval
    family's standing convention); candidates share ≥1 df-capped
    shingle. Ranking key is the exact e6 integer score with the id
    tiebreak — never a float."""
    ctf = tf_index if tf_index is not None else _bm25_tf_index(documents)
    dl = ctf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    # A = HALF_UP(100·T/N); the n_docs > 0 filter makes the empty corpus
    # yield an empty params frame (and so an empty result) instead of an
    # ANSI divide-by-zero — mirrored by the oracle's HAVING
    params = (
        dl.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("_t_total"),
        )
        .filter(F.col("n_docs") > 0)
        .select(
            "n_docs",
            F.expr("(200 * _t_total + n_docs) div (2 * n_docs)").alias("a"),
        )
    )
    q = ctf.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"), "h"
    )
    c = ctf.select(
        F.col("doc_id").alias("candidate_id"), "h", "tf", "df"
    )
    terms = (
        q.join(c, "h")
        .filter(F.col("candidate_id") != F.col("query_id"))
        .join(
            dl.withColumnsRenamed({"doc_id": "candidate_id"}),
            "candidate_id",
        )
        .crossJoin(F.broadcast(params))
        .withColumn(
            "_c_e6",
            F.expr(
                "(CAST(length(bin((2 * n_docs + 2) div (2 * df + 1))) - 1"
                " AS BIGINT) * 22 * a * tf * 1000000 * 2"
                " + (10 * a * tf + 3 * a + 900 * dl))"
                " div (2 * (10 * a * tf + 3 * a + 900 * dl))"
            ),
        )
    )
    scored = terms.groupBy("query_id", "candidate_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("_c_e6").cast("long").alias("_score_e6"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_score_e6"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "candidate_id",
            "n_terms",
            "rank",
            F.expr("CAST(_score_e6 / 1000000 AS DOUBLE)").alias("bm25"),
        )
    )


#: stage-1 prune width for the BM25→vector hybrid: the rerank touches at
#: most M candidates per query — THE cost bound that keeps the vector
#: stage O(queries · M) at any corpus size. At the test corpora every
#: query has < M lexical candidates, so the prune is a no-op and the
#: recall gate pins hybrid_bm25 recall == plain hybrid recall; on a
#: corpus where pruning bites, BM25 ordering decides WHICH M survive —
#: the point of scoring the candidate stage properly.
BM25_PRUNE_M = 128

@session_memo
def _cached_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-M: ONE ranking frame feeds the standalone top-k seat
    (rank <= TOP_K head), the lexical recall audit, and the hybrid
    rerank's candidate stage (the _cached_topk share-the-stage pattern)."""
    docs = load_star(spark, sf_dir)["documents"]
    return bm25_scores(docs, k=BM25_PRUNE_M).localCheckpoint(eager=True)


def build_bm25(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    # the top-k head of the memoized top-M frame (identical ranking key)
    return _cached_bm25(spark, sf_dir).filter(F.col("rank") <= TOP_K)


def build_bm25_recall(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Recall@k of BM25's lexical top-k against the exact cosine top-k —
    the retrieval stack's standing lexical/semantic alignment gate (the
    hybrid_recall construction with BM25 as the approx side). Reads LOW
    by construction (a pure lexical ranker scored against vector truth);
    its value is drift detection, not a quality bar — the quality bar is
    hybrid_bm25_recall."""
    return _recall_at_k(
        _cached_topk(spark, sf_dir, "cos_raw"),
        _cached_bm25(spark, sf_dir).filter(F.col("rank") <= TOP_K),
    )


def hybrid_bm25_rerank(
    bm25_candidates: DataFrame,
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
) -> DataFrame:
    """BM25-staged hybrid retrieval — the production two-stage shape
    with a PROPER stage-1 scorer: BM25 top-M lexical candidates (not
    raw overlap count) → exact e6 integer-cosine rerank → per-query
    top-k. ``lex_rank`` carries the stage-1 position so a consumer can
    audit how far down the lexical list the vector winners sat. The
    rerank cost is bounded by BM25_PRUNE_M per query at any corpus
    size; candidates without a valid embedding drop silently on both
    engines (the hybrid_rerank convention)."""
    cand = bm25_candidates.select(
        "query_id", "candidate_id", F.col("rank").alias("lex_rank")
    )
    emb = _e6_frame(embeddings)
    qe = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("_qv"),
        F.col("_nrm").alias("_qn"),
    )
    ce = emb.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("v").alias("_cv"),
        F.col("_nrm").alias("_cn"),
    )
    scored = (
        cand.join(
            F.broadcast(qe.filter(F.col("query_id") < n_queries)),
            "query_id",
        )
        .join(ce, "candidate_id")
        .withColumn("_cos_e6", _e6_cos("_qv", "_cv", "_qn", "_cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos_e6"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "candidate_id",
            "lex_rank",
            "rank",
            F.expr("CAST(_cos_e6 / 1000000 AS DOUBLE)").alias("cosine"),
        )
    )


def build_hybrid_bm25(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return hybrid_bm25_rerank(
        _cached_bm25(spark, sf_dir),
        load_star(spark, sf_dir)["embeddings"],
        ctx,
    )


def build_hybrid_bm25_recall(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Recall@k of the BM25-staged hybrid against exact cosine — the
    quality bar the r13 ADVICE set: >= the overlap-staged hybrid's
    recall (equality whenever the M-prune is a no-op; tested)."""
    return _recall_at_k(
        _cached_topk(spark, sf_dir, "cos_raw"),
        build_hybrid_bm25(spark, sf_dir, ctx),
    )


def _bm25_oracle(k: int = TOP_K) -> str:
    from demo_etl_spark.operators.dedup import (
        HASH_HEX,
        MAX_SHINGLE_DF,
        _SHINGLE_SQL,
    )

    den = "(10 * a * tf + 3 * a + 900 * dl)"
    return f"""
WITH occ AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(shingle), 1, {HASH_HEX}) AS BIGINT) AS h
  FROM ({_SHINGLE_SQL})
),
tft AS (
  SELECT doc_id, h, CAST(COUNT(*) AS BIGINT) AS tf FROM occ GROUP BY 1, 2
),
dfreq AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS df
  FROM tft GROUP BY h HAVING COUNT(*) <= {MAX_SHINGLE_DF}
),
ctf AS (SELECT tft.doc_id, tft.h, tft.tf, dfreq.df
        FROM tft JOIN dfreq USING (h)),
dlen AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl
         FROM ctf GROUP BY doc_id),
params AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         (200 * CAST(SUM(dl) AS BIGINT) + COUNT(*)) // (2 * COUNT(*)) AS a
  FROM dlen HAVING COUNT(*) > 0
),
terms AS (
  SELECT q.doc_id AS query_id, c.doc_id AS candidate_id,
         c.tf, c.df, d.dl, p.n_docs, p.a
  FROM ctf q
  JOIN ctf c ON c.h = q.h AND c.doc_id <> q.doc_id
  JOIN dlen d ON d.doc_id = c.doc_id
  CROSS JOIN params p
  WHERE q.doc_id < {N_QUERIES}
),
contrib AS (
  SELECT query_id, candidate_id,
         (CAST(length(bin((2 * n_docs + 2) // (2 * df + 1))) - 1 AS BIGINT)
          * 22 * a * tf * 1000000 * 2 + {den}) // (2 * {den}) AS c_e6
  FROM terms
),
scored AS (
  SELECT query_id, candidate_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(c_e6) AS BIGINT) AS score_e6
  FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score_e6 DESC, candidate_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, candidate_id, n_terms, rank,
       CAST(score_e6 / 1000000 AS DOUBLE) AS bm25
FROM ranked WHERE rank <= {k}
"""


ORACLE_SQL_BM25 = _bm25_oracle()


def _hybrid_bm25_oracle() -> str:
    return f"""
WITH bm AS ({_bm25_oracle(BM25_PRUNE_M)}),
{_e6_norm_cte()},
cand AS (
  SELECT query_id, candidate_id, rank AS lex_rank FROM bm
),
scored AS (
  SELECT cand.query_id, cand.candidate_id, cand.lex_rank,
         {_e6_cos_sql("qe", "ce")} AS cos_e6
  FROM cand
  JOIN e qe ON qe.vec_id = cand.query_id
  JOIN e ce ON ce.vec_id = cand.candidate_id
),
reranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_e6 DESC, candidate_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, candidate_id, lex_rank, rank,
       CAST(cos_e6 / 1000000 AS DOUBLE) AS cosine
FROM reranked WHERE rank <= {TOP_K}
"""


ORACLE_SQL_HYBRID_BM25 = _hybrid_bm25_oracle()
ORACLE_SQL_BM25_RECALL = _recall_oracle_sql(ORACLE_SQL_TOPK, ORACLE_SQL_BM25)
ORACLE_SQL_HYBRID_BM25_RECALL = _recall_oracle_sql(
    ORACLE_SQL_TOPK, ORACLE_SQL_HYBRID_BM25
)


def _warm_bm25_memo(spark: SparkSession, sf_dir: str) -> None:
    """The BM25 top-M frame feeds four registered seats (standalone
    top-k, lexical recall, hybrid rerank, hybrid recall)."""
    _cached_bm25(spark, sf_dir)


register_memo_warmer(_warm_bm25_memo)


# ---------------------------------------------- reciprocal-rank fusion ----
#: the standard RRF constant (Cormack/Clarke/Buettcher 2009): dampens
#: the head so one system's #1 cannot drown the other's consensus
RRF_K = 60


def rrf_fusion(
    lex: DataFrame, vec: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 lexical ranking and the exact
    cosine ranking — the public-standard score-free hybrid (RRF: score =
    Σ 1/(K + rank) over the lists a candidate appears in). Score-free
    matters: BM25 and cosine live on incomparable scales, and RRF never
    compares them — only their ranks.

    Exactness: each 1/(K + rank) contribution is HALF_UP e9 fixed point
    ((2e9 + d) div (2d), d = K + rank) summed as BIGINT — no float
    addition order anywhere; final order (rrf_e9 DESC, candidate_id)
    is a pure integer sort. A candidate on one list only contributes
    that list's term (the outer-join COALESCE 0 convention). Both input
    lists are session-memoized frames, so the fusion itself is one
    outer join + one bounded per-query window."""
    from pyspark.sql.window import Window as _W

    def contr(rank_col: str):
        d = f"({RRF_K} + {rank_col})"
        return F.expr(f"(2000000000 + {d}) div (2 * {d})")

    l_side = lex.select(
        "query_id", "candidate_id", F.col("rank").alias("lex_rank")
    )
    v_side = vec.select(
        "query_id", "candidate_id", F.col("rank").alias("vec_rank")
    )
    j = l_side.join(v_side, ["query_id", "candidate_id"], "full_outer")
    scored = j.withColumn(
        "rrf_e9",
        (
            F.coalesce(contr("lex_rank"), F.lit(0))
            + F.coalesce(contr("vec_rank"), F.lit(0))
        ).cast("long"),
    )
    w = _W.partitionBy("query_id").orderBy(
        F.desc("rrf_e9"), F.asc("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "candidate_id",
            "lex_rank",
            "vec_rank",
            "rank",
            F.expr("CAST(rrf_e9 / 1000000000 AS DOUBLE)").alias("rrf"),
        )
    )


def build_rrf_fusion(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return rrf_fusion(
        _cached_bm25(spark, sf_dir),
        _cached_topk(spark, sf_dir, "cos_raw"),
    )


def build_rrf_recall(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Recall@k of the RRF-fused list vs exact cosine — the family rule
    (every approximate ranker carries a recall seat under the hash
    gate). RRF mixes lexical evidence into the order, so this reads
    below 1.0 by design; the gate's value is that a fusion change
    fails correctness, not a dashboard."""
    return _recall_at_k(
        _cached_topk(spark, sf_dir, "cos_raw"),
        build_rrf_fusion(spark, sf_dir, ctx),
    )


def _rrf_oracle() -> str:
    def contr(rank_col: str) -> str:
        d = f"({RRF_K} + {rank_col})"
        return f"COALESCE((2000000000 + {d}) // (2 * {d}), 0)"

    return f"""
WITH lex AS ({_bm25_oracle(BM25_PRUNE_M)}),
vec AS ({ORACLE_SQL_TOPK}),
j AS (
  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         COALESCE(l.candidate_id, v.candidate_id) AS candidate_id,
         l.rank AS lex_rank, v.rank AS vec_rank
  FROM lex l FULL OUTER JOIN vec v
    ON v.query_id = l.query_id AND v.candidate_id = l.candidate_id
),
scored AS (
  SELECT *, CAST({contr("lex_rank")} + {contr("vec_rank")} AS BIGINT)
            AS rrf_e9
  FROM j
),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rrf_e9 DESC, candidate_id) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, candidate_id, lex_rank, vec_rank, rank,
       CAST(rrf_e9 / 1000000000 AS DOUBLE) AS rrf
FROM ranked WHERE rank <= {TOP_K}
"""


ORACLE_SQL_RRF = _rrf_oracle()
ORACLE_SQL_RRF_RECALL = _recall_oracle_sql(ORACLE_SQL_TOPK, ORACLE_SQL_RRF)


# ------------------------------------ incremental embedding dedup -------
def embedding_incremental_dedup(
    embeddings: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = NEAR_DUP_THRESHOLD,
    bands: int = ANN_BANDS,
    ppb: int = ANN_BAND_PLANES,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW embedding shard against the EXISTING corpus — the
    vector-space member of the incremental family (text:
    dedup.incremental_dedup; image: multimodal.incremental_image_dedup;
    same deterministic INCR_MOD/INCR_SLOT shard split so the three
    registered exercises carve the corpus identically).

    One verdict row per incoming vector: best corpus match (exact e6
    integer cosine on banded hyperplane-LSH candidates), the cosine
    evidence, and ``is_new`` (no corpus vector reaches the near-dup
    threshold). Only CROSS-BOUNDARY (new × corpus) bucket pairs are
    generated — the corpus never self-joins, so per-batch cost scales
    with the increment times bucket width. Ranking is integer-exact:
    is_dup DESC, cos_e6 DESC (a BIGINT, never a float sort key),
    corpus id ASC. Candidate recall is governed by the same bands/ppb
    dial the registered ANN path audits via dedup_ann_pair_recall."""
    from demo_etl_spark.operators.dedup import INCR_MOD, INCR_SLOT

    t_e6 = int(round(threshold * 1_000_000))
    # NOTE (r14 optimization round): a PER-QUERY checkpoint of emb
    # and/or sigs here was tried and MEASURED SLOWER or neutral at
    # sf0.1 (emb+sigs: 2.47 s → 3.17 s — the wide int-array
    # materialization dwarfs the branch recomputes off the cached scan;
    # per-query sigs-only: no gain, the barrier is charged to this one
    # query). What DOES pay is the shared SESSION memo: the identical
    # default-dial signature frame is also the ann-pair memo's candidate
    # input, so the registered build injects ``_cached_band_sigs`` and
    # the signature pipeline runs once per session instead of twice
    # (ann build) + twice (here). emb stays un-checkpointed — map-only
    # off the cached scan. See OPTIMIZATION_r14.md.
    emb = _e6_frame(embeddings)
    if sigs is None:
        sigs = _band_signatures(emb.select("vec_id", "embedding"), bands, ppb)
    in_slot = F.col("vec_id") % INCR_MOD == INCR_SLOT
    ns = sigs.filter(in_slot).select(
        F.col("vec_id").alias("vec_new"), "band", "sig"
    )
    cs = sigs.filter(~in_slot).select(
        F.col("vec_id").alias("vec_old"), "band", "sig"
    )
    cand = ns.join(cs, ["band", "sig"]).select("vec_new", "vec_old").distinct()
    ea = emb.select(
        F.col("vec_id").alias("vec_new"),
        F.col("v").alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_old"),
        F.col("v").alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    # r14 (guide §2.3): project the two 64-long vectors OFF before any
    # exchange — only (ids, cos, flag) leave the scoring stage — and
    # compute the best-match argmin as a hash AGGREGATE
    # min(struct(NOT is_dup, -cos, vec_old)) ≡ the former row_number()
    # over (is_dup DESC, cos DESC, vec_old ASC) = 1: booleans order
    # false < true so NOT is_dup puts duplicates first, and |cos| ≤ 1e6
    # makes the negation overflow-safe. Map-side partials collapse the
    # candidate fanout before the shuffle; no sort.
    scored = (
        cand.join(ea, "vec_new")
        .join(eb, "vec_old")
        .withColumn("_cos_e6", _e6_cos("_va", "_vb", "_na", "_nb"))
        .select(
            "vec_new",
            "vec_old",
            "_cos_e6",
            (F.col("_cos_e6") >= t_e6).alias("_is_dup"),
        )
    )
    best = (
        scored.groupBy("vec_new")
        .agg(
            F.min(
                F.struct(
                    (~F.col("_is_dup")).alias("_nd"),
                    (-F.col("_cos_e6")).alias("_nc"),
                    F.col("vec_old").alias("vec_old"),
                )
            ).alias("_b")
        )
        .select(
            "vec_new",
            F.col("_b.vec_old").alias("vec_old"),
            (-F.col("_b._nc")).alias("_cos_e6"),
            (~F.col("_b._nd")).alias("_is_dup"),
        )
    )
    incoming = emb.filter(in_slot).select(F.col("vec_id").alias("vec_new"))
    return incoming.join(best, "vec_new", "left").select(
        F.col("vec_new").alias("vec_id"),
        F.col("vec_old").alias("best_match"),
        F.expr("CAST(_cos_e6 / 1000000 AS DOUBLE)").alias("cosine"),
        F.coalesce(~F.col("_is_dup"), F.lit(True)).alias("is_new"),
    )


def build_embedding_incremental(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return embedding_incremental_dedup(
        load_star(spark, sf_dir)["embeddings"], ctx,
        sigs=_cached_band_sigs(spark, sf_dir),
    )


def _embedding_incremental_oracle(
    threshold: float = NEAR_DUP_THRESHOLD,
    bands: int = ANN_BANDS,
    ppb: int = ANN_BAND_PLANES,
) -> str:
    from demo_etl_spark.operators.dedup import INCR_MOD, INCR_SLOT

    sig_cols = ", ".join(
        f"({_band_sign_sql(b, ppb)}) AS s{b}" for b in range(bands)
    )
    sig_list = ", ".join(f"s{b}" for b in range(bands))
    return f"""
WITH {_e6_norm_cte()},
sigw AS (SELECT vec_id, {sig_cols} FROM e),
sig AS (
  SELECT vec_id,
         unnest(range(0, {bands})) AS band,
         unnest([{sig_list}]) AS sig
  FROM sigw
),
cand AS (
  SELECT DISTINCT n.vec_id AS vec_new, c.vec_id AS vec_old
  FROM sig n JOIN sig c ON c.band = n.band AND c.sig = n.sig
  WHERE n.vec_id % {INCR_MOD} = {INCR_SLOT}
    AND c.vec_id % {INCR_MOD} <> {INCR_SLOT}
),
scored AS (
  SELECT cand.vec_new, cand.vec_old,
         {_e6_cos_sql("x", "y")} AS cos_e6,
         {_e6_cos_sql("x", "y")} >= {int(round(threshold * 1_000_000))}
           AS is_dup
  FROM cand
  JOIN e x ON x.vec_id = cand.vec_new
  JOIN e y ON y.vec_id = cand.vec_old
),
best AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_new
    ORDER BY is_dup DESC, cos_e6 DESC, vec_old) AS rn
  FROM scored
)
SELECT i.vec_id, b.vec_old AS best_match,
       CAST(b.cos_e6 / 1000000 AS DOUBLE) AS cosine,
       COALESCE(NOT b.is_dup, TRUE) AS is_new
FROM (SELECT vec_id FROM e WHERE vec_id % {INCR_MOD} = {INCR_SLOT}) i
LEFT JOIN best b ON b.vec_new = i.vec_id AND b.rn = 1
"""


ORACLE_SQL_EMBEDDING_INCREMENTAL = _embedding_incremental_oracle()
