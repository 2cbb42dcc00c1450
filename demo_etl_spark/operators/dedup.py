"""Document deduplication (north-star extension; BASELINE.json).

Four scale-designed strategies over the ``documents`` table:

* **Exact** — hash-groupBy on md5(text): one shuffle on a 32-byte key,
  map-side partial agg. At 100 TB this is the canonical first pass.
* **Exact n-gram Jaccard** — all pairs with 3-shingle Jaccard ≥ τ via an
  inverted shingle index (explode → self-join on shingle-hash → count
  common → |A∪B| from per-doc set sizes). No O(n²) pair enumeration:
  only docs sharing ≥1 shingle meet. Worst-case quadratic blowup from
  boilerplate shingles is bounded by a **document-frequency cap**
  (``max_df``, default 1000): a shingle shared by k docs contributes k²
  join rows, so real pipelines drop ultra-common shingles — they carry
  no near-dup signal. The cap defines the *effective shingle set* used
  consistently for sizes, signatures and verification (mirrored in the
  oracle, so both engines agree at any scale).
* **MinHash LSH** — the 100 TB path. One 40-bit hash per shingle
  (md5-prefix → int; swap for ``xxhash64`` when cross-engine oracle
  parity is not needed) + 32 affine permutations
  ``(aᵢ·h + bᵢ) mod p`` (p = 2⁴⁰+15 prime; constants fixed at module
  import) — integer multiply-adds instead of 32 md5s per shingle row,
  ~10× cheaper. Signatures are banded 8×4; docs sharing a band bucket
  become candidates; candidates are verified with exact Jaccard over the
  hashed-shingle index. Shuffle volume is O(docs × bands), not O(pairs).
* **SimHash** — 32-bit TF-weighted signatures, 4×8-bit band LSH,
  Hamming-distance verify.

Everything is deterministic and built from integer/md5 arithmetic, so the
DuckDB oracle reproduces signatures bit-for-bit. All variants are pure
built-in expression pipelines (split / transform / explode / groupBy) —
no Python UDFs, whole-stage codegen throughout.
"""

from __future__ import annotations

import random as _random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_etl_spark.context import DEFAULT_CONTEXT, RunContext
from demo_etl_spark.functions.fixedpoint import round_div, round_div_expr
from demo_etl_spark.io import (
    load_star,
    register_memo_warmer,
    register_persist,
    session_memo,
)

SHINGLE_WORDS = 3
JACCARD_THRESHOLD = 0.8
NUM_HASHES = 32
NUM_BANDS = 8  # 4 rows/band
HASH_HEX = 10  # 40-bit shingle hash: md5 prefix → int
MAX_SHINGLE_DF = 1000  # document-frequency cap for the inverted index

# Affine minhash permutations over Z_p, p the smallest prime > 2^40.
# a < 2^22 bounds a·h + b < 2^63 (no signed-64 overflow in Spark, no
# checked-overflow error in DuckDB). Constants are drawn once from a
# fixed-seed PRNG so both engines (and every run) agree.
MINHASH_PRIME = 1099511627791  # 2^40 + 15
_rng = _random.Random(20260813)
MINHASH_PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, 1 << 22), _rng.randrange(0, MINHASH_PRIME))
    for _ in range(NUM_HASHES)
]
del _rng


def exact_dedup(documents: DataFrame, ctx: RunContext = DEFAULT_CONTEXT) -> DataFrame:
    """One row per distinct text: canonical (min) doc_id + copy count."""
    return (
        documents.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_chars").alias("n_chars"),
        )
        .select("text_hash", "doc_id", "n_copies", "n_chars")
    )


def _shingles(documents: DataFrame) -> DataFrame:
    """(doc_id, shingle) WITH duplicates — 3-word shingles from
    whitespace tokens. Deliberately NOT distinct here: the only
    consumer (``_indexed_shingles``) dedups on the 40-bit hash anyway,
    and a distinct at the string level is a full shuffle of the ~20-byte
    shingle mass that the 8-byte hash-level distinct subsumes (the
    DuckDB oracle mirrors this — its outer DISTINCT is on (doc_id, h))."""
    tokens = F.split(F.col("text"), " ")
    sh = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - SHINGLE_WORDS),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, SHINGLE_WORDS)),
    )
    # Guard: Spark's sequence(0, n-3) DESCENDS when n < 3 (DuckDB's range
    # is empty) — drop too-short docs before exploding.
    return (
        documents.filter(F.size(tokens) >= SHINGLE_WORDS)
        .select("doc_id", F.explode(sh).alias("shingle"))
    )


def _indexed_shingles(
    documents: DataFrame, max_df: int | None = MAX_SHINGLE_DF
) -> DataFrame:
    """(doc_id, h, df): the hashed inverted shingle index.

    ``h`` is the 40-bit md5-prefix hash of the shingle — an 8-byte join
    key instead of a ~20-byte string (collision odds at 1M distinct
    shingles: ~5e-4; collisions merge identically in both engines, so
    the oracle still matches). ``df`` is the shingle's document
    frequency; rows with df > ``max_df`` are dropped — the bounded
    effective shingle set all downstream math uses.
    """
    h = F.conv(F.substring(F.md5("shingle"), 1, HASH_HEX), 16, 10).cast("long")
    sh = _shingles(documents).select("doc_id", h.alias("h")).distinct()
    dfreq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_df)
    return sh.join(dfreq, "h").select("doc_id", "h", "df")


def _common_counts(sh: DataFrame) -> DataFrame:
    """Per-pair shared-shingle counts from the df-capped inverted index:
    prune singleton shingles (df = 1 contributes no pair), self-join on
    the hash with doc_a < doc_b, count per pair. Shared by the Jaccard,
    containment, and incremental exact baselines (r10 review: the block
    existed verbatim in each — a df-prune or join-hint change must land
    once, not three times)."""
    shared = sh.filter(F.col("df") >= 2)
    a = shared.alias("a")
    b = shared.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )


def _jaccard_from_common(
    common: DataFrame,
    sizes: DataFrame,
    threshold: float,
    with_union: bool = False,
) -> DataFrame:
    """Join per-pair common counts to per-doc sizes; integer-space filter:
    common/(|A|+|B|−common) ≥ τ  ⟺  common·10⁶ ≥ τ·10⁶·(|A|+|B|−common).
    Threshold resolution is 1e-6 (matching the similarity module's t_e6
    discipline — the old ·100 scale silently quantized a caller's 0.825
    to 0.82, r10 review); identical decisions at the 2-decimal default
    thresholds, so every oracle twin (spelled at the defaults) is
    unchanged. ``with_union=True`` additionally exposes the raw
    common/union counts."""
    t_e6 = int(round(threshold * 1_000_000))
    extra = (
        ["common", (F.col("na") + F.col("nb") - F.col("common")).alias("union_size")]
        if with_union
        else []
    )
    return (
        common.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_shingles": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_shingles": "nb"}), "doc_b")
        .filter(F.expr(f"common * 1000000 >= {t_e6} * (na + nb - common)"))
        .select(
            "doc_a",
            "doc_b",
            *extra,
            round_div("common", "na + nb - common", 6).alias("jaccard"),
        )
    )


@session_memo
def _cached_index(spark: SparkSession, sf_dir: str, max_df: int | None) -> DataFrame:
    """Session memo of the hashed inverted shingle index. It feeds four
    registered queries (ngram, minhash, clusters, curation's near-dup
    stage), so the split/explode/hash work happens once per session (C1
    discipline at the operator layer).

    r14: ONE persisted base — the UNCAPPED index — serves every cap.
    ``_indexed_shingles`` computes df over ALL shingles and applies the
    cap as a post-filter on df, so the capped index is exactly
    ``uncapped.filter(df <= max_df)`` row for row; a capped ask returns
    that filter VIEW over the persisted base instead of persisting a
    second full shingle-explode + distinct + df pipeline. Before this,
    a session running both the df-capped family (warmed) and
    ``ngram_novelty`` (uncapped) built the index twice; now the one
    warmed build serves both and novelty is an aggregate over the
    persisted frame. Trade-off, documented: the persisted frame keeps
    the df > max_df boilerplate rows the capped persist used to drop —
    MEMORY_AND_DISK absorbs the delta, and capped consumers pay a
    trivial in-memory filter per scan."""
    if max_df is None:
        docs = load_star(spark, sf_dir)["documents"]
        return register_persist(_indexed_shingles(docs, None))
    return _cached_index(spark, sf_dir, None).filter(F.col("df") <= max_df)


def ngram_jaccard_pairs(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int | None = MAX_SHINGLE_DF,
    index: DataFrame | None = None,
    common: DataFrame | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact near-dup pairs: 3-shingle Jaccard ≥ threshold (df-capped set).

    EXACT BASELINE — not the scale default. The contract (every true
    pair, exact Jaccard) makes candidate volume O(Σ df²) over shared
    shingles; the df cap bounds the worst case but cannot change the
    quadratic contract. At 100 TB use ``minhash_lsh_pairs`` (banded
    LSH → exact verify on the candidate set) — which is what
    ``corpus_curation`` routes through exclusively; this operator exists
    as the ground-truth twin recall is audited against.

    ``common`` optionally injects a precomputed ``_common_counts(sh)``
    frame (the session memo, r14) — it MUST have been built from the
    same index or the pair set silently diverges.
    """
    # the shingle index feeds three consumers (sizes, join-left, join-right):
    # persist so the split/explode runs once (C1 discipline, the reference's
    # fan-out persist — generate-asset.scala:47)
    sh = index if index is not None else register_persist(_indexed_shingles(documents, max_df))
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    if common is None:
        common = _common_counts(sh)
    return _jaccard_from_common(common, sizes, threshold, with_union=True)


CONTAINMENT_THRESHOLD = 0.9


def ngram_containment_pairs(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = CONTAINMENT_THRESHOLD,
    max_df: int | None = MAX_SHINGLE_DF,
    index: DataFrame | None = None,
    common: DataFrame | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-dup: shingle containment common/min(|A|,|B|) ≥ τ.

    Catches the doc-inside-doc case Jaccard structurally misses — a
    short document fully embedded in a long one has containment 1.0 but
    Jaccard |A∩B|/|A∪B| ≈ |A|/|B|, far below any dedup threshold (and
    below what MinHash bands tuned for Jaccard will candidate). A
    training-data pipeline needs this pass for quote/boilerplate
    inclusion and partial crawls.

    EXACT BASELINE like ``ngram_jaccard_pairs`` (same Σ df² candidate
    contract, same df cap, same memoized index); integer-space predicate
    ``common·1_000_000 ≥ τ_e6·least(na, nb)`` (τ at 1e-6 resolution, see
    ``_jaccard_from_common``) keeps it engine-exact. The hand-written
    DuckDB twins intentionally stay at the coarser ``·100`` scale: the
    default thresholds are exact multiples of 0.01, so both scalings
    select identical pairs there.
    """
    t_e6 = int(round(threshold * 1_000_000))  # 1e-6 resolution, see _jaccard_from_common
    sh = index if index is not None else register_persist(_indexed_shingles(documents, max_df))
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    if common is None:
        common = _common_counts(sh)
    return (
        common.join(
            sizes.withColumnsRenamed({"doc_id": "doc_a", "n_shingles": "na"}), "doc_a"
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_b", "n_shingles": "nb"}), "doc_b"
        )
        .filter(F.expr(f"common * 1000000 >= {t_e6} * least(na, nb)"))
        .select(
            "doc_a",
            "doc_b",
            "common",
            F.least("na", "nb").alias("smaller_size"),
            round_div("common", "least(na, nb)", 6).alias("containment"),
        )
    )


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """32 affine-permutation minhashes per doc in one grouped pass.

    min((aᵢ·h + bᵢ) mod p) over the doc's shingle hashes — pure integer
    multiply-add-mod inside a single hash-aggregate; ~10× cheaper than
    per-seed md5 hashing (the classic one-hash-many-permutations trick).
    """
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"s{i}")
        for i, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int | None = MAX_SHINGLE_DF,
    index: DataFrame | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates (8 bands × 4 rows) verified with exact Jaccard."""
    sh = index if index is not None else register_persist(_indexed_shingles(documents, max_df))
    sig = _minhash_signatures(sh)
    rows_per_band = NUM_HASHES // NUM_BANDS
    # band bucket = the 4 signature values joined textually — a plain
    # equality key; no extra hashing needed (and none in the oracle)
    bands = F.array(
        *[
            F.concat_ws(
                "|",
                *[
                    F.col(f"s{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(NUM_BANDS)
        ]
    )
    buckets = sig.select("doc_id", F.posexplode(bands).alias("band", "bucket"))
    cand = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # verify candidates with the exact Jaccard — the intersection join runs
    # on the 8-byte hashed index (df-capped), not raw shingle strings
    common = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "h"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "h"), ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _jaccard_from_common(common, sizes, threshold)


def build_exact(spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT) -> DataFrame:
    return exact_dedup(load_star(spark, sf_dir)["documents"], ctx)


@session_memo
def _cached_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc distinct-shingle COUNTS over the df-capped index (r14) —
    the (doc_id, n_shingles) aggregate is recomputed TWICE per consumer
    plan (it joins both pair sides) in the jaccard/minhash pair builds
    (warm stage), the containment seat and the incremental seat.
    Doc-count rows, eager checkpoint. The r14 "tried and reverted" note
    on incremental_dedup's per-query sizes checkpoint stands for the
    PER-QUERY barrier; this is the session memo with four registered
    consumers (the item-26 distinction)."""
    return (
        _cached_index(spark, sf_dir, MAX_SHINGLE_DF)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .localCheckpoint(eager=True)
    )


@session_memo
def _cached_common_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair shared-shingle COUNTS over the df-capped index (r14) —
    the ``_common_counts`` self-join is the expensive stage shared
    verbatim by the exact-Jaccard pair build (feeding _cached_ngram_pairs
    during warm-up) and the containment seat, which re-ran the full index
    self-join per query. Module defaults only: a parameterized build
    calls _common_counts directly. Scale note: this table is the
    declared O(Σ df²) exact-baseline candidate volume — memoizing it
    changes nothing asymptotically, it just stops computing it twice per
    session."""
    return _common_counts(
        _cached_index(spark, sf_dir, MAX_SHINGLE_DF)
    ).localCheckpoint(eager=True)


@session_memo
def _cached_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified ngram-Jaccard pair set (r14) — two registered
    consumers (dedup_ngram_jaccard, media_dedup_agreement's truth side)
    each re-ran the full band join + exact-verify pipeline per query.
    Module defaults only: a parameterized build calls
    ngram_jaccard_pairs directly."""
    return ngram_jaccard_pairs(
        load_star(spark, sf_dir)["documents"],
        index=_cached_index(spark, sf_dir, MAX_SHINGLE_DF),
        common=_cached_common_counts(spark, sf_dir),
        sizes=_cached_sizes(spark, sf_dir),
    ).localCheckpoint(eager=True)


def build_ngram(spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT) -> DataFrame:
    return _cached_ngram_pairs(spark, sf_dir)


def build_containment(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return ngram_containment_pairs(
        load_star(spark, sf_dir)["documents"], ctx,
        index=_cached_index(spark, sf_dir, MAX_SHINGLE_DF),
        common=_cached_common_counts(spark, sf_dir),
        sizes=_cached_sizes(spark, sf_dir),
    )


@session_memo
def _cached_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VERIFIED MinHash pair set — four registered queries consume it
    (dedup_minhash_lsh itself, the fuzzy edit-distance verifier, the
    connected-component fixpoint, and method_agreement's MinHash side);
    the signatures → banded join → exact-Jaccard verify chain is the
    expensive stage, so it runs once per session like the shingle index
    it builds on. Module defaults only: a parameterized build calls
    minhash_lsh_pairs directly."""
    return minhash_lsh_pairs(
        load_star(spark, sf_dir)["documents"],
        index=_cached_index(spark, sf_dir, MAX_SHINGLE_DF),
        sizes=_cached_sizes(spark, sf_dir),
    ).localCheckpoint(eager=True)


def build_minhash(spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT) -> DataFrame:
    # ctx is accepted for registry-signature uniformity only; RunContext
    # is identity-only (job id/clock) and never affects the pair set
    return _cached_minhash_pairs(spark, sf_dir)


# --------------------------------------------------------------- oracles --
ORACLE_SQL_EXACT = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS doc_id,
       COUNT(*) AS n_copies,
       MIN(n_chars) AS n_chars
FROM documents
GROUP BY md5(text)
"""

_SHINGLE_SQL = f"""
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(string_split(text, ' ')) - {SHINGLE_WORDS - 2}),
           i -> array_to_string(string_split(text, ' ')[i:i+{SHINGLE_WORDS - 1}], ' ')
         )) AS shingle
  FROM documents
"""

# hashed + df-capped inverted index — the shared CTE body for both
# ngram and minhash oracles (mirrors _indexed_shingles exactly)
_INDEXED_SH_SQL = f"""
raw AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(shingle), 1, {HASH_HEX}) AS BIGINT) AS h
  FROM ({_SHINGLE_SQL})
),
dfreq AS (
  SELECT h, COUNT(*) AS df FROM raw GROUP BY h HAVING COUNT(*) <= {MAX_SHINGLE_DF}
),
sh AS (SELECT raw.doc_id, raw.h, dfreq.df FROM raw JOIN dfreq USING (h)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
"""

_T100 = int(round(JACCARD_THRESHOLD * 100))

ORACLE_SQL_NGRAM = f"""
WITH {_INDEXED_SH_SQL},
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common,
       sa.n + sb.n - common AS union_size,
       {round_div_expr("common", "sa.n + sb.n - common", 6, "duckdb")} AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE common * 100 >= {_T100} * (sa.n + sb.n - common)
"""


_CT100 = int(round(CONTAINMENT_THRESHOLD * 100))

ORACLE_SQL_CONTAINMENT = f"""
WITH {_INDEXED_SH_SQL},
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common,
       least(sa.n, sb.n) AS smaller_size,
       {round_div_expr("common", "least(sa.n, sb.n)", 6, "duckdb")} AS containment
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE common * 100 >= {_CT100} * least(sa.n, sb.n)
"""


def _sig_cols_sql() -> str:
    return ",\n         ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS)
    )


def _band_exprs_sql() -> list[str]:
    rpb = NUM_HASHES // NUM_BANDS
    return [
        "CONCAT_WS('|', "
        + ", ".join(f"CAST(s{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + ")"
        for b in range(NUM_BANDS)
    ]


_BANDS_SQL = ", ".join(f"({b}, {e})" for b, e in enumerate(_band_exprs_sql()))

ORACLE_SQL_MINHASH = f"""
WITH {_INDEXED_SH_SQL},
sig AS (
  SELECT doc_id,
         {_sig_cols_sql()}
  FROM sh GROUP BY doc_id
),
buckets AS (
  SELECT doc_id, b.band, b.bucket
  FROM sig, LATERAL (VALUES {_BANDS_SQL}) AS b(band, bucket)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM buckets x JOIN buckets y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {round_div_expr("common", "sa.n + sb.n - common", 6, "duckdb")} AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE common * 100 >= {_T100} * (sa.n + sb.n - common)
"""


# ------------------------------------------- duplicate-cluster labeling ----
def dedup_clusters(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int | None = MAX_SHINGLE_DF,
    max_iterations: int = 20,
    index: DataFrame | None = None,
    stats_out: dict | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Connected-component labels over the near-dup pair graph.

    Pairwise near-dup output is not enough to deduplicate a corpus —
    transitive chains (a~b, b~c, a≁c) must collapse to ONE cluster, so
    every doc in a component gets the component's min doc_id as
    ``cluster_id``. Implemented as iterative min-label propagation over
    the undirected edge list — a Pregel superstep as join+groupBy, the
    canonical Spark shape for iterative graph algorithms — ACCELERATED
    by pointer jumping: after each propagation round, every label is
    replaced by its label's label (labels are node ids and min-monotone,
    ``label(x) <= x``, so the jump is always sound). Plain propagation
    converges in O(component diameter) rounds — a scale-killer on
    chained dup-graphs (one long a~b~c~… chain costs diameter-many full
    edge shuffles at 100 TB); with the jump, label distance doubles per
    round, so convergence is O(log diameter) (r6 verdict task; measured
    on the chained fuzz corpus: a 48-doc chain with edges reaching 4
    hops — component diameter 12 — converges in 4 rounds vs ~13 for
    plain propagation). The driver loop only checks a scalar
    convergence count per round — no data is collected. The oracle
    replays the same fixpoint with a recursive CTE (reachability → min
    reachable id per node).

    Output: one row per document that belongs to a non-trivial cluster
    (cluster_id ≠ doc_id rows plus the cluster roots).
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(documents, ctx, threshold, max_df, index)
    pairs = pairs.select("doc_a", "doc_b")
    # localCheckpoint (eager) truncates the logical plan, not just the
    # physical execution: labels_{n+1} references labels_n TWICE (via
    # ``prop`` and via the join), so without lineage truncation Catalyst
    # re-analyzes a plan that doubles every round — exponential driver
    # time long before any executor work. persist() alone does NOT help
    # (cache substitution happens after analysis). Local (executor-block)
    # checkpointing is the right tradeoff here; on a shared cluster with
    # dynamic allocation use spark.sparkContext.setCheckpointDir + a
    # reliable checkpoint instead.
    edges = (
        pairs.unionByName(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    converged = False
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        # neighbor's current label, propagated across each edge
        prop = (
            edges.join(
                labels.withColumnsRenamed(
                    {"doc_id": "doc_b", "cluster_id": "_nbr_label"}
                ),
                "doc_b",
            )
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("_nbr_label").alias("_min_nbr"))
        )
        cand = labels.join(prop, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"),
                F.coalesce(F.col("_min_nbr"), F.col("cluster_id")),
            ).alias("_m"),
        )
        # pointer jumping THROUGH THE PREVIOUS ROUND'S labels:
        # label(v) ← label_prev(m) where m = min(self, neighbor labels).
        # Every label value is itself a node id with a label row (it
        # entered as some node's id), labels only decrease, and
        # label_prev(x) <= x — so the jump is always sound and the
        # reachable-label distance still roughly doubles per round.
        # Using the prev (already-checkpointed) frame instead of the
        # fresh one keeps the round at ONE materialization + ONE count
        # job — a fresh-label jump needs a second checkpoint or it
        # recomputes the whole propagation on both sides of the
        # self-join (measured 2.3x slower at sf0.01 either way).
        new_labels = (
            cand.join(
                labels.select(
                    F.col("doc_id").alias("_pid"),
                    F.col("cluster_id").alias("_plabel"),
                ),
                F.col("_m") == F.col("_pid"),
                "left",
            )
            .select(
                "doc_id",
                F.least(
                    F.col("_m"), F.coalesce(F.col("_plabel"), F.col("_m"))
                ).alias("cluster_id"),
            )
        )
        # eager lineage truncation: constant-size plan per round (see the
        # edges comment above); superseded generations' blocks are freed
        # by the ContextCleaner once unreferenced
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.join(
                labels.withColumnRenamed("cluster_id", "_old"), "doc_id"
            )
            .filter(F.col("cluster_id") != F.col("_old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # silent staleness would ship WRONG cluster ids (and diverge from
        # the oracle's exact closure) — fail loudly instead
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iterations} rounds: "
            "a component's diameter exceeds the bound; raise max_iterations"
        )
    # diagnostic for tests/PERF_NOTES: rounds actually used (incl. the
    # final no-change round that proves the fixpoint), reported through
    # the caller-owned dict — not a function attribute, which would race
    # under concurrent callers and go stale if the loop raised
    if stats_out is not None:
        stats_out["rounds"] = rounds
    return (
        labels.withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id", "cluster_id", "is_canonical")
    )


@session_memo
def _cached_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labels over the MinHash pair graph — the iterative
    fixpoint is the most expensive dedup stage, and two registered
    queries consume it (dedup_clusters, dedup_keep_best); the labels are
    already localCheckpointed so reuse costs only the final projection."""
    return dedup_clusters(
        load_star(spark, sf_dir)["documents"],
        pairs=_cached_minhash_pairs(spark, sf_dir),
    )


def build_clusters(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return _cached_clusters(spark, sf_dir)


# Recursive-CTE oracle: reachability closure over the undirected edges,
# then min reachable id (including self) per node. Exponential blowup is
# bounded because near-dup components are tiny; UNION (not UNION ALL)
# deduplicates visited pairs so the recursion terminates.
ORACLE_SQL_CLUSTERS = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLE_SQL_MINHASH})
),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach (src, dst) AS (
  SELECT doc_a, doc_a FROM edges
  UNION
  SELECT e.doc_a, r.dst
  FROM edges e JOIN reach r ON e.doc_b = r.src
),
labels AS (
  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
FROM labels
"""


# ------------------------------------------- cluster governance profile --
def dedup_cluster_profile(
    documents: DataFrame,
    labels: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
) -> DataFrame:
    """Per-source dedup governance: corpus size, how many document rows
    sit in a non-trivial near-dup cluster, how many the keep-canonical
    policy DROPS, how many distinct clusters touch the source, and the
    drop rate — the per-snapshot dashboard row a curation pipeline
    watches (a source whose dup_rate jumps is re-crawling itself; one
    whose n_clusters collapses lost its near-dup detector). Consumes the
    session-memoized cluster labels (_cached_clusters), so the marginal
    cost is one broadcast-sized join + one agg over the corpus.

    Row semantics: counts are over document ROWS (duplicate doc_ids each
    count; they inherit the same label row), NULL-id rows count in
    n_docs and never in the labeled set, a NULL source is its own group
    — all pinned by the hostile corpus. Clusters spanning sources count
    once per source they touch (this is a per-source view, not a
    partition of the cluster set).
    """
    j = documents.select("doc_id", "source").join(labels, "doc_id", "left")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("cluster_id").cast("long").alias("n_in_clusters"),
            F.sum(
                F.when(~F.col("is_canonical"), 1).otherwise(0)
            ).cast("long").alias("n_dropped"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        )
        .withColumn("dup_rate", round_div("n_dropped", "n_docs", 4))
    )


def build_cluster_profile(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return dedup_cluster_profile(
        load_star(spark, sf_dir)["documents"],
        _cached_clusters(spark, sf_dir),
        ctx,
    )


ORACLE_SQL_CLUSTER_PROFILE = f"""
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(l.cluster_id) AS BIGINT) AS n_in_clusters,
       CAST(COALESCE(SUM(CASE WHEN l.is_canonical = false THEN 1
                              ELSE 0 END), 0) AS BIGINT) AS n_dropped,
       CAST(COUNT(DISTINCT l.cluster_id) AS BIGINT) AS n_clusters,
       {round_div_expr(
           "CAST(COALESCE(SUM(CASE WHEN l.is_canonical = false THEN 1"
           " ELSE 0 END), 0) AS BIGINT)",
           "CAST(COUNT(*) AS BIGINT)", 4, "duckdb")} AS dup_rate
FROM documents d LEFT JOIN ({ORACLE_SQL_CLUSTERS}) l USING (doc_id)
GROUP BY d.source
"""


# ------------------------------------------------------------- SimHash ----
# 32-bit SimHash with 4×8-bit band LSH + exact Hamming verification.
# Token hashes are md5-derived (deterministic), so the DuckDB oracle
# reproduces signatures bit-for-bit.
SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8 bits per band
HAMMING_MAX = 3


def simhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash): per-doc 32-bit SimHash over tokens.

    Tokens are NOT deduplicated — bit votes are weighted by term
    frequency, which is what separates documents drawn from a small
    shared vocabulary (distinct-token SimHash collapses them).

    All 32 bit-votes accumulate in ONE pass over the token array (array
    accumulator inside a single ``aggregate``) instead of 32 separate
    traversals — same values, ~an order of magnitude fewer expression
    evaluations per document.

    Text is NULL-coalesced on both engine sides: Spark's aggregate over
    a NULL token array yields a NULL signature (silently dropping the
    doc from every pair comparison) while DuckDB's ``CASE WHEN
    list_sum(NULL) >= 0`` maps every bit vote to 0 — i.e. NULL-text
    docs paired in one engine only (r7 hostile-corpus repro). After
    coalescing, NULL and empty docs share the md5('')-derived signature
    in both engines and cluster together, which is the right dedup
    semantic for contentless documents."""
    tokens = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    hashes = F.transform(
        tokens, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(SIMHASH_BITS)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v >= 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return documents.select("doc_id", sim.alias("simhash"))


def simhash_pairs(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    hamming_max: int = HAMMING_MAX,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ k via band-LSH candidates."""
    # r14: checkpoint the signatures (2 longs/row) — the band self-join
    # references them on BOTH sides, and the static planner re-ran the
    # per-token md5 vote aggregate once per side without it
    sig = simhash_signatures(documents).localCheckpoint(eager=True)
    bands = F.array(
        *[
            F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255))
            for b in range(SIMHASH_BANDS)
        ]
    )
    buckets = sig.select("doc_id", "simhash", F.posexplode(bands).alias("band", "val"))
    cand = (
        buckets.alias("x")
        .join(
            buckets.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sim_a"),
            F.col("y.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= hamming_max)
        .select("doc_a", "doc_b", "sim_a", "sim_b", "hamming")
    )


@session_memo
def _cached_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash pair set (r14) — two registered consumers
    (dedup_simhash, method_agreement's simhash side). Module defaults
    only: a parameterized build calls simhash_pairs directly."""
    return simhash_pairs(
        load_star(spark, sf_dir)["documents"]
    ).localCheckpoint(eager=True)


def build_simhash(spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT) -> DataFrame:
    return _cached_simhash_pairs(spark, sf_dir)


def _simhash_sql() -> str:
    votes = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hashes, h -> CASE WHEN (h >> {i}) & 1 = 1 "
        f"THEN 1 ELSE -1 END)) >= 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    bands = ", ".join(
        f"({b}, (simhash >> {8 * b}) & 255)" for b in range(SIMHASH_BANDS)
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         list_transform(string_split(COALESCE(text, ''), ' '),
                        t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT)) AS hashes
  FROM documents
),
sig AS (SELECT doc_id, {votes} AS simhash FROM d),
buckets AS (
  SELECT doc_id, simhash, b.band, b.val
  FROM sig, LATERAL (VALUES {bands}) AS b(band, val)
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         x.simhash AS sim_a, y.simhash AS sim_b
  FROM buckets x JOIN buckets y
    ON x.band = y.band AND x.val = y.val AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, sim_a, sim_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {HAMMING_MAX}
"""


ORACLE_SQL_SIMHASH = _simhash_sql()


# --------------------------------------------- contamination screen ----
#: doc_ids below this bound play the held-out eval set in the registered
#: query; real deployments pass their own eval corpus
N_EVAL_DOCS = 10
MIN_COMMON_SHINGLES = 3


def contamination_screen(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    n_eval: int = N_EVAL_DOCS,
    min_common: int = MIN_COMMON_SHINGLES,
    max_df: int | None = MAX_SHINGLE_DF,
    index: DataFrame | None = None,
) -> DataFrame:
    """Train/eval overlap detection — the decontamination pass every
    training pipeline runs before a benchmark claim: flag (train, eval)
    doc pairs sharing ≥ ``min_common`` 3-word shingles. Reuses the same
    hashed, df-capped inverted index as the dedup family (one build per
    session via the shared memo), so the screen is an equi-join on an
    8-byte key + count — the eval side is tiny by construction, so at
    cluster scale the eval shingle set broadcasts and the train side
    never shuffles."""
    sh = index if index is not None else register_persist(_indexed_shingles(documents, max_df))
    ev = sh.filter(F.col("doc_id") < n_eval).select(
        F.col("doc_id").alias("eval_doc"), "h"
    )
    tr = sh.filter(F.col("doc_id") >= n_eval).select(
        F.col("doc_id").alias("train_doc"), "h"
    )
    return (
        tr.join(F.broadcast(ev), "h")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def build_contamination(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return contamination_screen(
        load_star(spark, sf_dir)["documents"], ctx,
        index=_cached_index(spark, sf_dir, MAX_SHINGLE_DF),
    )


ORACLE_SQL_CONTAMINATION = f"""
WITH {_INDEXED_SH_SQL}
SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, COUNT(*) AS n_common
FROM sh t JOIN sh e ON t.h = e.h
WHERE e.doc_id < {N_EVAL_DOCS} AND t.doc_id >= {N_EVAL_DOCS}
GROUP BY 1, 2
HAVING COUNT(*) >= {MIN_COMMON_SHINGLES}
"""


# ---------------------------------------------- fuzzy verify ----------
def fuzzy_verify_pairs(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int | None = MAX_SHINGLE_DF,
    index: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Edit-distance scoring of the LSH candidate pairs.

    The second-stage verifier of a fuzzy-dedup pipeline: candidates come
    from the banded MinHash join (sub-quadratic), and only THOSE pairs
    pay the O(len·len) levenshtein — never all pairs, which is what
    keeps an edit-distance metric viable at 100 TB. Similarity is an
    exact integer fraction ((maxlen − dist)/maxlen, HALF_UP at 1e-6) so
    the DuckDB twin hashes identically.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(documents, ctx, threshold, max_df, index)
    pairs = pairs.select("doc_a", "doc_b")
    ta = documents.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta"))
    tb = documents.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb"))
    scored = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("edit_distance", F.levenshtein("_ta", "_tb"))
        .withColumn("_maxlen", F.greatest(F.length("_ta"), F.length("_tb")))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "edit_distance",
        # fixedpoint contract: a possibly-zero denominator must be
        # guarded at the call site (r10 review). The default MinHash
        # candidate path cannot produce two empty/NULL texts (shingling
        # needs ≥3 tokens), but `pairs` is a public parameter — two
        # empty texts are identical, so similarity 1.0; a NULL text has
        # no edit evidence, so NULL.
        F.when(F.col("_maxlen") == 0, F.lit(1.0))
        .otherwise(
            round_div(
                "CAST((_maxlen - edit_distance) AS BIGINT)",
                "CAST(_maxlen AS BIGINT)",
                6,
            )
        )
        .alias("edit_similarity"),
    )


def build_fuzzy(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return fuzzy_verify_pairs(
        load_star(spark, sf_dir)["documents"], ctx,
        pairs=_cached_minhash_pairs(spark, sf_dir),
    )


ORACLE_SQL_FUZZY = f"""
WITH pairs AS ({{minhash}})
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_distance,
       {round_div_expr(
           "CAST((greatest(length(da.text), length(db.text))"
           " - levenshtein(da.text, db.text)) AS BIGINT)",
           "CAST(greatest(length(da.text), length(db.text)) AS BIGINT)",
           6,
           "duckdb",
       )} AS edit_similarity
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
""".format(minhash=ORACLE_SQL_MINHASH)


# ---------------------------------------------------- n-gram novelty ----
def ngram_novelty(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Per-document novelty: the share of a doc's distinct shingles that
    appear NOWHERE else in the corpus (df == 1 over the UNCAPPED hashed
    index). The inverse signal of the dedup family — low novelty means
    boilerplate/template mass even when no pair crosses the near-dup
    threshold; curation pipelines use it as a diversity weight. Cost is
    the shingle index the dedup family already amortizes (shared
    per-session memo) + one df aggregate and a per-doc rollup."""
    sh = _cached_index(spark, sf_dir, None)  # uncapped: df counts for ALL
    return (
        sh.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
        .withColumn("novelty", round_div("n_unique", "n_shingles", 4))
    )


def build_novelty(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return ngram_novelty(spark, sf_dir, ctx)


ORACLE_SQL_NOVELTY = f"""
WITH raw AS (
  SELECT DISTINCT doc_id,
         CAST('0x' || substr(md5(shingle), 1, {HASH_HEX}) AS BIGINT) AS h
  FROM ({_SHINGLE_SQL})
),
dfreq AS (SELECT h, COUNT(*) AS df FROM raw GROUP BY h)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       {round_div_expr("CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)", "CAST(COUNT(*) AS BIGINT)", 4, "duckdb")} AS novelty
FROM raw JOIN dfreq USING (h)
GROUP BY doc_id
"""


# ------------------------------------------------ incremental dedup ----
#: deterministic shard split for the registered exercise: docs in slot
#: INCR_SLOT (mod INCR_MOD) play the newly-arrived crawl shard, the
#: rest are the existing corpus
INCR_MOD = 10
INCR_SLOT = 7


def incremental_dedup(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    threshold: float = JACCARD_THRESHOLD,
    max_df: int | None = MAX_SHINGLE_DF,
    index: DataFrame | None = None,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW shard against the EXISTING corpus — the production
    mode of every continuously-fed training pipeline (daily crawl
    increments), where re-pairing the corpus against itself would redo
    quadratic work that is already settled.

    One verdict row per incoming doc: its best corpus match (highest
    Jaccard, ties to the lowest doc id), the common/jaccard evidence,
    and ``is_new`` (no corpus doc reaches the threshold). Docs too short
    to shingle are trivially new. Only cross-boundary (new × corpus)
    pairs are generated — the corpus side never self-joins, so per-batch
    cost scales with the INCREMENT, not the corpus: an equi-join on the
    shared hashed shingle index (memoized per session) + one window over
    the incoming keys.

    Exactness: the best-match ranking key is the 1e-6 fixed-point
    HALF_UP Jaccard as a BIGINT (never a float sort key — a last-ulp
    double divergence across engines could flip the winner), and the
    threshold compares in cross-multiplied integer space, like the rest
    of the family.
    """
    from pyspark.sql.window import Window

    t_e6 = int(round(threshold * 1_000_000))  # 1e-6 resolution, see _jaccard_from_common
    sh = index if index is not None else register_persist(
        _indexed_shingles(documents, max_df)
    )
    # NOTE (r14): checkpointing this twice-referenced size table PER
    # QUERY was tried and MEASURED flat-to-slower at sf0.1 (1.63 s →
    # 1.86 s min) — the barrier charged to one query costs more than the
    # in-memory re-agg it saves. The SESSION memo (``_cached_sizes``,
    # four registered consumers, warm-charged) has the opposite
    # economics and is what the registered build injects.
    if sizes is None:
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    else:
        sizes = sizes.withColumnRenamed("n_shingles", "n")
    inc = sh.filter(F.col("doc_id") % INCR_MOD == INCR_SLOT).select(
        F.col("doc_id").alias("doc_new"), "h"
    )
    cor = sh.filter(F.col("doc_id") % INCR_MOD != INCR_SLOT).select(
        F.col("doc_id").alias("doc_old"), "h"
    )
    common = (
        inc.join(cor, "h")
        .groupBy("doc_new", "doc_old")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    scored = (
        common.join(
            sizes.withColumnsRenamed({"doc_id": "doc_new", "n": "na"}),
            "doc_new",
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "doc_old", "n": "nb"}),
            "doc_old",
        )
        .withColumn(
            "_jacc_e6",
            F.expr(
                "(common * 2000000 + (na + nb - common))"
                " div (2 * (na + nb - common))"
            ),
        )
        .withColumn(
            "is_dup",
            F.expr(f"common * 1000000 >= {t_e6} * (na + nb - common)"),
        )
    )
    # is_dup leads the ranking: the 1e-6-rounded jaccard can TIE between
    # a genuine above-threshold duplicate and a just-below neighbor, and
    # a doc_old tiebreak could then crown the non-dup and report
    # is_new=True despite a real duplicate existing (r10 review). The
    # exact integer predicate, not the rounded score, carries the
    # threshold decision.
    w = Window.partitionBy("doc_new").orderBy(
        F.desc("is_dup"), F.desc("_jacc_e6"), F.asc("doc_old")
    )
    best = scored.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    incoming = documents.filter(
        F.col("doc_id") % INCR_MOD == INCR_SLOT
    ).select(F.col("doc_id").alias("doc_new"))
    return incoming.join(best, "doc_new", "left").select(
        F.col("doc_new").alias("doc_id"),
        F.col("doc_old").alias("best_match"),
        "common",
        round_div("common", "na + nb - common", 6).alias("jaccard"),
        F.coalesce(~F.col("is_dup"), F.lit(True)).alias("is_new"),
    )


def build_incremental(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return incremental_dedup(
        load_star(spark, sf_dir)["documents"], ctx,
        index=_cached_index(spark, sf_dir, MAX_SHINGLE_DF),
        sizes=_cached_sizes(spark, sf_dir),
    )


ORACLE_SQL_INCREMENTAL = f"""
WITH {_INDEXED_SH_SQL},
common AS (
  SELECT i.doc_id AS doc_new, c.doc_id AS doc_old, COUNT(*) AS common
  FROM sh i JOIN sh c ON i.h = c.h
  WHERE i.doc_id % {INCR_MOD} = {INCR_SLOT}
    AND c.doc_id % {INCR_MOD} <> {INCR_SLOT}
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_new, doc_old, common, a.n AS na, b.n AS nb,
         (common * 2000000 + (a.n + b.n - common))
           // (2 * (a.n + b.n - common)) AS jacc_e6,
         common * 100 >= {int(round(JACCARD_THRESHOLD * 100))}
           * (a.n + b.n - common) AS is_dup
  FROM common
  JOIN sizes a ON doc_new = a.doc_id
  JOIN sizes b ON doc_old = b.doc_id
),
best AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_new
    ORDER BY is_dup DESC, jacc_e6 DESC, doc_old) AS rn
  FROM scored
)
SELECT d.doc_id, b.doc_old AS best_match, b.common,
       {round_div_expr('b.common', 'b.na + b.nb - b.common', 6, 'duckdb')}
         AS jaccard,
       COALESCE(NOT b.is_dup, TRUE) AS is_new
FROM documents d
LEFT JOIN best b ON d.doc_id = b.doc_new AND b.rn = 1
WHERE d.doc_id % {INCR_MOD} = {INCR_SLOT}
"""


# ------------------------------------- method agreement audit ----------
def method_agreement(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Cross-method dedup governance: how much do the MinHash-LSH
    (Jaccard ≥ τ) and SimHash (Hamming ≤ k) near-dup pair sets agree?
    One summary row: per-method pair counts, intersection, exclusive
    counts, and the pair-set Jaccard in fixed point. A production
    pipeline runs this per corpus snapshot — a sudden divergence between
    two independent near-dup detectors is the cheapest canary for a
    threshold or hashing regression.

    Plan: both pair sets reuse the session-memoized shingle index; the
    full outer join runs on (doc_a, doc_b) pair keys — both sides are
    candidate-sized (sub-quadratic), not corpus-sized.
    """
    mh = build_minhash(spark, sf_dir, ctx).select("doc_a", "doc_b")
    sh = build_simhash(spark, sf_dir, ctx).select("doc_a", "doc_b")
    j = mh.withColumn("_m", F.lit(1)).join(
        sh.withColumn("_s", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    # COALESCE(..., 0): a no-near-dup corpus makes j EMPTY, and SUM over
    # zero rows is NULL in both engines — the counts must come back 0
    agg = j.agg(
        F.coalesce(F.sum(F.coalesce("_m", F.lit(0))), F.lit(0)).alias("n_minhash"),
        F.coalesce(F.sum(F.coalesce("_s", F.lit(0))), F.lit(0)).alias("n_simhash"),
        F.coalesce(
            F.sum(
                (F.col("_m").isNotNull() & F.col("_s").isNotNull()).cast("long")
            ),
            F.lit(0),
        ).alias("n_both"),
    )
    return agg.select(
        F.col("n_minhash").cast("long").alias("n_minhash"),
        F.col("n_simhash").cast("long").alias("n_simhash"),
        F.col("n_both").cast("long").alias("n_both"),
        (F.col("n_minhash") - F.col("n_both")).cast("long").alias("n_only_minhash"),
        (F.col("n_simhash") - F.col("n_both")).cast("long").alias("n_only_simhash"),
        # defined-value guard: when NEITHER method emits any pair the
        # union is empty and the Jaccard denominator is 0 — two empty
        # pair sets are identical, so agreement is 1.0 by convention
        # (ANSI Spark would raise, DuckDB would return NULL)
        F.when(
            F.col("n_minhash") + F.col("n_simhash") - F.col("n_both") == 0,
            F.lit(1.0),
        )
        .otherwise(round_div("n_both", "n_minhash + n_simhash - n_both", 4))
        .alias("pair_jaccard"),
    )


def build_method_agreement(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return method_agreement(spark, sf_dir, ctx)


# the oracle recomputes BOTH pair sets by nesting the two full oracle
# queries as derived tables — any drift in either method's SQL twin
# surfaces here too
ORACLE_SQL_METHOD_AGREEMENT: str  # assigned below (f-string needs the twins)


def _method_agreement_oracle() -> str:
    return f"""
WITH mh AS (SELECT doc_a, doc_b FROM ({ORACLE_SQL_MINHASH})),
sh AS (SELECT doc_a, doc_b FROM ({ORACLE_SQL_SIMHASH})),
j AS (
  SELECT COALESCE(m.doc_a, s.doc_a) AS doc_a,
         COALESCE(m.doc_b, s.doc_b) AS doc_b,
         m.doc_a IS NOT NULL AS in_m,
         s.doc_a IS NOT NULL AS in_s
  FROM mh m FULL OUTER JOIN sh s
    ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b
),
agg AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN in_m THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_minhash,
         CAST(COALESCE(SUM(CASE WHEN in_s THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_simhash,
         CAST(COALESCE(SUM(CASE WHEN in_m AND in_s THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_both
  FROM j
)
SELECT n_minhash, n_simhash, n_both,
       n_minhash - n_both AS n_only_minhash,
       n_simhash - n_both AS n_only_simhash,
       CASE WHEN n_minhash + n_simhash - n_both = 0 THEN 1.0
            ELSE {round_div_expr(
                "n_both", "n_minhash + n_simhash - n_both", 4, "duckdb")}
       END AS pair_jaccard
FROM agg
"""


ORACLE_SQL_METHOD_AGREEMENT = _method_agreement_oracle()


# --- corpus-wide verbatim-span dedup ---------------------------------
#
# The public "deduplicating training data makes language models better"
# operator class: find runs of >= K_SPAN tokens that appear VERBATIM in
# more than one document, with per-document offset evidence (the export
# stage then drops/masks those slices). Distinct from the document-level
# detectors above: it localizes the shared substring, not the document
# pair.

K_SPAN = 25  # minimum verbatim run length, in tokens (public work uses 50 BPE tokens; 25 whitespace tokens is the same order)


def repeated_spans(
    documents: DataFrame, ctx: RunContext = DEFAULT_CONTEXT, k: int = K_SPAN
) -> DataFrame:
    """Maximal cross-document verbatim token spans (>= ``k`` tokens).

    Plan — O(corpus tokens), no pair enumeration:

    1. map-side: every k-token window of every document is hashed to a
       40-bit key (8 bytes) BEFORE any shuffle — the k× blowup is CPU in
       the scan stage only; shuffle volume is O(tokens) × ~16 B, not ×k.
       (A production kernel would use a rolling Rabin-Karp hash instead
       of md5-of-joined-string; the plan shape and shuffle volume are
       identical — md5 is kept for bit-exact oracle parity.)
    2. one groupBy(h) computes each k-gram's document frequency; only
       h with n_docs > 1 (cross-document repeats) survive.
    3. per-doc gaps-and-islands (window PARTITIONED by doc_id — parallel)
       merges overlapping repeated k-grams into maximal spans: a run of
       g consecutive repeated windows is one span of g+k-1 tokens.

    Output: one row per (doc_id, maximal span) with token offset, span
    length, window count, and the widest document frequency among the
    span's windows (how many docs share its most-shared window).
    """
    toks = F.split(F.col("text"), " ")
    grams = F.expr(
        f"transform(sequence(0, size(split(text, ' ')) - {k}), "
        f"i -> concat_ws(' ', slice(split(text, ' '), i + 1, {k})))"
    )
    g = (
        documents.filter(F.size(toks) >= k)
        .select("doc_id", F.posexplode(grams).alias("off", "gram"))
        .select(
            "doc_id",
            F.col("off").cast("long").alias("off"),
            F.conv(F.substring(F.md5("gram"), 1, HASH_HEX), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    dfreq = (
        g.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )
    rep = g.join(dfreq, "h")
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("off")
    isl = rep.withColumn("grp", F.col("off") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("off").alias("span_start"),
            (F.max("off") - F.min("off") + k).cast("long").alias("span_tokens"),
            F.count(F.lit(1)).alias("n_windows"),
            F.max("n_docs").alias("max_window_docs"),
        )
        .drop("grp")
    )


def build_repeated_spans(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    # shares the memoized span set with span_scrub (defined below)
    return _cached_repeated_spans(spark, sf_dir)


ORACLE_SQL_REPEATED_SPANS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents
  WHERE len(string_split(text, ' ')) >= {K_SPAN}
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS off,
         CAST('0x' || substr(md5(array_to_string(t[i + 1 : i + {K_SPAN}], ' ')),
              1, {HASH_HEX}) AS BIGINT) AS h
  FROM toks, unnest(generate_series(0, CAST(len(t) AS BIGINT) - {K_SPAN}))
       AS g(i)
),
dfreq AS (
  SELECT h, COUNT(DISTINCT doc_id) AS n_docs
  FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
),
rep AS (
  SELECT g.doc_id, g.off, d.n_docs FROM grams g JOIN dfreq d USING (h)
),
isl AS (
  SELECT *, off - row_number() OVER (PARTITION BY doc_id ORDER BY off)
         AS grp
  FROM rep
)
SELECT doc_id,
       CAST(MIN(off) AS BIGINT) AS span_start,
       CAST(MAX(off) - MIN(off) + {K_SPAN} AS BIGINT) AS span_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(MAX(n_docs) AS BIGINT) AS max_window_docs
FROM isl
GROUP BY doc_id, grp
"""


@session_memo
def _cached_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repeated-span set; feeds the registered detector AND the scrub
    rewrite below."""
    return register_persist(repeated_spans(load_star(spark, sf_dir)["documents"]))


def span_scrub(
    documents: DataFrame,
    spans: DataFrame | None = None,
    ctx: RunContext = DEFAULT_CONTEXT,
) -> DataFrame:
    """The ACTION half of verbatim-span dedup: rewrite every document
    with its cross-document repeated spans removed (the symmetric
    boilerplate-scrub policy — all occurrences go; keep-first-occurrence
    needs a global attribution pass and is the documented variant).

    Plan: spans explode to covered token positions (fanout = span
    tokens ≤ doc tokens), the corpus explodes to (doc_id, pos, token),
    one anti-join drops covered positions, one per-doc bounded
    reassembly (array_sort ≤ doc tokens). Everything shuffles on
    doc_id — O(corpus tokens), embarrassingly parallel.
    """
    if spans is None:
        spans = repeated_spans(documents, ctx)
    covered = spans.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.col("span_start"),
                F.col("span_start") + F.col("span_tokens") - 1,
            )
        ).alias("pos"),
    ).distinct()
    toks = documents.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    ).withColumn("pos", F.col("pos").cast("long"))
    kept = (
        toks.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_sort(
                F.collect_list(F.struct("pos", "tok"))
            ).alias("ps"),
        )
        .select(
            "doc_id",
            F.col("n_kept").cast("long").alias("n_kept"),
            F.concat_ws(" ", F.expr("transform(ps, x -> x.tok)")).alias(
                "scrubbed_text"
            ),
        )
    )
    base = documents.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    return (
        base.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0))).cast(
                "long"
            ).alias("n_removed"),
            F.coalesce("scrubbed_text", F.lit("")).alias("scrubbed_text"),
        )
    )


def build_span_scrub(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return span_scrub(
        load_star(spark, sf_dir)["documents"],
        _cached_repeated_spans(spark, sf_dir),
        ctx,
    )


ORACLE_SQL_SPAN_SCRUB = f"""
WITH spans AS ({ORACLE_SQL_REPEATED_SPANS}),
covered AS (
  SELECT DISTINCT doc_id, CAST(g.p AS BIGINT) AS pos
  FROM spans,
       unnest(generate_series(span_start, span_start + span_tokens - 1))
       AS g(p)
),
toks AS (
  SELECT doc_id, CAST(g.i - 1 AS BIGINT) AS pos, t[g.i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       unnest(generate_series(1, CAST(len(t) AS BIGINT))) AS g(i)
),
kept AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_kept,
         -- (pos, tok) ordering — NOT bare pos: under duplicate doc_ids
         -- positions collide and Spark's array_sort over (pos, tok)
         -- structs breaks the tie by token, while a bare ORDER BY pos
         -- leaves DuckDB's agg order engine-arbitrary (r7 hostile repro)
         string_agg(t.tok, ' ' ORDER BY t.pos, t.tok) AS scrubbed_text
  FROM toks t ANTI JOIN covered c
    ON t.doc_id = c.doc_id AND t.pos = c.pos
  GROUP BY t.doc_id
),
base AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(k.n_kept, 0) AS n_kept,
       b.n_tokens - COALESCE(k.n_kept, 0) AS n_removed,
       COALESCE(k.scrubbed_text, '') AS scrubbed_text
FROM base b LEFT JOIN kept k USING (doc_id)
"""


def _warm_shared_memos(spark: SparkSession, sf_dir: str) -> None:
    """Shared-memo warmer (io.register_memo_warmer contract): builds the
    frames consumed by SEVERAL registered queries — the df-capped shingle
    index (ngram/containment/fuzzy/agreement/curation), the default
    MinHash-LSH pair set, the cluster labels (clusters/profile/keep_best)
    and the repeated-span set (detector + scrub) — so a bench harness can
    charge them to a declared warm-up stage instead of the rotation-
    dependent first family seat. r14: the index base is the UNCAPPED
    frame (capped asks are a filter view over it, see _cached_index), so
    the one warmed build also serves ngram_novelty's uncapped consumer —
    counting through the capped view materializes every base partition."""
    _cached_index(spark, sf_dir, MAX_SHINGLE_DF).count()
    _cached_sizes(spark, sf_dir)  # r14: pair builds + containment + incremental
    _cached_minhash_pairs(spark, sf_dir)  # eager localCheckpoint
    _cached_common_counts(spark, sf_dir)  # r14: jaccard build + containment
    _cached_ngram_pairs(spark, sf_dir)  # r14: jaccard seat + media truth
    _cached_simhash_pairs(spark, sf_dir)  # r14: simhash seat + agreement
    _cached_clusters(spark, sf_dir).count()
    _cached_repeated_spans(spark, sf_dir).count()


register_memo_warmer(_warm_shared_memos)
