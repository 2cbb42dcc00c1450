"""Corpus curation — the end-to-end training-data filter pipeline
(north-star extension; composes dedup + text quality + language policy).

The canonical LLM-data shape: raw documents → exact dedup (keep the
canonical copy) → near-dup removal (MinHash-LSH pairs, keep-first
policy) → quality gate (length + stopword-density) → language selection.
Every stage is a pure DataFrame transform over the same primitives the
standalone queries use (operators.dedup, operators.text), so the whole
pipeline remains one Catalyst plan — filters fuse, the only shuffles are
the dedup groupBys/joins — and the DuckDB oracle reproduces it exactly.

Quality thresholds compare in cross-multiplied integer space
(``n_stop·100 ≥ τ·100·n_tokens``), never on rounded floats, so the
keep/drop decision is bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from demo_etl_spark.context import DEFAULT_CONTEXT, RunContext
from demo_etl_spark.io import load_star
from demo_etl_spark.operators import dedup as _dedup
from demo_etl_spark.operators.text import EN_STOPWORDS

MIN_TOKENS = 20
MIN_STOPWORD_PCT = 2  # n_stop/n_tokens >= 2%
KEEP_LANGS = ("de", "en", "es", "fr")


def curate_corpus(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    min_tokens: int = MIN_TOKENS,
    min_stopword_pct: int = MIN_STOPWORD_PCT,
    keep_langs: tuple[str, ...] = KEEP_LANGS,
    minhash_index: DataFrame | None = None,
    near_dup_pairs: DataFrame | None = None,
) -> DataFrame:
    """The kept (curated) documents with their gate statistics.

    ``near_dup_pairs`` lets a caller hand in an already-computed
    default-parameter verified MinHash-LSH pair set (doc_a < doc_b) —
    the registered build passes dedup's session memo so the signatures →
    band join → exact-verify pipeline runs once per session instead of
    once more inside this plan (r14 optimization; the pair set is
    bit-identical by construction, so the oracle is untouched)."""
    tokens = F.split(F.col("text"), " ")
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)

    # stage 1 — exact dedup: canonical copy = min doc_id per text hash
    w = Window.partitionBy(F.md5("text"))
    canonical = (
        documents.withColumn("_min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id")
    )

    # stage 2 — near-dup removal: keep-first (doc_b of every verified
    # MinHash-LSH pair is dropped; pairs are a<b so the min id survives)
    pair_set = (
        near_dup_pairs
        if near_dup_pairs is not None
        else _dedup.minhash_lsh_pairs(documents, ctx, index=minhash_index)
    )
    near_dups = pair_set.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = canonical.join(near_dups, "doc_id", "left_anti")

    # stages 3+4 — quality gate (integer-space) + language policy
    lang_list = ", ".join(f"'{lang}'" for lang in keep_langs)
    scored = survivors.withColumns(
        {
            "n_tokens": F.size(tokens),
            "n_stop": F.size(F.expr(f"filter(split(text, ' '), t -> t IN ({stop_list}))")),
        }
    )
    return (
        scored.filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("n_stop") * 100 >= min_stopword_pct * F.col("n_tokens"))
            & F.expr(f"lang IN ({lang_list})")
        )
        .select("doc_id", "lang", "source", "n_chars", "n_tokens", "n_stop")
    )


def build(spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT) -> DataFrame:
    return curate_corpus(
        load_star(spark, sf_dir)["documents"], ctx,
        near_dup_pairs=_dedup._cached_minhash_pairs(spark, sf_dir),
    )


# ------------------------------------------- canonical-doc selection ----
def keep_best_per_cluster(
    documents: DataFrame,
    clusters: DataFrame,
) -> DataFrame:
    """Quality-ranked canonical selection over near-dup clusters.

    ``dedup_clusters`` picks the min doc_id as the component root — the
    right *label*, but not the right *survivor*: a curation pipeline
    keeps the best COPY (longest here; any deterministic quality key
    slots in), not the earliest-crawled one. One row per clustered doc
    with ``is_kept`` marking the winner (max ``n_chars``, tie → min
    doc_id), a deterministic total order so every engine picks the same
    survivor. Single window over the cluster label — no extra shuffle
    beyond the clustering itself at scale.
    """
    scored = clusters.join(documents.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "n_chars",
            (F.col("_rn") == 1).alias("is_kept"),
        )
    )


def build_keep_best(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return keep_best_per_cluster(
        load_star(spark, sf_dir)["documents"],
        _dedup._cached_clusters(spark, sf_dir),
    )


# ------------------------------------------- deterministic sampling ----
#: per-language keep percentage — the mixture-rebalancing policy
#: (downsample the dominant language, keep the rest whole)
SAMPLE_RATES: dict[str, int] = {"en": 50}
DEFAULT_SAMPLE_PCT = 100


def stratified_sample(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    rates: dict[str, int] = None,
    default_pct: int = DEFAULT_SAMPLE_PCT,
) -> DataFrame:
    """Reproducible stratified sampling by hash bucket, not RNG.

    ``sample()``/``sampleBy()`` draw from a seeded RNG whose stream is
    engine- and partitioning-dependent — useless for a reproducible
    training mixture. The deterministic idiom: bucket each doc by
    ``md5(doc_id) mod 100`` and keep the first ``pct`` buckets for its
    language. Same doc set on every run, every engine, every partition
    layout; rates tune per-language mixture weights.
    """
    rates = SAMPLE_RATES if rates is None else rates
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(100),
    )
    pct = F.lit(default_pct)
    for lang, p in sorted(rates.items()):
        pct = F.when(F.col("lang") == lang, F.lit(p)).otherwise(pct)
    return (
        documents.withColumn("sample_bucket", bucket.cast("int"))
        .filter(F.col("sample_bucket") < pct)
        .select("doc_id", "lang", "source", "n_chars", "sample_bucket")
    )


def build_sample(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return stratified_sample(load_star(spark, sf_dir)["documents"], ctx)


_STOP_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
_LANG_SQL = ", ".join(f"'{lang}'" for lang in KEEP_LANGS)


def _sample_oracle() -> str:
    pct = str(DEFAULT_SAMPLE_PCT)
    for lang, p in sorted(SAMPLE_RATES.items()):
        pct = f"CASE WHEN lang = '{lang}' THEN {p} ELSE {pct} END"
    return f"""
SELECT doc_id, lang, source, n_chars,
       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
            AS INTEGER) AS sample_bucket
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
      < ({pct})
"""


ORACLE_SQL_SAMPLE = _sample_oracle()

# The recursive-CTE cluster closure, re-scored: every clustered doc
# joined to its length, winner = (n_chars DESC, doc_id) per cluster.
ORACLE_SQL_KEEP_BEST = f"""
WITH labels AS (
  SELECT doc_id, cluster_id FROM ({_dedup.ORACLE_SQL_CLUSTERS})
)
SELECT l.doc_id, l.cluster_id, d.n_chars,
       ROW_NUMBER() OVER (
         PARTITION BY l.cluster_id ORDER BY d.n_chars DESC, l.doc_id
       ) = 1 AS is_kept
FROM labels l JOIN documents d ON l.doc_id = d.doc_id
"""

ORACLE_SQL_CURATION = f"""
WITH pairs AS (
  SELECT * FROM ({_dedup.ORACLE_SQL_MINHASH})
),
canonical AS (
  SELECT * FROM (
    SELECT d.*, MIN(doc_id) OVER (PARTITION BY md5(text)) AS min_id
    FROM documents d
  ) WHERE doc_id = min_id
),
survivors AS (
  SELECT c.* FROM canonical c
  WHERE c.doc_id NOT IN (SELECT DISTINCT doc_b FROM pairs)
),
scored AS (
  SELECT doc_id, lang, source, n_chars,
         CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
              t -> t IN ({_STOP_SQL}))) AS INTEGER) AS n_stop
  FROM survivors
)
SELECT doc_id, lang, source, n_chars, n_tokens, n_stop
FROM scored
WHERE n_tokens >= {MIN_TOKENS}
  AND n_stop * 100 >= {MIN_STOPWORD_PCT} * n_tokens
  AND lang IN ({_LANG_SQL})
"""

# ------------------------------------- train/val/test assignment ----
#: bucket boundaries out of 100: [0, TRAIN) train, [TRAIN, TRAIN+VAL)
#: val, rest test
SPLIT_TRAIN_PCT = 96
SPLIT_VAL_PCT = 2


def train_split(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    train_pct: int = SPLIT_TRAIN_PCT,
    val_pct: int = SPLIT_VAL_PCT,
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every training
    run must be able to REPRODUCE (an RNG split shifts with partitioning
    and engine; leakage between re-runs silently contaminates eval).
    Same md5-bucket idiom as ``stratified_sample``, under a distinct
    'split|' salt so sampling and splitting are independent: a doc's
    split never changes when the sampling rates do. Map-only — no
    shuffle — and trivially shardable at 100 TB."""
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    ).cast("int")
    d = documents.withColumn("split_bucket", bucket)
    return d.select(
        "doc_id",
        "lang",
        "source",
        "split_bucket",
        F.when(F.col("split_bucket") < train_pct, "train")
        .when(F.col("split_bucket") < train_pct + val_pct, "val")
        .otherwise("test")
        .alias("split"),
    )


def build_train_split(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return train_split(load_star(spark, sf_dir)["documents"], ctx)


def _split_oracle() -> str:
    b = (
        "CAST(CAST('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8) "
        "AS BIGINT) % 100 AS INTEGER)"
    )
    return f"""
SELECT doc_id, lang, source,
       {b} AS split_bucket,
       CASE WHEN {b} < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {b} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


ORACLE_SQL_TRAIN_SPLIT = _split_oracle()


# ------------------------------------- temperature (alpha) sampling ----
#: document budget as a fraction of the identified corpus
TEMP_BUDGET_NUM = 3
TEMP_BUDGET_DEN = 10
#: weight scale: w_s = floor(sqrt(n_s * SCALE)) keeps 6 significant
#: digits of n_s^0.5 in exact integer space
TEMP_W_SCALE = 1_000_000


def temperature_sample(
    documents: DataFrame, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """α=0.5 temperature-flattened source sampling — the public
    multinomial α-sampling recipe multilingual LMs use to mix corpora
    (per-source pick probability ∝ n_s^α, α<1 down-weights huge sources
    and over-represents small ones vs proportional sampling; cf. the
    published CC-100 / mT5 data recipes). Complements the existing
    mixture ops: ``stratified_sample`` = fixed per-language rates,
    ``mixture_plan`` = token-budget water-filling, THIS = count-budget
    α-flattening.

    Engine-exact by construction: w_s = floor(sqrt(n_s·10⁶)) — long→
    double conversion and IEEE sqrt are correctly rounded in both
    engines, so floor agrees at ANY corpus size; quotas are integer
    ``div``; within-source selection ranks by (md5(doc_id), doc_id,
    md5(text), lang, n_chars) with NULL-free coalesced keys, so the
    picked set is identical on every run, engine, and partition layout
    (the same reproducibility argument as stratified_sample — no RNG).
    Docs without a doc_id OR without a source are excluded (sampling
    needs identity AND a stratum — a NULL-source doc belongs to no
    stratum, and counting it in the budget/weight totals while the
    per-source join can never pick it would silently shrink every real
    source's quota; the standing dead-letter policy, r10 review).

    Plan: one corpus groupBy → source counts (tiny), scalar totals
    broadcast back, one row_number window partitioned by source, one
    broadcast join of the source-sized quota table. At 100 TB the only
    corpus-sized stages are the count agg and the per-source rank —
    both shuffle once on source (salt a mega-source if one dominates).
    """
    docs = documents.filter(
        F.col("doc_id").isNotNull() & F.col("source").isNotNull()
    )
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w = src.withColumn(
        "w",
        F.floor(F.sqrt(F.col("n_docs") * F.lit(TEMP_W_SCALE))).cast("long"),
    )
    tot = w.agg(
        F.sum("w").alias("_tw"), F.sum("n_docs").alias("_nd")
    )
    quota = (
        w.join(F.broadcast(tot))
        .withColumn(
            "_budget",
            F.expr(f"_nd * {TEMP_BUDGET_NUM} div {TEMP_BUDGET_DEN}"),
        )
        .withColumn("quota", F.least("n_docs", F.expr("_budget * w div _tw")))
        .select("source", "quota")
    )
    ranked = docs.withColumn(
        "pick_rank",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")).asc(),
                F.col("doc_id").asc(),
                F.md5(F.coalesce(F.col("text"), F.lit(""))).asc(),
                F.coalesce(F.col("lang"), F.lit("")).asc(),
                F.coalesce(F.col("n_chars"), F.lit(-1)).asc(),
            )
        ),
    )
    return (
        ranked.join(F.broadcast(quota), "source")
        .filter(F.col("pick_rank") <= F.col("quota"))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_chars",
            F.col("pick_rank").cast("int").alias("pick_rank"),
            F.col("quota").cast("long").alias("source_quota"),
        )
    )


def build_temperature_sample(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return temperature_sample(load_star(spark, sf_dir)["documents"], ctx)


ORACLE_SQL_TEMPERATURE_SAMPLE = f"""
WITH docs AS (
  SELECT * FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
),
src AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM docs GROUP BY source
),
w AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(n_docs * {TEMP_W_SCALE})) AS BIGINT) AS w
  FROM src
),
tot AS (SELECT SUM(w) AS tw, SUM(n_docs) AS nd FROM w),
quota AS (
  SELECT source,
         least(n_docs,
               ((nd * {TEMP_BUDGET_NUM} // {TEMP_BUDGET_DEN}) * w) // tw)
           AS quota
  FROM w, tot
),
ranked AS (
  SELECT d.*,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id,
                    md5(coalesce(d.text, '')), coalesce(d.lang, ''),
                    coalesce(d.n_chars, -1)
         ) AS pick_rank
  FROM docs d
)
SELECT r.doc_id, r.lang, r.source, r.n_chars,
       CAST(r.pick_rank AS INTEGER) AS pick_rank,
       CAST(q.quota AS BIGINT) AS source_quota
FROM ranked r JOIN quota q USING (source)
WHERE r.pick_rank <= q.quota
"""


# ------------------------------------------- mixture planning ----------
#: token budget as a fraction of the corpus (numerator/denominator —
#: integer-exact so both engines compute the identical budget)
MIX_BUDGET_NUM = 1
MIX_BUDGET_DEN = 2
#: water-filling redistribution rounds (3 levels the realistic skews;
#: leftovers after round 3 stay unallocated, documented)
MIX_ROUNDS = 3


def _water_fill(src: DataFrame) -> DataFrame:
    """The shared water-filling allocator (r12 refactor — extracted
    verbatim from mixture_plan so the PLAN operator and the EXECUTION
    operator, corpus_budget_take, run one arithmetic): given a
    (source, tokens_available) frame, returns it with ``alloc`` and the
    carried ``_budget`` after MIX_ROUNDS deterministic cap-raising
    rounds. All integer; each round is a 1-row scalar agg broadcast
    back onto the sources frame.

    r14: ``src`` is checkpointed — the unrolled cap-raising lineage
    references each round's frame twice (the scalar agg + the join
    back), so the CORPUS-wide token aggregation feeding ``src``
    re-executed ~2^MIX_ROUNDS times in the static plan; the checkpoint
    is dozens of rows (one per source) and bounds the corpus work to
    one pass for both consumers (mixture_plan, corpus_budget_take)."""
    src = src.localCheckpoint(eager=True)
    totals = src.agg(
        F.sum("tokens_available").alias("_total"),
        F.count(F.lit(1)).alias("_n_src"),
    ).select(
        F.expr(
            f"_total * {MIX_BUDGET_NUM} div {MIX_BUDGET_DEN}"
        ).alias("_budget"),
        "_n_src",
    )
    cur = src.join(F.broadcast(totals))
    # round 1: uniform cap
    cur = cur.withColumn("_cap", F.expr("_budget div _n_src")).withColumn(
        "alloc", F.least("tokens_available", F.col("_cap"))
    )
    for _ in range(MIX_ROUNDS - 1):
        step = cur.agg(
            F.sum("alloc").alias("_used"),
            F.sum(
                (F.col("tokens_available") > F.col("alloc")).cast("long")
            ).alias("_n_unsat"),
        )
        cur = (
            cur.drop("_used", "_n_unsat")
            .join(F.broadcast(step))
            .withColumn(
                "_cap",
                F.expr(
                    "CASE WHEN _n_unsat > 0 "
                    "THEN _cap + (_budget - _used) div _n_unsat "
                    "ELSE _cap END"
                ),
            )
            .withColumn(
                "alloc",
                F.when(
                    F.col("tokens_available") > F.col("alloc"),
                    F.least("tokens_available", F.col("_cap")),
                ).otherwise(F.col("alloc")),
            )
        )
    return cur


def mixture_plan(
    documents: DataFrame, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Training-mixture design: allocate a corpus-wide token budget
    across sources by deterministic water-filling — every source gets
    up to the common cap, caps rise as small sources saturate, all in
    exact integer arithmetic (floor-division caps, no floats).

    The op a mixture designer runs before export: "take 50% of the
    corpus, but never more than a source has, and spread the headroom
    from small sources across the big ones evenly." Three rounds of
    cap-raising are fixed in the contract (and mirrored CTE-for-CTE in
    the oracle); remainders smaller than the unsaturated-source count
    stay unallocated.

    Plan shape: one corpus aggregation to per-source token counts
    (everything after runs on the sources table — dozens of rows), then
    three rounds of 1-row scalar aggs broadcast back. At 100 TB only
    the first agg sees the corpus.
    """
    from demo_etl_spark.functions.fixedpoint import round_div

    src = (
        documents.selectExpr(
            "source", "size(split(text, ' ')) AS _n"
        )
        .groupBy("source")
        .agg(F.sum("_n").cast("long").alias("tokens_available"))
    )
    cur = _water_fill(src)
    return cur.select(
        "source",
        "tokens_available",
        F.col("alloc").cast("long").alias("tokens_allocated"),
        (F.col("alloc") == F.col("tokens_available")).alias("saturated"),
        round_div("alloc", "tokens_available", 4).alias("alloc_frac"),
        # guard: a tiny corpus can floor the budget to 0 (_total·NUM div
        # DEN) — Spark ANSI div-by-zero raises where DuckDB `// 0`
        # yields NULL (r11 review; same class as revenue_per_unit)
        F.when(
            F.col("_budget") != 0, round_div("alloc", "_budget", 4)
        ).alias("budget_share"),
    )


def build_mixture_plan(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return mixture_plan(load_star(spark, sf_dir)["documents"], ctx)


def _water_fill_sql(src_sql: str) -> tuple[str, str]:
    """(WITH-clause body, final relation name) for the water-filling
    allocator over a caller-supplied ``src`` relation of
    (source, tokens_available) — the SQL twin of :func:`_water_fill`,
    shared by the mixture-plan oracle and the budget-take oracle (r12
    refactor). The returned body starts with ``src AS (...)`` and must
    be embedded in a WITH."""
    sql = f"""src AS ({src_sql}),
tot AS (
  SELECT CAST(SUM(tokens_available) * {MIX_BUDGET_NUM} // {MIX_BUDGET_DEN}
              AS BIGINT) AS budget,
         COUNT(*) AS n_src
  FROM src
),
r1 AS (
  SELECT s.source, s.tokens_available, t.budget,
         budget // n_src AS cap,
         LEAST(s.tokens_available, budget // n_src) AS alloc
  FROM src s, tot t
)"""
    prev = "r1"
    for i in range(2, MIX_ROUNDS + 1):
        sql += f""",
a{i} AS (
  SELECT CAST(SUM(alloc) AS BIGINT) AS used,
         CAST(SUM(CASE WHEN tokens_available > alloc THEN 1 ELSE 0 END)
              AS BIGINT) AS n_unsat
  FROM {prev}
),
r{i} AS (
  SELECT p.source, p.tokens_available, p.budget,
         CASE WHEN a.n_unsat > 0
              THEN p.cap + (p.budget - a.used) // a.n_unsat
              ELSE p.cap END AS cap,
         CASE WHEN p.tokens_available > p.alloc
              THEN LEAST(p.tokens_available,
                         CASE WHEN a.n_unsat > 0
                              THEN p.cap + (p.budget - a.used) // a.n_unsat
                              ELSE p.cap END)
              ELSE p.alloc END AS alloc
  FROM {prev} p, a{i} a
)"""
        prev = f"r{i}"
    return sql, prev


_MIX_SRC_SQL = """
  SELECT source,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
           AS tokens_available
  FROM documents GROUP BY source
"""


def _mixture_oracle() -> str:
    from demo_etl_spark.functions.fixedpoint import round_div_expr

    body, final = _water_fill_sql(_MIX_SRC_SQL)
    return f"""
WITH {body}
SELECT source, tokens_available,
       CAST(alloc AS BIGINT) AS tokens_allocated,
       alloc = tokens_available AS saturated,
       {round_div_expr("alloc", "tokens_available", 4, "duckdb")} AS alloc_frac,
       {round_div_expr("alloc", "budget", 4, "duckdb")} AS budget_share
FROM {final}
"""


ORACLE_SQL_MIXTURE_PLAN = _mixture_oracle()


# ------------------------------- systematic PPS token-budget sample -----
#
# Probability-proportional-to-size document sampling — the standard
# survey-sampling technique (systematic PPS; Madow 1949, public
# algorithm) applied to training-data curation: pick ~K documents per
# source with inclusion probability proportional to TOKEN LENGTH, so a
# token-budget subsample represents the corpus by volume, not by doc
# count (a uniform doc sample over-represents short documents in token
# space). Deterministic and integer-exact: lay every source's documents
# end-to-end on the packed token line (the SAME authoritative
# _running_offsets frame sequence_packing uses), then take K evenly
# spaced ticks at stride = total div K anchored at the stride midpoint —
# no RNG, no floats, bit-identical on both engines. A document longer
# than the stride is selected with certainty (possibly multiple hits,
# reported in n_hits) — the defining PPS property.
#
# Scale: one per-source running-sum window (the packing shape) + a tiny
# per-source totals broadcast. Nothing corpus-sized crosses one task.

PPS_K = 12  # target picks per source


def pps_sample(
    documents: DataFrame, ctx: RunContext = DEFAULT_CONTEXT, k: int = PPS_K
) -> DataFrame:
    """(source, doc_id, n_tokens, start_off, n_hits) for selected docs.

    Tick i (i = 0..k-1) sits at ``h + i*stride`` with ``h = stride div
    2``; a document owning interval [start_off, end_off) is selected iff
    it contains ≥1 tick. Degenerate guard: a source with fewer than k
    total tokens (stride 0) selects every non-empty document once (the
    budget exceeds the population — sampling degrades to identity).
    All division operands are non-negative, so Spark's ``div`` and
    DuckDB's ``//`` agree exactly (truncation == floor here)."""
    from demo_etl_spark.operators.packing import _running_offsets

    offs = _running_offsets(documents)
    totals = offs.groupBy("source").agg(
        F.max("end_off").alias("_total")
    ).withColumn("_stride", F.expr(f"_total div {k}"))
    d = offs.join(F.broadcast(totals), "source").filter(F.col("n_tokens") > 0)
    # ticks below x (x ≥ 0): 0 when x ≤ h, else min(ceil((x-h)/stride), k)
    def _ticks_below(x: str) -> str:
        return (
            f"CASE WHEN _stride = 0 THEN NULL "
            f"WHEN {x} <= _stride div 2 THEN 0 "
            f"ELSE LEAST(({x} - _stride div 2 + _stride - 1) div _stride, "
            f"CAST({k} AS BIGINT)) END"
        )

    n_hits = (
        f"CASE WHEN _stride = 0 THEN 1 "
        f"ELSE {_ticks_below('end_off')} - {_ticks_below('start_off')} END"
    )
    return (
        d.withColumn("n_hits", F.expr(n_hits).cast("long"))
        .filter(F.col("n_hits") > 0)
        .select("source", "doc_id", "n_tokens", "start_off", "n_hits")
    )


def build_pps_sample(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return pps_sample(load_star(spark, sf_dir)["documents"], ctx)


def _pps_oracle() -> str:
    from demo_etl_spark.operators.packing import _N_TOKENS_SQL

    k = PPS_K

    def ticks_below(x: str) -> str:
        return (
            f"CASE WHEN stride = 0 THEN NULL "
            f"WHEN {x} <= stride // 2 THEN 0 "
            f"ELSE LEAST(({x} - stride // 2 + stride - 1) // stride, "
            f"CAST({k} AS BIGINT)) END"
        )

    return f"""
WITH d AS (
  SELECT doc_id, source, {_N_TOKENS_SQL} AS n_tokens FROM documents
),
offs AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY doc_id NULLS LAST, n_tokens NULLS LAST
                             ROWS UNBOUNDED PRECEDING) AS end_off
  FROM d
),
t AS (
  SELECT source, MAX(end_off) AS total, MAX(end_off) // {k} AS stride
  FROM offs GROUP BY source
),
j AS (
  SELECT o.source, o.doc_id, o.n_tokens,
         o.end_off - o.n_tokens AS start_off, o.end_off, t.stride
  FROM offs o JOIN t USING (source)
  WHERE o.n_tokens > 0
),
h AS (
  SELECT source, doc_id, n_tokens, start_off,
         CAST(CASE WHEN stride = 0 THEN 1
              ELSE {ticks_below('end_off')} - {ticks_below('start_off')}
              END AS BIGINT) AS n_hits
  FROM j
)
SELECT source, doc_id, n_tokens,
       CAST(start_off AS BIGINT) AS start_off,
       n_hits
FROM h WHERE n_hits > 0
"""


ORACLE_SQL_PPS_SAMPLE = _pps_oracle()


# ------------------------------- budget-take (mixture EXECUTION) --------
#
# corpus_mixture_plan DESIGNS per-source token allocations; this is the
# missing EXECUTION half: greedily take whole documents per source, in
# deterministic doc_id order along the packed token line, until the
# next document would overflow the source's water-filled allocation.
# The per-source report carries docs/tokens taken and the utilization —
# the export manifest a training-data build actually consumes. Exact
# integers end-to-end; the allocator is the SAME _water_fill arithmetic
# the plan query runs (refactor-shared on both engines), fed with the
# packed-line token convention (packing._N_TOKENS_SQL) so selection
# offsets and budgets are one currency.
#
# Scale: one per-source running-sum window (the packing shape), a
# sources-table water-fill (scalar rounds), one broadcast join, one
# per-source aggregate. Nothing corpus-sized crosses a single task.


def budget_take(
    documents: DataFrame, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """(source, tokens_available, tokens_allocated, n_docs_taken,
    tokens_taken, utilization) — whole-document greedy take against
    the water-filled allocation. A document is taken iff its packed
    interval fits entirely inside the allocation (end_off ≤ alloc), so
    ``tokens_taken ≤ tokens_allocated`` always; utilization is the
    exact HALF_UP 4-dp fill fraction (NULL for a zero allocation — the
    tiny-corpus budget-floor case, guarded on both engines)."""
    from demo_etl_spark.functions.fixedpoint import round_div
    from demo_etl_spark.operators.packing import _running_offsets

    offs = _running_offsets(documents)
    # eager checkpoint: src is sources-table-sized (dozens of rows) but
    # derives from the corpus-wide offsets window — left lazy, every
    # water-fill round's scalar agg re-ran that window (measured 3.4 s
    # vs 1.2 s at sf0.1). Truncating the lineage runs the window once
    # here + once for the selection join below; results are identical.
    src = (
        offs.groupBy("source")
        .agg(F.max("end_off").cast("long").alias("tokens_available"))
        .localCheckpoint(eager=True)
    )
    alloc = _water_fill(src).select(
        "source", "tokens_available", F.col("alloc").cast("long").alias("_alloc")
    )
    taken = (
        offs.join(F.broadcast(alloc.select("source", "_alloc")), "source")
        .filter(F.col("end_off") <= F.col("_alloc"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_taken"),
            F.max("end_off").cast("long").alias("tokens_taken"),
        )
    )
    return (
        alloc.join(taken, "source", "left")
        .select(
            "source",
            "tokens_available",
            F.col("_alloc").alias("tokens_allocated"),
            F.coalesce("n_docs_taken", F.lit(0)).cast("long").alias(
                "n_docs_taken"
            ),
            F.coalesce("tokens_taken", F.lit(0)).cast("long").alias(
                "tokens_taken"
            ),
            F.when(
                F.col("_alloc") > 0,
                round_div("coalesce(tokens_taken, 0)", "_alloc", 4),
            ).alias("utilization"),
        )
    )


def build_budget_take(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return budget_take(load_star(spark, sf_dir)["documents"], ctx)


def _budget_take_oracle() -> str:
    from demo_etl_spark.functions.fixedpoint import round_div_expr
    from demo_etl_spark.operators.packing import _N_TOKENS_SQL

    src_sql = """
  SELECT source, CAST(MAX(end_off) AS BIGINT) AS tokens_available
  FROM offs GROUP BY source
"""
    body, final = _water_fill_sql(src_sql)
    util = round_div_expr(
        "COALESCE(t.tokens_taken, 0)", "CAST(w.alloc AS BIGINT)", 4, "duckdb"
    )
    return f"""
WITH d AS (
  SELECT doc_id, source, {_N_TOKENS_SQL} AS n_tokens FROM documents
),
offs AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY doc_id NULLS LAST, n_tokens NULLS LAST
                             ROWS UNBOUNDED PRECEDING) AS end_off
  FROM d
),
{body},
taken AS (
  SELECT o.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs_taken,
         CAST(MAX(o.end_off) AS BIGINT) AS tokens_taken
  FROM offs o JOIN {final} w USING (source)
  WHERE o.end_off <= w.alloc
  GROUP BY o.source
)
SELECT w.source,
       w.tokens_available,
       CAST(w.alloc AS BIGINT) AS tokens_allocated,
       COALESCE(t.n_docs_taken, 0) AS n_docs_taken,
       COALESCE(t.tokens_taken, 0) AS tokens_taken,
       CASE WHEN w.alloc > 0 THEN {util} END AS utilization
FROM {final} w LEFT JOIN taken t USING (source)
"""


ORACLE_SQL_BUDGET_TAKE = _budget_take_oracle()
