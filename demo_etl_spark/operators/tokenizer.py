"""In-engine BPE tokenizer training (north-star extension; no reference
counterpart — SURVEY §8).

Classic byte-pair-encoding merge learning (Sennrich-style, word-level):
count word frequencies once over the corpus, represent each DISTINCT
word as a space-separated symbol string, then repeatedly (a) count
adjacent symbol pairs weighted by word frequency, (b) pick the most
frequent pair (deterministic tie-break: count desc, lhs, rhs), and
(c) merge every non-overlapping left-to-right occurrence.

Scale design — the reason this works at 100 TB: after the single
corpus-wide ``groupBy(word)`` pass, every iteration runs on the DISTINCT
VOCABULARY (bounded in the low millions for natural language no matter
the corpus size), not on the corpus. That one pass is a plain partial+
final count aggregation; each merge round is a vocab-sized explode +
groupBy + LIMIT 1, and the argmax that reaches the driver is ONE row per
round (same scalar-per-iteration discipline as graph.part_pagerank).
The symbol table is ``localCheckpoint``-ed each round so the plan stays
flat across iterations.

Cross-engine exactness: the merge step is *literal* (non-regex) replace.
The symbol encoding is chosen so that ONE left-to-right replace pass is
exactly the greedy list merge: every symbol carries its OWN leading and
trailing space (``' a '``), so adjacent symbols are separated by a
double space and two consecutive merge sites share no characters. (The
naive single-space encoding fails here: in `` a b a b `` the second
site loses its leading space to the first match, so a pass merges only
alternating sites — and iterating to a fixpoint still disagrees with
greedy on same-symbol runs like ``aaaaaaa``, where match consumption
skips the run's third token. Both failure modes are pinned in
``tests/test_tokenizer.py`` against a pure-Python greedy reference.)
The encoding is prefix-unambiguous because symbols can never contain a
space — words come from a space split and merged symbols are plain
concatenations. Character splitting uses ``([\\s\\S])`` instead of
``(.)`` — Java's ``.`` excludes ``\\r`` while RE2's does not, so a bare
dot diverges on carriage returns (pinned by the oracle-fuzz corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_etl_spark.context import DEFAULT_CONTEXT, RunContext
from demo_etl_spark.io import (
    load_star,
    register_memo_warmer,
    session_memo,
)

#: merge rounds for the registered query (a production vocab uses tens of
#: thousands; 4 keeps the oracle twin readable while exercising the loop)
BPE_ROUNDS = 4

#: char-splitting pattern with verified Java⇔RE2 parity (see module doc)
_CHAR_PAT = r"([\s\S])"


def _fenced_vocab(documents: DataFrame) -> DataFrame:
    """ONE corpus pass → the distinct-word frequency table with the
    space-fenced symbol encoding (every symbol carries its own leading
    and trailing space — the encoding the module docstring's literal-
    replace-≡-greedy-merge argument depends on). Shared by BOTH
    trainers so a fencing change can never split their semantics
    (r10 review: the block existed verbatim in each)."""
    words = (
        documents.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return words.withColumn(
        "sym", F.regexp_replace("word", _CHAR_PAT, " $1 ")
    ).localCheckpoint(eager=True)


def _train(documents: DataFrame, rounds: int):
    """Shared trainer: returns (final symbol table, merge list).

    The symbol table is vocab-sized (distinct words) and
    localCheckpoint-ed per round; one argmax row reaches the driver per
    round."""
    sym = _fenced_vocab(documents)

    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, rounds + 1):
        ts = F.split(F.trim(F.col("sym")), "  ")
        pairs = sym.select(
            F.explode(
                F.zip_with(
                    F.slice(ts, F.lit(1), F.size(ts) - 1),
                    F.slice(ts, F.lit(2), F.size(ts) - 1),
                    lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
                )
            ).alias("p"),
            "freq",
        )
        best = (
            pairs.groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best:
            break
        lhs, rhs, cnt = best[0]["lhs"], best[0]["rhs"], best[0]["pair_count"]
        merges.append((r, lhs, rhs, lhs + rhs, cnt))
        sym = sym.withColumn(
            "sym",
            F.replace(
                F.col("sym"),
                F.lit(f" {lhs}  {rhs} "),
                F.lit(f" {lhs}{rhs} "),
            ),
        ).localCheckpoint(eager=True)
    return sym, merges


@session_memo
def _cached_train(spark: SparkSession, sf_dir: str, rounds: int = BPE_ROUNDS):
    """The FULL-CORPUS trained (symbol table, merge list) — the same
    multi-consumer amortization as dedup's shingle index: three
    registered seats (bpe_merges, bpe_encode, bpe_roundtrip) consume the
    identical default-parameter training, and each re-ran the whole merge
    loop (rounds × vocab pass + driver argmax) per query without it
    (r14). bpe_vocab_coverage trains on the even-doc_id HALF — a
    different input — and stays un-memoized (single consumer). The
    symbol table inside is already localCheckpoint-ed per round by
    _train."""
    return _train(load_star(spark, sf_dir)["documents"], rounds)


def _warm_shared_memos(spark: SparkSession, sf_dir: str) -> None:
    _cached_train(spark, sf_dir)


register_memo_warmer(_warm_shared_memos)


def bpe_merges(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    rounds: int = BPE_ROUNDS,
    trained=None,
) -> DataFrame:
    """Learn ``rounds`` BPE merges; returns (round, lhs, rhs, merged,
    pair_count) — the merge table a tokenizer ships. ``trained`` lets a
    caller hand in an already-trained (sym, merges) pair (the session
    memo) — bit-identical by construction."""
    _, merges = trained if trained is not None else _train(documents, rounds)
    return documents.sparkSession.createDataFrame(
        merges,
        schema="round int, lhs string, rhs string, merged string, "
        "pair_count long",
    )


def build_bpe_merges(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return bpe_merges(
        load_star(spark, sf_dir)["documents"], ctx,
        trained=_cached_train(spark, sf_dir),
    )


def _bpe_oracle_head(rounds: int = BPE_ROUNDS, src: str = "documents") -> str:
    """Training CTE chain up to the final symbol table ``s{rounds}`` —
    the shared prefix the encode/roundtrip/vocab-coverage oracles
    extend. Exposed from the generator instead of string-splitting
    _bpe_oracle's output on a literal SELECT spelling, which silently
    returned the WHOLE string (invalid derived SQL) if the finals
    section was ever reworded (r10 review)."""
    return _bpe_oracle(rounds, src, head_only=True)


def _bpe_oracle(
    rounds: int = BPE_ROUNDS, src: str = "documents", head_only: bool = False
) -> str:
    parts = [
        f"""WITH w AS MATERIALIZED (
  SELECT u.t AS word, COUNT(*) AS freq
  FROM {src}, unnest(string_split(text, ' ')) AS u(t)
  GROUP BY 1
),
s0 AS MATERIALIZED (
  SELECT word, freq,
         regexp_replace(word, '([\\s\\S])', ' \\1 ', 'g') AS sym
  FROM w
)"""
    ]
    for r in range(1, rounds + 1):
        prev = f"s{r - 1}"
        parts.append(
            f""",
p{r} AS (
  SELECT ts[g.i - 1] AS lhs, ts[g.i] AS rhs, freq
  FROM (SELECT string_split(trim(sym), '  ') AS ts, freq FROM {prev}),
       unnest(generate_series(2, len(ts))) AS g(i)
),
b{r} AS MATERIALIZED (
  SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM p{r} GROUP BY lhs, rhs
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1
),
s{r} AS MATERIALIZED (
  -- COALESCE is the merges-exhausted fixpoint (r10 review): when b{r}
  -- is EMPTY its scalar subqueries are NULL and replace(sym, NULL,
  -- NULL) would NULL every symbol table — while the Spark trainer just
  -- stops merging. NULL-replace -> keep sym unchanged, like the
  -- batched oracle already does.
  SELECT word, freq,
         COALESCE(replace(sym,
                 ' ' || (SELECT lhs FROM b{r}) || '  '
                     || (SELECT rhs FROM b{r}) || ' ',
                 ' ' || (SELECT lhs FROM b{r})
                     || (SELECT rhs FROM b{r}) || ' '), sym) AS sym
  FROM {prev}
)"""
        )
    if head_only:
        return "".join(parts)
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS round, lhs, rhs, "
        f"lhs || rhs AS merged, pair_count FROM b{r}"
        for r in range(1, rounds + 1)
    )
    return "".join(parts) + "\n" + finals


ORACLE_SQL_BPE_MERGES = _bpe_oracle()


def bpe_encode(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    rounds: int = BPE_ROUNDS,
    trained=None,
) -> DataFrame:
    """Apply the learned merge table to the corpus: per-document BPE
    token counts and the compression ratio vs raw characters — the
    acceptance metric of a tokenizer (chars per token) and the token
    accounting a training-data budget runs on.

    Shape: the merge loop runs on the DISTINCT vocabulary exactly as in
    :func:`bpe_merges`; the final symbol table collapses to a
    (word → n_bpe_tokens) map that joins back to the exploded corpus as
    a broadcast (vocab-sized), then one per-doc aggregation. The corpus
    is touched twice (word counts, encode join) — both embarrassingly
    parallel scans; nothing iterative ever sees a corpus-sized row set.
    """
    sym, _ = trained if trained is not None else _train(documents, rounds)
    # the empty word ('' from leading/trailing/double spaces) encodes to
    # zero symbols: trim('') splits to [''] — count it as 0, not 1
    vocab = sym.select(
        "word",
        F.when(F.col("word") == "", F.lit(0).cast("long"))
        .otherwise(
            F.size(F.split(F.trim(F.col("sym")), "  ")).cast("long")
        )
        .alias("word_tokens"),
    )
    enc = (
        documents.select(
            "doc_id", "source", F.explode(F.split("text", " ")).alias("word")
        )
        .join(F.broadcast(vocab), "word")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("word_tokens").alias("n_bpe_tokens"),
            F.sum(F.length("word").cast("long")).alias("n_word_chars"),
        )
    )
    from demo_etl_spark.functions.fixedpoint import round_div

    return enc.select(
        "doc_id",
        "source",
        "n_words",
        "n_bpe_tokens",
        "n_word_chars",
        # chars per BPE token, 4dp (0 tokens ⇒ whitespace-only doc: emit 0)
        F.when(F.col("n_bpe_tokens") == 0, F.lit(0.0))
        .otherwise(round_div("n_word_chars", "n_bpe_tokens", 4))
        .alias("chars_per_token"),
    )


def build_bpe_encode(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return bpe_encode(
        load_star(spark, sf_dir)["documents"], ctx,
        trained=_cached_train(spark, sf_dir),
    )


def _bpe_encode_oracle(rounds: int = BPE_ROUNDS) -> str:
    from demo_etl_spark.functions.fixedpoint import round_div_expr

    # reuse the training CTE chain up to the final symbol table s{rounds},
    # then collapse to a vocabulary map and re-join the exploded corpus
    head = _bpe_oracle_head(rounds)
    cpt = round_div_expr(
        "CAST(SUM(length(word)) AS BIGINT)",
        "CAST(SUM(word_tokens) AS BIGINT)", 4, "duckdb",
    )
    return f"""{head},
vocab AS (
  SELECT word,
         CASE WHEN word = '' THEN CAST(0 AS BIGINT)
              ELSE CAST(len(string_split(trim(sym), '  ')) AS BIGINT)
         END AS word_tokens
  FROM s{rounds}
),
corpus AS (
  SELECT doc_id, source, u.t AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(t)
)
SELECT doc_id, source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(word_tokens) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(length(word)) AS BIGINT) AS n_word_chars,
       CASE WHEN SUM(word_tokens) = 0 THEN 0.0
            ELSE {cpt} END AS chars_per_token
FROM corpus JOIN vocab USING (word)
GROUP BY doc_id, source
"""


ORACLE_SQL_BPE_ENCODE = _bpe_encode_oracle()


# --- decode-roundtrip losslessness audit --------------------------------
def bpe_roundtrip(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    rounds: int = BPE_ROUNDS,
    trained=None,
) -> DataFrame:
    """Tokenizer losslessness gate: DECODING every trained vocabulary
    word's symbol sequence (strip the double-space separators) must
    reconstruct the word exactly — BPE merges only ever concatenate
    adjacent symbols, so a single non-roundtripping word means the
    merge application corrupted a symbol table. One corpus-frequency-
    weighted summary row; ``all_roundtrip`` is the go/no-go bit a
    tokenizer release gate reads. Complements ``bpe_vocab_coverage``
    (held-out OOV acceptance) — that audits coverage, this audits
    correctness of the learned table itself.

    Shape: the merge loop runs on the distinct vocabulary exactly as in
    ``bpe_merges``; the audit adds one vocab-sized projection + a single
    aggregation — nothing corpus-sized beyond the trainer's word count.
    """
    sym, _ = trained if trained is not None else _train(documents, rounds)
    checked = sym.select(
        "word",
        "freq",
        (F.expr("replace(trim(sym), '  ', '')") == F.col("word"))
        .cast("int")
        .alias("_ok"),
    )
    return checked.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab_words"),
        F.sum("_ok").cast("long").alias("n_roundtrip_ok"),
        F.sum(F.col("freq").cast("long") * F.col("_ok"))
        .cast("long")
        .alias("occurrences_ok"),
        F.sum(F.col("freq").cast("long")).cast("long").alias("occurrences_total"),
        F.min("_ok").cast("int").alias("all_roundtrip"),
    )


def build_bpe_roundtrip(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return bpe_roundtrip(
        load_star(spark, sf_dir)["documents"], ctx,
        trained=_cached_train(spark, sf_dir),
    )


def _bpe_roundtrip_oracle(rounds: int = BPE_ROUNDS) -> str:
    head = _bpe_oracle_head(rounds)
    ok = "CASE WHEN replace(trim(sym), '  ', '') = word THEN 1 ELSE 0 END"
    return f"""{head}
SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab_words,
       CAST(SUM({ok}) AS BIGINT) AS n_roundtrip_ok,
       CAST(SUM(freq * ({ok})) AS BIGINT) AS occurrences_ok,
       CAST(SUM(freq) AS BIGINT) AS occurrences_total,
       CAST(MIN({ok}) AS INTEGER) AS all_roundtrip
FROM s{rounds}
"""


ORACLE_SQL_BPE_ROUNDTRIP = _bpe_roundtrip_oracle()


# --- held-out vocabulary coverage -------------------------------------
_TRAIN_HALF_SQL = (
    "(SELECT * FROM documents WHERE doc_id % 2 = 0) documents"
)


def bpe_vocab_coverage(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    rounds: int = BPE_ROUNDS,
) -> DataFrame:
    """Held-out tokenizer acceptance audit: train the merge table on the
    even-``doc_id`` half of the corpus, then measure per source on the
    ODD half how much of the text the trained vocabulary covers — OOV
    word rate and the share of tokens produced by the character-level
    fallback (an OOV word costs length(word) single-char tokens, the
    BPE byte-fallback at char granularity). The go/no-go check before a
    tokenizer ships: a source with a high fallback share is
    under-represented in training data. NULL ``doc_id`` rows belong to
    neither half (NULL % 2 is NULL) and NULL text explodes to no words
    — both engines agree, pinned on the hostile corpus.

    Shape: the merge loop runs on the train half's DISTINCT vocabulary
    (vocab-sized, per-round checkpoints as in bpe_merges); the held-out
    corpus is ONE scan joined to the broadcast vocab map + one agg.
    """
    from demo_etl_spark.functions.fixedpoint import round_div

    train = documents.filter(F.col("doc_id") % 2 == 0)
    held = documents.filter(F.col("doc_id") % 2 != 0)
    sym, _ = _train(train, rounds)
    vocab = sym.select(
        "word",
        F.when(F.col("word") == "", F.lit(0).cast("long"))
        .otherwise(
            F.size(F.split(F.trim(F.col("sym")), "  ")).cast("long")
        )
        .alias("word_tokens"),
    )
    words = held.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    # word_tokens IS NULL ⇔ OOV (every vocab row has a non-null count,
    # 0 for the empty word)
    j = words.join(F.broadcast(vocab), "word", "left")
    oov_chars = F.when(
        F.col("word_tokens").isNull(), F.length("word").cast("long")
    ).otherwise(F.lit(0).cast("long"))
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(
            F.when(F.col("word_tokens").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_oov_words"),
        F.sum(
            F.coalesce("word_tokens", F.length("word").cast("long"))
        ).cast("long").alias("n_tokens"),
        F.sum(oov_chars).cast("long").alias("n_fallback_tokens"),
    )
    return agg.select(
        "source",
        "n_words",
        "n_oov_words",
        "n_tokens",
        "n_fallback_tokens",
        round_div("n_oov_words", "n_words", 4).alias("oov_rate"),
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(round_div("n_fallback_tokens", "n_tokens", 4))
        .alias("fallback_share"),
    )


def build_bpe_vocab_coverage(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return bpe_vocab_coverage(load_star(spark, sf_dir)["documents"], ctx)


def _bpe_vocab_coverage_oracle(rounds: int = BPE_ROUNDS) -> str:
    from demo_etl_spark.functions.fixedpoint import round_div_expr

    head = _bpe_oracle_head(rounds, src=_TRAIN_HALF_SQL)
    oov = "CAST(SUM(CASE WHEN v.word_tokens IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    ntok = ("CAST(SUM(COALESCE(v.word_tokens, CAST(length(c.word) AS BIGINT)))"
            " AS BIGINT)")
    nfb = ("CAST(SUM(CASE WHEN v.word_tokens IS NULL"
           " THEN CAST(length(c.word) AS BIGINT) ELSE 0 END) AS BIGINT)")
    return f"""{head},
vocab AS (
  SELECT word,
         CASE WHEN word = '' THEN CAST(0 AS BIGINT)
              ELSE CAST(len(string_split(trim(sym), '  ')) AS BIGINT)
         END AS word_tokens
  FROM s{rounds}
),
corpus AS (
  SELECT source, u.t AS word
  FROM documents, unnest(string_split(text, ' ')) AS u(t)
  WHERE doc_id % 2 <> 0
)
SELECT c.source,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       {oov} AS n_oov_words,
       {ntok} AS n_tokens,
       {nfb} AS n_fallback_tokens,
       {round_div_expr(oov, "CAST(COUNT(*) AS BIGINT)", 4, "duckdb")}
         AS oov_rate,
       CASE WHEN {ntok} = 0 THEN 0.0
            ELSE {round_div_expr(nfb, ntok, 4, "duckdb")} END
         AS fallback_share
FROM corpus c LEFT JOIN vocab v ON c.word = v.word
GROUP BY c.source
"""


ORACLE_SQL_BPE_VOCAB_COVERAGE = _bpe_vocab_coverage_oracle()


# --- batched-merge BPE training --------------------------------------
#
# The driver-sequencing answer to classic greedy BPE's scale ceiling
# (VERDICT r4 #5): greedy runs ONE pair-count job + ONE checkpoint per
# learned merge — a 30k-vocab production run is 30k sequential Spark
# jobs. The batched variant learns up to ``M_BATCH`` merges per
# pair-count round, admitting only candidates whose symbols are disjoint
# from every higher-ranked selection in the same round. Symbol-disjoint
# merges commute under the space-fenced literal replace (a replace for
# (a1,a2) can only touch positions holding a1/a2, and a fenced match
# for (b1,b2) requires genuine adjacency of b1,b2 — so neither creates,
# destroys, nor shifts the other's sites), which makes the round's
# result order-independent and lets both engines apply them as chained
# literal replaces.
#
# Round-trip cost: R merges cost R/m pair-count jobs + R/m checkpoints
# (the expensive vocab-wide work) + R/m top-N probes (ONE
# TakeOrderedAndProject per round selects all m disjoint merges; the
# greedy scan over the ordered prefix is provably identical to m
# sequential argmax-with-exclusion jobs). Batched selection is the standard
# approximation — it can diverge from strict greedy when a merge's
# byproduct pair would have out-ranked the round's k-th pick; strict
# greedy remains ``bpe_merges``.

#: merges admitted per pair-count round (production: 100-1000)
M_BATCH = 3

#: pair-count rounds for the registered batched query
BATCHED_ROUNDS = 2


def bpe_merges_batched(
    documents: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
    rounds: int = BATCHED_ROUNDS,
    m: int = M_BATCH,
) -> DataFrame:
    """Learn up to ``rounds × m`` merges, ``m`` symbol-disjoint merges
    per pair-count round; returns (round, rank, lhs, rhs, merged,
    pair_count)."""
    sym = _fenced_vocab(documents)

    out: list[tuple[int, int, str, str, str, int]] = []
    for r in range(1, rounds + 1):
        ts = F.split(F.trim(F.col("sym")), "  ")
        pairs = (
            sym.select(
                F.explode(
                    F.zip_with(
                        F.slice(ts, F.lit(1), F.size(ts) - 1),
                        F.slice(ts, F.lit(2), F.size(ts) - 1),
                        lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").alias("pair_count"))
            .persist()
        )
        # m disjoint merges from ONE top-N job (VERDICT r7 #5; was m
        # sequential filtered LIMIT-1 jobs — driver round-trips, not
        # data volume). Greedy scan of the globally-ordered pair list,
        # skipping symbol conflicts, selects EXACTLY the pairs the
        # sequential argmax-with-exclusion loop would (the next
        # sequential pick is always the highest-ranked non-conflicting
        # pair, which the scan meets in the same order). If conflicts
        # exhaust the collected prefix before m picks, escalate N —
        # the deterministic total order makes the re-collected prefix
        # identical, so the scan just resumes.
        selected: list[tuple[str, str]] = []
        used: set[str] = set()
        n_take = 4 * m
        rows = pairs.orderBy(
            F.desc("pair_count"), "lhs", "rhs"
        ).limit(n_take).collect()
        exhausted = len(rows) < n_take
        i = 0
        while len(selected) < m:
            if i == len(rows):
                if exhausted:
                    break
                n_take *= 4
                rows = pairs.orderBy(
                    F.desc("pair_count"), "lhs", "rhs"
                ).limit(n_take).collect()
                exhausted = len(rows) < n_take
                continue
            lhs, rhs, cnt = rows[i]["lhs"], rows[i]["rhs"], rows[i]["pair_count"]
            i += 1
            if lhs in used or rhs in used:
                continue
            selected.append((lhs, rhs))
            used |= {lhs, rhs}
            out.append((r, len(selected), lhs, rhs, lhs + rhs, cnt))
        pairs.unpersist()
        if not selected:
            break
        merged_sym = F.col("sym")
        for lhs, rhs in selected:
            merged_sym = F.replace(
                merged_sym, F.lit(f" {lhs}  {rhs} "), F.lit(f" {lhs}{rhs} ")
            )
        sym = sym.withColumn("sym", merged_sym).localCheckpoint(eager=True)
    return documents.sparkSession.createDataFrame(
        out,
        schema="round int, rank int, lhs string, rhs string, "
        "merged string, pair_count long",
    )


def build_bpe_merges_batched(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return bpe_merges_batched(load_star(spark, sf_dir)["documents"], ctx)


def _bpe_batched_oracle(rounds: int = BATCHED_ROUNDS, m: int = M_BATCH) -> str:
    """Unrolled CTE chain mirroring the batched trainer: per round, m
    sequential LIMIT-1 selections (each excluding the symbols of the
    round's earlier selections), then the round's replaces chained onto
    the symbol table. An empty selection COALESCEs its replace pattern
    to three spaces — impossible under the fencing invariant (runs of
    at most two spaces), i.e. a no-op."""
    parts = [
        """WITH w AS MATERIALIZED (
  SELECT u.t AS word, COUNT(*) AS freq
  FROM documents, unnest(string_split(text, ' ')) AS u(t)
  GROUP BY 1
),
s0 AS MATERIALIZED (
  SELECT word, freq,
         regexp_replace(word, '([\\s\\S])', ' \\1 ', 'g') AS sym
  FROM w
)"""
    ]
    sel_names: list[list[str]] = []
    for r in range(1, rounds + 1):
        prev = f"s{r - 1}"
        parts.append(
            f""",
p{r} AS MATERIALIZED (
  SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (
    SELECT ts[g.i - 1] AS lhs, ts[g.i] AS rhs, freq
    FROM (SELECT string_split(trim(sym), '  ') AS ts, freq FROM {prev}),
         unnest(generate_series(2, len(ts))) AS g(i)
  ) GROUP BY lhs, rhs
)"""
        )
        names = []
        for j in range(1, m + 1):
            name = f"c{r}_{j}"
            if names:
                unions = " UNION ".join(
                    f"SELECT lhs AS s FROM {n} UNION SELECT rhs AS s FROM {n}"
                    for n in names
                )
                cond = (f"WHERE lhs NOT IN ({unions}) "
                        f"AND rhs NOT IN ({unions})")
            else:
                cond = ""
            parts.append(
                f""",
{name} AS MATERIALIZED (
  SELECT lhs, rhs, pair_count FROM p{r} {cond}
  ORDER BY pair_count DESC, lhs, rhs LIMIT 1
)"""
            )
            names.append(name)
        sel_names.append(names)
        repl = "sym"
        for name in names:
            pat = (f"COALESCE((SELECT ' ' || lhs || '  ' || rhs || ' ' "
                   f"FROM {name}), '   ')")
            rep = (f"COALESCE((SELECT ' ' || lhs || rhs || ' ' "
                   f"FROM {name}), '')")
            repl = f"replace({repl}, {pat}, {rep})"
        parts.append(
            f""",
s{r} AS MATERIALIZED (
  SELECT word, freq, {repl} AS sym FROM {prev}
)"""
        )
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS INTEGER) AS round, CAST({j} AS INTEGER) AS rank, "
        f"lhs, rhs, lhs || rhs AS merged, pair_count FROM c{r}_{j}"
        for r in range(1, rounds + 1)
        for j in range(1, m + 1)
    )
    return "".join(parts) + "\n" + finals


ORACLE_SQL_BPE_MERGES_BATCHED = _bpe_batched_oracle()
