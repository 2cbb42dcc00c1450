"""BPE merge training (operators/tokenizer.py) vs a pure-Python greedy
reference implementation — the semantic pin that the padded-string
replace encoding equals classic list-based greedy BPE, including on the
adversarial alternating-run words where a single replace pass would
merge only every other site."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Row as R

from demo_etl_spark.operators.tokenizer import bpe_merges


def _ref_bpe(texts: list[str], rounds: int):
    """Classic Sennrich-style BPE on word frequencies; greedy
    left-to-right list merge; tie-break (count desc, lhs, rhs)."""
    wf = Counter(w for t in texts for w in t.split(" "))
    syms = {w: list(w) for w in wf}
    merges = []
    for r in range(1, rounds + 1):
        pc: Counter = Counter()
        for w, f in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        if not pc:
            break
        (lhs, rhs), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, lhs, rhs, lhs + rhs, cnt))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def _run(spark, texts, rounds=4):
    docs = spark.createDataFrame(
        [R(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in enumerate(texts)]
    )
    got = [
        (r["round"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
        for r in bpe_merges(docs, rounds=rounds).collect()
    ]
    assert sorted(got) == sorted(_ref_bpe(texts, rounds)), (
        got, _ref_bpe(texts, rounds)
    )


def test_bpe_matches_reference_on_plain_corpus(spark):
    _run(spark, [
        "lower lowest newer newest wider widest",
        "low lower lowest new newer newest",
        "the newest newest newest thing",
    ])


def test_bpe_matches_reference_on_alternating_runs(spark):
    """Words like 'ababab' put consecutive (a,b) merge sites at shared
    spaces in the padded encoding — the case a single replace pass gets
    wrong (it merges alternating sites only)."""
    _run(spark, [
        "ababab ababababab abab",
        "ababab ababab cdcdcdcd",
        "aaaa aaa aaaaaa baaab",
    ], rounds=3)


def test_bpe_matches_reference_with_repeated_symbol_pairs(spark):
    """Pair (a,a) inside 'aaaa...' — true token overlap: greedy merges
    floor(run/2) pairs; the string encoding must agree."""
    _run(spark, ["aaaaaaa aaaa aa a", "aaaaaaa aaaaaaa xyz"], rounds=2)


def test_bpe_encode_matches_reference_token_counts(spark):
    from demo_etl_spark.operators.tokenizer import bpe_encode

    texts = [
        "lower lowest newer newest wider widest",
        "low lower lowest new newer newest",
        "the newest newest newest thing",
    ]
    rounds = 4
    # reference: replay merges over the symbol lists, count per doc
    wf = Counter(w for t in texts for w in t.split(" "))
    syms = {w: list(w) for w in wf}
    for r, lhs, rhs, merged, cnt in _ref_bpe(texts, rounds):
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    expect = {
        i: sum(len(syms[w]) for w in t.split(" "))
        for i, t in enumerate(texts)
    }
    docs = spark.createDataFrame(
        [R(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in enumerate(texts)]
    )
    got = {r["doc_id"]: r for r in bpe_encode(docs, rounds=rounds).collect()}
    assert {k: v["n_bpe_tokens"] for k, v in got.items()} == expect
    for r in got.values():
        assert r["n_bpe_tokens"] <= r["n_word_chars"]
        assert r["n_bpe_tokens"] >= r["n_words"]  # no empty words here


def test_bpe_matches_reference_on_random_corpora(spark):
    """Hypothesis: random small-alphabet corpora (heavy repeat/overlap
    pressure) — the engine merge table must equal the pure-Python greedy
    reference on every draw."""
    from hypothesis import given, settings, strategies as st

    word = st.text(alphabet="ab", min_size=1, max_size=6)

    @settings(max_examples=5, deadline=None)
    @given(docs=st.lists(
        st.lists(word, min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=4,
    ))
    def check(docs):
        _run(spark, docs, rounds=3)

    check()


def _ref_bpe_batched(texts: list[str], rounds: int, m: int):
    """Pure-Python batched reference: per pair-count round, select up to
    m pairs in (count desc, lhs, rhs) order skipping any pair sharing a
    symbol with an earlier selection this round, then apply all selected
    merges (symbol-disjoint ⇒ order-independent)."""
    wf = Counter(w for t in texts for w in t.split(" "))
    syms = {w: list(w) for w in wf}
    out = []
    for r in range(1, rounds + 1):
        pc: Counter = Counter()
        for w, f in wf.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        selected, used = [], set()
        for (lhs, rhs), cnt in sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        ):
            if len(selected) == m:
                break
            if lhs in used or rhs in used:
                continue
            selected.append((lhs, rhs))
            used |= {lhs, rhs}
            out.append((r, len(selected), lhs, rhs, lhs + rhs, cnt))
        if not selected:
            break
        for lhs, rhs in selected:
            for w, s in syms.items():
                o, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                        o.append(lhs + rhs)
                        i += 2
                    else:
                        o.append(s[i])
                        i += 1
                syms[w] = o
    return out


def _run_batched(spark, texts, rounds=2, m=3):
    from demo_etl_spark.operators.tokenizer import bpe_merges_batched

    docs = spark.createDataFrame(
        [R(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in enumerate(texts)]
    )
    got = [
        (r["round"], r["rank"], r["lhs"], r["rhs"], r["merged"],
         r["pair_count"])
        for r in bpe_merges_batched(docs, rounds=rounds, m=m).collect()
    ]
    want = _ref_bpe_batched(texts, rounds, m)
    assert sorted(got) == sorted(want), (got, want)


def test_batched_bpe_matches_reference(spark):
    _run_batched(spark, [
        "lower lowest newer newest wider widest",
        "low lower lowest new newer newest",
        "the newest newest newest thing",
    ])


def test_batched_bpe_disjointness_on_runs(spark):
    """Run-heavy words force symbol conflicts among the top pairs — the
    round must skip conflicting candidates, not merge them."""
    _run_batched(spark, [
        "ababab ababababab abab",
        "aaaa aaa aaaaaa baaab",
        "cdcd cdcdcd dcdc",
    ], rounds=2, m=3)


def test_batched_bpe_matches_reference_on_random_corpora(spark):
    from hypothesis import given, settings, strategies as st

    word = st.text(alphabet="abc", min_size=1, max_size=6)
    doc = st.lists(word, min_size=1, max_size=12).map(" ".join)

    @settings(max_examples=5, deadline=None)
    @given(docs=st.lists(doc, min_size=1, max_size=4))
    def check(docs):
        _run_batched(spark, docs, rounds=2, m=2)

    check()


def test_bpe_oracles_survive_merge_exhaustion(spark):
    """A corpus whose pairs run out before BPE_ROUNDS: the Spark trainer
    stops merging, and the greedy DuckDB oracle must hold the symbol
    table FIXED through the empty rounds (r10 review: its NULL scalar
    subqueries used to NULL every sym, flipping bpe_roundtrip/encode/
    vocab_coverage oracles red on exactly this corpus class)."""
    from tools import oracle_db

    from demo_etl_spark.operators.tokenizer import (
        ORACLE_SQL_BPE_ENCODE,
        _bpe_roundtrip_oracle,
        bpe_encode,
        bpe_roundtrip,
    )

    rows = [(1, "ab ab ab", "en", "s", 8), (2, "ab", "en", "s", 2)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    con = oracle_db.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(str(r) for r in rows)
        + ") t(doc_id, text, lang, source, n_chars)"
    )

    rt = bpe_roundtrip(df).collect()[0]
    ort = con.sql(_bpe_roundtrip_oracle()).fetchall()[0]
    assert (rt["n_vocab_words"], rt["n_roundtrip_ok"], rt["all_roundtrip"]) == (
        ort[0], ort[1], ort[4],
    )
    assert rt["all_roundtrip"] == 1

    enc = {r["doc_id"]: r["n_bpe_tokens"] for r in bpe_encode(df).collect()}
    oenc = {
        r[0]: r[3]
        for r in con.sql(ORACLE_SQL_BPE_ENCODE).fetchall()
    }
    assert enc == oenc, (enc, oenc)
    assert None not in enc.values()
