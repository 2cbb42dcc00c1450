"""Training-data assembly & export operators (operators/packing.py) plus
the pmi/dim-stats additions — hand-built corpora with known answers and
partitioning-invariance checks (the determinism the oracle gate relies
on)."""

from __future__ import annotations

from pyspark.sql import Row as R

from demo_etl_spark.operators.packing import (
    N_SHARDS,
    sequence_packing,
    shard_manifest,
)


def _doc(doc_id, n_tokens, source="s0"):
    text = " ".join(f"t{i % 7}" for i in range(n_tokens))
    return R(doc_id=doc_id, text=text, lang="en", source=source,
             n_chars=len(text))


def test_sequence_packing_known_straddles(spark):
    """Token counts [300, 300, 500] at cap 512: doc0 starts seq0; doc1
    starts seq0 and straddles into seq1; doc2 starts seq1 and straddles
    into seq2. seq2 has no starter, so exactly two rows come back."""
    docs = spark.createDataFrame(
        [_doc(0, 300), _doc(1, 300), _doc(2, 500)]
    )
    out = {r["seq_id"]: r for r in sequence_packing(docs, cap=512).collect()}
    assert set(out) == {0, 1}
    s0, s1 = out[0], out[1]
    assert s0["n_docs_started"] == 2 and s0["n_straddle"] == 1
    assert s0["first_doc_id"] == 0 and s0["last_doc_id"] == 1
    assert s0["seq_tokens"] == 512 and s0["fill_bp"] == 10_000
    assert s1["n_docs_started"] == 1 and s1["n_straddle"] == 1
    # total = 1100; seq1 window [512, 1024) is full
    assert s1["seq_tokens"] == 512


def test_sequence_packing_conserves_tokens_per_source(spark, tables):
    docs = tables["documents"]
    out = sequence_packing(docs).collect()
    started = {}
    for r in out:
        started[r["source"]] = started.get(r["source"], 0) + r["tokens_started"]
        assert 0 < r["seq_tokens"] <= 512
        assert r["n_straddle"] <= r["n_docs_started"]
    truth = {
        r["source"]: r["t"]
        for r in docs.selectExpr(
            "source", "size(split(text, ' ')) AS n"
        ).groupBy("source").agg({"n": "sum"}).withColumnRenamed(
            "sum(n)", "t"
        ).collect()
    }
    assert started == truth


def test_sequence_packing_is_partitioning_invariant(spark, tables):
    docs = tables["documents"]
    a = sorted(map(tuple, sequence_packing(docs).collect()))
    b = sorted(map(tuple, sequence_packing(docs.repartition(13)).collect()))
    assert a == b


def test_shard_manifest_covers_and_balances(spark, tables):
    docs = tables["documents"]
    rows = shard_manifest(docs).collect()
    assert len(rows) == N_SHARDS
    assert sum(r["n_docs"] for r in rows) == docs.count()
    tok = [r["total_tokens"] for r in rows]
    max_doc = docs.selectExpr("max(size(split(text, ' '))) AS m").first()["m"]
    # snake dealing over desc-sorted sizes keeps shard skew within a
    # couple of document lengths
    assert max(tok) - min(tok) <= 2 * max_doc
    share = sum(r["token_share"] for r in rows)
    assert abs(share - 1.0) < 0.01
    for r in rows:
        assert 0 <= r["checksum"] < (1 << 40)


def test_shard_manifest_is_partitioning_invariant(spark, tables):
    docs = tables["documents"]
    a = sorted(map(tuple, shard_manifest(docs).collect()))
    b = sorted(map(tuple, shard_manifest(docs.repartition(11)).collect()))
    assert a == b


def test_pmi_top_pair_is_the_planted_collocation(spark):
    from demo_etl_spark.operators.text import pmi_collocations

    filler = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        R(doc_id=i, text=f"{filler} new york {filler}", lang="en",
          source="s", n_chars=0)
        for i in range(5)
    ] + [
        R(doc_id=100 + i, text=f"{filler} {filler}", lang="en",
          source="s", n_chars=0)
        for i in range(5)
    ]
    out = pmi_collocations(spark.createDataFrame(rows)).collect()
    assert (out[0]["token_a"], out[0]["token_b"]) == ("new", "york")
    assert out[0]["c_ab"] == 5
    # scores are emitted in descending order with deterministic ties
    scores = [r["assoc"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_dim_stats_on_constructed_vectors(spark):
    from demo_etl_spark.operators.similarity import embedding_dim_stats

    df = spark.createDataFrame(
        [
            R(vec_id=0, embedding=[1.0, 0.0], label=0),
            R(vec_id=1, embedding=[3.0, 0.0], label=0),
        ]
    )
    out = {r["dim"]: r for r in embedding_dim_stats(df).collect()}
    assert out[0]["mean"] == 2.0 and out[0]["variance"] == 1.0
    assert out[0]["min_q"] == 1_000_000 and out[0]["max_q"] == 3_000_000
    assert out[0]["zero_frac"] == 0.0
    assert out[1]["variance"] == 0.0 and out[1]["zero_frac"] == 1.0


def test_sequence_spans_reconstruct_sequences(spark, tables):
    """Grouping spans by (source, seq_id) must reproduce the exact
    occupancy: every sequence holds cap tokens except each source's
    final one, and within a sequence the spans tile [0, seq_tokens)
    without gaps or overlaps."""
    from demo_etl_spark.operators.packing import sequence_spans

    docs = tables["documents"]
    spans = sequence_spans(docs).collect()
    by_seq = {}
    for r in spans:
        assert r["span_tokens"] > 0
        by_seq.setdefault((r["source"], r["seq_id"]), []).append(r)
    last_seq = {}
    for (src, seq), _ in by_seq.items():
        last_seq[src] = max(last_seq.get(src, -1), seq)
    for (src, seq), rows in by_seq.items():
        rows.sort(key=lambda r: r["seq_offset"])
        pos = 0
        for r in rows:
            assert r["seq_offset"] == pos, (src, seq, r)
            pos += r["span_tokens"]
        if seq < last_seq[src]:
            assert pos == 512, (src, seq, pos)
        else:
            assert 0 < pos <= 512


def test_sequence_spans_cover_every_document_token(spark, tables):
    """Per doc, spans tile [0, n_tokens): offsets chain and lengths sum."""
    from demo_etl_spark.operators.packing import sequence_spans

    docs = tables["documents"]
    n_by_doc = {
        r["doc_id"]: r["n"]
        for r in docs.selectExpr(
            "doc_id", "size(split(text, ' ')) AS n"
        ).collect()
    }
    by_doc = {}
    for r in sequence_spans(docs).collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(n_by_doc)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["doc_offset"])
        pos = 0
        for r in rows:
            assert r["doc_offset"] == pos
            pos += r["span_tokens"]
        assert pos == n_by_doc[doc_id]


def test_product_quantize_invariants(spark, tables):
    from demo_etl_spark.operators.similarity import (
        PQ_M,
        PQ_STRIDE,
        product_quantize,
    )

    emb = tables["embeddings"]
    out = product_quantize(emb).collect()
    assert len(out) == emb.count()
    for r in out:
        assert r["recon_err"] >= 0
        for m in range(PQ_M):
            # codes are seed vec_ids
            assert r[f"code_{m}"] % PQ_STRIDE == 0


def test_product_quantize_duplicates_share_codes(spark):
    from pyspark.sql import Row as RR
    import random

    from demo_etl_spark.operators.similarity import product_quantize

    rng = random.Random(7)
    rows = [
        RR(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(64)],
           label=i % 3)
        for i in range(40)
    ]
    # vec 35 duplicates vec 3 exactly
    rows[35] = RR(vec_id=35, embedding=rows[3]["embedding"], label=0)
    out = {r["vec_id"]: r for r in
           product_quantize(spark.createDataFrame(rows)).collect()}
    a, b = out[3], out[35]
    assert [a[f"code_{m}"] for m in range(4)] == [
        b[f"code_{m}"] for m in range(4)
    ]
    assert a["recon_err"] == b["recon_err"]


def test_mixture_plan_waterfill_invariants(spark, tables):
    from demo_etl_spark.operators.curation import (
        MIX_BUDGET_DEN,
        MIX_BUDGET_NUM,
        mixture_plan,
    )

    docs = tables["documents"]
    rows = mixture_plan(docs).collect()
    total = sum(r["tokens_available"] for r in rows)
    budget = total * MIX_BUDGET_NUM // MIX_BUDGET_DEN
    allocated = sum(r["tokens_allocated"] for r in rows)
    assert allocated <= budget
    unsat_alloc = set()
    for r in rows:
        assert 0 <= r["tokens_allocated"] <= r["tokens_available"]
        if r["saturated"]:
            assert r["tokens_allocated"] == r["tokens_available"]
        else:
            unsat_alloc.add(r["tokens_allocated"])
    # all unsaturated sources sit at one common cap
    assert len(unsat_alloc) <= 1
    # leftover is smaller than one more round could distribute evenly
    if unsat_alloc:
        n_unsat = sum(1 for r in rows if not r["saturated"])
        assert budget - allocated < max(1, n_unsat) * 2


def test_mixture_plan_skewed_corpus(spark):
    from pyspark.sql import Row as RR

    from demo_etl_spark.operators.curation import mixture_plan

    # one giant source, three tiny ones: tiny saturate, giant absorbs
    rows = []
    did = 0
    for n, src in ((400, "big"), (6, "t1"), (8, "t2"), (4, "t3")):
        for _ in range(n):
            rows.append(RR(doc_id=did, text="a b c d", lang="en",
                           source=src, n_chars=7))
            did += 1
    out = {r["source"]: r for r in
           mixture_plan(spark.createDataFrame(rows)).collect()}
    # total = 4*418 = 1672 tokens; budget = 836; tiny sources (24..32
    # tokens each) saturate; the big source takes the rest of the budget
    assert out["t1"]["saturated"] and out["t2"]["saturated"] and out["t3"]["saturated"]
    assert not out["big"]["saturated"]
    got = sum(r["tokens_allocated"] for r in out.values())
    assert got == 836  # fully allocated after cap-raising rounds


def test_sequence_packing_properties(spark):
    """Property test vs a pure-Python concat-and-chop simulator: for
    ANY per-source token-count sequences, the per-sequence summary and
    the span tiling both match the reference placement exactly."""
    from hypothesis import given, settings, strategies as st

    from demo_etl_spark.operators.packing import (
        sequence_packing,
        sequence_spans,
    )

    CAP = 64

    @settings(max_examples=6, deadline=None)
    @given(
        sizes=st.lists(
            st.tuples(
                st.sampled_from(["s0", "s1"]),
                st.integers(min_value=1, max_value=200),
            ),
            min_size=1,
            max_size=10,
        )
    )
    def check(sizes):
        docs = spark.createDataFrame(
            [_doc(i, n, source=src) for i, (src, n) in enumerate(sizes)]
        )
        # reference placement
        offs = {}
        cursor = {}
        for i, (src, n) in enumerate(sizes):
            start = cursor.get(src, 0)
            offs[i] = (src, start, start + n)
            cursor[src] = start + n
        # summary check
        expect = {}
        for i, (src, start, end) in offs.items():
            seq = start // CAP
            e = expect.setdefault((src, seq), [0, 0])
            e[0] += 1
            e[1] += int((end - 1) // CAP > seq)
        got = {
            (r["source"], r["seq_id"]): (r["n_docs_started"], r["n_straddle"])
            for r in sequence_packing(docs, cap=CAP).collect()
        }
        assert got == {k: tuple(v) for k, v in expect.items()}
        # span tiling check: per doc, spans cover [0, n) against CAP grid
        spans = {}
        for r in sequence_spans(docs, cap=CAP).collect():
            spans.setdefault(r["doc_id"], []).append(r)
        for i, (src, start, end) in offs.items():
            ss = sorted(spans[i], key=lambda r: r["doc_offset"])
            assert ss[0]["seq_id"] == start // CAP
            assert ss[-1]["seq_id"] == (end - 1) // CAP
            pos = 0
            for r in ss:
                assert r["doc_offset"] == pos
                assert r["seq_offset"] == (start + pos) % CAP or (
                    r["seq_offset"] == start + pos - r["seq_id"] * CAP
                )
                pos += r["span_tokens"]
            assert pos == end - start

    check()


def test_doc_id_unique_per_source_canary():
    """Data-contract canary for the oracle gate (VERDICT r4 #1b): the
    packing windows order by (doc_id, n_tokens), which is engine-
    deterministic even under duplicate doc_ids — but the corpus
    CONTRACT is per-source uniqueness, and if the driver ever
    regenerates testdata with dups this test turns a mysterious
    hash-red into a named diagnosis. DuckDB-only: cheap, no Spark."""
    import os

    from tools import oracle_db

    con = oracle_db.connect()
    for sf in ("0.001", "0.01", "0.1"):
        path = f"/root/testdata/sf{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        n, nd = con.sql(
            f"SELECT count(*), count(DISTINCT (source, doc_id)) "
            f"FROM '{path}'"
        ).fetchone()
        assert n == nd, (
            f"sf{sf}: {n - nd} duplicate (source, doc_id) pairs — "
            "oracle hash-reds on packing/window queries may stem from "
            "tie-ordering; the (doc_id, n_tokens) tiebreak covers "
            "packing, audit other orderBy(doc_id) windows"
        )


def test_packing_deterministic_under_duplicate_doc_ids(spark):
    """The r4 driver red's last hypothesized channel: duplicate doc_ids
    within a source. With the (doc_id, n_tokens) window tiebreak the
    outputs must be identical for every physical input order, even when
    doc_ids collide with DIFFERENT token counts."""
    from demo_etl_spark.operators.packing import (
        sequence_packing,
        sequence_spans,
        shard_manifest,
    )

    rows = [
        _doc(0, 300), _doc(1, 200), _doc(1, 450), _doc(2, 500),
        _doc(2, 500), _doc(3, 40),
    ]
    perms = [rows, rows[::-1], rows[2:] + rows[:2]]
    for build in (sequence_packing, sequence_spans, shard_manifest):
        outs = [
            sorted(map(tuple, build(
                spark.createDataFrame(p).repartition(5)).collect()))
            for p in perms
        ]
        assert outs[0] == outs[1] == outs[2], build.__name__


def test_label_propagation_separates_cliques(spark):
    """Two 4-cliques joined by one bridge edge: frequency LPA keeps two
    communities (min-label CC would flood them into one)."""
    from demo_etl_spark.operators.graph import part_communities

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a != b]

    edges = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [
        (4, 10), (10, 4)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r["community"]: r["n_parts"]
           for r in part_communities(df).collect()}
    assert len(out) == 2
    assert sorted(out.values()) == [4, 4]


def test_packed_sequences_roundtrip_the_corpus(spark, tables):
    """Writer-stage invariant: concatenating each source's sequences in
    seq_id order must reproduce exactly the source's documents
    concatenated in (doc_id, n_tokens) order — packing is lossless."""
    from demo_etl_spark.operators.packing import packed_sequences

    docs = tables["documents"]
    seqs = packed_sequences(docs).collect()
    assembled = {}
    for r in sorted(seqs, key=lambda r: (r["source"], r["seq_id"])):
        assert r["seq_tokens"] <= 512
        assert r["seq_tokens"] == len(r["seq_text"].split(" "))
        assembled.setdefault(r["source"], []).append(r["seq_text"])
    truth = {}
    for r in docs.select("source", "doc_id", "text").collect():
        truth.setdefault(r["source"], []).append((r["doc_id"], r["text"]))
    for src, pairs in truth.items():
        want = " ".join(t for _, t in sorted(pairs))
        got = " ".join(assembled[src])
        assert got == want, src


def test_packing_policy_seq_count_is_order_invariant(spark, tables):
    """Knob-study invariant: concat-and-chop fills every sequence
    completely, so n_seqs = ceil(total/cap) must be IDENTICAL across
    the three packing orders for every source — only the straddle count
    may differ. Also pins the straddle bound: at most n_docs straddles,
    and n_straddle < n_seqs + n_docs trivially."""
    from demo_etl_spark.operators.packing import packing_policy_compare

    rows = packing_policy_compare(tables["documents"]).collect()
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r["source"], {})[r["policy"]] = r
    for src, pol in by_source.items():
        assert set(pol) == {"arrival", "length_asc", "length_desc"}, src
        seqs = {p: r["n_seqs"] for p, r in pol.items()}
        assert len(set(seqs.values())) == 1, f"{src}: {seqs}"
        totals = {p: r["total_tokens"] for p, r in pol.items()}
        assert len(set(totals.values())) == 1, f"{src}: {totals}"
        for p, r in pol.items():
            assert 0 <= r["n_straddle"] <= r["n_docs"], (src, p)


def test_arithmetic_token_count_equals_split_semantics(spark):
    """The r8 engine-proof token count (spaces + 1 via length-replace)
    must equal ``size(split(text, ' '))`` for every string shape the
    hostile corpus carries — empties kept, NUL bytes, unicode,
    non-space whitespace untouched. This is the equivalence the packing
    family's oracle parity now rests on."""
    from pyspark.sql import functions as F

    from demo_etl_spark.operators.packing import _n_tokens

    nasty = [
        "", " ", "  ", "a", "a b", "a  b", " a", "a ", "  a  ",
        "tab\there", "new\nline", "nbsp x", "zero​w",
        "中文 文档", "emoji 🚀 x", "café café",
        "before\x00after nul", "\x00", "a \x00 b",
        None,
    ]
    df = spark.createDataFrame([(s,) for s in nasty], "text string")
    bad = df.select(
        "text",
        _n_tokens().alias("arith"),
        F.size(F.split(F.coalesce("text", F.lit("")), " ")).alias("split_n"),
    ).where(F.col("arith") != F.col("split_n"))
    assert bad.count() == 0, bad.collect()
