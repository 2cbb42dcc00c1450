"""Oracle fuzz: the driver REGENERATES testdata between rounds, so the
cross-engine gate must hold on corpora nastier than the current one.
This builds a documents table of deliberate edge cases — empty text,
whitespace-only, runs of spaces, unicode (accents/CJK/non-BMP emoji),
control characters, exact+near duplicates, a long repetitive doc — and
runs the text/dedup/multimodal queries through the same Spark-vs-DuckDB
comparison the driver uses. This is what caught (and now pins) the
multimodal bytes-vs-chars divergence: DuckDB's ascii() returns code
points, so an emoji in the raster overflowed INT32 in the audio oracle
and every char-walking oracle disagreed with the byte-walking decoder
until the synthesis sanitized its alphabet.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

import pytest

from tools import oracle_db

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

EDGE_DOCS = [
    (0, "", "en", "edge", 0),
    (1, " ", "en", "edge", 1),
    (2, "   ", "en", "edge", 3),
    (3, "a", "en", "edge", 1),
    (4, "double  space  between  tokens", "en", "edge", 30),
    (5, "héllo wörld ünïcode tëxt façade naïve", "fr", "edge", 37),
    (6, "日本語 テキスト 漢字 ひらがな カタカナ", "ja", "edge", 20),
    (7, "emoji 🙂 in 🚀 text 🎉 tokens", "en", "edge", 27),
    (8, "tab\tand\nnewline\r\nchars here", "en", "edge", 26),
    (9, "quote 'single' and \"double\" marks", "en", "edge", 33),
    (10, "visit https://example.com/x?q=1 or mail bob@example.com now",
     "en", "edge", 60),
    (11, "the quick brown fox jumps over the lazy dog and runs far away",
     "en", "edge", 61),
    (12, "the quick brown fox jumps over the lazy dog and runs far away",
     "en", "edge", 61),
    (13, "the quick brown fox jumps over the lazy dog and runs far home",
     "en", "edge", 61),
    (14, "word " * 500, "en", "edge", 2500),
    (15, " leading and trailing spaces ", "en", "edge", 29),
    (16, "x y", "de", "edge", 3),
    (17, "uno dos tres cuatro cinco seis siete ocho", "es", "edge", 41),
    (18, "mixed ASCII und ünïcode 混合 content 🙂 with bob@x.io",
     "de", "edge", 50),
    (19, "end", "en", "edge", 3),
    # empty-text doc on the VIDEO branch (doc_id % 3 == 2): pins the old
    # ORACLE_SQL_FRAMES empty-payload latent — docs 0/1 are image/audio
    (20, "", "en", "edge", 0),
    # and a non-ASCII doc on the video branch (sanitizer must keep the
    # byte-walking frame sampler and the char-walking oracle in lockstep)
    (23, "日本 video 🙂 bytes", "ja", "edge", 16),
]

# cross-document verbatim run (29 tokens incl. ONE EMPTY token from a
# double space, unicode on both sides) buried in distinct filler: the
# repeated-span detector/scrub must hash k-grams over empty+non-BMP
# tokens identically in both engines, and the scrub must excise exactly
# the run from both carriers
_SPAN_RUN = (
    " ".join(f"ü{i}" for i in range(14))
    + "  "
    + " ".join(f"漢{i}" for i in range(14))
)
EDGE_DOCS += [
    (24, "pre24a pre24b pre24c " + _SPAN_RUN + " post24a", "en", "edge", 0),
    (25, "pre25a " + _SPAN_RUN + " post25b 🙂", "fr", "edge", 0),
]
EDGE_DOCS = [
    (i, t, lang, src, len(t)) for (i, t, lang, src, _) in EDGE_DOCS
]

# one representative per text-consuming family; the full sweep was run
# once interactively — this keeps the regression pin affordable
FUZZ_QUERIES = [
    "text_stats", "text_redacted", "doc_chunks", "lang_id", "vocab_topk",
    "doc_length_outliers", "corpus_source_profile",
    "doc_fingerprints", "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_clusters", "dedup_incremental", "dedup_method_agreement",
    "corpus_curation",
    "multimodal_features", "multimodal_frames", "multimodal_audio",
    "multimodal_resize",
    # r13 media-dedup family: the unicode/emoji edge docs exercise the
    # sanitize→raster→fingerprint path of every modality
    "dedup_image_phash", "dedup_image_band_recall",
    "dedup_audio_fingerprint", "dedup_video_chunks",
    "media_dedup_agreement", "dedup_image_clusters",
    "sequence_packing", "sequence_spans", "shard_manifest",
    "sequence_export",
    "pmi_collocations", "bpe_merges", "bpe_encode", "bpe_merges_batched",
    "corpus_mixture_plan",
    "dedup_repeated_spans", "dedup_span_scrub",
]


@pytest.fixture(scope="module")
def fuzz_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fuzz_sf"))
    for f in glob.glob(f"{SF}/*.parquet"):
        shutil.copy(f, os.path.join(d, os.path.basename(f)))
    con = oracle_db.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", EDGE_DOCS)
    con.execute(
        f"COPY d TO '{os.path.join(d, 'documents.parquet')}' (FORMAT PARQUET)"
    )
    return d


def test_oracles_hold_on_edge_case_corpus(fuzz_dir):
    # subprocess: verify_oracle owns its Spark session and memo caches —
    # running it in-process would poison the suite's per-sf_dir memos
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_oracle.py"),
         fuzz_dir, *FUZZ_QUERIES],
        capture_output=True, text=True, timeout=480, cwd=REPO,
    )
    tail = (out.stdout + out.stderr)[-4000:]
    assert out.returncode == 0, tail
    assert "PASS (0 failures)" in out.stdout, tail


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    """The r7 hostile corpus (tools/hostile_corpus.py): NULL text, NULL
    doc_id, duplicate doc_ids, whitespace pathologies, empty strings,
    straddling long docs. This is the checked-in reproduction of the
    r3-r6 ``sequence_packing``/``sequence_spans`` driver reds (NULL-int
    straddle arithmetic + NULLS FIRST/LAST window divergence) and the
    r7-found simhash/span-scrub/source-profile/multimodal latents."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from hostile_corpus import write_corpus

    return write_corpus(str(tmp_path_factory.mktemp("hostile_sf")), SF)


@pytest.fixture(scope="module")
def degenerate_dir(tmp_path_factory):
    """ALL mutable fact tables empty (documents, embeddings, events,
    orders, lineitem — schema-only parquet). This is the corpus that
    caught the CUBE/ROLLUP/GROUPING SETS divergence: on zero input rows
    the SQL standard (and DuckDB) emit the () grand-total row with
    count=0 while Spark emits nothing — fixed by the both-sides
    HAVING COUNT(*) > 0 populated-cells guard in operators/star.py.
    Also proves no operator crashes on empty input (empty .collect()
    fetches, divide-by-zero denominators, empty-window edge cases)."""
    d = str(tmp_path_factory.mktemp("degenerate_sf"))
    empty = {"documents.parquet", "embeddings.parquet", "events.parquet",
             "orders.parquet", "lineitem.parquet"}
    import pyarrow.parquet as pq
    for f in glob.glob(f"{SF}/*.parquet"):
        name = os.path.basename(f)
        if name in empty:
            pq.write_table(pq.read_table(f).schema.empty_table(),
                           os.path.join(d, name))
        else:
            shutil.copy(f, os.path.join(d, name))
    return d


def test_oracles_hold_on_all_empty_corpus(degenerate_dir):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_oracle.py"),
         degenerate_dir],
        capture_output=True, text=True, timeout=1200, cwd=REPO,
    )
    tail = (out.stdout + out.stderr)[-4000:]
    assert out.returncode == 0, tail
    assert "PASS (0 failures)" in out.stdout, tail


def test_mixture_plan_zero_budget_corpus(tmp_path_factory):
    """r11 review pin: a near-empty corpus floors the mixture budget to
    0 (_total·NUM div DEN with a 1-token total) — budget_share must NULL
    as DuckDB's `// 0` does, not raise Spark's ANSI DIVIDE_BY_ZERO."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("tiny_sf"))
    for f in glob.glob(f"{SF}/*.parquet"):
        shutil.copy(f, os.path.join(d, os.path.basename(f)))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1], "int64"),
                "text": pa.array(["hi"], "string"),
                "lang": pa.array(["en"], "string"),
                "source": pa.array(["s"], "string"),
                "n_chars": pa.array([2], "int64"),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_oracle.py"),
         d, "corpus_mixture_plan"],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    tail = (out.stdout + out.stderr)[-4000:]
    assert out.returncode == 0, tail
    assert "PASS (0 failures)" in out.stdout, tail


def test_oracles_hold_on_hostile_corpus(hostile_dir):
    """THE FULL REGISTRY — all ~146 queries — against the hostile corpus.

    Historically this pinned only the families that had already diverged
    (text/dedup/packing, then the NULL-hostile event/order/embedding
    classes fixed by the io.timed_events / keyed_orders / valid_embeddings
    ingest quarantine). The driver regenerates testdata every round, so
    any registered query can meet NULL keys, duplicate ids, Unicode
    case-folding traps, or negative ids next round: gate everything.
    No query names passed = verify_oracle runs every queries() entry.
    """
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_oracle.py"),
         hostile_dir],
        capture_output=True, text=True, timeout=1200, cwd=REPO,
    )
    tail = (out.stdout + out.stderr)[-4000:]
    assert out.returncode == 0, tail
    assert "PASS (0 failures)" in out.stdout, tail


def test_media_quarantine_on_hostile_payloads(spark, hostile_dir):
    """r10 hostile wave 6 — MEDIA payloads: truncated PGM headers, wrong
    magic bytes, 0x0 dims, header/payload length mismatch, memory-bomb
    dimensions, NULL payload/media_id, bad maxval. Every multimodal
    operator must QUARANTINE exactly the broken rows (dead-letter drop,
    mirrored by the media_decode_audit reasons) and keep exactly the
    valid ones — including a comment-laden arbitrary-whitespace header
    that is legal netpbm (no over-rejection). This is the payload-level
    class the synthesized star corpus can never produce (its payloads
    are well-formed by construction), so it is pytest-pinned over
    tools/hostile_corpus.py's media.parquet rather than oracle-gated."""
    from hostile_corpus import HOSTILE_MEDIA
    from demo_etl_spark.operators import multimodal as mm

    media = spark.read.parquet(os.path.join(hostile_dir, "media.parquet"))
    expect_kept = {r[0] for r in HOSTILE_MEDIA if r[4]}
    n_rows = len(HOSTILE_MEDIA)

    # audit sees EVERY row and its verdict matches the fixture's intent
    audit = mm.media_decode_audit(media).collect()
    assert len(audit) == n_rows
    ok_ids = {r["media_id"] for r in audit if r["decode_ok"] == 1}
    assert ok_ids == expect_kept
    for r in audit:
        assert (r["decode_reason"] is None) == (r["decode_ok"] == 1)
    # the decoder's error strings reach the audit unchanged
    reason = {r["media_id"]: r["decode_reason"] for r in audit}
    assert reason[10] == "undecodable: not a binary PGM (P5) payload"
    assert reason[16] == "non_positive_dims"  # 0x0
    assert reason[25] == "non_positive_dims"  # -2 x -3
    assert reason[21] == "oversized_dims"  # memory bomb
    assert reason[22] == "null_payload"

    # features/resize keep exactly the decodable rows — no crash
    feats = mm.extract_features(media).collect()
    assert {r["media_id"] for r in feats} == expect_kept
    by_id = {r["media_id"]: r for r in feats}
    assert (by_id[1]["width"], by_id[1]["height"]) == (4, 3)
    assert (by_id[2]["width"], by_id[2]["height"]) == (4, 3)  # comments OK
    resized = mm.resize_media(media).collect()
    assert {r["media_id"] for r in resized} == expect_kept
    for r in resized:
        assert len(r["resized_payload"]) > mm.RESIZE_TARGET[0]

    # frames: only the VALID video rows emit frames (null-id video and
    # short-raster video are quarantined)
    frames = mm.sample_frames(media).collect()
    valid_videos = {r[0] for r in HOSTILE_MEDIA
                    if r[4] and r[1] == "video"}
    assert {r["media_id"] for r in frames} == valid_videos

    # audio: only the valid audio row survives, with exact features
    audio = mm.audio_features(media).collect()
    assert {r["media_id"] for r in audio} == {
        r[0] for r in HOSTILE_MEDIA if r[4] and r[1] == "audio"
    }
    a = audio[0]
    # raster = b'B' * 12 -> sample = 66 - 128 = -62 each
    assert (a["n_samples"], a["peak_amplitude"], a["energy"]) == (
        12, 62, 12 * 62 * 62
    )

    # the signature kernels keep exactly the decodable rows too (they
    # do not filter on media_type, so every kept row gets a signature)
    for kernel in (mm.dhash_signatures, mm.audio_fingerprint_signatures,
                   mm.video_chunk_hashes):
        got = {r["media_id"] for r in kernel(media).collect()}
        assert got == expect_kept, kernel.__name__


def test_chained_dup_corpus_converges_fast(spark):
    """A 48-doc sliding-window chain (adjacent docs share 37/39
    shingles; edges reach ~4 hops before Jaccard drops below 0.8) has
    component diameter ~12 — plain min-label propagation needs ~13
    rounds of full-edge shuffles. Pointer jumping (r7) must collapse it
    in O(log d) rounds AND still match the recursive-CTE oracle."""
    from demo_etl_spark.operators import dedup as D

    n_docs, n_tok = 48, 40
    words = [f"w{i:03d}" for i in range(n_docs + n_tok)]
    rows = [
        (1000 + i, " ".join(words[i : i + n_tok]), "en", "chain", 0)
        for i in range(n_docs)
    ] + [  # isolated docs: must appear in neither engine's output
        (2000 + j, " ".join(f"x{j}q{k}" for k in range(30)), "en",
         "chain", 0)
        for j in range(5)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long",
    )
    stats: dict = {}
    labels = D.dedup_clusters(docs, stats_out=stats)
    got = {(r.doc_id, r.cluster_id, r.is_canonical) for r in labels.collect()}

    assert stats["rounds"] <= 8, (
        f"pointer jumping regressed: {stats['rounds']} rounds"
    )
    chain = {r for r in got if r[0] < 2000}
    assert len(chain) == n_docs
    assert all(c == 1000 for (_, c, _) in chain), "chain did not collapse"
    assert not any(r[0] >= 2000 for r in got), "singletons leaked"

    con = oracle_db.connect()
    con.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, "
        "lang VARCHAR, source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO documents VALUES (?,?,?,?,?)", rows)
    exp = {tuple(r) for r in con.sql(D.ORACLE_SQL_CLUSTERS).fetchall()}
    assert got == exp


def _packing_docs():
    """Packing-hostile corpus: tie-heavy (many identical token counts —
    the snake dealer and windows must break ties on doc_id alone),
    boundary-aligned docs (exactly cap and cap±1 tokens), a single doc
    spanning many sequences, empty/whitespace docs, and one source that
    is a lone giant doc. Pins the packing family's edge shapes before
    the driver's next testdata regeneration."""
    rows = []
    did = 0

    def doc(n_tokens, source):
        nonlocal did
        text = " ".join(f"t{i % 5}" for i in range(n_tokens))
        rows.append((did, text, "en", source, len(text)))
        did += 1

    for _ in range(12):          # 12-way exact tie
        doc(100, "ties")
    for _ in range(4):           # second tie class, same source
        doc(50, "ties")
    doc(512, "aligned")          # exactly one cap
    doc(511, "aligned")
    doc(513, "aligned")
    doc(1024, "aligned")         # exactly two caps
    doc(3000, "giant")           # lone source, spans 6 sequences
    rows.append((did, "", "en", "sparse", 0)); did += 1
    rows.append((did, " ", "en", "sparse", 1)); did += 1
    doc(1, "sparse")
    doc(2, "sparse")
    return rows


PACKING_FUZZ_QUERIES = [
    "sequence_packing", "sequence_spans", "shard_manifest",
    "sequence_export",
    "corpus_mixture_plan", "corpus_source_profile",
]


@pytest.fixture(scope="module")
def packing_fuzz_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fuzz_pack_sf"))
    for f in glob.glob(f"{SF}/*.parquet"):
        shutil.copy(f, os.path.join(d, os.path.basename(f)))
    con = oracle_db.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", _packing_docs())
    con.execute(
        f"COPY d TO '{os.path.join(d, 'documents.parquet')}' (FORMAT PARQUET)"
    )
    return d


def test_oracles_hold_on_packing_corpus(packing_fuzz_dir):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_oracle.py"),
         packing_fuzz_dir, *PACKING_FUZZ_QUERIES],
        capture_output=True, text=True, timeout=480, cwd=REPO,
    )
    tail = (out.stdout + out.stderr)[-4000:]
    assert out.returncode == 0, tail
    assert "PASS (0 failures)" in out.stdout, tail


NODUP_FUZZ_QUERIES = [
    # the union of both pair sets is EMPTY here: pins the pair_jaccard
    # 0/0 guard (defined as 1.0) plus the dedup family's empty-result
    # paths end-to-end under the gate; repeated-spans/scrub must come
    # back span-free with every document byte-identical
    "dedup_method_agreement", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_clusters", "dedup_exact", "corpus_curation",
    "dedup_repeated_spans", "dedup_span_scrub",
]


@pytest.fixture(scope="module")
def nodup_fuzz_dir(tmp_path_factory):
    """Corpus with NO near-duplicates at all — every doc is a distinct
    subject with disjoint vocabulary."""
    d = str(tmp_path_factory.mktemp("fuzz_nodup_sf"))
    for f in glob.glob(f"{SF}/*.parquet"):
        shutil.copy(f, os.path.join(d, os.path.basename(f)))
    topics = [
        "astronomy telescope nebula quasar parallax orbit eclipse comet",
        "sourdough hydration levain crumb proofing bannetons scoring oven",
        "freight intermodal manifest drayage chassis demurrage tariff port",
        "violin rosin luthier purfling varnish soundpost fingerboard bow",
        "glacier moraine crevasse firn ablation serac icefall bergschrund",
        "typography kerning ligature serif descender baseline glyph font",
        "beekeeping apiary brood frames nectar propolis swarm queen",
        "submarine ballast periscope sonar torpedo hull conning depth",
    ]
    rows = [(i, t, "en", f"s{i % 2}", len(t)) for i, t in enumerate(topics)]
    con = oracle_db.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR, "
        "source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
    con.execute(
        f"COPY d TO '{os.path.join(d, 'documents.parquet')}' (FORMAT PARQUET)"
    )
    return d


def test_oracles_hold_on_no_dup_corpus(nodup_fuzz_dir):
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_oracle.py"),
         nodup_fuzz_dir, *NODUP_FUZZ_QUERIES],
        capture_output=True, text=True, timeout=480, cwd=REPO,
    )
    tail = (out.stdout + out.stderr)[-4000:]
    assert out.returncode == 0, tail
    assert "PASS (0 failures)" in out.stdout, tail


def _edge_embeddings():
    import random
    dim = 64

    def vec(seed, scale=1.0):
        r = random.Random(seed)
        return [round(r.uniform(-1, 1) * scale, 4) for _ in range(dim)]

    rows = [
        (0, [0.0] * dim, 0),                 # zero vector: cosine undefined
        (1, vec(1), 1),
        (2, vec(1), 1),                      # exact duplicate of 1
        (3, [x * 2 for x in vec(1)], 1),     # colinear (cos = 1)
        (4, [-x for x in vec(1)], 2),        # antipodal (cos = -1)
        (5, vec(5, 1e-6), 2),                # tiny norm (int-norm edge)
        (6, vec(6, 100.0), 3),               # huge values
        (7, [1.0] + [0.0] * (dim - 1), 3),   # axis vector
    ] + [(i, vec(i), i % 5) for i in range(8, 40)]
    return rows


EMB_FUZZ_QUERIES = [
    "similarity_topk_cosine", "similarity_lsh_bucketed",
    "similarity_ivf_topk", "similarity_ann_recall", "embedding_quantize",
    "embedding_centroids", "dedup_embedding_cosine", "dedup_embedding_ann",
    "dedup_ann_pair_recall", "embedding_dim_stats", "embedding_pq",
    "similarity_pq_topk",
]


@pytest.fixture(scope="module")
def emb_fuzz_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fuzz_emb_sf"))
    for f in glob.glob(f"{SF}/*.parquet"):
        shutil.copy(f, os.path.join(d, os.path.basename(f)))
    con = oracle_db.connect()
    con.execute(
        "CREATE TABLE e (vec_id BIGINT, embedding FLOAT[], label INTEGER)"
    )
    con.executemany("INSERT INTO e VALUES (?,?,?)", _edge_embeddings())
    con.execute(
        f"COPY e TO '{os.path.join(d, 'embeddings.parquet')}' (FORMAT PARQUET)"
    )
    return d


def test_oracles_hold_on_edge_case_embeddings(emb_fuzz_dir):
    """Zero vector (ANSI x/0 raises!), exact/colinear/antipodal
    duplicates, tiny norms that quantize to the zero e6 vector, huge
    values, axis vectors — the whole cosine family must neither crash
    nor diverge from DuckDB on any of them."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_oracle.py"),
         emb_fuzz_dir, *EMB_FUZZ_QUERIES],
        capture_output=True, text=True, timeout=480, cwd=REPO,
    )
    tail = (out.stdout + out.stderr)[-4000:]
    assert out.returncode == 0, tail
    assert "PASS (0 failures)" in out.stdout, tail


def _edge_events():
    rows, eid = [], [0]

    def ev(ts, user, etype, value, props):
        rows.append((eid[0], ts, user, etype, value, props))
        eid[0] += 1

    # exact midnight / hour / week boundaries
    ev("2024-01-01 00:00:00.000000", 1, "view", 1.0, '{"k": 1}')
    ev("2024-01-01 01:00:00.000000", 1, "click", 2.0, '{"k": 2}')
    ev("2024-01-07 23:59:59.999999", 1, "view", 3.0, '{"k": 3}')
    ev("2024-01-08 00:00:00.000000", 1, "purchase", 4.5, '{"k": 4}')
    # exactly-30-min session gap (merges!) + 1 us past it + same-ts ties
    ev("2024-01-02 10:00:00.000000", 2, "view", 1.0, '{"k": 5}')
    ev("2024-01-02 10:30:00.000000", 2, "click", 1.0, '{"k": 6}')
    ev("2024-01-02 11:00:00.000001", 2, "view", 1.0, '{"k": 7}')
    ev("2024-01-02 12:00:00.000000", 2, "view", 2.0, '{"k": 8}')
    ev("2024-01-02 12:00:00.000000", 2, "click", 3.0, '{"k": 9}')
    ev("2024-01-02 12:00:00.000000", 2, "purchase", 9.99, '{"k": 10}')
    # single-event user
    ev("2024-01-15 08:00:00.500000", 3, "signup", 0.0, '{"k": 11}')
    # NULL value, NULL props, malformed props, negatives, extremes
    ev("2024-01-10 09:00:00.000000", 4, "error", None, None)
    ev("2024-01-10 09:01:00.000000", 4, "view", 0.0, "not json at all")
    ev("2024-01-10 09:02:00.000000", 4, "click", -5.25, '{"other": 1}')
    ev("2024-01-10 09:03:00.000000", 4, "purchase", 0.005, '{"k": -3}')
    ev("2024-01-10 09:04:00.000000", 4, "purchase", 1e9, '{"k": 2147483647}')
    # microsecond-apart burst
    for i in range(8):
        ev(f"2024-01-20 14:00:00.00000{i}", 5, ["view", "click"][i % 2],
           0.1 * i, '{"k": %d}' % i)
    # signup -> purchase conversion across a week boundary
    ev("2024-01-03 12:00:00.000000", 6, "signup", 0.0, '{"k": 20}')
    ev("2024-01-11 12:00:00.000000", 6, "purchase", 50.0, '{"k": 21}')
    # clicks inside/outside the purchase follow window
    ev("2024-01-05 10:00:00.000000", 7, "click", 1.0, '{"k": 30}')
    ev("2024-01-05 10:10:00.000000", 7, "purchase", 20.0, '{"k": 31}')
    ev("2024-01-05 18:00:00.000000", 7, "click", 1.0, '{"k": 32}')
    return rows


EVENTS_FUZZ_QUERIES = [
    "events_session", "streaming_session", "events_props_breakdown",
    "events_props_typed", "events_asof_join", "streaming_user_totals",
    "events_daily_rollup", "event_transitions", "session_attribution",
    "user_rate_audit", "scd2_history", "cdc_latest_state",
    "events_gapfill", "events_lateness_audit",
]


@pytest.fixture(scope="module")
def events_fuzz_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fuzz_ev_sf"))
    for f in glob.glob(f"{SF}/*.parquet"):
        shutil.copy(f, os.path.join(d, os.path.basename(f)))
    con = oracle_db.connect()
    con.execute(
        "CREATE TABLE ev (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type VARCHAR, value DOUBLE, props VARCHAR)"
    )
    con.executemany("INSERT INTO ev VALUES (?,?,?,?,?,?)", _edge_events())
    con.execute(
        f"COPY ev TO '{os.path.join(d, 'events.parquet')}' (FORMAT PARQUET)"
    )
    return d


def test_oracles_hold_on_edge_case_events(events_fuzz_dir):
    """Boundary timestamps, an exactly-gap-wide session hole (Spark
    MERGES it — strict > starts a session), same-ts ties, NULL value
    (NaN in the stateful processor), NULL/malformed props (DuckDB json
    functions RAISE where Spark returns NULL) — the event/streaming
    surface must neither crash nor diverge. The full 27-query events
    sweep was run interactively; this pins the classes that failed."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_oracle.py"),
         events_fuzz_dir, *EVENTS_FUZZ_QUERIES],
        capture_output=True, text=True, timeout=480, cwd=REPO,
    )
    tail = (out.stdout + out.stderr)[-4000:]
    assert out.returncode == 0, tail
    assert "PASS (0 failures)" in out.stdout, tail


STAR_FUZZ_QUERIES = [
    # ratio queries whose denominators can empty out + tie-heavy top-k
    "promo_revenue_sql", "nation_market_share_sql", "shipping_priority_sql",
    "top_supplier_sql", "customer_order_distribution_sql",
    # graph + diff + flagship over a sparse, childless-order corpus
    "customer_analytics", "sales_asset_union", "orders_snapshot_diff",
    "part_triangles", "customer_retention", "order_bookends",
    "part_communities", "revenue_decompose", "revenue_forecast_backtest",
    # rank-bracket exact percentiles on tiny/tie-heavy per-nation groups
    "order_value_distribution", "customer_rfm",
    # per-column profile over the mutated orders (forced ties, 1990
    # dates, childless orders)
    "orders_profile",
]


@pytest.fixture(scope="module")
def star_fuzz_dir(tmp_path_factory):
    """Sparse star corpus: 5% of orders kept, half their dates pushed to
    1990 (outside every query window — ratio denominators go empty),
    exact o_totalprice ties forced, some kept orders stripped of their
    lineitems (childless orders), most customers orphaned."""
    d = str(tmp_path_factory.mktemp("fuzz_star_sf"))
    for f in glob.glob(f"{SF}/*.parquet"):
        shutil.copy(f, os.path.join(d, os.path.basename(f)))
    con = oracle_db.connect()
    con.execute(f"""
COPY (
  WITH kept AS (
    SELECT * FROM '{SF}/orders.parquet' WHERE o_orderkey % 20 = 0
  )
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0 THEN 1234.56 ELSE o_totalprice END
           AS o_totalprice,
         CASE WHEN o_orderkey % 2 = 0 THEN DATE '1990-01-01'
              ELSE o_orderdate END AS o_orderdate,
         o_orderpriority
  FROM kept
) TO '{os.path.join(d, "orders.parquet")}' (FORMAT PARQUET)
""")
    con.execute(f"""
COPY (
  SELECT l.* FROM '{SF}/lineitem.parquet' l
  WHERE l.l_orderkey % 20 = 0 AND l.l_orderkey % 7 <> 0
) TO '{os.path.join(d, "lineitem.parquet")}' (FORMAT PARQUET)
""")
    return d


def test_oracles_hold_on_sparse_star_corpus(star_fuzz_dir):
    """The analytics/SQL surface on a corpus where query windows can be
    EMPTY (every ratio's denominator), top-k orderings are tie-heavy,
    and referential links are broken (childless orders, orphaned
    customers). The full 54-query star sweep was run interactively."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "verify_oracle.py"),
         star_fuzz_dir, *STAR_FUZZ_QUERIES],
        capture_output=True, text=True, timeout=480, cwd=REPO,
    )
    tail = (out.stdout + out.stderr)[-4000:]
    assert out.returncode == 0, tail
    assert "PASS (0 failures)" in out.stdout, tail


def test_json_extractor_parity_fuzz(spark):
    """Row-level cross-engine pin for the r9 JSON-extraction fragments
    (io.gjo_int_oracle / io.vget_int_oracle): a seeded grammar of ~400
    payloads — every JSON value type for $.k (ints across the int32
    boundary, floats incl. negatives/scientific/huge, bools, strings
    integral/signed/whitespace-padded/float-text/garbage, arrays,
    objects, JSON null), missing keys, malformed documents, SQL NULL —
    must extract IDENTICALLY under Spark's get_json_object+try_cast /
    try_variant_get and the DuckDB oracle fragments. This is the class
    the r9 ADVICE flagged (a bare DuckDB TRY_CAST rounds '5.7'→6 where
    Spark NULLs it; variant_get truncates); one batched job per engine,
    compared row-by-row."""
    import random

    from pyspark.sql import functions as F

    from demo_etl_spark.io import gjo_int_oracle, vget_int_oracle

    rng = random.Random(0xC0FFEE)
    ints = [0, 1, -1, 7, -42, 2147483647, -2147483648, 2147483648,
            -2147483649, 99999999999, -99999999999]
    floats = ["5.0", "5.7", "-5.7", "0.4999", "1e2", "-1e2", "1e10",
              "2.5e-3", "123456789.987"]
    strings = ['"5"', '"+5"', '" 5 "', '"\\t7\\t"', '"5.0"', '"abc"',
               '""', '" "', '"-0"', '"007"', '"2147483648"', '"1e3"',
               '"+-5"', '"5 5"',
               # r10 ADVICE: Spark's int cast trims ALL of \x00-\x20 +
               # \x7f (probed), not just ' \t\n\r\f' — C0 controls,
               # DEL, NUL-padded, and the NOT-trimmed C1/NBSP/Unicode-
               # space counterexamples must split identically
               '"\\u000b5"', '"\\u001c5\\u001d"', '"\\u00005"',
               '"\\u00075\\u0008"', '"\\u007f5\\u007f"', '"\\u001f5"',
               '"\\u00855"', '"\\u00a05"', '"\\u20005"', '"\\u30005"',
               '"\\u200b5"', '"\\ufeff5"']
    others = ["true", "false", "null", "[1]", "[]", '{"x":1}', "{}"]
    payloads = []
    for v in ([str(i) for i in ints] + floats + strings + others):
        payloads.append('{"k": %s}' % v)
        payloads.append('{"j": 1, "k": %s, "z": "t"}' % v)
    payloads += ['{"j": 1}', "{}", "null", "5", '"k"', "[1, 2]",
                 "not json {", "", None, '{"k"', '{"k":}']
    for _ in range(200):  # random composites of the atoms above
        v = rng.choice([str(rng.choice(ints)), rng.choice(floats),
                        rng.choice(strings), rng.choice(others)])
        payloads.append('{"a": %d, "k": %s}' % (rng.randrange(100), v))

    rows = [(i, p) for i, p in enumerate(payloads)]
    sdf = (
        spark.createDataFrame(rows, "rid int, props string")
        .select(
            "rid",
            F.get_json_object("props", "$.k").try_cast("int").alias("g"),
            F.expr(
                "try_variant_get(try_parse_json(props), '$.k', 'int')"
            ).alias("v"),
        )
    )
    got = {r["rid"]: (r["g"], r["v"]) for r in sdf.collect()}

    con = oracle_db.connect()
    con.execute("CREATE TABLE t (rid INTEGER, props VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    exp = {
        rid: (g, v)
        for rid, g, v in con.sql(
            f"SELECT rid, {gjo_int_oracle('props')} AS g, "
            f"{vget_int_oracle('props')} AS v FROM t"
        ).fetchall()
    }
    bad = {
        rid: (payloads[rid], got[rid], exp[rid])
        for rid in got
        if got[rid] != exp[rid]
    }
    assert not bad, f"{len(bad)} diverging payloads: {dict(list(bad.items())[:5])}"


def test_color_quarantine_on_hostile_p6_payloads(spark, hostile_dir):
    """r13 hostile wave — the P6 color branch gets the same quarantine
    coverage as the P5 wave: both go through one netpbm decoder and one
    safe decode, and these pins check that its 3-channel binding rejects
    the same classes: 16-bit maxval, comment welded inside a dimension
    token (deterministic REJECT under the whitespace-token grammar),
    over-/under-length rasters, grayscale magic, memory-bomb dims
    (oversized_dims, before any allocation), negative dims with a
    positive product (non_positive_dims), NULL payload/id."""
    from hostile_corpus import HOSTILE_COLOR_MEDIA
    from demo_etl_spark.operators import multimodal as mm

    media = spark.read.parquet(
        os.path.join(hostile_dir, "color_media.parquet")
    )
    expect_kept = {r[0] for r in HOSTILE_COLOR_MEDIA if r[2]}
    stats = mm.color_channel_stats(media).collect()
    assert {r["media_id"] for r in stats} == expect_kept
    by_id = {r["media_id"]: r for r in stats}
    # baseline raster bytes(range(12)): R=(0,3,6,9) G=(1,4,7,10)
    # B=(2,5,8,11); mean x100 HALF_UP of R = 4.5*100 = 450
    assert (by_id[1]["r_mean_x100"], by_id[1]["g_mean_x100"],
            by_id[1]["b_mean_x100"]) == (450, 550, 650)
    assert (by_id[1]["r_min"], by_id[1]["r_max"]) == (0, 9)
    # the comment-laden header decodes to the SAME image
    for c in ("r_mean_x100", "g_mean_x100", "b_mean_x100",
              "r_min", "r_max", "b_min", "b_max"):
        assert by_id[2][c] == by_id[1][c]
    # over-length raster: first 12 bytes are 'A' (65) on every channel
    assert by_id[3]["r_mean_x100"] == 6500
    assert (by_id[3]["r_min"], by_id[3]["b_max"]) == (65, 65)
