"""Tests for the training-data-pipeline extensions: dedup recall,
similarity ranking, streaming/batch parity, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_minhash_is_subset_of_exact_ngram(spark, sf_dir):
    """LSH may lose recall but must never fabricate a pair (precision=1
    after exact verification)."""
    from demo_etl_spark.operators import dedup

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.build_ngram(spark, sf_dir).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.build_minhash(spark, sf_dir).collect()
    }
    assert lsh <= exact
    if exact:  # report recall when near-dups exist at this SF
        assert len(lsh) / len(exact) > 0.5


def test_shingle_df_cap_bounds_hot_shingles(spark):
    """A boilerplate shingle shared by k docs yields k² candidate rows; the
    document-frequency cap drops it from the effective shingle set while
    true near-dup pairs (built from low-df shingles) survive."""
    from demo_etl_spark.operators import dedup

    rows = [
        (i, f"the same boiler plate intro tail{i} x{i} y{i} z{i}")
        for i in range(20)
    ]
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta theta"),
    ]
    docs = spark.createDataFrame(
        [(i, t, len(t)) for i, t in rows],
        "doc_id long, text string, n_chars long",
    )
    uncapped = dedup._indexed_shingles(docs, max_df=None)
    capped = dedup._indexed_shingles(docs, max_df=10)
    assert uncapped.filter("df > 10").count() > 0  # the hot shingles exist
    assert capped.filter("df > 10").count() == 0  # ...and the cap drops them
    # candidate-join input shrinks from the boilerplate mass (df>=2 rows)
    assert capped.filter("df >= 2").count() < uncapped.filter("df >= 2").count()
    # the true near-dup pair is still found by both strategies
    got_ngram = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(docs, max_df=10).collect()
    }
    got_minhash = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(docs, max_df=10).collect()
    }
    assert got_ngram == {(100, 101)}
    assert got_minhash == {(100, 101)}


def test_derived_capped_index_and_injected_memos_bit_identical(spark, sf_dir):
    """r14 memo plumbing: (a) the df-capped index served as a filter VIEW
    over the persisted uncapped base is row-identical to building the
    capped index directly; (b) the jaccard/containment/incremental paths
    with the injected sizes/common-counts session memos return exactly
    what the self-computing paths return."""
    from demo_etl_spark.io import load_star
    from demo_etl_spark.operators import dedup

    docs = load_star(spark, sf_dir)["documents"]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # (a) derived capped view ≡ direct capped build
    view = dedup._cached_index(spark, sf_dir, dedup.MAX_SHINGLE_DF)
    direct = dedup._indexed_shingles(docs, dedup.MAX_SHINGLE_DF)
    assert rows(view) == rows(direct)

    # (b) injected memos ≡ self-computed, for every consumer shape
    sizes = dedup._cached_sizes(spark, sf_dir)
    common = dedup._cached_common_counts(spark, sf_dir)
    assert rows(
        dedup.ngram_jaccard_pairs(docs, index=view, common=common, sizes=sizes)
    ) == rows(dedup.ngram_jaccard_pairs(docs))
    assert rows(
        dedup.ngram_containment_pairs(docs, index=view, common=common, sizes=sizes)
    ) == rows(dedup.ngram_containment_pairs(docs))
    assert rows(
        dedup.incremental_dedup(docs, index=view, sizes=sizes)
    ) == rows(dedup.incremental_dedup(docs))
    assert rows(
        dedup.minhash_lsh_pairs(docs, index=view, sizes=sizes)
    ) == rows(dedup.minhash_lsh_pairs(docs))


def test_dedup_clusters_chain_and_convergence_guard(spark):
    """A transitive near-dup chain collapses to ONE cluster; a too-small
    iteration bound raises instead of returning stale labels."""
    import pytest

    from demo_etl_spark.operators import dedup

    words = [f"w{j}" for j in range(40)]
    docs = spark.createDataFrame(
        [(i, " ".join(words[i:i + 20]), 20) for i in range(8)],
        "doc_id long, text string, n_chars long",
    )
    # threshold 0.85: adjacent docs (jaccard ~0.894) pair up, skip-one
    # (0.8) does not → a pure chain of diameter 7
    out = dedup.dedup_clusters(docs, threshold=0.85).collect()
    assert {r["doc_id"] for r in out} == set(range(8))
    assert {r["cluster_id"] for r in out} == {0}  # one component, min id 0
    assert [r["doc_id"] for r in out if r["is_canonical"]] == [0]
    with pytest.raises(RuntimeError, match="converge"):
        dedup.dedup_clusters(docs, threshold=0.85, max_iterations=2).collect()


def test_salted_join_rejects_small_side_outer(spark):
    import pytest

    from demo_etl_spark.operators.skew import salted_join

    big = spark.range(10).withColumnRenamed("id", "k")
    small = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="duplicate"):
        salted_join(big, small, "k", how="right")
    with pytest.raises(ValueError, match="duplicate"):
        salted_join(big, small, "k", how="full")


def test_blocked_near_dup_negative_threshold_parity(spark):
    """HALF_UP-away-from-zero in the numpy kernel: negative cosines must
    round exactly like the column-expression twin."""
    from demo_etl_spark.operators import similarity

    emb = spark.createDataFrame(
        [(i, [float(i + 1), float((-1) ** i * 2), 1.0, 0.5]) for i in range(7)],
        "vec_id long, embedding array<float>",
    )
    brute = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.embedding_near_dup_bruteforce(
            emb, threshold=-1.0
        ).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.embedding_near_dup(
            emb, threshold=-1.0, n_blocks=2
        ).collect()
    }
    assert blocked == brute
    assert any(c < 0 for _, _, c in brute)  # negatives actually exercised


def test_exact_dedup_partitions_documents(spark, sf_dir, tables):
    from demo_etl_spark.operators import dedup

    out = dedup.build_exact(spark, sf_dir)
    n_docs = tables["documents"].count()
    agg = out.agg(F.sum("n_copies").alias("s"), F.count("*").alias("k")).first()
    assert agg["s"] == n_docs  # every doc in exactly one group
    assert agg["k"] <= n_docs


def test_cosine_topk_ranks(spark, sf_dir):
    from demo_etl_spark.operators import similarity

    out = similarity.build_topk(spark, sf_dir).cache()
    per_q = out.groupBy("query_id").agg(
        F.count("*").alias("n"), F.max("rank").alias("mx")
    )
    assert per_q.filter((F.col("n") != 5) | (F.col("mx") != 5)).count() == 0
    assert out.filter((F.col("cosine") > 1.000001) | (F.col("cosine") < -1.000001)).count() == 0
    # ranks strictly ordered by cosine within each query
    bad = (
        out.alias("a")
        .join(
            out.alias("b"),
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.rank") < F.col("b.rank"))
            & (F.col("a.cosine") < F.col("b.cosine")),
        )
    )
    assert bad.count() == 0


def test_hybrid_rerank_lexical_gate_and_cosine_order(spark):
    """The hybrid's two contracts on a hand-built frame: (1) the
    LEXICAL stage gates — the globally-nearest vector is EXCLUDED when
    its document shares no shingle with the query (hybrid ≠ pure ANN);
    (2) among lexical candidates the rank follows the exact cosine."""
    from demo_etl_spark.operators import similarity

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),  # the query
            (1, "alpha beta gamma zeta"),  # shares 'alpha beta gamma'
            (2, "totally different words here"),  # no shared shingle
            (3, "beta gamma delta omega"),  # shares 'beta gamma delta'
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.6, 0.8, 0.0, 0.0]),  # cos 0.6 to the query
            (2, [1.0, 0.01, 0.0, 0.0]),  # cos ~1.0 — nearest, but gated
            (3, [0.9, 0.0, 0.4359, 0.0]),  # cos ~0.9
        ],
        "vec_id long, embedding array<float>",
    )
    rows = similarity.hybrid_rerank(docs, emb, n_queries=1).collect()
    got = [(r["candidate_id"], r["rank"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == [(3, 1), (1, 2)]  # doc2 excluded; cosine order 3 > 1
    assert all(r["overlap"] >= 1 for r in rows)


def test_hybrid_rerank_registry_shape(spark, sf_dir):
    """Registry seat sanity at sf0.001: ≤ k rows per query, contiguous
    ranks from 1, rank order consistent with the cosine."""
    from demo_etl_spark.operators import similarity

    out = similarity.build_hybrid(spark, sf_dir).cache()
    per_q = out.groupBy("query_id").agg(
        F.count("*").alias("n"),
        F.max("rank").alias("mx"),
        F.min("rank").alias("mn"),
    )
    assert per_q.filter(
        (F.col("n") > 5) | (F.col("mx") != F.col("n")) | (F.col("mn") != 1)
    ).count() == 0
    bad = out.alias("a").join(
        out.alias("b"),
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.rank") < F.col("b.rank"))
        & (F.col("a.cosine") < F.col("b.cosine")),
    )
    assert bad.count() == 0


def test_doc_surprisal_integer_bits(spark):
    """Pins the floor-log₂ surprisal on a hand corpus: tf(a)=5, tf(b)=
    tf(c)=tf('')=1, N=8 → bits(a)=len(bin 8)−len(bin 5)=4−3=1,
    bits(rare)=4−1=3; NULL text scores as the '' token like
    doc_typicality."""
    from demo_etl_spark.operators.text import doc_surprisal_bits

    docs = spark.createDataFrame(
        [
            (0, "a a a a", "s"),
            (1, "a b", "s"),
            (2, "c", "s"),
            (3, None, "s"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r for r in doc_surprisal_bits(docs).collect()}
    assert (out[0]["surprisal_bits"], out[0]["bits_per_token"]) == (4, 1.0)
    assert (out[1]["surprisal_bits"], out[1]["bits_per_token"]) == (4, 2.0)
    assert (out[2]["surprisal_bits"], out[2]["bits_per_token"]) == (3, 3.0)
    assert out[3]["surprisal_bits"] == 3  # NULL text → one '' token
    assert out[1]["n_tokens"] == 2


def test_hybrid_recall_bounds_and_k(spark, sf_dir):
    """The hybrid recall audit: k rows per query (the exact side's k),
    hits ≤ k, recall in [0, 1], and hits consistent with recall."""
    from demo_etl_spark.operators import similarity

    rows = similarity.build_hybrid_recall(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["k"] == similarity.TOP_K
        assert 0 <= r["hits"] <= r["k"]
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert abs(r["recall_at_k"] - round(r["hits"] / r["k"], 4)) < 1e-9


def test_blocked_near_dup_matches_bruteforce(spark, tables):
    """The block-partitioned numpy kernel is EXACT: identical pairs and
    fixed-point cosines as the brute-force column-expression twin."""
    from demo_etl_spark.operators import similarity

    brute = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.embedding_near_dup_bruteforce(
            tables["embeddings"]
        ).collect()
    }
    # auto-sized grid (diagonal-only at this SF) AND an explicit 3-block
    # grid (exercises off-diagonal cells): both must equal brute force
    for blocks in (None, 3):
        blocked = {
            (r["vec_a"], r["vec_b"], r["cosine"])
            for r in similarity.embedding_near_dup(
                tables["embeddings"], n_blocks=blocks
            ).collect()
        }
        assert blocked == brute
    assert brute  # sf0.001 corpus has near-dup pairs — non-vacuous


def test_streaming_matches_batch_tumbling(spark, sf_dir):
    from demo_etl_spark.operators.events import tumbling_window
    from demo_etl_spark.io import load_star
    from demo_etl_spark.streaming import read_events_stream, run_available_now, tumbling_stream

    stream_out = run_available_now(
        tumbling_stream(read_events_stream(spark, sf_dir)), "t_tumble"
    )
    batch_out = tumbling_window(load_star(spark, sf_dir)["events"])
    s = {
        (r["window_start"], r["event_type"], r["n_events"], r["total_value"])
        for r in stream_out.collect()
    }
    b = {
        (r["window_start"], r["event_type"], r["n_events"], r["total_value"])
        for r in batch_out.collect()
    }
    assert s == b


def test_streaming_matches_batch_sliding(spark, sf_dir):
    from demo_etl_spark.operators.events import sliding_window
    from demo_etl_spark.io import load_star
    from demo_etl_spark.streaming import read_events_stream, run_available_now, sliding_stream

    stream_out = run_available_now(
        sliding_stream(read_events_stream(spark, sf_dir)), "t_slide"
    )
    batch_out = sliding_window(load_star(spark, sf_dir)["events"])
    key = lambda r: (r["window_start"], r["event_type"], r["n_events"], r["total_value"])  # noqa: E731
    assert {key(r) for r in stream_out.collect()} == {
        key(r) for r in batch_out.collect()
    }


def test_streaming_session_matches_batch(spark, sf_dir):
    from demo_etl_spark.operators.events import session_window
    from demo_etl_spark.io import load_star
    from demo_etl_spark.streaming import read_events_stream, run_available_now, session_stream

    stream_out = run_available_now(
        session_stream(read_events_stream(spark, sf_dir)), "t_session"
    )
    batch_out = session_window(load_star(spark, sf_dir)["events"])
    key = lambda r: (r["user_id"], r["session_start"], r["n_events"])  # noqa: E731
    assert {key(r) for r in stream_out.collect()} == {
        key(r) for r in batch_out.collect()
    }


def test_stream_checkpoint_resume_no_duplicates(spark, sf_dir, tmp_path):
    """File-sink exactly-once: draining the same source twice against one
    checkpoint must not duplicate output (the restarted query sees the
    source exhausted and writes nothing new)."""
    from demo_etl_spark.streaming import read_events_stream, tumbling_stream

    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            tumbling_stream(read_events_stream(spark, sf_dir))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(out_dir).count()
    drain()  # same checkpoint: source already committed — no new rows
    second = spark.read.parquet(out_dir).count()
    assert first > 0
    assert second == first


def test_stateful_stream_matches_batch_totals(spark, sf_dir):
    """applyInPandasWithState running totals drained with availableNow
    must equal the batch groupBy bit-for-bit (fixed-point money)."""
    from demo_etl_spark.functions.scalars import money_fixed
    from demo_etl_spark.io import load_star
    from demo_etl_spark.streaming import (
        read_events_stream,
        run_available_now,
        user_totals_stateful_stream,
    )

    out = run_available_now(
        user_totals_stateful_stream(read_events_stream(spark, sf_dir)),
        "t_stateful",
        output_mode="update",
    )
    # update-mode memory sink may hold one row per micro-batch: keep the
    # final state per user (max n_events)
    stream = {}
    for r in out.collect():
        prev = stream.get(r["user_id"])
        if prev is None or r["n_events"] > prev[0]:
            stream[r["user_id"]] = (
                r["n_events"], r["total_value_c"], r["last_event_us"]
            )
    events = load_star(spark, sf_dir)["events"]
    batch = {
        r["user_id"]: (r["n"], r["val_c"], r["last_us"])
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money_fixed(F.col("value"))).alias("val_c"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )
        .collect()
    }
    assert stream == batch


def test_multimodal_resize_and_frame_sample(spark, sf_dir, tables):
    from demo_etl_spark.operators import multimodal

    media = multimodal.synthesize_media(tables["documents"])
    resized = multimodal.resize_media(media).cache()
    n = media.count()
    assert resized.count() == n
    row = resized.first()
    assert (row["width"], row["height"]) == multimodal.RESIZE_TARGET
    # the resized payload is itself a decodable PGM at the target size
    w, h, raster = multimodal.decode_pgm(row["resized_payload"])
    assert (w, h) == multimodal.RESIZE_TARGET and len(raster) == w * h
    frames = multimodal.sample_frames(media, every=64).cache()
    vids = media.filter(F.col("media_type") == "video")
    # every video yields ceil(len/64) frames; frame 0 exists for each
    assert frames.filter(F.col("frame_index") == 0).count() == vids.count()
    assert frames.filter(F.col("frame_offset") % 64 != 0).count() == 0
    # deterministic across runs
    a = sorted(map(tuple, frames.collect()))
    b = sorted(map(tuple, multimodal.sample_frames(media, every=64).collect()))
    assert a == b


def test_register_star_views_sql_access(spark, sf_dir):
    from demo_etl_spark.io import register_star_views

    register_star_views(spark, sf_dir)
    n = spark.sql(
        "SELECT COUNT(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).first()["n"]
    assert n > 0


def test_multimodal_plumbing(spark, sf_dir, tables):
    from demo_etl_spark.operators import multimodal

    out = multimodal.build_features(spark, sf_dir).cache()
    n_docs = tables["documents"].count()
    assert out.count() == n_docs
    lo, hi = multimodal.DIM_MIN, multimodal.DIM_MIN + multimodal.DIM_MOD - 1
    row = out.first()
    assert lo <= row["width"] <= hi and lo <= row["height"] <= hi
    assert len(row["feature_hash"]) == 32
    # deterministic across runs
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, multimodal.build_features(spark, sf_dir).collect()))
    assert a == b
    # the payload is a real PGM container: byte_len == header + w·h raster
    hdr = F.length(
        F.concat(
            F.lit("P5 "), F.col("width").cast("string"), F.lit(" "),
            F.col("height").cast("string"), F.lit(" 255\n"),
        )
    )
    bad = out.filter(F.col("byte_len") != hdr + F.col("width") * F.col("height"))
    assert bad.count() == 0


def test_ivf_lloyd_training_improves_recall(spark, sf_dir, tables):
    """Seeded Lloyd refinement must not lose recall vs the fixed seed
    grid (iters=0) on the uniform test corpus, and must strictly help on
    clustered data — the structure k-means exists to exploit."""
    import numpy as np

    from demo_etl_spark.operators import similarity as sim

    def recall(emb, iters):
        exact = {(r.query_id, r.candidate_id) for r in sim.cosine_topk(emb).collect()}
        hits = {
            (r.query_id, r.candidate_id)
            for r in sim.ivf_topk(emb, iters=iters).collect()
        }
        return len(exact & hits) / len(exact)

    emb = tables["embeddings"]
    assert recall(emb, sim.IVF_LLOYD_ITERS) >= recall(emb, 0)

    rng = np.random.default_rng(7)
    centers = rng.normal(0, 1, (8, 64))
    rows = [
        (
            i,
            [float(np.float32(x)) for x in centers[i % 8] + rng.normal(0, 0.15, 64)],
            i % 8,
        )
        for i in range(600)
    ]
    clustered = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    assert recall(clustered, sim.IVF_LLOYD_ITERS) > recall(clustered, 0)


def test_embedding_ann_pairs_recall_and_subquadratic(spark):
    """The banded-LSH near-dup path in its actual regime (τ=0.9 true
    near-dups): full recall vs the exact kernel, verified-only output
    (precision 1 by construction), and a candidate set that is a small
    fraction of all pairs — the sub-quadratic contract."""
    import numpy as np

    from pyspark.sql import functions as F

    from demo_etl_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    rows, vid = [], 0
    for i in range(300):
        v = rng.normal(0, 1, 64)
        rows.append((vid, [float(np.float32(x)) for x in v], 0))
        vid += 1
        if i % 3 == 0:  # every 3rd doc gets a near-dup at cosine ≈ 0.95
            d = v + rng.normal(0, 0.18, 64)
            rows.append((vid, [float(np.float32(x)) for x in d], 1))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = {
        (r.vec_a, r.vec_b)
        for r in sim.embedding_near_dup(df, threshold=0.9).collect()
    }
    ann = {
        (r.vec_a, r.vec_b)
        for r in sim.embedding_ann_pairs(df, threshold=0.9).collect()
    }
    assert exact, "seeded corpus must contain true near-dup pairs"
    assert ann <= exact  # exact verify ⇒ no false positives
    assert len(exact & ann) / len(exact) >= 0.95
    sigs = sim._band_signatures(df)
    a = sigs.selectExpr("vec_id AS vec_a", "band", "sig")
    b = sigs.selectExpr("vec_id AS vec_b", "band", "sig")
    n_cand = (
        a.join(b, ["band", "sig"])
        .filter("vec_a < vec_b")
        .select("vec_a", "vec_b")
        .distinct()
        .count()
    )
    n = df.count()
    assert n_cand < 0.25 * (n * (n - 1) // 2)


def test_injected_band_sigs_bit_identical(spark):
    """r14 shared-memo contract: injecting a precomputed (checkpointed)
    signature frame into the ann-pair and incremental builds yields
    bit-identical results to the self-computed path — the invariant the
    _cached_band_sigs session memo rides on."""
    import numpy as np

    from demo_etl_spark.operators import similarity as sim

    rng = np.random.default_rng(23)
    rows, vid = [], 0
    for i in range(120):
        v = rng.normal(0, 1, 64)
        rows.append((vid, [float(np.float32(x)) for x in v], 0))
        vid += 1
        if i % 4 == 0:
            d = v + rng.normal(0, 0.15, 64)
            rows.append((vid, [float(np.float32(x)) for x in d], 1))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    sigs = sim._band_signatures(
        sim._e6_frame(df).select("vec_id", "embedding")
    ).localCheckpoint(eager=True)

    def rows_of(frame):
        return sorted(tuple(r) for r in frame.collect())

    assert rows_of(sim.embedding_ann_pairs(df, threshold=0.9)) == rows_of(
        sim.embedding_ann_pairs(df, threshold=0.9, sigs=sigs)
    )
    assert rows_of(sim.embedding_incremental_dedup(df)) == rows_of(
        sim.embedding_incremental_dedup(df, sigs=sigs)
    )


def test_pgm_decoder_is_a_real_decoder():
    """decode_pgm handles the full netpbm P5 header grammar — comments,
    arbitrary whitespace — not just the synthesizer's output."""
    from demo_etl_spark.operators import multimodal

    raster = bytes(range(6))
    p = b"P5\n# a comment\n 3\t2 # trailing\n255\n" + raster
    assert multimodal.decode_pgm(p) == (3, 2, raster)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.decode_pgm(b"P6 1 1 255\nx")
    with _pytest.raises(ValueError):
        multimodal.decode_pgm(b"P5 1 1 70000\nx")


def test_ppm_color_decoder_and_channel_stats(spark):
    """decode_ppm handles the full P6 grammar (comments, whitespace),
    rejects P5/bad maxval, and the channel kernel computes exact
    per-channel HALF_UP means and min/max on a hand raster."""
    import pytest as _pytest

    from demo_etl_spark.operators import multimodal

    raster = bytes([10, 20, 30, 11, 21, 31])  # 2 px: R=(10,11) G=(20,21) B=(30,31)
    p = b"P6\n# c\n 2\t1 # t\n255\n" + raster
    assert multimodal.decode_ppm(p) == (2, 1, raster)
    with _pytest.raises(ValueError):
        multimodal.decode_ppm(b"P5 1 1 255\nx")
    with _pytest.raises(ValueError):
        multimodal.decode_ppm(b"P6 1 1 70000\nxxx")

    media = spark.createDataFrame(
        [
            (1, bytearray(p)),
            (2, bytearray(b"not a ppm")),  # quarantined, not a crash
            (3, bytearray(b"P6 9 9 255\nshort")),  # short raster → drop
        ],
        "media_id long, payload binary",
    )
    rows = multimodal.color_channel_stats(media).collect()
    assert [r["media_id"] for r in rows] == [1]
    r = rows[0]
    # mean×100 HALF_UP: R (10+11)/2=10.5 → 1050
    assert (r["r_mean_x100"], r["g_mean_x100"], r["b_mean_x100"]) == (
        1050, 2050, 3050,
    )
    assert (r["r_min"], r["r_max"]) == (10, 11)
    assert (r["b_min"], r["b_max"]) == (30, 31)
    assert (r["width"], r["height"]) == (2, 1)


def test_streaming_dedup_absorbs_redelivery(spark, sf_dir):
    """At-least-once input (every event delivered twice) drains to
    exactly the batch-distinct event set."""
    from demo_etl_spark.io import read_star_table
    from demo_etl_spark.streaming import (
        dedup_stream,
        read_events_stream,
        run_available_now,
    )

    out = run_available_now(
        dedup_stream(read_events_stream(spark, sf_dir, copies=2)),
        "t_dedup_stream",
        output_mode="append",
    )
    got = [r["event_id"] for r in out.collect()]
    batch = read_star_table(spark, sf_dir, "events", cache=False)
    assert len(got) == len(set(got))  # no duplicates survived
    assert sorted(got) == sorted(r["event_id"] for r in batch.collect())


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Watermarked purchase↔click interval self-join == the same join
    computed in batch."""
    from pyspark.sql import functions as F

    from demo_etl_spark.io import read_star_table
    from demo_etl_spark.streaming import (
        purchase_click_stream_join,
        read_events_stream,
        run_available_now,
    )

    out = run_available_now(
        purchase_click_stream_join(read_events_stream(spark, sf_dir)),
        "t_ss_join",
        output_mode="append",
    )
    ev = read_star_table(spark, sf_dir, "events", cache=False)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        F.expr("p_user = c_user AND c_ts > p_ts AND c_ts <= p_ts + INTERVAL 30 MINUTES"),
    )
    s = {(r["purchase_id"], r["click_id"]) for r in out.collect()}
    b = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert s == b
    assert s  # non-trivial: the corpus actually produces follow-ups


def test_order_cadence_sequence_invariants(spark, sf_dir):
    from demo_etl_spark.operators import customer

    out = customer.build_cadence(spark, sf_dir).cache()
    # first order of each customer has no predecessor; later ones do
    assert out.filter((F.col("order_seq") == 1) & F.col("days_since_prev").isNotNull()).count() == 0
    assert out.filter((F.col("order_seq") > 1) & F.col("days_since_prev").isNull()).count() == 0
    assert out.filter(F.col("days_since_prev") < 0).count() == 0
    assert out.filter((F.col("spend_quartile") < 1) | (F.col("spend_quartile") > 4)).count() == 0
    assert out.filter((F.col("spend_cume") <= 0) | (F.col("spend_cume") > 1)).count() == 0
    out.unpersist()


def test_vocab_topk_ranked_and_bounded(spark, sf_dir):
    from demo_etl_spark.operators import text

    rows = text.build_vocab(spark, sf_dir).collect()
    assert 0 < len(rows) <= text.VOCAB_TOP_K
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    ns = [r["n"] for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_contamination_screen_flags_injected_overlap(spark):
    """A train doc sharing an eval doc's text is flagged; disjoint docs
    are not."""
    from demo_etl_spark.operators import dedup

    eval_text = "the quick brown fox jumps over the lazy dog today"
    docs = spark.createDataFrame(
        [
            (0, eval_text, len(eval_text)),  # eval set (doc_id < n_eval)
            (100, eval_text + " extra tail words here", 60),  # contaminated
            (101, "completely different content with no overlap at all", 51),
        ],
        "doc_id long, text string, n_chars long",
    )
    out = dedup.contamination_screen(docs, n_eval=10).collect()
    assert {(r["train_doc"], r["eval_doc"]) for r in out} == {(100, 0)}
    assert all(r["n_common"] >= dedup.MIN_COMMON_SHINGLES for r in out)


def test_repetition_stats_flags_looping_doc(spark):
    from demo_etl_spark.operators import text

    docs = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam spam spam", "en", "s", 40),
            (1, "eight completely distinct words appear exactly once here", "en", "s", 56),
            (2, "ab", "en", "s", 2),  # too short for a 3-gram → dropped
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {r["doc_id"]: r for r in text.repetition_stats(docs).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["is_repetitive"] and rows[0]["dup_ratio"] > 0.8
    assert not rows[1]["is_repetitive"] and rows[1]["dup_ratio"] == 0.0


def test_streaming_hourly_partials_roll_up_to_batch_daily(spark, sf_dir):
    from demo_etl_spark.io import load_star
    from demo_etl_spark.operators.events import (
        build_daily_rollup, daily_rollup_from_hourly)
    from demo_etl_spark.streaming import read_events_stream, run_available_now
    from demo_etl_spark.streaming.event_streams import hourly_partials_stream

    # tier 1 streams (watermarked hourly partials), tier 2 re-aggregates
    # the drained sink in batch — the continuous-aggregate deployment
    hourly = run_available_now(
        hourly_partials_stream(read_events_stream(spark, sf_dir)), "t_rollup"
    )
    daily_from_stream = daily_rollup_from_hourly(hourly)
    daily_batch = build_daily_rollup(spark, sf_dir)
    cols = ["day", "event_type", "n_events", "n_hours_active", "total_value"]
    a, b = daily_from_stream.select(*cols), daily_batch.select(*cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_train_split_is_partitioning_invariant(spark, sf_dir, tables):
    """The split assignment must not depend on physical layout (the
    whole point vs RNG splits), and bucket fractions must roughly match
    the configured percentages."""
    from demo_etl_spark.operators.curation import (
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
        train_split,
    )

    docs = tables["documents"]
    a = {(r["doc_id"], r["split"]) for r in train_split(docs).collect()}
    b = {
        (r["doc_id"], r["split"])
        for r in train_split(docs.repartition(13)).collect()
    }
    assert a == b
    n = len(a)
    n_train = sum(1 for _, s in a if s == "train")
    assert abs(n_train / n - SPLIT_TRAIN_PCT / 100) < 0.06
    assert {s for _, s in a} <= {"train", "val", "test"}
    del SPLIT_VAL_PCT  # documented constant; fractions asserted via train


def test_streaming_serving_table_converges_under_redelivery(spark, sf_dir, tmp_path):
    """foreachBatch CDC compaction: force a multi-batch drain with 2x
    redelivery (maxFilesPerTrigger=1 over two staged copies) — the
    serving table's last_* fields must still equal the one-shot batch
    latest_state, and n_versions_seen must count every delivery (2x)."""
    from demo_etl_spark.operators.cdc import latest_state
    from demo_etl_spark.streaming.serving import stream_compact_to_serving
    from demo_etl_spark.io import load_star

    target = str(tmp_path / "serving")
    served = stream_compact_to_serving(
        spark, sf_dir, target, copies=2, max_files_per_trigger=1
    ).collect()
    batch = {r["user_id"]: r for r in latest_state(load_star(spark, sf_dir)["events"]).collect()}

    assert len(served) == len(batch)
    for r in served:
        b = batch[r["user_id"]]
        assert r["last_ts"] == b["last_ts"]
        assert r["last_event_type"] == b["last_event_type"]
        assert r["last_value"] == b["last_value"]
        assert r["n_versions_seen"] == 2 * b["n_versions"]


def test_transform_with_state_matches_batch_totals(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 typed-state API) drained over
    the events file stream equals the batch per-user aggregate exactly
    (same fixed-point discipline as the applyInPandasWithState twin)."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf (absent in this "
        "container; the operator is import-gated per environment policy)",
    )
    import pyspark.sql.functions as F
    from demo_etl_spark.io import load_star
    from demo_etl_spark.streaming.event_streams import (
        read_events_stream,
        run_available_now,
        user_totals_tws_stream,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        drained = run_available_now(
            user_totals_tws_stream(read_events_stream(spark, sf_dir)),
            "tws_totals_test",
            output_mode="update",
        )
        got = {
            r["user_id"]: (r["n_events"], r["total_value_c"], r["last_event_us"])
            for r in drained.collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)

    ev = load_star(spark, sf_dir)["events"]
    exp = {
        r["user_id"]: (r["n"], r["v"], r["us"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(ROUND(value * 10000, 0) AS BIGINT)")).alias("v"),
            F.max(F.unix_micros("ts")).alias("us"),
        )
        .collect()
    }
    assert got == exp


def test_stream_drain_caps_shuffle_partitions(spark, sf_dir):
    """A drain runs on the session's shuffle partitions capped at 4, and a
    successful drain leaves the session conf as it was."""
    from demo_etl_spark.streaming.event_streams import (
        drain_shuffle_partitions,
        read_events_stream,
        run_available_now,
        tumbling_stream,
    )

    assert drain_shuffle_partitions("8") == 4
    assert drain_shuffle_partitions("2") == 2

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out = run_available_now(tumbling_stream(read_events_stream(spark, sf_dir)), "t_drain_conf")
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_incremental_dedup_verdicts(spark):
    """Shard doc 17 is a near-copy of corpus doc 3 (drop -> is_new
    False, best_match 3); shard doc 27 is unique text (is_new True with
    a weak-or-no match); shard doc 7 is too short to shingle (trivially
    new, no match row)."""
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        R(doc_id=3, text=base, lang="en", source="a", n_chars=len(base)),
        R(doc_id=4, text="completely different words entirely here now",
          lang="en", source="a", n_chars=44),
        R(doc_id=17, text=base + " extra", lang="en", source="a",
          n_chars=len(base) + 6),
        R(doc_id=27, text="zebra umbrella quantum flask orbit nine pelican "
          "marble drifting sideways", lang="en", source="a", n_chars=74),
        R(doc_id=7, text="too short", lang="en", source="a", n_chars=9),
    ]
    out = {r["doc_id"]: r for r in
           incremental_dedup(spark.createDataFrame(rows)).collect()}
    assert set(out) == {7, 17, 27}          # one verdict per shard doc
    assert out[17]["is_new"] is False and out[17]["best_match"] == 3
    assert out[27]["is_new"] is True
    assert out[7]["is_new"] is True and out[7]["best_match"] is None


def test_redact_pii_rewrites_urls_and_emails(spark):
    from pyspark.sql import Row as R
    from demo_etl_spark.operators.text import redact_pii

    t = ("see https://ex.com/a?u=bob@x.io then mail bob@x.io "
         "or visit http://y.org, keep 12345")
    out = redact_pii(spark.createDataFrame(
        [R(doc_id=1, text=t, lang="en", source="s", n_chars=len(t))]
    )).collect()[0]
    assert out["n_urls"] == 2 and out["n_emails"] == 2
    # the URL (incl. its embedded address) went first; the bare address
    # second; digits survive
    assert out["redacted_text"] == (
        "see [URL] then mail [EMAIL] or visit [URL] keep 12345"
    )


def test_repeated_spans_finds_planted_verbatim_run(spark):
    """Two docs share a 30-token verbatim run buried in distinct filler;
    a third doc shares nothing 25 tokens long. The detector must emit
    exactly one maximal span per sharing doc, at the right offset and
    length, and nothing for the clean doc."""
    import random

    from pyspark.sql import Row as R

    from demo_etl_spark.operators.dedup import K_SPAN, repeated_spans

    rng = random.Random(11)

    def words(n, tag):
        return [f"{tag}{rng.randrange(10_000)}_{i}" for i in range(n)]

    shared = " ".join(f"shared{i}" for i in range(30))
    doc_a = " ".join(words(40, "a")) + " " + shared + " " + " ".join(words(10, "a2"))
    doc_b = " ".join(words(5, "b")) + " " + shared + " " + " ".join(words(60, "b2"))
    doc_c = " ".join(words(80, "c"))
    docs = spark.createDataFrame(
        [
            R(doc_id="da", text=doc_a, lang="en", source="s", n_chars=0),
            R(doc_id="db", text=doc_b, lang="en", source="s", n_chars=0),
            R(doc_id="dc", text=doc_c, lang="en", source="s", n_chars=0),
        ]
    )
    out = {r["doc_id"]: r for r in repeated_spans(docs).collect()}
    assert set(out) == {"da", "db"}
    assert out["da"]["span_start"] == 40 and out["da"]["span_tokens"] == 30
    assert out["db"]["span_start"] == 5 and out["db"]["span_tokens"] == 30
    # 30-token run → 30 - K_SPAN + 1 overlapping windows, each in 2 docs
    assert out["da"]["n_windows"] == 30 - K_SPAN + 1
    assert out["da"]["max_window_docs"] == 2


def test_repeated_spans_islands_and_short_docs(spark):
    """A doc shorter than K_SPAN emits nothing. A doc made of two shared
    26-token runs back-to-back (each shared with a DIFFERENT partner)
    yields two maximal islands — the windows that straddle the run
    boundary match nobody, so the islands must not merge across it."""
    from pyspark.sql import Row as R

    from demo_etl_spark.operators.dedup import repeated_spans

    run1 = " ".join(f"x{i}" for i in range(26))  # 26 tokens
    run2 = " ".join(f"y{i}" for i in range(26))
    docs = spark.createDataFrame(
        [
            R(doc_id="m", text=run1 + " " + run2, lang="en", source="s", n_chars=0),
            R(doc_id="p1", text=run1 + " " + " ".join(f"f{i}" for i in range(30)),
              lang="en", source="s", n_chars=0),
            R(doc_id="p2", text=" ".join(f"g{i}" for i in range(30)) + " " + run2,
              lang="en", source="s", n_chars=0),
            R(doc_id="tiny", text="just a few tokens", lang="en", source="s",
              n_chars=0),
        ]
    )
    out = {}
    for r in repeated_spans(docs).collect():
        out.setdefault(r["doc_id"], []).append(r)
    assert "tiny" not in out
    spans_m = sorted((r["span_start"], r["span_tokens"]) for r in out["m"])
    # run1 windows at offsets {0,1}, run2 windows at {26,27}; the
    # boundary-straddling windows 2..25 are unshared → two 26-token spans
    assert spans_m == [(0, 26), (26, 26)]


def test_span_scrub_removes_exactly_the_shared_run(spark):
    """Scrub drops exactly the repeated-span tokens, keeps everything
    else in order, and leaves span-free docs byte-identical."""
    import random

    from pyspark.sql import Row as R

    from demo_etl_spark.operators.dedup import span_scrub

    rng = random.Random(23)

    def words(n, tag):
        return [f"{tag}{rng.randrange(10_000)}_{i}" for i in range(n)]

    shared = [f"shared{i}" for i in range(30)]
    a_pre, a_post = words(40, "a"), words(10, "a2")
    b_pre, b_post = words(5, "b"), words(60, "b2")
    c_all = words(80, "c")
    docs = spark.createDataFrame(
        [
            R(doc_id="da", text=" ".join(a_pre + shared + a_post),
              lang="en", source="s", n_chars=0),
            R(doc_id="db", text=" ".join(b_pre + shared + b_post),
              lang="en", source="s", n_chars=0),
            R(doc_id="dc", text=" ".join(c_all), lang="en", source="s",
              n_chars=0),
        ]
    )
    out = {r["doc_id"]: r for r in span_scrub(docs).collect()}
    assert set(out) == {"da", "db", "dc"}
    assert out["da"]["n_removed"] == 30
    assert out["da"]["scrubbed_text"] == " ".join(a_pre + a_post)
    assert out["db"]["n_removed"] == 30
    assert out["db"]["scrubbed_text"] == " ".join(b_pre + b_post)
    assert out["dc"]["n_removed"] == 0
    assert out["dc"]["scrubbed_text"] == " ".join(c_all)
    for r in out.values():
        assert r["n_kept"] + r["n_removed"] == r["n_tokens"]


def test_doc_quality_gate_rule_boundaries(spark):
    """Each rule of the composite gate fires on exactly its pathology:
    too-short doc, stopword-free doc, URL-spam doc, looping 3-gram doc,
    off-policy language, and NULL text — while a clean English doc
    passes every bit and is kept."""
    from demo_etl_spark.operators.text import doc_quality_gate

    clean = ("the quick brown fox jumps over the lazy dog and then "
             "the dog runs far away to the old green hill today")
    rows = [
        (1, clean, "en", "s", len(clean)),
        (2, "too short doc", "en", "s", 13),                # < 10 tokens
        (3, "zebra quartz vivid jukebox glyph nymph wharf "
            "crypt dwarf plinth fjord boxer", "en", "s", 70),  # no stopwords
        (4, " ".join(["the ok http://x.test/a"] * 10), "en", "s", 200),  # noisy
        (5, " ".join(["the cat sat"] * 12), "en", "s", 140),  # looping
        (6, clean, "xx", "s", len(clean)),                   # off-policy lang
        (7, None, "en", "s", None),                          # NULL text
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["doc_id"]: r for r in doc_quality_gate(df).collect()}
    assert out[1]["is_kept"] and out[1]["quality_score"] == 100
    assert out[2]["pass_length"] == 0 and not out[2]["is_kept"]
    assert out[3]["pass_stopwords"] == 0
    assert out[4]["pass_noise"] == 0
    assert out[5]["pass_repetition"] == 0
    assert out[6]["pass_lang"] == 0 and not out[6]["is_kept"]
    # NULL text folds to '' -> 1 empty token, fails length, never crashes
    assert out[7]["n_tokens"] == 1 and not out[7]["is_kept"]


def test_temperature_sample_invariants(spark):
    """Hypothesis: on random multi-source corpora the α-sample must (a)
    pick EXACTLY the per-source quota (quota ≤ n_docs by construction),
    (b) respect the global ≤30% budget in integer-div arithmetic, and
    (c) be invariant to row order and partitioning — the reproducible-
    mixture property the operator exists for."""
    import math

    from hypothesis import given, settings, strategies as st

    from demo_etl_spark.operators.curation import (
        TEMP_BUDGET_DEN,
        TEMP_BUDGET_NUM,
        TEMP_W_SCALE,
        temperature_sample,
    )

    doc = st.tuples(
        st.integers(min_value=-50, max_value=2000),
        st.sampled_from(["src_a", "src_b", "src_c"]),
    )

    @settings(max_examples=5, deadline=None)
    @given(docs=st.lists(doc, min_size=1, max_size=60, unique_by=lambda d: d[0]))
    def check(docs):
        rows = [(i, f"text {i}", "en", s, 6) for i, s in docs]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        out = temperature_sample(df).collect()
        n_by_src: dict[str, int] = {}
        for _, s in docs:
            n_by_src[s] = n_by_src.get(s, 0) + 1
        total = sum(n_by_src.values())
        budget = total * TEMP_BUDGET_NUM // TEMP_BUDGET_DEN
        tw = sum(
            math.floor(math.sqrt(n * TEMP_W_SCALE)) for n in n_by_src.values()
        )
        picked: dict[str, int] = {}
        for r in out:
            picked[r["source"]] = picked.get(r["source"], 0) + 1
            assert r["pick_rank"] <= r["source_quota"]
        for s, n in n_by_src.items():
            w = math.floor(math.sqrt(n * TEMP_W_SCALE))
            quota = min(n, budget * w // tw) if tw else 0
            assert picked.get(s, 0) == quota, (s, picked.get(s), quota)
        # permutation + partitioning invariance: same picked id set
        ids = sorted(r["doc_id"] for r in out)
        shuffled = spark.createDataFrame(
            list(reversed(rows)),
            "doc_id long, text string, lang string, source string, n_chars long",
        ).repartition(7)
        ids2 = sorted(r["doc_id"] for r in temperature_sample(shuffled).collect())
        assert ids == ids2

    check()


def test_bpe_roundtrip_lossless_on_random_corpora(spark):
    """Hypothesis: the trained symbol table must decode back to every
    vocabulary word on arbitrary small-alphabet corpora (merge tables
    only concatenate — a roundtrip failure means table corruption)."""
    from hypothesis import given, settings, strategies as st

    from demo_etl_spark.operators.tokenizer import bpe_roundtrip

    word = st.text(alphabet="abc", min_size=1, max_size=5)

    @settings(max_examples=5, deadline=None)
    @given(docs=st.lists(
        st.lists(word, min_size=1, max_size=5).map(" ".join),
        min_size=1, max_size=4,
    ))
    def check(docs):
        df = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        row = bpe_roundtrip(df).collect()[0]
        assert row["all_roundtrip"] == 1
        assert row["n_roundtrip_ok"] == row["n_vocab_words"]
        assert row["occurrences_ok"] == row["occurrences_total"]

    check()


def test_pps_sample_semantics(spark):
    """Pins the defining systematic-PPS properties on a hand-built
    corpus: (1) a document longer than the stride is selected with
    CERTAINTY and its n_hits counts every tick it spans; (2) total hits
    per source equal exactly PPS_K when total tokens >= PPS_K; (3) the
    stride-0 degenerate (source smaller than the budget) selects every
    non-empty doc once; (4) inclusion is deterministic (two runs
    identical)."""
    from demo_etl_spark.operators.curation import PPS_K, pps_sample

    rows = (
        # source "big": one 600-token giant among 60 ten-token docs
        [("big", f"b{i:03d}", "t " * 9 + "t") for i in range(60)]
        + [("big", "zzz_giant", "t " * 599 + "t")]
        # source "tiny": 3 docs of 2 tokens each (total 6 < PPS_K=12)
        + [("tiny", f"t{i}", "a b") for i in range(3)]
    )
    docs = spark.createDataFrame(
        [(s, d, t) for s, d, t in rows], "source string, doc_id string, text string"
    )
    out = {
        (r["source"], r["doc_id"]): r
        for r in pps_sample(docs).collect()
    }
    big = [v for (s, _), v in out.items() if s == "big"]
    # total = 1200 tokens, stride = 100: the 600-token giant spans ~6
    # ticks — certainty inclusion with multi-hit
    giant = out[("big", "zzz_giant")]
    assert giant["n_hits"] >= 5
    assert sum(r["n_hits"] for r in big) == PPS_K
    # stride-0 source: every non-empty doc once
    tiny = [v for (s, _), v in out.items() if s == "tiny"]
    assert len(tiny) == 3 and all(r["n_hits"] == 1 for r in tiny)
    # determinism
    again = {
        (r["source"], r["doc_id"]): r["n_hits"]
        for r in pps_sample(docs).collect()
    }
    assert again == {k: v["n_hits"] for k, v in out.items()}


def test_budget_take_semantics(spark):
    """Pins the mixture-EXECUTION contract: whole documents only
    (tokens_taken never exceeds the allocation and stops before a doc
    that would overflow), deterministic doc_id take order, saturated
    small sources taken whole, and utilization as an exact 4-dp fraction."""
    from demo_etl_spark.operators.curation import (
        MIX_BUDGET_DEN,
        MIX_BUDGET_NUM,
        budget_take,
    )

    # two sources, 10-token docs: "huge" 40 docs (400 tokens), "small"
    # 2 docs (20 tokens). total=420 → budget=210, round1 cap=105:
    # small saturates at 20, huge gets 105 then cap rises by
    # (210-125)//1=85 → alloc 190 → 19 whole docs.
    assert (MIX_BUDGET_NUM, MIX_BUDGET_DEN) == (1, 2)
    rows = [("huge", f"h{i:02d}", "t " * 9 + "t") for i in range(40)]
    rows += [("small", f"s{i}", "t " * 9 + "t") for i in range(2)]
    docs = spark.createDataFrame(
        rows, "source string, doc_id string, text string"
    )
    out = {r["source"]: r for r in budget_take(docs).collect()}
    assert out["small"]["tokens_allocated"] == 20
    assert out["small"]["n_docs_taken"] == 2
    assert out["small"]["tokens_taken"] == 20
    assert out["small"]["utilization"] == 1.0
    assert out["huge"]["tokens_allocated"] == 190
    assert out["huge"]["n_docs_taken"] == 19      # 19 whole docs = 190
    assert out["huge"]["tokens_taken"] == 190
    assert out["huge"]["utilization"] == 1.0
    # non-divisible allocation: 7-token docs against the same machinery
    # leave a partial-doc remainder untaken (whole-doc contract)
    rows2 = [("a", f"a{i}", "t " * 6 + "t") for i in range(10)]  # 70 tok
    docs2 = spark.createDataFrame(
        rows2, "source string, doc_id string, text string"
    )
    r2 = {r["source"]: r for r in budget_take(docs2).collect()}
    # budget = 35, alloc = 35 → 5 whole docs (35 tokens) exactly
    assert r2["a"]["tokens_allocated"] == 35
    assert r2["a"]["n_docs_taken"] == 5 and r2["a"]["tokens_taken"] == 35


def test_image_dhash_kernel_and_pair_semantics(spark):
    """dHash signatures are exact on an identity-geometry raster, are
    INVARIANT under nearest-neighbor 2x upscale (the resize dup class
    the operator exists for), and hostile payloads quarantine one row.
    The cap fallback branches (intra-signature chain / rep pairs) are
    pinned with a tiny cap on a hand-built signature frame."""
    import numpy as np

    from demo_etl_spark.operators import multimodal

    # identity geometry: w=9, h=8 makes the sampled grid the raster
    rng = np.random.RandomState(7)
    raster = rng.randint(0, 256, size=(8, 9), dtype=np.uint8)
    p1 = b"P5 9 8 255\n" + raster.tobytes()
    # 2x nearest-neighbor upscale: grid sampling lands on even indices,
    # which hold exactly the original pixels -> identical signature
    up = raster.repeat(2, axis=0).repeat(2, axis=1)
    p2 = b"P5 18 16 255\n" + up.tobytes()
    media = spark.createDataFrame(
        [
            (1, bytearray(p1)),
            (2, bytearray(p2)),
            (3, bytearray(b"not a pgm")),  # wrong magic -> quarantine
            (4, bytearray(b"P5 9 8 255\nshort")),  # short raster
            (5, bytearray(b"P5 99999999 99999999 255\n")),  # mem bomb
            (6, None),  # NULL payload
            (None, bytearray(p1)),  # NULL identity
        ],
        "media_id long, payload binary",
    )
    sig = multimodal.dhash_signatures(media).collect()
    assert sorted(r["media_id"] for r in sig) == [1, 2]
    by_id = {r["media_id"]: r for r in sig}
    # grid of the identity image IS the raster
    assert by_id[1]["grid"] == [int(v) for v in raster.ravel()]
    # hand-recompute the four bands from the raster
    bits = (raster[:, :-1] > raster[:, 1:]).ravel().astype(int)
    for b in range(4):
        want = sum(int(bits[b * 16 + j]) << j for j in range(16))
        assert by_id[1][f"b{b}"] == want
    # upscale invariance: identical signature AND identical grid
    for c in ("b0", "b1", "b2", "b3", "grid"):
        assert by_id[1][c] == by_id[2][c]

    pairs = multimodal.image_phash_pairs(
        multimodal.dhash_signatures(media)
    ).collect()
    assert [(r["media_id_a"], r["media_id_b"]) for r in pairs] == [(1, 2)]
    assert pairs[0]["hamming"] == 0
    assert pairs[0]["grid_l1"] == 0 and pairs[0]["verified"]


def test_image_band_cap_fallback_branches(spark):
    """_band_pairs with a tiny cap: an over-cap bucket of identical
    signatures connects through the intra-group chain (hamming-0
    edges), and distinct-signature reps pair among themselves."""
    from demo_etl_spark.operators import multimodal

    # five identical signatures + one 1-bit-off neighbor: every member
    # shares bucket (1, 7)/(2, 7)/(3, 7); bucket population 6 > cap 2,
    # signature diversity 2 <= cap
    rows = [(i, 5, 7, 7, 7, [0] * 72) for i in range(5)]
    rows.append((9, 4, 7, 7, 7, [0] * 72))  # b0 differs by one bit
    sig = spark.createDataFrame(
        rows,
        "media_id long, b0 int, b1 int, b2 int, b3 int, grid array<int>",
    )
    got = sorted(
        (r["media_id_a"], r["media_id_b"], r["hamming"])
        for r in multimodal._band_pairs(sig, cap=2).collect()
    )
    # rep pair (0, 9) survives at hamming 1, and the hamming-0 intra
    # chain keeps the identical-signature group in one component
    assert (0, 9, 1) in got
    parent = {i: i for i in [0, 1, 2, 3, 4, 9]}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b, _ in got:
        parent[find(a)] = find(b)
    assert len({find(i) for i in [0, 1, 2, 3, 4, 9]}) == 1
    # truth (uncapped) finds the full clique; capped found is a subset
    truth = multimodal._band_pairs(sig, cap=None).collect()
    assert len(truth) == 5 * 6 // 2  # all 15 pairs (max hamming 1)


def test_negative_total_denominators_null_ratios(spark):
    """r13 review pin (extends the r12 ADVICE part_revenue_abc fix):
    every ratio whose round_div denominator is a signed SUM must NULL
    on a non-positive total — the old != 0 guards let a negative total
    through and both engines computed identical garbage. Pinned on
    hand-built returns-dominated (net-negative) inputs."""
    from demo_etl_spark.operators import product as P
    from demo_etl_spark.operators import timeseries as T

    lineitem = spark.createDataFrame(
        [
            # one part, net-negative quantity, positive revenue
            (1, 10, -5.0, 100.0, 0.0),
            (2, 10, 2.0, 50.0, 0.0),
        ],
        "l_orderkey long, l_partkey long, l_quantity double, "
        "l_extendedprice double, l_discount double",
    )
    orders = spark.createDataFrame(
        [(1, 7, "1995-01-01"), (2, 7, "1995-01-02")],
        "o_orderkey long, o_custkey long, o_orderdate string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "CAST(o_orderdate AS DATE) o_orderdate"
    )
    part = spark.createDataFrame(
        [(10, "widget", "TYPE A")], "p_partkey long, p_name string, p_type string"
    )
    row = P.product_analytics(lineitem, orders, part).collect()[0]
    assert row["total_quantity"] == -3.0
    assert row["revenue_per_unit"] is None  # was garbage under != 0

    # net-negative revenue: cusum shares NULL, drift flags still exact
    li_neg = spark.createDataFrame(
        [
            (1, 10, 1.0, -100.0, 0.0, "1995-01-01"),
            (2, 10, 1.0, -50.0, 0.0, "1995-01-02"),
        ],
        "l_orderkey long, l_partkey long, l_quantity double, "
        "l_extendedprice double, l_discount double, l_shipdate string",
    ).selectExpr(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_discount", "CAST(l_shipdate AS DATE) l_shipdate",
    )
    cu = T.revenue_cusum(li_neg, orders).collect()
    assert all(r["cusum_up_mean_days"] is None for r in cu)
    assert all(r["cusum_down_mean_days"] is None for r in cu)


def test_audio_fingerprint_kernel_and_quarantine(spark):
    """Envelope fingerprint: exact window energies on a hand raster,
    identical payloads pair at hamming 0 / envelope_l1 0, hostile
    payloads quarantine."""
    import numpy as np

    from demo_etl_spark.operators import multimodal as mm

    rng = np.random.RandomState(11)
    raster = rng.randint(0, 256, size=33 * 4, dtype=np.uint8)  # w=33,h=4
    p = b"P5 33 4 255\n" + raster.tobytes()
    media = spark.createDataFrame(
        [
            (1, bytearray(p)),
            (2, bytearray(p)),  # exact duplicate payload
            (3, bytearray(b"nope")),
            (4, None),
            (None, bytearray(p)),
        ],
        "media_id long, payload binary",
    )
    sig = mm.audio_fingerprint_signatures(media).collect()
    assert sorted(r["media_id"] for r in sig) == [1, 2]
    by_id = {r["media_id"]: r for r in sig}
    # hand-recompute the 33 window energies
    s = raster.astype(np.int64) - 128
    n = len(s)
    want = [
        int((s[(i * n) // 33 : ((i + 1) * n) // 33] ** 2).sum())
        for i in range(33)
    ]
    assert by_id[1]["grid"] == want
    assert by_id[1]["grid"] == by_id[2]["grid"]

    pairs = mm.audio_fingerprint_pairs(
        mm.audio_fingerprint_signatures(media)
    ).collect()
    assert [(r["media_id_a"], r["media_id_b"], r["hamming"],
             r["envelope_l1"]) for r in pairs] == [(1, 2, 0, 0)]


def test_video_chunk_containment_and_chain_fallback(spark):
    """Exact containment on hand-built chunk tables: shared full-prefix
    chunks count, the partial tail differs, and an over-cap boilerplate
    chunk falls back to the posting chain (candidates stay linear) while
    containment stays EXACT for the candidates."""
    from demo_etl_spark.operators import multimodal as mm

    # videos 1/2 share chunks c0,c1; video 1 has tail t1, video 2 t2.
    # chunk 'boiler' is shared by videos 10..14 (df 5 > cap 2).
    rows = [
        (1, 0, "c0"), (1, 1, "c1"), (1, 2, "t1"),
        (2, 0, "c0"), (2, 1, "c1"), (2, 2, "t2"),
    ] + [(10 + i, 0, "boiler") for i in range(5)]
    chunks = spark.createDataFrame(
        rows, "media_id long, chunk_index int, chunk_hash string"
    )
    got = {
        (r["media_id_a"], r["media_id_b"]): r
        for r in mm.video_chunk_pairs(chunks, cap=2, contain_bp=5000).collect()
    }
    r12 = got[(1, 2)]
    assert (r12["shared_chunks"], r12["n_chunks_a"], r12["n_chunks_b"]) == (2, 3, 3)
    assert r12["containment_bp"] == 6667 and r12["is_dup"]
    # boilerplate postings chain: consecutive ids only, each 100% contained
    chain_pairs = {k for k in got if k[0] >= 10}
    assert chain_pairs == {(10, 11), (11, 12), (12, 13), (13, 14)}
    assert all(got[k]["containment_bp"] == 10000 for k in chain_pairs)


def test_band_pairs_pigeonhole_exactness_random(spark):
    """Empirical pin of the module's two structural claims on random
    signature sets: (1) the UNCAPPED band join equals the O(n²)
    brute-force Hamming-<=3 pair set exactly (pigeonhole: <=3 flips
    across 4 disjoint bands leave one band intact); (2) the capped path
    is a SUBSET of it (candidates are only ever dropped, never
    fabricated), and equals it whenever every bucket fits the cap."""
    import itertools
    import random

    from demo_etl_spark.operators import multimodal as mm

    for seed in (3, 17):
        rng = random.Random(seed)
        sigs = []
        base = [rng.randrange(1 << 16) for _ in range(4)]
        for i in range(30):
            # half the sigs cluster near `base` (few bit flips), half
            # are uniform — exercises both dense and sparse buckets
            if i % 2 == 0:
                s = list(base)
                for _ in range(rng.randrange(0, 5)):
                    b = rng.randrange(4)
                    s[b] ^= 1 << rng.randrange(16)
            else:
                s = [rng.randrange(1 << 16) for _ in range(4)]
            sigs.append((i, *s, [0] * 72))
        sig_df = spark.createDataFrame(
            sigs,
            "media_id long, b0 int, b1 int, b2 int, b3 int, grid array<int>",
        )
        brute = set()
        for (ia, *sa, _), (ib, *sb, _) in itertools.combinations(sigs, 2):
            ham = sum(bin(x ^ y).count("1") for x, y in zip(sa, sb))
            if ham <= mm.HAMMING_IMG_MAX:
                brute.add((min(ia, ib), max(ia, ib), ham))
        uncapped = {
            (r["media_id_a"], r["media_id_b"], r["hamming"])
            for r in mm._band_pairs(sig_df, None).collect()
        }
        assert uncapped == brute, f"seed {seed}: pigeonhole violated"
        capped_loose = {
            (r["media_id_a"], r["media_id_b"], r["hamming"])
            for r in mm._band_pairs(sig_df, 64).collect()
        }
        assert capped_loose == brute  # every bucket fits: no loss
        capped_tight = {
            (r["media_id_a"], r["media_id_b"], r["hamming"])
            for r in mm._band_pairs(sig_df, 2).collect()
        }
        assert capped_tight <= brute  # never fabricates


def test_shipping_sla_all_null_date_group(spark):
    """r13 review pin: a priority group whose EVERY order lacks an
    effective date must report n_within_sla = 0 (the oracle's CASE ...
    ELSE 0), not NULL (Spark's NULL-skipping SUM over an all-NULL
    group) — the latent cross-engine divergence fixed by the per-row
    coalesce."""
    from demo_etl_spark.operators.star import shipping_sla

    orders = spark.createDataFrame(
        [
            (1, "1-URGENT", None),          # NULL order date
            (2, "2-HIGH", "1995-01-01"),
        ],
        "o_orderkey long, o_orderpriority string, o_orderdate string",
    ).selectExpr(
        "o_orderkey", "o_orderpriority",
        "CAST(o_orderdate AS DATE) o_orderdate",
    )
    lineitem = spark.createDataFrame(
        [(1, None), (2, "1995-01-03")],
        "l_orderkey long, l_shipdate string",
    ).selectExpr("l_orderkey", "CAST(l_shipdate AS DATE) l_shipdate")
    rows = {r["o_orderpriority"]: r for r in shipping_sla(lineitem, orders).collect()}
    assert rows["1-URGENT"]["n_within_sla"] == 0  # was NULL pre-fix
    assert rows["1-URGENT"]["sla_share"] == 0.0
    assert rows["2-HIGH"]["n_within_sla"] == 1


def test_forecast_backtest_null_revenue_rows(spark):
    """r13 review pin (shipping_sla class): scored days whose own
    revenue is NULL (every order NULL-priced that date) make the
    win comparison NULL — both engines must count them as non-wins
    (0), and an all-NULL weekday group reports win_rate 0.0, not
    NULL."""
    from demo_etl_spark.operators.timeseries import forecast_backtest

    rows = []
    # 22 consecutive days of real revenue, then day 23 with NULL price
    for i in range(1, 23):
        rows.append((i, 100.0 + i, f"1995-01-{i:02d}"))
    rows.append((23, None, "1995-01-23"))
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_totalprice double, o_orderdate string"
    ).selectExpr(
        "o_orderkey", "o_totalprice", "CAST(o_orderdate AS DATE) o_orderdate"
    )
    out = {r["isodow"]: r for r in forecast_backtest(orders).collect()}
    # 1995-01-23 is a Monday (isodow 1); days 8..22 are scored too, so
    # Monday's group holds day 9 (real) and day 23 (NULL revenue)
    mon = out[1]
    assert mon["win_rate"] is not None  # was NULL when the group was touched


def test_band_recall_group_collapse_exactness(spark):
    """r14 (r13 ADVICE): the recall audit's truth side is now
    GROUP-COLLAPSED — C(cnt, 2) per distinct signature plus
    rep-level cross pairs weighted cnt_x * cnt_y — and must still
    equal the O(n²) brute-force Hamming-<=3 pair/member counts
    exactly, including on a mega-bucket of identical signatures
    (the adversarial class that used to make the audit itself
    quadratic in bucket population)."""
    import itertools
    import random

    from demo_etl_spark.operators import multimodal as mm

    rng = random.Random(7)
    sigs = []
    base = [rng.randrange(1 << 16) for _ in range(4)]
    for i in range(24):
        if i % 2 == 0:
            s = list(base)
            for _ in range(rng.randrange(0, 5)):
                b = rng.randrange(4)
                s[b] ^= 1 << rng.randrange(16)
        else:
            s = [rng.randrange(1 << 16) for _ in range(4)]
        sigs.append((i, *s, [0] * 72))
    # mega identical-signature group: 25 ids, one signature, bucket
    # population far over IMG_BAND_BUCKET_CAP — contributes C(25, 2)
    # truth pairs arithmetically
    mega_sig = [rng.randrange(1 << 16) | (1 << 15) for _ in range(4)]
    for i in range(100, 125):
        sigs.append((i, *mega_sig, [0] * 72))
    sig_df = spark.createDataFrame(
        sigs,
        "media_id long, b0 int, b1 int, b2 int, b3 int, grid array<int>",
    )
    brute = set()
    for (ia, *sa, _), (ib, *sb, _) in itertools.combinations(sigs, 2):
        ham = sum(bin(x ^ y).count("1") for x, y in zip(sa, sb))
        if ham <= mm.HAMMING_IMG_MAX:
            brute.add((min(ia, ib), max(ia, ib)))
    members = {i for p in brute for i in p}
    row = mm.image_band_recall(sig_df).collect()[0]
    assert row["n_exact_pairs"] == len(brute)
    assert row["n_members"] == len(members)
    assert row["n_found"] <= row["n_exact_pairs"]
    assert row["n_members_found"] <= row["n_members"]
    # an uncapped found side recovers everything: both recalls 1.0
    full = mm.image_band_recall(
        sig_df, found_pairs=mm._band_pairs(sig_df, 10_000)
    ).collect()[0]
    assert full["n_found"] == len(brute)
    assert full["pair_recall"] == 1.0 and full["member_recall"] == 1.0


def test_band_recall_duplicate_id_correction(spark):
    """r14: the cnt_x * cnt_y cross-signature product subtracts the
    same-id intersection — a duplicate media_id carrying two
    1-bit-apart signatures must NOT count a phantom (id, id)
    self-pair (the id-level enumeration excluded it via a < b)."""
    from demo_etl_spark.operators import multimodal as mm

    sig_df = spark.createDataFrame(
        [(5, 8, 1, 1, 1, [0] * 72), (5, 9, 1, 1, 1, [0] * 72)],
        "media_id long, b0 int, b1 int, b2 int, b3 int, grid array<int>",
    )
    row = mm.image_band_recall(sig_df).collect()[0]
    assert row["n_exact_pairs"] == 0
    assert row["n_members"] == 0
    assert row["pair_recall"] == 1.0 and row["member_recall"] == 1.0


def test_media_agreement_negative_id_truth_domain(spark):
    """r14 (r13 ADVICE): text near-dup pairs with NEGATIVE doc ids sit
    outside the media domain (synthesize_media derives nothing for
    doc_id < 0) and must be excluded from the agreement truth side —
    pre-fix a pair ≡ -1 mod 3 crashed Spark (sign-of-dividend % makes
    element_at index 0) and a pair ≡ 0 mod 3 counted as a phantom
    'image' text pair."""
    from demo_etl_spark.operators import multimodal as mm

    text_pairs = spark.createDataFrame(
        [(-13, -10), (-12, -9), (0, 3)], "doc_a long, doc_b long"
    )
    empty = spark.createDataFrame([], "media_id_a long, media_id_b long")
    video = spark.createDataFrame(
        [], "media_id_a long, media_id_b long, is_dup boolean"
    )
    rows = {
        r["modality"]: r
        for r in mm.media_dedup_agreement(
            text_pairs, empty, empty, video
        ).collect()
    }
    # only the non-negative image-class pair survives; the -12/-9 pair
    # (≡ 0 mod 3) no longer inflates the image row and the -13/-10 pair
    # no longer crashes the modality lookup
    assert set(rows) == {"image"}
    assert rows["image"]["n_text_pairs"] == 1
    assert rows["image"]["n_media_pairs"] == 0
    assert rows["image"]["set_jaccard"] == 0.0


def test_bm25_exact_fixed_point_scoring(spark):
    """r14: BM25 scores must equal an independent Python
    re-implementation of the integer formula (folded k1=6/5, b=3/4,
    floor-log2 IDF, HALF_UP e6 contributions) on a hand-built corpus —
    and the ranking must break score ties by candidate_id."""
    import hashlib

    from demo_etl_spark.operators.similarity import bm25_scores

    texts = {
        0: "red fox jumps over the lazy dog tonight",      # query
        20: "red fox jumps over the lazy dog today",       # near-dup
        21: "red fox jumps far away from here now",        # partial
        22: "the lazy dog sleeps under a red tree",        # weak
        23: "completely unrelated text about spark plans", # none
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["query_id"], r["candidate_id"]): r
        for r in bm25_scores(docs, n_queries=10, k=10).collect()
    }

    # independent reference
    def shingles(t):
        w = t.split(" ")
        return [" ".join(w[i : i + 3]) for i in range(len(w) - 2)]

    def h40(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:10], 16)

    tf = {}
    for d, t in texts.items():
        for s in shingles(t):
            k = (d, h40(s))
            tf[k] = tf.get(k, 0) + 1
    df = {}
    for (d, hh) in tf:
        df[hh] = df.get(hh, 0) + 1
    dl = {}
    for (d, hh), v in tf.items():
        dl[d] = dl.get(d, 0) + v
    n = len(dl)
    t_total = sum(dl.values())
    a = (200 * t_total + n) // (2 * n)
    exp = {}
    for (d, hh), v in tf.items():
        if d == 0 or (0, hh) not in tf:
            continue
        idf = ((2 * n + 2) // (2 * df[hh] + 1)).bit_length() - 1
        den = 10 * a * v + 3 * a + 900 * dl[d]
        c = (idf * 22 * a * v * 1000000 * 2 + den) // (2 * den)
        key = (0, d)
        s, nt = exp.get(key, (0, 0))
        exp[key] = (s + c, nt + 1)
    assert set(got) == set(exp)
    for key, (score_e6, n_terms) in exp.items():
        assert got[key]["n_terms"] == n_terms
        assert got[key]["bm25"] == score_e6 / 1_000_000
    # near-dup outranks partial outranks weak
    ranks = {k[1]: got[k]["rank"] for k in got}
    assert ranks[20] < ranks[21] < ranks[22]
    assert 23 not in ranks  # no shared shingle → not a candidate


def test_hybrid_bm25_recall_at_least_plain_hybrid(spark):
    """r14 (ADVICE quality bar): the BM25-staged hybrid's recall vs
    exact cosine is >= the overlap-staged hybrid's on the test corpus
    (the M-prune is a no-op there, so equality holds exactly)."""
    from demo_etl_spark.operators import similarity as S

    sf = "/root/testdata/sf0.001"
    plain = {
        r["query_id"]: r["recall_at_k"]
        for r in S.build_hybrid_recall(spark, sf).collect()
    }
    staged = {
        r["query_id"]: r["recall_at_k"]
        for r in S.build_hybrid_bm25_recall(spark, sf).collect()
    }
    assert set(staged) == set(plain)
    for q in plain:
        assert staged[q] >= plain[q]


def test_sequence_shuffle_permutation_and_plan(spark):
    """r14: sequence_shuffle emits an exact 0..n-1 permutation of the
    export rows, deterministically (same seed → same order; different
    seed → different order), and its plan never funnels the corpus
    through a single-task global Sort — the rank is the distributed
    exact_global_rank decomposition (>= 2 output partitions)."""
    from demo_etl_spark.operators.packing import (
        packed_sequences,
        sequence_shuffle,
    )

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"s{src}w{i}t{j}" for j in range(40)), f"src_{src}")
            for src in range(3)
            for i in range(src * 100, src * 100 + 8)
        ],
        "doc_id long, text string, source string",
    )
    out = sequence_shuffle(docs).collect()
    n = len(out)
    assert n == packed_sequences(docs).count()
    assert sorted(r["shuffle_pos"] for r in out) == list(range(n))
    # deterministic: a second evaluation gives the identical order
    again = sequence_shuffle(docs).collect()
    assert {r["shuffle_pos"]: (r["source"], r["seq_id"]) for r in out} == {
        r["shuffle_pos"]: (r["source"], r["seq_id"]) for r in again
    }
    # a different epoch seed permutes differently (md5 avalanche: with
    # n >= 6 rows an identical order would be a ~1/n! fluke)
    other = sequence_shuffle(docs, seed="epoch-1").collect()
    order_a = [r["shuffle_pos"] for r in sorted(out, key=lambda r: (r["source"], r["seq_id"]))]
    order_b = [r["shuffle_pos"] for r in sorted(other, key=lambda r: (r["source"], r["seq_id"]))]
    assert order_a != order_b
    # shuffled vs natural order: the permutation is not the identity
    assert order_a != sorted(order_a)
    import re

    plan = (
        sequence_shuffle(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # no GLOBAL sort anywhere: every Sort node in the plan is local
    # (`Sort [...], false, 0` — window-local under a hash-partitioned
    # exchange); a single-task global ordering would appear as
    # `Sort [...], true, 0` or a rangepartitioning exchange. (AQE may
    # still coalesce this tiny test frame to one partition — that is
    # output sizing, not a sort funnel.)
    assert "rangepartitioning" not in plan.lower()
    assert not re.search(r"Sort \[[^\]]*\], true, 0", plan)


def test_rrf_fusion_exact_arithmetic(spark):
    """r14: RRF fusion must equal the hand-computed e9 fixed-point
    sum of 1/(60+rank) contributions, including one-list-only
    candidates (COALESCE 0) and the id tiebreak on exact score ties."""
    from demo_etl_spark.operators.similarity import rrf_fusion

    lex = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2), (0, 13, 3)],
        "query_id long, candidate_id long, rank int",
    )
    vec = spark.createDataFrame(
        [(0, 12, 1), (0, 14, 2)],
        "query_id long, candidate_id long, rank int",
    )
    got = {r["candidate_id"]: r for r in rrf_fusion(lex, vec, k=10).collect()}

    def c(rank):
        d = 60 + rank
        return (2_000_000_000 + d) // (2 * d)

    exp = {
        11: c(1),
        12: c(2) + c(1),   # both lists
        13: c(3),
        14: c(2),
    }
    assert set(got) == set(exp)
    for cid, e9 in exp.items():
        assert got[cid]["rrf"] == e9 / 1_000_000_000
    # consensus candidate 12 wins; 11 (lex #1) beats 14 (vec #2) beats 13
    order = sorted(got, key=lambda cid: got[cid]["rank"])
    assert order == [12, 11, 14, 13]
    assert got[11]["vec_rank"] is None and got[14]["lex_rank"] is None


def test_embedding_incremental_semantics(spark):
    """r14: the embedding new-shard-vs-corpus path reports one verdict
    row per incoming (slot) vector — a near-identical corpus twin
    flags is_new=False with the right best_match, an isolated incoming
    vector is trivially new, and corpus×corpus pairs never appear."""
    from demo_etl_spark.operators.similarity import (
        embedding_incremental_dedup,
    )

    dims = 64
    base = [((i * 7) % 13 - 6) / 10.0 for i in range(dims)]
    near = list(base)
    near[0] += 0.01                      # cosine ~0.999 → duplicate
    ortho = [0.0] * dims
    ortho[1] = 1.0                       # cosine ~0 → not a duplicate
    rows = [
        (7, base, 1),                    # slot 7 → incoming
        (17, ortho, 1),                  # incoming, isolated
        (3, near, 2),                    # corpus near-dup of vec 7
        (4, ortho, 2),                   # corpus twin of vec 17? no —
        #   identical direction → cosine 1.0 with 17 IF they share a
        #   bucket; that's the banded-LSH recall dial, so don't assert
        #   on it — assert only on the guaranteed-bucket pair (7, 3)
        (5, [(-x) for x in base], 2),    # anti-parallel (cos -1)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r["vec_id"]: r for r in embedding_incremental_dedup(emb).collect()}
    assert set(out) == {7, 17}           # one row per incoming vector
    assert out[7]["is_new"] is False and out[7]["best_match"] == 3
    assert out[7]["cosine"] > 0.99
    # identical-direction vectors share every hyperplane bucket, so 17
    # finds its corpus twin 4 at cosine 1.0
    assert out[17]["is_new"] is False and out[17]["best_match"] == 4


def test_incremental_band_dedup_audio_semantics(spark):
    """r14: the shared band-incremental machinery under audio semantics
    (l1_max=None) — every Hamming-verified candidate is a duplicate,
    the L1 is ranking evidence only (closest envelope wins), and a
    new-shard row with no band collision is trivially new."""
    from demo_etl_spark.operators import multimodal as mm

    rows = [
        # new shard (id % 10 == 7): one matched, one isolated
        (7, 5, 9, 9, 9, [100, 200, 300]),
        (17, 1000, 2000, 3000, 4000, [1, 2, 3]),       # no collisions
        # corpus: same-signature twin (hamming 0) and a 1-bit neighbor
        # with a closer envelope — hamming ASC outranks L1, so the twin
        # (hamming 0) must win despite its larger L1
        (3, 5, 9, 9, 9, [110, 210, 310]),              # ham 0, L1 30
        (4, 4, 9, 9, 9, [100, 200, 301]),              # ham 1, L1 1
    ]
    sig = spark.createDataFrame(
        rows,
        "media_id long, b0 int, b1 int, b2 int, b3 int, grid array<int>",
    )
    out = {
        r["media_id"]: r
        for r in mm.incremental_band_dedup(
            sig, l1_max=None, l1_name="envelope_l1"
        ).collect()
    }
    assert set(out) == {7, 17}
    assert out[7]["is_new"] is False and out[7]["best_match"] == 3
    assert out[7]["hamming"] == 0 and out[7]["envelope_l1"] == 30
    assert out[17]["is_new"] is True and out[17]["best_match"] is None


def test_incremental_best_match_tie_breaks(spark):
    """r14 optimization guard: the best-match pick is now an aggregate
    min(struct(NOT is_dup, hamming, l1, id)) instead of a row_number
    window — pin the full ordering on constructed ties: (a) exact ties
    on (is_dup, hamming, l1) resolve to the LOWEST corpus id, and (b)
    is_dup dominates — an above-threshold candidate with WORSE hamming
    must outrank a below-threshold one with perfect hamming."""
    from demo_etl_spark.operators import multimodal as mm

    big = mm.IMG_VERIFY_L1_MAX + 1
    rows = [
        # incoming (id % 10 == 7): one for each scenario
        (7, 5, 9, 9, 9, [100, 200, 300]),
        (27, 6, 8, 8, 8, [50, 60, 70]),
        # (a) two corpus twins of 7, IDENTICAL evidence (ham 0, L1 0):
        # the aggregate's id tiebreak must crown the lower id
        (13, 5, 9, 9, 9, [100, 200, 300]),
        (3, 5, 9, 9, 9, [100, 200, 300]),
        # (b) for 27: a same-signature twin whose grid L1 exceeds the
        # verify cap (is_dup False, hamming 0) vs a 1-bit neighbor that
        # PASSES verify (is_dup True, hamming 1) — is_dup leads the
        # ranking, so 26 must win despite the worse hamming
        (24, 6, 8, 8, 8, [50, 60, 70 + big]),
        (26, 7, 8, 8, 8, [50, 60, 71]),
    ]
    sig = spark.createDataFrame(
        rows,
        "media_id long, b0 int, b1 int, b2 int, b3 int, grid array<int>",
    )
    out = {
        r["media_id"]: r for r in mm.incremental_band_dedup(sig).collect()
    }
    assert out[7]["best_match"] == 3 and out[7]["is_new"] is False
    assert out[7]["hamming"] == 0 and out[7]["grid_l1"] == 0
    assert out[27]["best_match"] == 26 and out[27]["is_new"] is False
    assert out[27]["hamming"] == 1


def test_embedding_incremental_cosine_tie_lowest_id(spark):
    """r14 optimization guard for the embedding path's aggregate
    ranking: two corpus vectors IDENTICAL to the incoming one (cosine
    1.0 each) — the tie must resolve to the lowest corpus id."""
    from demo_etl_spark.operators.similarity import (
        embedding_incremental_dedup,
    )

    dims = 64
    base = [((i * 11) % 17 - 8) / 10.0 for i in range(dims)]
    rows = [
        (7, base, 1),       # incoming (slot 7)
        (23, list(base), 2),
        (3, list(base), 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r["vec_id"]: r for r in embedding_incremental_dedup(emb).collect()}
    assert set(out) == {7}
    assert out[7]["best_match"] == 3 and out[7]["is_new"] is False
    assert out[7]["cosine"] == 1.0
