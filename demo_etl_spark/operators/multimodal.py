"""Multimodal column plumbing (north-star extension; BASELINE.json).

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata, processed by Arrow-batched pandas iterators (``mapInPandas``) —
the correct Spark shape for media work at 100 TB:

* payloads stay off the driver (never collected);
* decode/feature-extract runs once per Arrow batch, not per row;
* output schema is declared up front so Catalyst can prune downstream;
* partitioning is preserved — no shuffle is introduced by the map.

The synthetic payloads are REAL binary-PGM (netpbm P5) images: an ASCII
``P5 <w> <h> 255`` header followed by a w·h-byte grayscale raster (the
document's text bytes, space-padded/truncated). ``decode_pgm`` is a real
netpbm decoder — it parses the header grammar (arbitrary whitespace,
``#`` comments) and slices the raster — not a hash-based stub, so
``width``/``height`` in the registered feature query are genuinely
decoded from the payload and still oracle-checkable (the oracle recomputes
the header fields the synthesizer embedded). ``resize_media`` is likewise
a real nearest-neighbor resample over the decoded numpy raster.

Compressed codecs (JPEG via PIL, video via libav) are NOT in this
container; swapping ``decode_pgm`` for ``PIL.Image.open`` is the only
change a real deployment needs — every Spark-side shape here is final.

The synthesis sanitizes the raster alphabet to printable ASCII (every
other code point becomes '?'), so raster chars == raster bytes BY
CONSTRUCTION on any corpus — the char-based ``rpad``/``substr`` in the
SQL oracles and the byte-walking decoder cannot diverge (previously a
documented ASCII-corpus caveat; now fuzz-pinned with unicode/emoji
documents). ``decode_pgm`` itself is byte-correct for any PGM input.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from demo_etl_spark.context import DEFAULT_CONTEXT, RunContext
from demo_etl_spark.io import (
    load_star,
    register_memo_warmer,
    session_memo,
)

#: media table schema: opaque payload + typed metadata
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("source_doc_id", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_len", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("feature_hash", StringType()),
    ]
)

# synthesized image geometry: derived from doc_id so the oracle can
# recompute it; bounded 8..63 to keep the raster ≤ ~4 KB per document
DIM_MOD = 56
DIM_MIN = 8

_W_EXPR = "(doc_id % {m} + {b})".format(m=DIM_MOD, b=DIM_MIN)
_H_EXPR = "((doc_id * 3) % {m} + {b})".format(m=DIM_MOD, b=DIM_MIN)


def _media_docs(documents: DataFrame) -> DataFrame:
    """documents → (doc_id, sanitized text, _w, _h): the one projection
    behind both synthesizers, which add only their magic and bytes per
    pixel.

    ``media_id`` is a real key on BOTH engine sides: a document with a
    NULL or NEGATIVE doc_id is excluded (identity, geometry, and type
    all derive from doc_id — a NULL id yields an all-NULL payload the
    strict decoder rejects, and a negative id makes the modular
    geometry negative: empty rasters crash the resample and
    ``element_at`` indexes from the array's END, r7 hostile repro), and
    duplicate doc_ids collapse to ONE media row
    via min(sanitized text) (a media table with colliding ids is
    ill-formed; min is the deterministic pick both engines agree on).
    Both pathologies reproduced from the r7 hostile corpus — the
    driver's regenerated corpus can carry rows the pristine local
    testdata never did."""
    return (
        documents.filter(F.col("doc_id") >= 0)
        .groupBy("doc_id")
        .agg(
            # NULL-safe AND ASCII-safe: a null text becomes an all-space
            # raster, and every non-printable-ASCII code point becomes
            # '?' (testdata is regenerated between rounds — don't assume
            # clean ASCII). The sanitization makes raster bytes ==
            # raster chars by construction, so the byte-walking decoder
            # and the char-walking SQL oracles agree on ANY corpus; both
            # engines replace per code point (verified incl. non-BMP
            # emoji).
            F.min(
                F.regexp_replace(
                    F.coalesce(F.col("text"), F.lit("")), "[^ -~]", "?"
                )
            ).alias("text")
        )
        .select(
            "doc_id",
            "text",
            F.expr(_W_EXPR).alias("_w"),
            F.expr(_H_EXPR).alias("_h"),
        )
    )


def _netpbm_payload(magic: str, channels: int):
    """The ``payload`` column over ``_media_docs``: a ``<magic> w h 255``
    header, then the text space-padded/truncated to channels·w·h
    bytes."""
    header = F.concat(
        F.lit(magic + " "),
        F.col("_w").cast("string"),
        F.lit(" "),
        F.col("_h").cast("string"),
        F.lit(" 255\n"),
    )
    raster = F.expr(f"rpad(text, CAST(_w * _h * {channels} AS INT), ' ')")
    return F.encode(F.concat(header, raster), "utf-8").alias("payload")


def synthesize_media(documents: DataFrame) -> DataFrame:
    """Build a media table from documents: each payload is a REAL binary
    PGM (P5) image whose raster is the document's text, space-padded or
    truncated to w·h. Pure column expressions — the synthesizer itself
    is JVM-side and shuffle-free. Identity rules: ``_media_docs``."""
    return _media_docs(documents).select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        _netpbm_payload("P5", 1),
        F.col("doc_id").alias("source_doc_id"),
    )


def _decode_netpbm(
    payload: bytes, magic: bytes, channels: int
) -> tuple[int, int, bytes]:
    """REAL binary-netpbm decode: parse the header (tokens separated by
    arbitrary whitespace; ``#`` comments run to end of line), validate
    maxval, return (width, height, raster bytes) with the raster sliced
    to channels·w·h bytes.

    This is the full P5/P6 grammar, not a fake — it decodes any 8-bit
    PGM or PPM file, not just the synthesizer's output. Swap for
    ``PIL.Image.open`` to add compressed formats; the callers never
    change. The error strings name the format (``PGM``/``P5`` or
    ``PPM``/``P6``) and reach ``media_decode_audit.decode_reason``
    unchanged, so a refactor here must keep them byte-for-byte.
    """
    kind = {b"P5": "PGM", b"P6": "PPM"}[magic]
    payload = bytes(payload)
    if payload[:2] != magic:
        raise ValueError(f"not a binary {kind} ({magic.decode()}) payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError(f"truncated {kind} header")
        fields.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from raster
    width, height, maxval = fields
    if not 0 < maxval < 256:
        raise ValueError(f"unsupported {kind} maxval {maxval}")
    return width, height, payload[pos : pos + channels * width * height]


def decode_pgm(payload: bytes) -> tuple[int, int, bytes]:
    """Grayscale binding of ``_decode_netpbm``: magic ``P5``, one byte
    per pixel."""
    return _decode_netpbm(payload, b"P5", 1)


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Color binding of ``_decode_netpbm``: magic ``P6``, a 3-byte RGB
    pixel, so raster byte j carries channel j mod 3."""
    return _decode_netpbm(payload, b"P6", 3)


#: dimension sanity bound for the ingest quarantine: a hostile header
#: like ``P5 999999999 999999999 255`` passes the grammar but would make
#: any resample/raster allocation a memory bomb — reject before numpy
#: ever sees it. 2²⁰ px per axis is far beyond any real 8-bit PGM.
MAX_MEDIA_DIM = 1 << 20


def decode_pgm_safe(
    payload, channels: int = 1
) -> tuple[int | None, int | None, bytes | None, str | None]:
    """TOTAL twin of the netpbm decoders — the media ingest quarantine
    (r10 hostile wave 6). ``channels`` picks the binding: 1 decodes
    with ``decode_pgm``, 3 with ``decode_ppm``. Returns ``(w, h, raster,
    None)`` for a decodable payload and ``(None, None, None, reason)``
    otherwise; never raises. Quarantined classes: NULL payload, wrong
    magic, truncated/non-numeric header, bad maxval, non-positive or
    memory-bomb dimensions, raster shorter than the header promises.
    Every media operator routes through this (the kernels via
    ``_media_map``, the audit directly), so one hostile payload
    quarantines ONE row instead of crashing the job — the same
    dead-letter policy io.timed_events applies to events."""
    # before the decode: bytes(None) raises TypeError, which the catch
    # below does not cover (found by the r13 symmetric P6 hostile wave)
    if payload is None:
        return None, None, None, "null_payload"
    try:
        w, h, raster = (decode_pgm if channels == 1 else decode_ppm)(payload)
    except (ValueError, IndexError, OverflowError) as exc:
        return None, None, None, f"undecodable: {exc}"
    if w <= 0 or h <= 0:
        return None, None, None, "non_positive_dims"
    if w > MAX_MEDIA_DIM or h > MAX_MEDIA_DIM:
        return None, None, None, "oversized_dims"
    if len(raster) < channels * w * h:
        return None, None, None, "raster_shorter_than_header"
    return w, h, raster, None


_PANDAS_INT = {LongType: "int64", IntegerType: "int32"}


def _media_map(
    media: DataFrame, schema: StructType, row_fn, channels: int = 1
) -> DataFrame:
    """The one Arrow batch loop of the media kernels (mapInPandas, so
    it keeps partitioning and adds no shuffle). A row with a NULL
    ``media_id`` or a payload that fails ``decode_pgm_safe`` is dropped
    (dead letter; ``media_decode_audit`` is the place that REPORTS the
    drops). Every kept row is decoded ONCE (r10 review: a
    filter-then-reparse shape decoded every payload twice) and passed as
    ``row_fn(row, w, h, raster)``, where ``row`` has the input's columns
    as attributes (only ``media_id`` and ``payload`` are required); it
    returns 0..N output tuples in ``schema`` order. Each batch is typed
    from ``schema``: a batch with no output rows would otherwise carry
    object columns that Arrow cannot cast."""
    cols = [f.name for f in schema.fields]
    ints = {
        f.name: _PANDAS_INT[type(f.dataType)]
        for f in schema.fields
        if type(f.dataType) in _PANDAS_INT
    }

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            kept = pdf[pdf["media_id"].notna()]
            for row in kept.itertuples(index=False):
                w, h, raster, err = decode_pgm_safe(row.payload, channels)
                if err is None:
                    rows.extend(row_fn(row, w, h, raster))
            yield pd.DataFrame(rows, columns=cols).astype(ints)

    return media.mapInPandas(batches, schema)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, schema-declared.
    width/height come from the real ``decode_pgm`` parse of each payload;
    undecodable rows are quarantined (dropped), never a crash."""

    def row(r, w, h, raster):
        md5 = hashlib.md5(r.payload).hexdigest()
        return [(r.media_id, r.media_type, len(r.payload), w, h, md5)]

    return _media_map(media, FEATURE_SCHEMA, row)


RESIZE_TARGET = (32, 32)
FRAME_SAMPLE_EVERY = 1024  # one sampled "frame" per KiB of payload

RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("resized_payload", BinaryType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_offset", IntegerType()),
        StructField("frame_hash", StringType()),
    ]
)


def _resize_nearest(raster: bytes, w: int, h: int, w_t: int, h_t: int) -> bytes:
    """Nearest-neighbor resample of an 8-bit grayscale raster (numpy
    fancy indexing — one vectorized gather, no Python pixel loop)."""
    img = np.frombuffer(raster, dtype=np.uint8)
    if img.size < w * h:  # defensive: pad a truncated raster with spaces
        img = np.concatenate([img, np.full(w * h - img.size, 32, np.uint8)])
    img = img[: w * h].reshape(h, w)
    ys = (np.arange(h_t) * h) // h_t
    xs = (np.arange(w_t) * w) // w_t
    return img[np.ix_(ys, xs)].tobytes()


def resize_media(media: DataFrame, target: tuple[int, int] = RESIZE_TARGET) -> DataFrame:
    """mapInPandas resize: REAL decode (``decode_pgm``) + real
    nearest-neighbor resample, re-encoded as a w_t×h_t P5 payload.
    Binary-in/binary-out Arrow batches, declared schema, no shuffle."""
    w_t, h_t = target
    out_header = f"P5 {w_t} {h_t} 255\n".encode()

    def row(r, w, h, raster):
        out = out_header + _resize_nearest(raster, w, h, w_t, h_t)
        return [(r.media_id, r.media_type, w_t, h_t, out)]

    return _media_map(media, RESIZED_SCHEMA, row)


def sample_frames(
    media: DataFrame, every: int = FRAME_SAMPLE_EVERY
) -> DataFrame:
    """mapInPandas frame sampling for video payloads: one output row per
    ``every`` bytes (stand-in for per-frame decode; a real impl samples
    keyframes via libav). Demonstrates the 1→N exploding UDF shape —
    output rows ≠ input rows, schema declared up front."""

    def row(r, w, h, raster):
        if r.media_type != "video":
            return []
        raw = r.payload
        return [
            (r.media_id, i, off, hashlib.md5(raw[off:off + every]).hexdigest())
            for i, off in enumerate(range(0, len(raw), every))
        ]

    return _media_map(media, FRAME_SCHEMA, row)


def build_features(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    docs = load_star(spark, sf_dir)["documents"]
    return extract_features(synthesize_media(docs))


# DuckDB twin of the sanitized raster text: the synthesis replaces every
# non-printable-ASCII code point with '?', so chars == bytes on ANY
# corpus (not an assumption about the testdata) and md5(VARCHAR) hashes
# the same UTF-8 bytes the Python worker hashes.
_SANITIZE_SQL = "regexp_replace(coalesce(text, ''), '[^ -~]', '?', 'g')"

# one media row per doc_id (min sanitized text), NULL ids excluded —
# the exact twin of synthesize_media's identity-enforcing groupBy
_MEDIA_SRC = (
    "(SELECT doc_id, min({s}) AS text "
    "FROM documents WHERE doc_id >= 0 GROUP BY doc_id)"
).format(s=_SANITIZE_SQL)

_PAYLOAD_SQL = (
    "'P5 ' || CAST({w} AS VARCHAR) || ' ' || CAST({h} AS VARCHAR) || ' 255' "
    "|| chr(10) || rpad(text, CAST({w} * {h} AS INT), ' ')"
).format(w=_W_EXPR, h=_H_EXPR)

ORACLE_SQL_FEATURES = f"""
WITH m AS (
  SELECT doc_id,
         CAST({_W_EXPR} AS INTEGER) AS width,
         CAST({_H_EXPR} AS INTEGER) AS height,
         {_PAYLOAD_SQL} AS p
  FROM {_MEDIA_SRC} docs
)
SELECT doc_id AS media_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
       CAST(octet_length(encode(p)) AS INTEGER) AS byte_len,
       width,
       height,
       md5(p) AS feature_hash
FROM m
"""


def build_frames(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Registered frame-sampling query: the 1→N exploding mapInPandas
    shape, oracle-checked. The oracle reconstructs the PGM payload string
    and re-slices it with char-based substr (ASCII corpus — byte offset
    == char offset). A payload is never empty (the header alone is ≥ 11
    bytes), so both sides emit ≥ 1 frame for every video — including
    empty-text documents."""
    docs = load_star(spark, sf_dir)["documents"]
    return sample_frames(synthesize_media(docs))


ORACLE_SQL_FRAMES = f"""
WITH vids AS (
  SELECT doc_id AS media_id, {_PAYLOAD_SQL} AS p
  FROM {_MEDIA_SRC} docs WHERE doc_id % 3 = 2
),
offsets AS (
  SELECT media_id, p,
         unnest(generate_series(0, len(p) - 1, {FRAME_SAMPLE_EVERY}))
           AS frame_offset
  FROM vids
)
SELECT media_id,
       CAST(frame_offset / {FRAME_SAMPLE_EVERY} AS INT) AS frame_index,
       CAST(frame_offset AS INT) AS frame_offset,
       md5(substr(p, frame_offset + 1, {FRAME_SAMPLE_EVERY})) AS frame_hash
FROM offsets
"""


# ----------------------------------------------------- audio branch -----
AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", IntegerType()),
        StructField("peak_amplitude", IntegerType()),
        StructField("energy", LongType()),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """Waveform features for the audio rows: treat the decoded raster
    bytes as centered 8-bit PCM (sample = byte − 128) and extract
    n_samples / peak amplitude / energy (exact integer sum of squares —
    no float RMS, so the oracle matches bit-for-bit). Same Arrow
    mapInPandas batch shape as the image branch, same real decode
    (decode_pgm strips the container header); swap in soundfile/libav
    for real codecs — the Spark-side plumbing is identical."""

    def row(r, w, h, raster):
        s = np.frombuffer(raster, dtype=np.uint8).astype(np.int64) - 128
        peak = int(np.abs(s).max()) if len(s) else 0
        return [(r.media_id, len(s), peak, int((s * s).sum()))]

    return _media_map(
        media.filter(F.col("media_type") == "audio"), AUDIO_SCHEMA, row
    )


def build_audio_features(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    docs = load_star(spark, sf_dir)["documents"]
    return audio_features(synthesize_media(docs))


# ------------------------------------------------ decode-audit branch ----
def media_decode_audit(media: DataFrame) -> DataFrame:
    """Per-row quarantine report over a media table — the governance twin
    of ``_media_map``'s silent dead-letter drop: every row (including the
    undecodable ones the operators skip) gets a verdict + reason, so an
    ingest batch with a spike of broken payloads is VISIBLE, not just
    absent. decode_ok is int (1/0) so the hash gate normalizes across
    engines; reason is NULL for good rows."""
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("media_type", StringType()),
            StructField("byte_len", IntegerType()),
            StructField("decode_ok", IntegerType()),
            StructField("decode_reason", StringType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            verdicts = pdf["payload"].map(lambda p: decode_pgm_safe(p)[3])
            missing_id = pdf["media_id"].isna()
            reason = verdicts.where(~missing_id, "null_media_id")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "byte_len": pdf["payload"].map(
                        lambda p: 0 if p is None else len(p)
                    ).astype("int32"),
                    "decode_ok": reason.isna().astype("int32"),
                    "decode_reason": reason,
                }
            )

    return media.mapInPandas(batches, schema)


def build_media_decode_audit(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Registered audit seat: over the synthesized (always-decodable)
    media table every row must come back ok — the oracle recomputes the
    byte lengths from the documents table, so the whole quarantine
    pipeline (safe decode incl. dimension/raster-length checks) sits
    under the hash gate. The hostile-payload side (rows that must be
    REJECTED) is pinned by tests/test_oracle_fuzz.py over the
    tools/hostile_corpus.py media table."""
    docs = load_star(spark, sf_dir)["documents"]
    return media_decode_audit(synthesize_media(docs))


ORACLE_SQL_MEDIA_AUDIT = f"""
SELECT doc_id AS media_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
       CAST(octet_length(encode({_PAYLOAD_SQL})) AS INTEGER) AS byte_len,
       CAST(1 AS INTEGER) AS decode_ok,
       CAST(NULL AS VARCHAR) AS decode_reason
FROM {_MEDIA_SRC} docs
"""


# the oracle rebuilds the raster directly (rpad truncates identically in
# both engines) and recomputes the integer features per sample
ORACLE_SQL_AUDIO = f"""
WITH m AS (
  SELECT doc_id,
         rpad(text,
              CAST(({_W_EXPR}) * ({_H_EXPR}) AS INTEGER), ' ') AS raster
  FROM {_MEDIA_SRC} docs WHERE doc_id % 3 = 1
),
s AS (
  SELECT doc_id,
         list_transform(range(1, len(raster) + 1),
                        i -> ascii(substr(raster, i, 1)) - 128) AS v
  FROM m
)
SELECT doc_id AS media_id,
       CAST(len(v) AS INTEGER) AS n_samples,
       CAST(list_max(list_transform(v, x -> abs(x))) AS INTEGER)
         AS peak_amplitude,
       CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS energy
FROM s
"""


def build_resize(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Registered resize query: the full decode → nearest-neighbor
    resample → re-encode path (REAL numpy gather over the REAL netpbm
    decode), reduced to an oracle-checkable row per media item. The
    oracle re-slices the reconstructed payload string pixel-by-pixel
    with the same floor-division index map ``src = (dst·size)//target``,
    so the hash pins every byte of the resampled raster."""
    docs = load_star(spark, sf_dir)["documents"]
    resized = resize_media(synthesize_media(docs))
    return resized.select(
        "media_id",
        "media_type",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.md5("resized_payload").alias("resize_hash"),
    )


_RT_W, _RT_H = RESIZE_TARGET

ORACLE_SQL_RESIZE = f"""
WITH m AS (
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
           AS media_type,
         CAST({_W_EXPR} AS BIGINT) AS w,
         CAST({_H_EXPR} AS BIGINT) AS h,
         {_PAYLOAD_SQL} AS p
  FROM {_MEDIA_SRC} docs
),
grid AS (
  SELECT m.*, y.y AS y, x.x AS x,
         strpos(p, chr(10)) AS hdr
  FROM m,
       unnest(generate_series(0, {_RT_H - 1})) AS y(y),
       unnest(generate_series(0, {_RT_W - 1})) AS x(x)
),
px AS (
  SELECT media_id, media_type, y, x,
         substr(p,
                CAST(hdr + ((y * h) // {_RT_H}) * w
                     + ((x * w) // {_RT_W}) + 1 AS BIGINT),
                1) AS ch
  FROM grid
)
SELECT media_id, media_type,
       CAST({_RT_W} AS INTEGER) AS width,
       CAST({_RT_H} AS INTEGER) AS height,
       md5('P5 {_RT_W} {_RT_H} 255' || chr(10)
           || string_agg(ch, '' ORDER BY y, x)) AS resize_hash
FROM px
GROUP BY media_id, media_type
"""


# ------------------------------------------ P6 color-channel branch ----
def synthesize_color_media(documents: DataFrame) -> DataFrame:
    """P6 twin of ``synthesize_media``: each payload is a REAL binary
    PPM whose 3·w·h-byte RGB raster is the sanitized document text
    space-padded/truncated — so byte j carries channel j mod 3. Same
    ``_media_docs`` projection: identity discipline (NULL/negative ids
    out, duplicate ids collapse to min text) and doc_id-modular
    geometry."""
    return _media_docs(documents).select(
        F.col("doc_id").alias("media_id"), _netpbm_payload("P6", 3)
    )


COLOR_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("r_mean_x100", LongType()),
        StructField("g_mean_x100", LongType()),
        StructField("b_mean_x100", LongType()),
        StructField("r_min", IntegerType()),
        StructField("r_max", IntegerType()),
        StructField("g_min", IntegerType()),
        StructField("g_max", IntegerType()),
        StructField("b_min", IntegerType()),
        StructField("b_max", IntegerType()),
    ]
)


def color_channel_stats(media: DataFrame) -> DataFrame:
    """Per-channel RGB statistics via the REAL P6 decode: numpy
    stride-3 slices of the raster give each channel's sum/min/max; the
    mean is exact HALF_UP ×100 in pure Python integers — the same
    (s·200 + n) div (2n) spelling as functions.fixedpoint, so the SQL
    twin reproduces every value bit-for-bit. Undecodable, non-positive
    or short-raster payloads quarantine (drop) through the same safe
    decode as the grayscale kernels, never crash the batch."""

    def row(r, w, h, raster):
        n = w * h
        arr = np.frombuffer(raster, dtype=np.uint8)
        chans = [arr[c::3] for c in range(3)]
        sums = [int(ch.sum(dtype=np.int64)) for ch in chans]
        means = [(t * 200 + n) // (2 * n) for t in sums]
        limits = [int(f(ch)) for ch in chans for f in (np.min, np.max)]
        return [(r.media_id, w, h, *means, *limits)]

    return _media_map(media, COLOR_SCHEMA, row, channels=3)


def build_color_channels(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    docs = load_star(spark, sf_dir)["documents"]
    return color_channel_stats(synthesize_color_media(docs))


def _ch_list_sql(c: int) -> str:
    # channel c chars live at 1-based raster positions 3·i + c + 1
    return (
        "list_transform(range(0, CAST(w * h AS BIGINT)), "
        f"i -> ascii(substr(raster, CAST(3 * i + {c + 1} AS BIGINT), 1)))"
    )


def _ch_cols_sql(c: int, name: str) -> str:
    lst = _ch_list_sql(c)
    return (
        f"CAST((CAST(list_sum({lst}) AS BIGINT) * 200 + w * h) // "
        f"(2 * (w * h)) AS BIGINT) AS {name}_mean_x100,\n"
        f"       CAST(list_min({lst}) AS INTEGER) AS {name}_min,\n"
        f"       CAST(list_max({lst}) AS INTEGER) AS {name}_max"
    )


ORACLE_SQL_COLOR = f"""
WITH m AS (
  SELECT doc_id,
         CAST({_W_EXPR} AS INTEGER) AS w,
         CAST({_H_EXPR} AS INTEGER) AS h,
         rpad(text, CAST(3 * {_W_EXPR} * {_H_EXPR} AS INT), ' ') AS raster
  FROM {_MEDIA_SRC} docs
),
s AS (
  SELECT doc_id, w, h,
       {_ch_cols_sql(0, "r")},
       {_ch_cols_sql(1, "g")},
       {_ch_cols_sql(2, "b")}
  FROM m
)
SELECT doc_id AS media_id, w AS width, h AS height,
       r_mean_x100, g_mean_x100, b_mean_x100,
       r_min, r_max, g_min, g_max, b_min, b_max
FROM s
"""


# ----------------------------------------- perceptual image dedup -------
# dHash near-dup detection over the REAL decoded rasters (r12 verdict:
# the one LLM-pipeline hole — text is deduped five ways, embeddings two,
# but near-identical IMAGES — resizes, re-encodes, the dominant
# multimodal dup class — had no content-level detector).
#
# Pipeline (everything integer-exact, so the DuckDB twin reproduces each
# signature bit-for-bit in the multimodal_color char-walking style):
#   1. decode (decode_pgm_safe — hostile payloads quarantine one ROW);
#   2. nearest-neighbor sample to a 9x8 grid (the same (i*src)//dst
#      integer math as _resize_nearest, so any resize of an image maps
#      to near-identical grid pixels);
#   3. dHash: bit(y,x) = grid[y][x] > grid[y][x+1] for x<8 -> 64 bits,
#      stored as 4 x 16-bit band integers (the SimHash 4-band LSH
#      pattern, dedup.simhash_pairs);
#   4. candidates = equi-join on any shared (band, value) bucket. A
#      bucket at or under IMG_BAND_BUCKET_CAP enumerates ALL its pairs.
#      An over-full bucket — e.g. millions of blank frames hashing to
#      0 — collapses to DISTINCT-SIGNATURE GROUPS: members with the
#      same full 64-bit signature chain to each other (hamming-0 edges,
#      always verified, so the group stays connected — which is what
#      downstream connected-components dedup consumes), and one
#      representative per signature (min id) carries the group into a
#      rep-level pair join. The capped quantity is therefore signature
#      DIVERSITY, not bucket population: the million-blank-frames
#      bucket is one rep + a linear chain. Only when even the rep count
#      exceeds the cap does the path degrade to a sorted predecessor
#      chain over reps (the declared last-resort, measured by the
#      recall audit). Cost: O(members) + O(min(sigs, cap)²) per bucket
#      at any corpus size. (First cut dropped over-full buckets whole —
#      member coverage of the dominant blank-image class collapsed to
#      ~1%; second cut chained members in signature order — 57%; the
#      group-collapse scheme covers every mega-bucket member whose
#      bucket keeps rep count <= cap.)
#   5. verify candidates only: Hamming <= 3 over the full 64 bits, plus
#      an exact L1 distance over the 72 decoded grid pixels.
#
# HAMMING_IMG_MAX = IMG_BANDS - 1 is the pigeonhole threshold: <= 3 bit
# flips across 4 disjoint 16-bit bands leave at least one band intact,
# so the UNCAPPED band join finds EVERY qualifying pair — banding here
# is exact candidate generation, not an approximation. The only
# deliberate loss is pair ENUMERATION inside over-cap buckets (spanning
# chain, not the full clique); dedup_image_band_recall measures both
# honest numbers against the uncapped exact pair set — pair_recall (the
# declared enumeration trade-off) and member_recall (the share of
# images with a true near-dup that the scale path still surfaces — the
# number that decides whether an image gets deduplicated at all). Both
# are oracle-checked, so a cap/banding change that silently loses
# coverage fails the hash gate.

IMG_GRID_ROWS = 8
IMG_GRID_COLS = 9  # 9 columns -> 8 horizontal comparisons per row
IMG_BANDS = 4  # 16 bits per band
HAMMING_IMG_MAX = IMG_BANDS - 1  # pigeonhole-complete under banding
#: deterministic diversity cap (never sampled — sampling would be
#: engine-divergent): buckets whose member count, and mega-bucket rep
#: sets whose SIGNATURE diversity, stay at or under the cap enumerate
#: all pairs; beyond it the path degrades to the rep chain. 1024 bounds
#: worst-case per-bucket fan-out at ~cap²/2 ≈ 5·10⁵ four-XOR integer
#: verifies — executor-milliseconds — while keeping enumeration
#: complete for any bucket whose distinct-signature count fits the cap
#: (the realistic mega-bucket class — identical blank frames — has
#: diversity ~1).
IMG_BAND_BUCKET_CAP = 1024
#: exact-verify bound: mean abs pixel delta <= 16 gray levels over the
#: 72-pixel grid
IMG_VERIFY_L1_MAX = 16 * IMG_GRID_ROWS * IMG_GRID_COLS

DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("b0", IntegerType()),
        StructField("b1", IntegerType()),
        StructField("b2", IntegerType()),
        StructField("b3", IntegerType()),
        StructField("grid", ArrayType(IntegerType())),
    ]
)


def dhash_signatures(media: DataFrame) -> DataFrame:
    """(media_id, b0..b3, grid): 64-bit dHash as 4 x 16-bit bands plus
    the 72 sampled grid pixels, via the REAL ``decode_pgm`` parse.
    Arrow-batched mapInPandas, no shuffle; undecodable or identity-less
    rows quarantine (drop) exactly like the other media kernels."""
    weights = 1 << np.arange(16, dtype=np.int64)

    def row(r, w, h, raster):
        img = np.frombuffer(raster, dtype=np.uint8).reshape(h, w)
        ys = (np.arange(IMG_GRID_ROWS) * h) // IMG_GRID_ROWS
        xs = (np.arange(IMG_GRID_COLS) * w) // IMG_GRID_COLS
        g = img[np.ix_(ys, xs)].astype(np.int64)
        bits = (g[:, :-1] > g[:, 1:]).ravel().astype(np.int64)
        bands = [
            int((bits[b * 16 : (b + 1) * 16] * weights).sum())
            for b in range(IMG_BANDS)
        ]
        return [(r.media_id, *bands, [int(v) for v in g.ravel()])]

    return _media_map(media, DHASH_SCHEMA, row)


def _hamming_col(xa: str, yb: str):
    """Symmetric 64-bit Hamming distance between two 4-band signatures
    held in columns ``{xa}0..3`` / ``{yb}0..3``."""
    return sum(
        F.bit_count(
            F.col(f"{xa}{i}").bitwiseXOR(F.col(f"{yb}{i}")).cast("long")
        )
        for i in range(IMG_BANDS)
    ).cast("int")


def _band_pairs(sig: DataFrame, cap: int | None) -> DataFrame:
    """(media_id_a, media_id_b, hamming): verified pairs (Hamming <= 3)
    sharing at least one band bucket. ``cap=None`` is the EXACT
    qualifying pair set (pigeonhole, module comment); with a cap,
    buckets <= cap enumerate all pairs and over-cap buckets emit the
    signature-sorted predecessor chain (sorted-neighborhood fallback)."""
    from pyspark.sql.window import Window

    buckets = sig.select(
        "media_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "val"),
    )

    def all_pairs(b: DataFrame) -> DataFrame:
        x, y = b.alias("x"), b.alias("y")
        return x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.val") == F.col("y.val"))
            & (F.col("x.media_id") < F.col("y.media_id")),
        ).select(
            F.col("x.media_id").alias("media_id_a"),
            F.col("y.media_id").alias("media_id_b"),
            *[F.col(f"x.b{i}").alias(f"_xa{i}") for i in range(IMG_BANDS)],
            *[F.col(f"y.b{i}").alias(f"_yb{i}") for i in range(IMG_BANDS)],
        )

    sig_cols = [f"b{i}" for i in range(IMG_BANDS)]

    def chain_edges(df: DataFrame, order_cols: list[str]) -> DataFrame:
        """Predecessor-chain edges within (band, val), both endpoints'
        band sets carried for the hamming verify. Hamming is symmetric,
        so the band sets need no swap alongside least/greatest."""
        w = Window.partitionBy("band", "val").orderBy(*order_cols)
        prev = [F.lag("media_id").over(w).alias("_pid")] + [
            F.lag(c).over(w).alias(f"_p{c}") for c in sig_cols
        ]
        return (
            df.select("media_id", *sig_cols, "band", "val")
            .select("*", *prev)
            .filter(F.col("_pid").isNotNull())
            .select(
                F.least("_pid", "media_id").alias("media_id_a"),
                F.greatest("_pid", "media_id").alias("media_id_b"),
                *[
                    F.col(f"_pb{i}").alias(f"_xa{i}")
                    for i in range(IMG_BANDS)
                ],
                *[F.col(f"b{i}").alias(f"_yb{i}") for i in range(IMG_BANDS)],
            )
        )

    if cap is None:
        cand = all_pairs(buckets)
    else:
        n = F.count(F.lit(1)).over(Window.partitionBy("band", "val"))
        sized = buckets.withColumn("_bc", n)
        small = all_pairs(sized.filter(F.col("_bc") <= cap).drop("_bc"))
        mega = sized.filter(F.col("_bc") > cap).drop("_bc")
        # identical-signature groups chain internally (hamming 0, so
        # every edge survives the verify and the group stays connected)
        intra_w = Window.partitionBy("band", "val", *sig_cols).orderBy(
            "media_id"
        )
        intra = (
            mega.select(
                "media_id",
                *sig_cols,
                "band",
                "val",
                F.lag("media_id").over(intra_w).alias("_pid"),
            )
            .filter(F.col("_pid").isNotNull())
            .select(
                F.col("_pid").alias("media_id_a"),
                F.col("media_id").alias("media_id_b"),
                *[F.col(f"b{i}").alias(f"_xa{i}") for i in range(IMG_BANDS)],
                *[F.col(f"b{i}").alias(f"_yb{i}") for i in range(IMG_BANDS)],
            )
        )
        # one representative (min id) per distinct signature: the capped
        # quantity becomes signature DIVERSITY, not bucket population —
        # a bucket of millions of identical blank frames collapses to
        # one rep
        reps = mega.groupBy("band", "val", *sig_cols).agg(
            F.min("media_id").alias("media_id")
        )
        sc = F.count(F.lit(1)).over(Window.partitionBy("band", "val"))
        reps = reps.withColumn("_sc", sc)
        rep_small = all_pairs(reps.filter(F.col("_sc") <= cap).drop("_sc"))
        rep_chain = chain_edges(
            reps.filter(F.col("_sc") > cap).drop("_sc"),
            sig_cols + ["media_id"],
        )
        cand = small.unionByName(intra).unionByName(rep_small).unionByName(
            rep_chain
        )
    return (
        cand.withColumn("hamming", _hamming_col("_xa", "_yb"))
        .filter(F.col("hamming") <= HAMMING_IMG_MAX)
        .select("media_id_a", "media_id_b", "hamming")
        .distinct()
    )


def image_phash_pairs(sig: DataFrame) -> DataFrame:
    """Registered perceptual-dedup pair set: capped-band candidates,
    Hamming-verified, then EXACT grid-L1 verification joined in for the
    surviving pairs only (verify-on-candidates — the grid arrays never
    ride through the explode/join)."""
    pairs = _band_pairs(sig, IMG_BAND_BUCKET_CAP)
    ga = sig.select(
        F.col("media_id").alias("media_id_a"), F.col("grid").alias("_ga")
    )
    gb = sig.select(
        F.col("media_id").alias("media_id_b"), F.col("grid").alias("_gb")
    )
    l1 = F.aggregate(
        F.zip_with("_ga", "_gb", lambda a, b: F.abs(a - b)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(ga, "media_id_a")
        .join(gb, "media_id_b")
        .withColumn("grid_l1", l1.cast("int"))
        .select(
            "media_id_a",
            "media_id_b",
            "hamming",
            "grid_l1",
            (F.col("grid_l1") <= IMG_VERIFY_L1_MAX).alias("verified"),
        )
    )


def image_band_recall(
    sig: DataFrame, found_pairs: DataFrame | None = None
) -> DataFrame:
    """Single-row audit of the capped scale path vs the exact (uncapped,
    pigeonhole-complete) pair set — the image twin of
    similarity.ann_pair_recall, measuring the ONE approximation in the
    path (the over-cap chain fallback) on both axes: pair_recall (how
    much of the full clique enumeration the chain gives up — the
    declared trade-off) and member_recall (the share of images with a
    true near-dup that still surface in some found pair — what decides
    whether an image gets deduplicated at all).

    The truth side is GROUP-COLLAPSED (r13 ADVICE): it never enumerates
    id-level pairs. Identical-signature members contribute their full
    cliques arithmetically (C(cnt, 2) per distinct signature), and
    cross-signature pairs are counted at the distinct-signature level
    (band join over distinct signatures — pigeonhole-exact at Hamming
    <= 3 — weighted cnt_x * cnt_y, with an exact same-id correction for
    duplicate-id corpora where one media_id carries several signatures:
    minus |shared ids| self-pairs and C(|shared|, 2) double-ordered
    pairs). A mega-bucket of near-identical images — exactly the class
    IMG_BAND_BUCKET_CAP defends the found side against — costs the
    truth side O(members) + O(distinct signatures²) instead of
    O(bucket population²), so the audit survives the adversarial corpus
    whose loss it measures. Remaining quadratic term: buckets with many
    DISTINCT near-signatures, which is the exact baseline's inherent
    candidate set, not an enumeration artifact. Found pairs all verify
    Hamming <= 3, so found ⊆ truth structurally and the found-side
    counts need no truth join. One aggregation over a tagged union of
    weighted contribution rows — no 1-row cross join to stitch the
    grains together."""
    from demo_etl_spark.functions.fixedpoint import round_div

    sig_cols = [f"b{i}" for i in range(IMG_BANDS)]
    if found_pairs is None:
        found_pairs = _band_pairs(sig, IMG_BAND_BUCKET_CAP)
    found = found_pairs.select("media_id_a", "media_id_b").distinct()
    # mem/grp feed 3-4 plan branches each (the cross band join's two
    # sides, the same-id correction, member_ids, the tagged union) and
    # the static planner reuses NO exchange across branches — checkpoint
    # the two signature-level frames (|distinct signatures| rows, tiny)
    # so each is computed once instead of per branch (r14; measured
    # 3.1 s → see OPTIMIZATION_r14.md)
    mem = (
        sig.select("media_id", *sig_cols)
        .distinct()
        .localCheckpoint(eager=True)
    )
    grp = (
        mem.groupBy(*sig_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    # qualifying cross-signature pairs: band join over DISTINCT
    # signatures, canonical order = lexicographic on (b0..b3), DISTINCT
    # to collapse multi-band collisions of the same signature pair
    gb = grp.select(
        *sig_cols,
        "cnt",
        F.posexplode(F.array(*sig_cols)).alias("band", "val"),
    )
    x, y = gb.alias("gx"), gb.alias("gy")
    cross = (
        x.join(
            y,
            (F.col("gx.band") == F.col("gy.band"))
            & (F.col("gx.val") == F.col("gy.val"))
            & (
                F.struct(*[F.col(f"gx.b{i}") for i in range(IMG_BANDS)])
                < F.struct(*[F.col(f"gy.b{i}") for i in range(IMG_BANDS)])
            ),
        )
        .select(
            *[F.col(f"gx.b{i}").alias(f"_xa{i}") for i in range(IMG_BANDS)],
            *[F.col(f"gy.b{i}").alias(f"_yb{i}") for i in range(IMG_BANDS)],
            F.col("gx.cnt").alias("_cnt_x"),
            F.col("gy.cnt").alias("_cnt_y"),
        )
        .distinct()
        .withColumn("_ham", _hamming_col("_xa", "_yb"))
        .filter(F.col("_ham").between(1, HAMMING_IMG_MAX))
    )
    # same-id correction: ids carrying BOTH signatures of a pair (only
    # possible on duplicate-id corpora) — the cnt_x * cnt_y product
    # would otherwise count i (a, a) self-pairs and double-count
    # C(i, 2) both-ways pairs
    ma, mb = mem.alias("ma"), mem.alias("mb")
    shared = (
        ma.join(
            mb,
            (F.col("ma.media_id") == F.col("mb.media_id"))
            & (
                F.struct(*[F.col(f"ma.b{i}") for i in range(IMG_BANDS)])
                < F.struct(*[F.col(f"mb.b{i}") for i in range(IMG_BANDS)])
            ),
        )
        .groupBy(
            *[F.col(f"ma.b{i}").alias(f"_xa{i}") for i in range(IMG_BANDS)],
            *[F.col(f"mb.b{i}").alias(f"_yb{i}") for i in range(IMG_BANDS)],
        )
        .agg(F.count(F.lit(1)).cast("long").alias("_i"))
    )
    sig_keys = [f"_xa{i}" for i in range(IMG_BANDS)] + [
        f"_yb{i}" for i in range(IMG_BANDS)
    ]
    contrib = (
        cross.join(shared, sig_keys, "left")
        .withColumn("_iv", F.coalesce(F.col("_i"), F.lit(0)))
        .withColumn(
            "_w",
            F.expr(
                "_cnt_x * _cnt_y - _iv - (_iv * (_iv - 1)) div 2"
            ).cast("long"),
        )
        # consumed by three branches (tagged pt + both member_sigs
        # unions); qualifying signature-pair rows only — tiny
        .localCheckpoint(eager=True)
    )
    # member signatures: an id has SOME qualifying partner iff its
    # signature group self-pairs (cnt >= 2) or sits on a cross pair
    # with a positive pair count
    member_sigs = (
        grp.filter(F.col("cnt") >= 2)
        .select(*sig_cols)
        .unionByName(
            contrib.filter(F.col("_w") > 0).select(
                *[F.col(f"_xa{i}").alias(f"b{i}") for i in range(IMG_BANDS)]
            )
        )
        .unionByName(
            contrib.filter(F.col("_w") > 0).select(
                *[F.col(f"_yb{i}").alias(f"b{i}") for i in range(IMG_BANDS)]
            )
        )
        .distinct()
    )
    member_ids = (
        mem.join(member_sigs, sig_cols).select("media_id").distinct()
    )
    found_ids = (
        found.select(F.col("media_id_a").alias("id"))
        .unionByName(found.select(F.col("media_id_b").alias("id")))
        .distinct()
    )
    one = F.lit(1).cast("long")
    tagged = (
        grp.select(
            F.lit("pt").alias("_kind"),
            F.expr("(cnt * (cnt - 1)) div 2").cast("long").alias("_w"),
        )
        .unionByName(contrib.select(F.lit("pt").alias("_kind"), "_w"))
        .unionByName(found.select(F.lit("pf").alias("_kind"), one.alias("_w")))
        .unionByName(
            member_ids.select(F.lit("mt").alias("_kind"), one.alias("_w"))
        )
        .unionByName(
            found_ids.select(F.lit("mf").alias("_kind"), one.alias("_w"))
        )
    )

    def tot(kind: str):
        # coalesce: agg over an EMPTY tagged union (pair-free corpus)
        # yields NULL sums in Spark vs 0 in the oracle's COALESCE
        return F.coalesce(
            F.sum(F.when(F.col("_kind") == kind, F.col("_w")).otherwise(0)),
            F.lit(0),
        ).cast("long")

    return (
        tagged.agg(
            tot("pt").alias("n_exact_pairs"),
            tot("pf").alias("n_found"),
            tot("mt").alias("n_members"),
            tot("mf").alias("n_members_found"),
        )
        .select(
            "n_exact_pairs",
            "n_found",
            F.when(
                F.col("n_exact_pairs") > 0,
                round_div("n_found", "n_exact_pairs", 4),
            )
            .otherwise(F.lit(1.0))
            .alias("pair_recall"),
            "n_members",
            "n_members_found",
            F.when(
                F.col("n_members") > 0,
                round_div("n_members_found", "n_members", 4),
            )
            .otherwise(F.lit(1.0))
            .alias("member_recall"),
        )
    )


@session_memo
def _cached_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dHash signatures of the image media: the pair query and the recall
    audit share the decode+signature stage (the _cached_emb_pairs
    share-the-expensive-stage pattern)."""
    docs = load_star(spark, sf_dir)["documents"]
    media = synthesize_media(docs).filter(F.col("media_type") == "image")
    return dhash_signatures(media).localCheckpoint(eager=True)


@session_memo
def _cached_media_pairs(
    spark: SparkSession, sf_dir: str, kind: str
) -> DataFrame:
    """The PAIR set of one modality: each feeds its own registered seat
    plus the cross-modal agreement row (and the image set also the recall
    audit's found side) — without the checkpoint the agreement plan
    recomputed all three pair pipelines in full (plan audit: 294 static
    exchanges)."""
    if kind == "image":
        pairs = image_phash_pairs(_cached_dhash(spark, sf_dir))
    elif kind == "audio":
        pairs = audio_fingerprint_pairs(_cached_audio_sig(spark, sf_dir))
    else:
        pairs = video_chunk_pairs(_cached_video_chunks(spark, sf_dir))
    return pairs.localCheckpoint(eager=True)


def build_image_phash(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return _cached_media_pairs(spark, sf_dir, "image")


def build_image_band_recall(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    # found side = the registered pair seat's checkpointed output (the
    # pairs contain only id/hamming/l1 columns — the recall join needs
    # just the ids); truth side is rebuilt uncapped from the signatures
    return image_band_recall(
        _cached_dhash(spark, sf_dir),
        found_pairs=_cached_media_pairs(spark, sf_dir, "image"),
    )


# DuckDB twins: the raster is rpad(text, w*h, ' ') by construction
# (sanitized printable ASCII -> chars == bytes), the 9x8 grid pixel
# (y, x) sits at 1-based raster position ((y*h)//8)*w + ((x*w)//9) + 1,
# and each band is 16 unrolled grid comparisons.
_IMG_GRID_SQL = (
    "list_transform(range(0, {n}), i -> ascii(substr(raster, "
    "CAST((((i // {c}) * h) // {r}) * w + ((((i % {c}) * w) // {c})) + 1 "
    "AS BIGINT), 1)))"
).format(n=IMG_GRID_ROWS * IMG_GRID_COLS, r=IMG_GRID_ROWS, c=IMG_GRID_COLS)


def _img_band_sql(b: int) -> str:
    terms = []
    for j in range(16):
        i = b * 16 + j
        y, x = divmod(i, IMG_GRID_COLS - 1)
        left = y * IMG_GRID_COLS + x + 1  # 1-based list index
        terms.append(
            f"(CASE WHEN grid[{left}] > grid[{left + 1}] "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


def _band_pairs_sql(sig_ctes: str, capped: bool) -> str:
    """DuckDB twin of ``_band_pairs`` over ANY 4-band signature source:
    ``sig_ctes`` is a comma-separated CTE list whose last relation is
    ``sig(media_id, b0..b3, ...)``. The bucket/candidate machinery
    (small-bucket all-pairs, intra-signature chains, rep pairs, rep
    chain) is shared verbatim between the image dHash and the audio
    envelope fingerprint so the two twins cannot drift."""
    bands = ", ".join(f"({b}, b{b})" for b in range(IMG_BANDS))
    # hamming over the cand CTE's flattened aliases (xa0..3 / yb0..3)
    ham = " + ".join(
        f"bit_count(xor(xa{i}, yb{i}))" for i in range(IMG_BANDS)
    )
    xa = ", ".join(f"x.b{i} AS xa{i}" for i in range(IMG_BANDS))
    yb = ", ".join(f"y.b{i} AS yb{i}" for i in range(IMG_BANDS))
    if capped:
        pb = ", ".join(
            f"lag(b{i}) OVER wch AS pb{i}" for i in range(IMG_BANDS)
        )
        pxa = ", ".join(f"pb{i} AS xa{i}" for i in range(IMG_BANDS))
        cyb = ", ".join(f"b{i} AS yb{i}" for i in range(IMG_BANDS))
        both = ", ".join(
            f"b{i} AS xa{i}" for i in range(IMG_BANDS)
        ) + ", " + cyb
        sig = ", ".join(f"b{i}" for i in range(IMG_BANDS))
        cand = f"""
small AS (
  SELECT x.media_id AS media_id_a, y.media_id AS media_id_b, {xa}, {yb}
  FROM buckets x JOIN buckets y
    ON x.band = y.band AND x.val = y.val AND x.media_id < y.media_id
  WHERE x.bc <= {IMG_BAND_BUCKET_CAP}
),
mega AS (
  SELECT media_id, {sig}, band, val FROM buckets
  WHERE bc > {IMG_BAND_BUCKET_CAP}
),
intra AS (
  SELECT pid AS media_id_a, media_id AS media_id_b, {both}
  FROM (
    SELECT media_id, {sig},
           lag(media_id) OVER (PARTITION BY band, val, {sig}
                               ORDER BY media_id) AS pid
    FROM mega
  )
  WHERE pid IS NOT NULL
),
reps AS (
  SELECT band, val, {sig}, MIN(media_id) AS media_id,
         COUNT(*) OVER (PARTITION BY band, val) AS sc
  FROM mega GROUP BY band, val, {sig}
),
rep_small AS (
  SELECT x.media_id AS media_id_a, y.media_id AS media_id_b, {xa}, {yb}
  FROM reps x JOIN reps y
    ON x.band = y.band AND x.val = y.val AND x.media_id < y.media_id
  WHERE x.sc <= {IMG_BAND_BUCKET_CAP}
),
rep_chain AS (
  SELECT least(pid, media_id) AS media_id_a,
         greatest(pid, media_id) AS media_id_b,
         {pxa}, {cyb}
  FROM (
    SELECT media_id, {sig},
           lag(media_id) OVER wch AS pid, {pb}
    FROM reps
    WHERE sc > {IMG_BAND_BUCKET_CAP}
    WINDOW wch AS (PARTITION BY band, val
                   ORDER BY {sig}, media_id)
  )
  WHERE pid IS NOT NULL
),
cand AS (SELECT * FROM small UNION ALL SELECT * FROM intra
         UNION ALL SELECT * FROM rep_small
         UNION ALL SELECT * FROM rep_chain)"""
    else:
        cand = f"""
cand AS (
  SELECT x.media_id AS media_id_a, y.media_id AS media_id_b, {xa}, {yb}
  FROM buckets x JOIN buckets y
    ON x.band = y.band AND x.val = y.val AND x.media_id < y.media_id
)"""
    return f"""
WITH {sig_ctes},
buckets AS (
  SELECT media_id, b0, b1, b2, b3, bb.band, bb.val,
         COUNT(*) OVER (PARTITION BY bb.band, bb.val) AS bc
  FROM sig, LATERAL (VALUES {bands}) AS bb(band, val)
),{cand}
SELECT DISTINCT media_id_a, media_id_b, CAST({ham} AS INTEGER) AS hamming
FROM cand
WHERE {ham} <= {HAMMING_IMG_MAX}
"""


def _img_sig_ctes() -> str:
    return f"""m AS (
  SELECT doc_id AS media_id,
         CAST({_W_EXPR} AS INTEGER) AS w,
         CAST({_H_EXPR} AS INTEGER) AS h,
         rpad(text, CAST({_W_EXPR} * {_H_EXPR} AS INT), ' ') AS raster
  FROM {_MEDIA_SRC} docs
  WHERE doc_id % 3 = 0
),
g AS (SELECT media_id, {_IMG_GRID_SQL} AS grid FROM m),
sig AS (
  SELECT media_id, grid,
         {_img_band_sql(0)} AS b0, {_img_band_sql(1)} AS b1,
         {_img_band_sql(2)} AS b2, {_img_band_sql(3)} AS b3
  FROM g
)"""


def _img_pairs_sql(capped: bool) -> str:
    return _band_pairs_sql(_img_sig_ctes(), capped)


def _img_phash_oracle() -> str:
    l1 = (
        "CAST(list_sum(list_transform(range(1, {n}), "
        "k -> abs(ga.grid[k] - gb.grid[k]))) AS INTEGER)"
    ).format(n=IMG_GRID_ROWS * IMG_GRID_COLS + 1)
    return f"""
WITH pairs AS ({_img_pairs_sql(capped=True)}),
m AS (
  SELECT doc_id AS media_id,
         CAST({_W_EXPR} AS INTEGER) AS w,
         CAST({_H_EXPR} AS INTEGER) AS h,
         rpad(text, CAST({_W_EXPR} * {_H_EXPR} AS INT), ' ') AS raster
  FROM {_MEDIA_SRC} docs
  WHERE doc_id % 3 = 0
),
grids AS (SELECT media_id, {_IMG_GRID_SQL} AS grid FROM m)
SELECT p.media_id_a, p.media_id_b, p.hamming,
       {l1} AS grid_l1,
       {l1} <= {IMG_VERIFY_L1_MAX} AS verified
FROM pairs p
JOIN grids ga ON ga.media_id = p.media_id_a
JOIN grids gb ON gb.media_id = p.media_id_b
"""


ORACLE_SQL_IMAGE_PHASH = _img_phash_oracle()


def _img_band_recall_oracle() -> str:
    """DuckDB twin of the GROUP-COLLAPSED truth side (r13 ADVICE): same
    distinct-signature arithmetic as the Spark path — C(cnt, 2) cliques
    per signature, band-joined distinct-signature cross pairs weighted
    cnt_x * cnt_y with the exact same-id correction — so the two
    engines cannot drift on the collapse math."""
    from demo_etl_spark.functions.fixedpoint import round_div_expr

    def rec(hit: str, tot: str) -> str:
        return (
            f"CASE WHEN {tot} = 0 THEN CAST(1.0 AS DOUBLE) "
            f"ELSE {round_div_expr(hit, tot, 4, 'duckdb')} END"
        )

    sig = ", ".join(f"b{i}" for i in range(IMG_BANDS))
    xa = ", ".join(f"x.b{i} AS xa{i}" for i in range(IMG_BANDS))
    yb = ", ".join(f"y.b{i} AS yb{i}" for i in range(IMG_BANDS))
    axa = ", ".join(f"a.b{i} AS xa{i}" for i in range(IMG_BANDS))
    byb = ", ".join(f"b.b{i} AS yb{i}" for i in range(IMG_BANDS))
    xrow = "(" + ", ".join(f"x.b{i}" for i in range(IMG_BANDS)) + ")"
    yrow = "(" + ", ".join(f"y.b{i}" for i in range(IMG_BANDS)) + ")"
    arow = "(" + ", ".join(f"a.b{i}" for i in range(IMG_BANDS)) + ")"
    brow = "(" + ", ".join(f"b.b{i}" for i in range(IMG_BANDS)) + ")"
    ham = " + ".join(
        f"bit_count(xor(xa{i}, yb{i}))" for i in range(IMG_BANDS)
    )
    keys = " AND ".join(
        f"s.xa{i} = c.xa{i} AND s.yb{i} = c.yb{i}"
        for i in range(IMG_BANDS)
    )
    bands = ", ".join(f"({b}, b{b})" for b in range(IMG_BANDS))
    return f"""
WITH {_img_sig_ctes()},
mem AS (SELECT DISTINCT media_id, {sig} FROM sig),
grp AS (
  SELECT {sig}, CAST(COUNT(*) AS BIGINT) AS cnt FROM mem GROUP BY {sig}
),
gb AS (
  SELECT {sig}, cnt, bb.band, bb.val
  FROM grp, LATERAL (VALUES {bands}) AS bb(band, val)
),
crossq AS (
  SELECT DISTINCT {xa}, {yb}, x.cnt AS cnt_x, y.cnt AS cnt_y
  FROM gb x JOIN gb y
    ON x.band = y.band AND x.val = y.val AND {xrow} < {yrow}
),
qual AS (
  SELECT * FROM crossq WHERE ({ham}) BETWEEN 1 AND {HAMMING_IMG_MAX}
),
shared AS (
  SELECT {axa}, {byb}, CAST(COUNT(*) AS BIGINT) AS i
  FROM mem a JOIN mem b
    ON a.media_id = b.media_id AND {arow} < {brow}
  GROUP BY ALL
),
contrib AS (
  SELECT c.*, COALESCE(s.i, 0) AS iv,
         CAST(c.cnt_x * c.cnt_y - COALESCE(s.i, 0)
              - (COALESCE(s.i, 0) * (COALESCE(s.i, 0) - 1)) // 2
              AS BIGINT) AS w
  FROM qual c LEFT JOIN shared s ON {keys}
),
member_sigs AS (
  SELECT {sig} FROM grp WHERE cnt >= 2
  UNION SELECT xa0, xa1, xa2, xa3 FROM contrib WHERE w > 0
  UNION SELECT yb0, yb1, yb2, yb3 FROM contrib WHERE w > 0
),
member_ids AS (
  SELECT DISTINCT media_id FROM mem JOIN member_sigs USING ({sig})
),
f AS (
  SELECT DISTINCT media_id_a, media_id_b
  FROM ({_img_pairs_sql(capped=True)})
),
fid AS (SELECT media_id_a AS id FROM f UNION SELECT media_id_b FROM f),
tot AS (
  SELECT
    CAST(COALESCE((SELECT SUM((cnt * (cnt - 1)) // 2) FROM grp), 0)
         + COALESCE((SELECT SUM(w) FROM contrib), 0) AS BIGINT)
      AS n_exact_pairs,
    CAST((SELECT COUNT(*) FROM f) AS BIGINT) AS n_found,
    CAST((SELECT COUNT(*) FROM member_ids) AS BIGINT) AS n_members,
    CAST((SELECT COUNT(*) FROM fid) AS BIGINT) AS n_members_found
)
SELECT n_exact_pairs, n_found,
       {rec("n_found", "n_exact_pairs")} AS pair_recall,
       n_members, n_members_found,
       {rec("n_members_found", "n_members")} AS member_recall
FROM tot
"""


ORACLE_SQL_IMAGE_BAND_RECALL = _img_band_recall_oracle()


# ----------------------------------------- audio envelope fingerprint ---
# The audio twin of the image dHash: a 32-bit fingerprint from the sign
# of consecutive ENERGY-ENVELOPE deltas — 33 equal sample windows over
# the decoded 8-bit PCM (same (i*n)//W nearest-neighbor boundary math as
# the image grid, so a time-stretch resample keeps window alignment),
# window energy = exact integer sum of squares, bit i = e[i] > e[i+1].
# Stored as 4x8-bit bands; candidate generation and the over-cap
# group-collapse fallback are _band_pairs / _band_pairs_sql VERBATIM
# (the machinery is signature-width-agnostic), with the same pigeonhole
# exactness at HAMMING_IMG_MAX = 3. Verification joins the exact
# 33-window envelopes back for an L1 distance on candidates only.
AUDIO_FP_WINDOWS = 33  # 32 delta bits = 4 bands x 8 bits


def audio_fingerprint_signatures(media: DataFrame) -> DataFrame:
    """(media_id, b0..b3, grid): 32-bit envelope fingerprint + the 33
    exact window energies, via the REAL container decode. Arrow-batched
    mapInPandas; identity-less/undecodable rows quarantine."""
    weights = 1 << np.arange(8, dtype=np.int64)

    def row(r, w, h, raster):
        n = w * h
        s = np.frombuffer(raster, dtype=np.uint8).astype(np.int64) - 128
        bounds = (np.arange(AUDIO_FP_WINDOWS + 1) * n) // AUDIO_FP_WINDOWS
        sq = np.concatenate(([0], np.cumsum(s * s)))
        e = sq[bounds[1:]] - sq[bounds[:-1]]  # exact window energies
        bits = (e[:-1] > e[1:]).astype(np.int64)
        bands = [
            int((bits[b * 8 : (b + 1) * 8] * weights).sum())
            for b in range(IMG_BANDS)
        ]
        return [(r.media_id, *bands, [int(v) for v in e])]

    return _media_map(media, DHASH_SCHEMA, row)


def audio_fingerprint_pairs(sig: DataFrame) -> DataFrame:
    """Near-dup audio pairs: banded fingerprint candidates (Hamming <=
    3, group-collapse cap fallback) + the exact envelope-L1 verify
    joined for survivors only — the audio mirror of
    ``image_phash_pairs``."""
    pairs = _band_pairs(sig, IMG_BAND_BUCKET_CAP)
    ga = sig.select(
        F.col("media_id").alias("media_id_a"), F.col("grid").alias("_ga")
    )
    gb = sig.select(
        F.col("media_id").alias("media_id_b"), F.col("grid").alias("_gb")
    )
    l1 = F.aggregate(
        F.zip_with("_ga", "_gb", lambda a, b: F.abs(a - b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        pairs.join(ga, "media_id_a")
        .join(gb, "media_id_b")
        .select(
            "media_id_a",
            "media_id_b",
            "hamming",
            l1.cast("long").alias("envelope_l1"),
        )
    )


@session_memo
def _cached_audio_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_star(spark, sf_dir)["documents"]
    media = synthesize_media(docs).filter(F.col("media_type") == "audio")
    return audio_fingerprint_signatures(media).localCheckpoint(eager=True)


def build_audio_fingerprint(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return _cached_media_pairs(spark, sf_dir, "audio")


def _audio_band_sql(b: int) -> str:
    terms = []
    for j in range(8):
        i = b * 8 + j
        terms.append(
            f"(CASE WHEN grid[{i + 1}] > grid[{i + 2}] "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


def _audio_sig_ctes() -> str:
    # window i covers 0-based samples [(i*n)//W, ((i+1)*n)//W);
    # energies are exact integer sums of (sample-128)^2 over the raster
    # chars (ASCII corpus: chars == bytes)
    W = AUDIO_FP_WINDOWS
    energy = (
        "CAST(COALESCE(list_sum(list_transform("
        f"range((i * n) // {W}, ((i + 1) * n) // {W}), "
        "k -> (ascii(substr(raster, CAST(k + 1 AS BIGINT), 1)) - 128) "
        "* (ascii(substr(raster, CAST(k + 1 AS BIGINT), 1)) - 128)"
        ")), 0) AS INTEGER)"
    )
    return f"""m AS (
  SELECT doc_id AS media_id,
         CAST({_W_EXPR} * {_H_EXPR} AS BIGINT) AS n,
         rpad(text, CAST({_W_EXPR} * {_H_EXPR} AS INT), ' ') AS raster
  FROM {_MEDIA_SRC} docs
  WHERE doc_id % 3 = 1
),
g AS (
  SELECT media_id,
         list_transform(range(0, {W}), i -> {energy}) AS grid
  FROM m
),
sig AS (
  SELECT media_id, grid,
         {_audio_band_sql(0)} AS b0, {_audio_band_sql(1)} AS b1,
         {_audio_band_sql(2)} AS b2, {_audio_band_sql(3)} AS b3
  FROM g
)"""


def _audio_fp_oracle() -> str:
    l1 = (
        "CAST(list_sum(list_transform(range(1, {n}), "
        "k -> abs(CAST(ga.grid[k] AS BIGINT) - CAST(gb.grid[k] AS BIGINT))"
        ")) AS BIGINT)"
    ).format(n=AUDIO_FP_WINDOWS + 1)
    return f"""
WITH pairs AS ({_band_pairs_sql(_audio_sig_ctes(), capped=True)}),
{_audio_sig_ctes()}
SELECT p.media_id_a, p.media_id_b, p.hamming, {l1} AS envelope_l1
FROM pairs p
JOIN sig ga ON ga.media_id = p.media_id_a
JOIN sig gb ON gb.media_id = p.media_id_b
"""


ORACLE_SQL_AUDIO_FINGERPRINT = _audio_fp_oracle()


# ------------------------------------------ video content-chunk dedup ---
# Near-dup VIDEOS by content-defined chunk fingerprints: the raster (the
# CONTENT, header stripped — so the same footage re-containered with
# different geometry metadata still matches on its shared prefix) is cut
# into fixed 1 KiB chunks, each md5-fingerprinted; candidate pairs come
# from a df-capped inverted index on chunk hash (a chunk shared by more
# than VIDEO_CHUNK_DF_CAP videos — the all-blank-frame boilerplate
# class — stops enumerating pairs and emits the consecutive-posting
# chain instead, the image operator's spanning fallback); containment is
# then computed EXACTLY for candidates only (the full |A∩B| via a
# per-pair chunk join — the cap bounds candidate generation, never the
# reported number). is_dup: shared covers >= VIDEO_CONTAIN_BP of the
# smaller video's distinct chunks, compared cross-multiplied in
# integers.
VIDEO_CHUNK_BYTES = 1024
VIDEO_CHUNK_DF_CAP = 64
#: majority-share threshold: the last chunk of a video is PARTIAL, so
#: two same-content videos whose containers pad to different lengths
#: always disagree on it — a k-chunk video can share at most k-1 chunks
#: with its re-encode, i.e. 50% at k=2. >= 50% of the smaller side is
#: the tightest threshold that still flags the re-encode class at small
#: chunk counts; long videos (k >> 1) sit near 100% and clear it
#: trivially.
VIDEO_CONTAIN_BP = 5000  # >= 50% of the smaller side's chunks

CHUNK_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("chunk_index", IntegerType()),
        StructField("chunk_hash", StringType()),
    ]
)


def video_chunk_hashes(media: DataFrame) -> DataFrame:
    """(media_id, chunk_index, chunk_hash): md5 per 1 KiB raster chunk
    via the REAL decode. Arrow-batched 1→N exploding mapInPandas;
    quarantine as everywhere else."""

    def row(r, w, h, raster):
        offsets = range(0, len(raster), VIDEO_CHUNK_BYTES)
        return [
            (r.media_id, i, hashlib.md5(raster[o : o + VIDEO_CHUNK_BYTES]).hexdigest())
            for i, o in enumerate(offsets)
        ]

    return _media_map(media, CHUNK_SCHEMA, row)


def video_chunk_pairs(
    chunks: DataFrame,
    cap: int = VIDEO_CHUNK_DF_CAP,
    contain_bp: int = VIDEO_CONTAIN_BP,
) -> DataFrame:
    """Candidate generation + exact containment verify over the chunk
    table (see module comment above)."""
    from pyspark.sql.window import Window

    from demo_etl_spark.functions.fixedpoint import fixed_ratio

    ch = chunks.select("media_id", F.col("chunk_hash").alias("h")).distinct()
    sizes = ch.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("int").alias("n")
    )
    dfc = ch.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    idx = ch.join(dfc, "h")
    small = idx.filter((F.col("_df") >= 2) & (F.col("_df") <= cap))
    cand_small = (
        small.alias("x")
        .join(
            small.alias("y"),
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.media_id") < F.col("y.media_id")),
        )
        .select(
            F.col("x.media_id").alias("media_id_a"),
            F.col("y.media_id").alias("media_id_b"),
        )
    )
    chain = Window.partitionBy("h").orderBy("media_id")
    cand_chain = (
        idx.filter(F.col("_df") > cap)
        .select("h", "media_id", F.lag("media_id").over(chain).alias("_pid"))
        .filter(F.col("_pid").isNotNull())
        .select(
            F.col("_pid").alias("media_id_a"),
            F.col("media_id").alias("media_id_b"),
        )
    )
    cand = cand_small.unionByName(cand_chain).distinct()
    # exact |A ∩ B| for candidates only: per-pair chunk equi-join
    inter = (
        cand.join(
            ch.select(F.col("media_id").alias("media_id_a"), "h"),
            "media_id_a",
        )
        .join(
            ch.select(F.col("media_id").alias("media_id_b"), "h"),
            ["media_id_b", "h"],
        )
        .groupBy("media_id_a", "media_id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_chunks"))
    )
    na = sizes.select(
        F.col("media_id").alias("media_id_a"), F.col("n").alias("n_chunks_a")
    )
    nb = sizes.select(
        F.col("media_id").alias("media_id_b"), F.col("n").alias("n_chunks_b")
    )
    return (
        inter.join(na, "media_id_a")
        .join(nb, "media_id_b")
        .select(
            "media_id_a",
            "media_id_b",
            "shared_chunks",
            "n_chunks_a",
            "n_chunks_b",
            fixed_ratio(
                "shared_chunks", "least(n_chunks_a, n_chunks_b)", 4
            ).alias("containment_bp"),
            F.expr(
                f"shared_chunks * 10000 >= {contain_bp} * "
                "least(n_chunks_a, n_chunks_b)"
            ).alias("is_dup"),
        )
    )


@session_memo
def _cached_video_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # eager checkpoint: the pair query fans the chunk table into ~8
    # consumers (index x/y, chain, intersection a/b, sizes a/b) — left
    # lazy, the static plan recomputed the decode+md5 MapInPandas stage
    # once PER BRANCH (plan audit: 20 Arrow stages / 92 exchanges).
    # Truncating the lineage decodes every payload exactly once.
    docs = load_star(spark, sf_dir)["documents"]
    media = synthesize_media(docs).filter(F.col("media_type") == "video")
    return video_chunk_hashes(media).localCheckpoint(eager=True)


def build_video_chunk_dedup(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return _cached_media_pairs(spark, sf_dir, "video")


def _video_chunk_oracle() -> str:
    from demo_etl_spark.functions.fixedpoint import fixed_ratio_expr

    bp = fixed_ratio_expr(
        "shared_chunks", "least(n_chunks_a, n_chunks_b)", 4, "duckdb"
    )
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         CAST({_W_EXPR} * {_H_EXPR} AS BIGINT) AS n,
         rpad(text, CAST({_W_EXPR} * {_H_EXPR} AS INT), ' ') AS raster
  FROM {_MEDIA_SRC} docs
  WHERE doc_id % 3 = 2
),
ch AS (
  SELECT DISTINCT media_id,
         md5(substr(raster, CAST(off + 1 AS BIGINT), {VIDEO_CHUNK_BYTES}))
           AS h
  FROM (
    SELECT media_id, raster,
           unnest(generate_series(0, n - 1, {VIDEO_CHUNK_BYTES})) AS off
    FROM m
  )
),
sizes AS (SELECT media_id, CAST(COUNT(*) AS INTEGER) AS n FROM ch GROUP BY 1),
dfc AS (SELECT h, COUNT(*) AS df FROM ch GROUP BY 1),
idx AS (SELECT ch.media_id, ch.h, dfc.df FROM ch JOIN dfc USING (h)),
cand_small AS (
  SELECT x.media_id AS media_id_a, y.media_id AS media_id_b
  FROM idx x JOIN idx y ON x.h = y.h AND x.media_id < y.media_id
  WHERE x.df BETWEEN 2 AND {VIDEO_CHUNK_DF_CAP}
),
cand_chain AS (
  SELECT pid AS media_id_a, media_id AS media_id_b
  FROM (
    SELECT media_id,
           lag(media_id) OVER (PARTITION BY h ORDER BY media_id) AS pid
    FROM idx WHERE df > {VIDEO_CHUNK_DF_CAP}
  )
  WHERE pid IS NOT NULL
),
cand AS (
  SELECT DISTINCT * FROM
    (SELECT * FROM cand_small UNION ALL SELECT * FROM cand_chain)
),
inter AS (
  SELECT c.media_id_a, c.media_id_b,
         CAST(COUNT(*) AS BIGINT) AS shared_chunks
  FROM cand c
  JOIN ch a ON a.media_id = c.media_id_a
  JOIN ch b ON b.media_id = c.media_id_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT i.media_id_a, i.media_id_b, i.shared_chunks,
       sa.n AS n_chunks_a, sb.n AS n_chunks_b,
       {bp} AS containment_bp,
       i.shared_chunks * 10000 >= {VIDEO_CONTAIN_BP}
         * least(sa.n, sb.n) AS is_dup
FROM inter i
JOIN sizes sa ON sa.media_id = i.media_id_a
JOIN sizes sb ON sb.media_id = i.media_id_b
"""


ORACLE_SQL_VIDEO_CHUNK_DEDUP = _video_chunk_oracle()


# ------------------------------------------ cross-modal dedup agreement -
# Governance audit tying the media-dedup family together: every media
# row derives from a document, so the TEXT-level near-dup detector
# (dedup.ngram_jaccard_pairs) and each modality's media fingerprint
# see the same underlying duplicate structure from different angles.
# Per modality (pairs restricted to ids sharing that modality class),
# the audit reports both detectors' pair counts, their overlap, and
# the set-Jaccard — the dedup_method_agreement shape. The measured
# fact it pins: raster/envelope/chunk fingerprints are GEOMETRY-bound
# (the synthesizer derives geometry from doc_id, so text-similar pairs
# never share a layout and the populations are near-disjoint) — which
# is exactly why a production curation stack runs text AND media
# detectors side by side and dedups on the UNION. A detector change
# that shifts any population silently fails the hash gate.
def media_dedup_agreement(
    text_pairs: DataFrame,
    image_pairs: DataFrame,
    audio_pairs: DataFrame,
    video_pairs: DataFrame,
    ctx: RunContext = DEFAULT_CONTEXT,
) -> DataFrame:
    """(modality, n_text_pairs, n_media_pairs, n_both, set_jaccard):
    per-modality agreement between the text near-dup detector and the
    media fingerprint detector."""
    from demo_etl_spark.functions.fixedpoint import round_div

    # Truth is restricted to the MEDIA domain: synthesize_media derives
    # rows only from doc_id >= 0 (negative ids — the hostile corpus'
    # sentinel class — have no media rows at all), and a negative doc_a
    # would also poison the modality tag: Spark's % keeps the dividend
    # sign, so doc_a ≡ -1 (mod 3) yields _m = -1 and element_at(..., 0)
    # crashes with INVALID_INDEX_OF_ZERO while DuckDB's [0] returns NULL
    # — a crash-vs-NULL cross-engine divergence (r13 ADVICE). Pairs are
    # ordered doc_a <= doc_b, so doc_a >= 0 bounds both ends.
    truth = (
        text_pairs.select("doc_a", "doc_b")
        .filter(
            (F.col("doc_a") >= 0)
            & (F.col("doc_a") % 3 == F.col("doc_b") % 3)
        )
        .select(
            (F.col("doc_a") % 3).cast("int").alias("_m"),
            F.col("doc_a").alias("media_id_a"),
            F.col("doc_b").alias("media_id_b"),
        )
        # r14: text_pairs now arrives as dedup's checkpointed
        # _cached_ngram_pairs memo, so the double consumption (count +
        # intersection join) re-filters a pair-sized checkpoint instead
        # of re-running the band-join pipeline — no further
        # materialization needed here (map-only off a checkpoint)
    )
    found = (
        image_pairs.select("media_id_a", "media_id_b")
        .withColumn("_m", F.lit(0))
        .unionByName(
            audio_pairs.select("media_id_a", "media_id_b").withColumn(
                "_m", F.lit(1)
            )
        )
        .unionByName(
            video_pairs.filter(F.col("is_dup"))
            .select("media_id_a", "media_id_b")
            .withColumn("_m", F.lit(2))
        )
    )
    keys = ["_m", "media_id_a", "media_id_b"]
    t_cnt = truth.groupBy("_m").agg(
        F.count(F.lit(1)).cast("long").alias("n_text_pairs")
    )
    f_cnt = found.groupBy("_m").agg(
        F.count(F.lit(1)).cast("long").alias("n_media_pairs")
    )
    b_cnt = truth.join(found, keys).groupBy("_m").agg(
        F.count(F.lit(1)).cast("long").alias("n_both")
    )
    merged = (
        t_cnt.join(f_cnt, "_m", "full")
        .join(b_cnt, "_m", "full")
        .select(
            "_m",
            F.coalesce("n_text_pairs", F.lit(0)).cast("long").alias(
                "n_text_pairs"
            ),
            F.coalesce("n_media_pairs", F.lit(0)).cast("long").alias(
                "n_media_pairs"
            ),
            F.coalesce("n_both", F.lit(0)).cast("long").alias("n_both"),
        )
    )
    union_n = "n_text_pairs + n_media_pairs - n_both"
    return merged.select(
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            F.col("_m") + 1,
        ).alias("modality"),
        "n_text_pairs",
        "n_media_pairs",
        "n_both",
        # vacuous agreement (both sets empty) is 1.0, not a div-by-zero
        F.when(
            F.expr(union_n) > 0, round_div("n_both", union_n, 4)
        )
        .otherwise(F.lit(1.0))
        .alias("set_jaccard"),
    )


def build_media_dedup_agreement(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    from demo_etl_spark.operators import dedup as _ddp

    return media_dedup_agreement(
        _ddp.build_ngram(spark, sf_dir),
        _cached_media_pairs(spark, sf_dir, "image"),
        _cached_media_pairs(spark, sf_dir, "audio"),
        _cached_media_pairs(spark, sf_dir, "video"),
        ctx,
    )


def _ngram_sql() -> str:
    from demo_etl_spark.operators import dedup as _ddp

    return _ddp.ORACLE_SQL_NGRAM


def _media_agreement_oracle() -> str:
    from demo_etl_spark.functions.fixedpoint import round_div_expr

    union_n = "n_text_pairs + n_media_pairs - n_both"
    return f"""
WITH truth AS (
  SELECT CAST(doc_a % 3 AS INT) AS m, doc_a AS a, doc_b AS b
  FROM ({_ngram_sql()})
  WHERE doc_a % 3 = doc_b % 3 AND doc_a >= 0
),
found AS (
  SELECT 0 AS m, media_id_a AS a, media_id_b AS b
  FROM ({ORACLE_SQL_IMAGE_PHASH})
  UNION ALL
  SELECT 1, media_id_a, media_id_b FROM ({ORACLE_SQL_AUDIO_FINGERPRINT})
  UNION ALL
  SELECT 2, media_id_a, media_id_b
  FROM ({ORACLE_SQL_VIDEO_CHUNK_DEDUP}) WHERE is_dup
),
t_cnt AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n_text_pairs
          FROM truth GROUP BY m),
f_cnt AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS n_media_pairs
          FROM found GROUP BY m),
b_cnt AS (
  SELECT t.m, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM truth t JOIN found f ON f.m = t.m AND f.a = t.a AND f.b = t.b
  GROUP BY t.m
),
merged AS (
  SELECT COALESCE(t.m, f.m) AS m,
         CAST(COALESCE(n_text_pairs, 0) AS BIGINT) AS n_text_pairs,
         CAST(COALESCE(n_media_pairs, 0) AS BIGINT) AS n_media_pairs,
         CAST(COALESCE(n_both, 0) AS BIGINT) AS n_both
  FROM t_cnt t
  FULL OUTER JOIN f_cnt f ON f.m = t.m
  LEFT JOIN b_cnt b ON b.m = COALESCE(t.m, f.m)
)
SELECT ['image', 'audio', 'video'][m + 1] AS modality,
       n_text_pairs, n_media_pairs, n_both,
       CASE WHEN {union_n} > 0 THEN
         {round_div_expr("n_both", union_n, 4, "duckdb")}
       ELSE CAST(1.0 AS DOUBLE) END AS set_jaccard
FROM merged
"""


ORACLE_SQL_MEDIA_AGREEMENT = _media_agreement_oracle()


def _warm_shared_memos(spark: SparkSession, sf_dir: str) -> None:
    """Memo warmer (bench accounting contract, test_registry): the three
    media signature/chunk checkpoints each feed TWO+ registered queries
    (their own pair seat + the cross-modal agreement row; the dHash
    frame also feeds the band-recall audit) — warm them in the declared
    warm-up stage so bench per-query numbers never absorb a shared
    decode."""
    _cached_dhash(spark, sf_dir)  # eager localCheckpoint
    _cached_audio_sig(spark, sf_dir)
    _cached_video_chunks(spark, sf_dir)
    for kind in ("image", "audio", "video"):
        _cached_media_pairs(spark, sf_dir, kind)
    # union-CC labels (dedup_image_clusters + media_dedup_profile); the
    # fixpoint materializes eagerly inside dedup_clusters
    _cached_media_labels(spark, sf_dir)


register_memo_warmer(_warm_shared_memos)


# ---------------------------------------------- image dedup clusters ----
# The keep-one decision for the image family: connected-component labels
# over the VERIFIED image pair graph (hamming <= 3 AND grid-L1 within
# bound), via dedup.dedup_clusters' pointer-jumping min-label
# propagation — the same O(log diameter) machinery the text path uses,
# fed a different pair set. Canonical = component min media_id, the
# deterministic pick both engines agree on. Output mirrors
# dedup_clusters: one row per image in a non-trivial cluster.
def _media_union_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected dedup edges across all three modalities, each family
    filtered by its own keep criterion (image: grid verify; audio: all
    Hamming-verified pairs are near-dup by construction; video: the
    containment verdict)."""
    img = (
        _cached_media_pairs(spark, sf_dir, "image")
        .filter(F.col("verified"))
        .select("media_id_a", "media_id_b")
    )
    aud = _cached_media_pairs(spark, sf_dir, "audio").select(
        "media_id_a", "media_id_b"
    )
    vid = (
        _cached_media_pairs(spark, sf_dir, "video")
        .filter(F.col("is_dup"))
        .select("media_id_a", "media_id_b")
    )
    return (
        img.unionByName(aud)
        .unionByName(vid)
        .select(
            F.col("media_id_a").alias("doc_a"),
            F.col("media_id_b").alias("doc_b"),
        )
    )


@session_memo
def _cached_media_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labels over the UNION of the three verified media pair
    graphs (r14 optimization): modality classes partition the id space
    (media_type = doc_id % 3) and edges never cross modalities, so ONE
    pointer-jumping CC pass labels all three families at once — and its
    restriction to image-modality ids is bit-identical to a CC pass over
    the image pairs alone (disjoint id sets cannot change any component
    or its min label). Two registered seats consume it
    (dedup_image_clusters, media_dedup_profile); before this memo each
    ran its own full iterative fixpoint (measured 3.0 s + 5.8 s at sf0.1
    — the two slowest media seats in the r14 baseline bench)."""
    from demo_etl_spark.operators.dedup import dedup_clusters

    return dedup_clusters(
        None, DEFAULT_CONTEXT, pairs=_media_union_pairs(spark, sf_dir)
    )


def build_image_dedup_clusters(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    # the image restriction of the shared union-CC labels (see the memo
    # note above for the exactness argument: image ids are ≡ 0 mod 3 and
    # no edge crosses a modality class)
    labels = _cached_media_labels(spark, sf_dir).filter(
        F.col("doc_id") % 3 == 0
    )
    return labels.select(
        F.col("doc_id").alias("media_id"),
        F.col("cluster_id"),
        F.col("is_canonical"),
    )


ORACLE_SQL_IMAGE_CLUSTERS = f"""
WITH RECURSIVE ipairs AS (
  SELECT media_id_a AS doc_a, media_id_b AS doc_b
  FROM ({ORACLE_SQL_IMAGE_PHASH}) WHERE verified
),
edges AS (
  SELECT doc_a, doc_b FROM ipairs
  UNION
  SELECT doc_b, doc_a FROM ipairs
),
reach (src, dst) AS (
  SELECT doc_a, doc_a FROM edges
  UNION
  SELECT e.doc_a, r.dst
  FROM edges e JOIN reach r ON e.doc_b = r.src
),
labels AS (
  SELECT src AS media_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT media_id, cluster_id, media_id = cluster_id AS is_canonical
FROM labels
"""


# ------------------------------------------ incremental image dedup ----
# The media twin of dedup.incremental_dedup (r13 verdict item 3): dedup
# a NEW media shard against the EXISTING corpus — the production mode of
# a continuously-fed multimodal crawl, where re-pairing the settled
# corpus against itself each snapshot redoes quadratic work. Shard
# membership reuses the text path's deterministic slot split
# (dedup.INCR_MOD / INCR_SLOT) so the two registered exercises carve
# the same corpus the same way.
#
# Only CROSS-BOUNDARY (new × corpus) band-bucket candidates are
# generated — the corpus side never self-joins, so per-batch cost
# scales with the INCREMENT times bucket width, not the corpus². The
# corpus side of an over-cap bucket collapses to distinct-signature
# representatives (min media_id per signature — the _band_pairs
# group-collapse, applied one-sided): hamming is signature-determined,
# so NO candidate signature is ever lost to the cap; what the cap
# trades away is only the choice WITHIN an identical-signature corpus
# group (the rep, lowest id, stands for the group — its grid decides
# grid_l1). Verification is exact on candidates only, and the verdict
# ranking is all-integer: is_dup DESC, hamming ASC, grid_l1 ASC,
# corpus id ASC — never a float sort key.


def incremental_band_dedup(
    sig: DataFrame,
    cap: int = IMG_BAND_BUCKET_CAP,
    l1_max: int | None = IMG_VERIFY_L1_MAX,
    l1_name: str = "grid_l1",
) -> DataFrame:
    """One verdict row per NEW media row over ANY 4-band signature frame
    (media_id, b0..b3, grid): best corpus match (integer-ranked), the
    hamming/exact-L1 evidence, and ``is_new``. Shared by the image
    (dHash grid, L1-verified at ``l1_max``) and audio (envelope
    fingerprint, every Hamming-verified candidate is a duplicate —
    ``l1_max=None`` — matching audio_fingerprint_pairs' semantics, with
    the L1 kept as ranking evidence) incremental paths, the same
    signature-width-agnostic sharing as ``_band_pairs``. New rows whose
    bands collide with nothing are trivially new."""
    from pyspark.sql.window import Window

    from demo_etl_spark.operators.dedup import INCR_MOD, INCR_SLOT

    sig_cols = [f"b{i}" for i in range(IMG_BANDS)]
    is_new_slot = F.col("media_id") % INCR_MOD == INCR_SLOT
    new = sig.filter(is_new_slot)
    cor = sig.filter(~is_new_slot)

    def exploded(df: DataFrame) -> DataFrame:
        return df.select(
            "media_id",
            *sig_cols,
            F.posexplode(F.array(*sig_cols)).alias("band", "val"),
        )

    nb = exploded(new).select(
        F.col("media_id").alias("media_id_n"),
        *[F.col(f"b{i}").alias(f"_xa{i}") for i in range(IMG_BANDS)],
        "band",
        "val",
    )
    cb = exploded(cor)
    bc = F.count(F.lit(1)).over(Window.partitionBy("band", "val"))
    cb = cb.withColumn("_bc", bc)
    small = cb.filter(F.col("_bc") <= cap)
    reps = (
        cb.filter(F.col("_bc") > cap)
        .groupBy("band", "val", *sig_cols)
        .agg(F.min("media_id").alias("media_id"))
    )
    cor_cand = small.select(
        "media_id", *sig_cols, "band", "val"
    ).unionByName(reps.select("media_id", *sig_cols, "band", "val"))
    cand = (
        nb.join(cor_cand, ["band", "val"])
        .select(
            "media_id_n",
            F.col("media_id").alias("media_id_c"),
            *[F.col(f"_xa{i}") for i in range(IMG_BANDS)],
            *[F.col(f"b{i}").alias(f"_yb{i}") for i in range(IMG_BANDS)],
        )
        .distinct()
        .withColumn("hamming", _hamming_col("_xa", "_yb"))
        .filter(F.col("hamming") <= HAMMING_IMG_MAX)
    )
    ga = sig.select(F.col("media_id").alias("media_id_n"), F.col("grid").alias("_ga"))
    gb = sig.select(F.col("media_id").alias("media_id_c"), F.col("grid").alias("_gb"))
    l1_type = "int" if l1_max is not None else "long"
    l1 = F.aggregate(
        F.zip_with("_ga", "_gb", lambda a, b: F.abs(a - b).cast(l1_type)),
        F.lit(0).cast(l1_type),
        lambda acc, v: acc + v,
    )
    verdict = (
        F.lit(True) if l1_max is None else F.col(l1_name) <= l1_max
    )
    # r14 (guide §2.3): the grids are projected OFF right after the L1
    # is computed — only (ids, hamming, l1, flag) ever reach an
    # exchange — and the best-match pick is a hash AGGREGATE
    # min(struct(NOT is_dup, hamming, l1, media_id_c)) ≡ the former
    # row_number() over (is_dup DESC, hamming ASC, l1 ASC, id ASC) = 1
    # (booleans order false < true), with map-side partial merge
    # instead of a sort window over grid-carrying rows.
    scored = (
        cand.join(ga, "media_id_n")
        .join(gb, "media_id_c")
        .withColumn(l1_name, l1.cast(l1_type))
        .withColumn("_is_dup", verdict)
        .select("media_id_n", "media_id_c", "hamming", l1_name, "_is_dup")
    )
    best = (
        scored.groupBy("media_id_n")
        .agg(
            F.min(
                F.struct(
                    (~F.col("_is_dup")).alias("_nd"),
                    F.col("hamming").alias("hamming"),
                    F.col(l1_name).alias(l1_name),
                    F.col("media_id_c").alias("media_id_c"),
                )
            ).alias("_b")
        )
        .select(
            "media_id_n",
            F.col("_b.media_id_c").alias("media_id_c"),
            F.col("_b.hamming").alias("hamming"),
            F.col(f"_b.{l1_name}").alias(l1_name),
            (~F.col("_b._nd")).alias("_is_dup"),
        )
    )
    incoming = new.select(F.col("media_id").alias("media_id_n")).distinct()
    return incoming.join(best, "media_id_n", "left").select(
        F.col("media_id_n").alias("media_id"),
        F.col("media_id_c").alias("best_match"),
        "hamming",
        l1_name,
        F.coalesce(~F.col("_is_dup"), F.lit(True)).alias("is_new"),
    )


def build_media_incremental(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return incremental_band_dedup(_cached_dhash(spark, sf_dir))


def build_audio_incremental(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    """Audio new-shard-vs-corpus: the envelope-fingerprint frame through
    the shared band-incremental machinery — every Hamming-verified
    candidate is a duplicate (the audio pair seat's semantics), the
    exact envelope L1 is ranking evidence only."""
    return incremental_band_dedup(
        _cached_audio_sig(spark, sf_dir), l1_max=None, l1_name="envelope_l1"
    )


def _media_incremental_oracle(
    sig_ctes: str | None = None,
    l1: str | None = None,
    l1_name: str = "grid_l1",
    verdict: str | None = None,
) -> str:
    """DuckDB twin of ``incremental_band_dedup`` over ANY 4-band
    signature CTE chain (image dHash default; audio envelope via the
    parameters) — the one-sided capped candidate machinery is shared
    verbatim so the family twins cannot drift."""
    from demo_etl_spark.operators.dedup import INCR_MOD, INCR_SLOT

    sig = ", ".join(f"b{i}" for i in range(IMG_BANDS))
    xa = ", ".join(f"n.b{i} AS xa{i}" for i in range(IMG_BANDS))
    yb = ", ".join(f"c.b{i} AS yb{i}" for i in range(IMG_BANDS))
    ham = " + ".join(
        f"bit_count(xor(xa{i}, yb{i}))" for i in range(IMG_BANDS)
    )
    if sig_ctes is None:
        sig_ctes = _img_sig_ctes()
    if l1 is None:
        l1 = (
            "CAST(list_sum(list_transform(range(1, {n}), "
            "k -> abs(ga.grid[k] - gb.grid[k]))) AS INTEGER)"
        ).format(n=IMG_GRID_ROWS * IMG_GRID_COLS + 1)
    if verdict is None:
        verdict = f"{l1} <= {IMG_VERIFY_L1_MAX}"
    return f"""
WITH {sig_ctes},
nb AS (
  SELECT media_id, {sig}, bb.band, bb.val
  FROM sig, LATERAL (VALUES {", ".join(f"({b}, b{b})" for b in range(IMG_BANDS))}) AS bb(band, val)
  WHERE media_id % {INCR_MOD} = {INCR_SLOT}
),
cb AS (
  SELECT media_id, {sig}, bb.band, bb.val,
         COUNT(*) OVER (PARTITION BY bb.band, bb.val) AS bc
  FROM sig, LATERAL (VALUES {", ".join(f"({b}, b{b})" for b in range(IMG_BANDS))}) AS bb(band, val)
  WHERE media_id % {INCR_MOD} <> {INCR_SLOT}
),
cor_cand AS (
  SELECT media_id, {sig}, band, val FROM cb WHERE bc <= {IMG_BAND_BUCKET_CAP}
  UNION ALL
  SELECT MIN(media_id), {sig}, band, val FROM cb
  WHERE bc > {IMG_BAND_BUCKET_CAP} GROUP BY {sig}, band, val
),
cand AS (
  SELECT DISTINCT n.media_id AS media_id_n, c.media_id AS media_id_c,
         {xa}, {yb}
  FROM nb n JOIN cor_cand c ON c.band = n.band AND c.val = n.val
),
ham_ok AS (
  SELECT media_id_n, media_id_c, CAST({ham} AS INTEGER) AS hamming
  FROM cand WHERE ({ham}) <= {HAMMING_IMG_MAX}
),
scored AS (
  SELECT h.media_id_n, h.media_id_c, h.hamming,
         {l1} AS {l1_name},
         {verdict} AS is_dup
  FROM ham_ok h
  JOIN sig ga ON ga.media_id = h.media_id_n
  JOIN sig gb ON gb.media_id = h.media_id_c
),
best AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY media_id_n
    ORDER BY is_dup DESC, hamming, {l1_name}, media_id_c) AS rn
  FROM scored
)
SELECT i.media_id, b.media_id_c AS best_match, b.hamming, b.{l1_name},
       COALESCE(NOT b.is_dup, TRUE) AS is_new
FROM (SELECT DISTINCT media_id FROM sig
      WHERE media_id % {INCR_MOD} = {INCR_SLOT}) i
LEFT JOIN best b ON b.media_id_n = i.media_id AND b.rn = 1
"""


ORACLE_SQL_MEDIA_INCREMENTAL = _media_incremental_oracle()

_AUDIO_INCR_L1 = (
    "CAST(list_sum(list_transform(range(1, {n}), "
    "k -> abs(CAST(ga.grid[k] AS BIGINT) - CAST(gb.grid[k] AS BIGINT))"
    ")) AS BIGINT)"
).format(n=AUDIO_FP_WINDOWS + 1)

ORACLE_SQL_AUDIO_INCREMENTAL = _media_incremental_oracle(
    sig_ctes=_audio_sig_ctes(),
    l1=_AUDIO_INCR_L1,
    l1_name="envelope_l1",
    verdict="TRUE",
)


# ------------------------------------------ media governance profile ----
# The media twin of dedup.dedup_cluster_profile (r13 verdict item 6):
# one dashboard row per modality — corpus size, rows in a non-trivial
# dedup cluster, rows the keep-canonical policy drops, distinct
# clusters, drop rate. Cluster labels come from ONE connected-components
# pass (the shared pointer-jumping machinery) over the UNION of the
# three verified pair graphs: modality classes partition the id space
# (media_type = doc_id % 3) and edges never cross modalities, so a
# single CC run labels all three families at once without components
# bleeding across. Audio pairs are all near-dup by construction
# (Hamming-verified); image pairs filter on the grid verify, video
# pairs on the containment verdict — each family's own keep criterion.


def build_media_dedup_profile(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    from demo_etl_spark.functions.fixedpoint import round_div

    # the shared union-CC labels memo (see _cached_media_labels): the
    # same frame dedup_image_clusters restricts — one fixpoint, two seats
    labels = _cached_media_labels(spark, sf_dir)
    corpus = (
        _cached_dhash(spark, sf_dir)
        .select("media_id")
        .withColumn("modality", F.lit("image"))
        .unionByName(
            _cached_audio_sig(spark, sf_dir)
            .select("media_id")
            .withColumn("modality", F.lit("audio"))
        )
        .unionByName(
            _cached_video_chunks(spark, sf_dir)
            .select("media_id")
            .distinct()
            .withColumn("modality", F.lit("video"))
        )
    )
    j = corpus.join(
        labels.withColumnRenamed("doc_id", "media_id"), "media_id", "left"
    )
    return (
        j.groupBy("modality")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_media"),
            F.count("cluster_id").cast("long").alias("n_in_clusters"),
            F.sum(F.when(~F.col("is_canonical"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        )
        .withColumn("dup_rate", round_div("n_dropped", "n_media", 4))
    )


def _media_profile_oracle() -> str:
    from demo_etl_spark.functions.fixedpoint import round_div_expr

    dropped = (
        "CAST(COALESCE(SUM(CASE WHEN l.cluster_id IS NOT NULL "
        "AND l.cluster_id <> c.media_id THEN 1 ELSE 0 END), 0) AS BIGINT)"
    )
    return f"""
WITH RECURSIVE pall AS (
  SELECT media_id_a AS a, media_id_b AS b
  FROM ({ORACLE_SQL_IMAGE_PHASH}) WHERE verified
  UNION ALL
  SELECT media_id_a, media_id_b FROM ({ORACLE_SQL_AUDIO_FINGERPRINT})
  UNION ALL
  SELECT media_id_a, media_id_b
  FROM ({ORACLE_SQL_VIDEO_CHUNK_DEDUP}) WHERE is_dup
),
edges AS (SELECT a, b FROM pall UNION SELECT b, a FROM pall),
reach (src, dst) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, r.dst FROM edges e JOIN reach r ON e.b = r.src
),
labels AS (SELECT src AS media_id, MIN(dst) AS cluster_id
           FROM reach GROUP BY src),
corpus AS (
  SELECT doc_id AS media_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
           AS modality
  FROM {_MEDIA_SRC} docs
)
SELECT c.modality,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(COUNT(l.cluster_id) AS BIGINT) AS n_in_clusters,
       {dropped} AS n_dropped,
       CAST(COUNT(DISTINCT l.cluster_id) AS BIGINT) AS n_clusters,
       {round_div_expr(dropped, "CAST(COUNT(*) AS BIGINT)", 4, "duckdb")}
         AS dup_rate
FROM corpus c LEFT JOIN labels l USING (media_id)
GROUP BY c.modality
"""


ORACLE_SQL_MEDIA_PROFILE = _media_profile_oracle()


# ------------------------------------------ incremental video dedup ----
def incremental_video_dedup(
    chunks: DataFrame,
    cap: int = VIDEO_CHUNK_DF_CAP,
    contain_bp: int = VIDEO_CONTAIN_BP,
) -> DataFrame:
    """Video new-shard-vs-corpus: cross-boundary candidates from the
    df-capped chunk inverted index (a chunk's df is computed over the
    WHOLE corpus — boilerplate chunks stay governed regardless of which
    side they sit on), exact containment on candidates only, integer
    best-match ranking (is_dup DESC, containment_bp DESC, corpus id
    ASC). Over-cap chunks link each new posting to the corpus MIN-id
    posting only (the one-sided spanning fallback — bounded, never
    new × over-cap-population)."""
    from pyspark.sql.window import Window

    from demo_etl_spark.functions.fixedpoint import fixed_ratio
    from demo_etl_spark.operators.dedup import INCR_MOD, INCR_SLOT

    ch = chunks.select("media_id", F.col("chunk_hash").alias("h")).distinct()
    sizes = ch.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("int").alias("n")
    )
    dfc = ch.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    idx = ch.join(dfc, "h")
    in_slot = F.col("media_id") % INCR_MOD == INCR_SLOT
    nidx = idx.filter(in_slot).select(
        F.col("media_id").alias("media_id_n"), "h", "_df"
    )
    cidx = idx.filter(~in_slot).select(
        F.col("media_id").alias("media_id_c"), "h", "_df"
    )
    small = (
        nidx.filter(F.col("_df") <= cap)
        .join(cidx.drop("_df"), "h")
        .select("media_id_n", "media_id_c")
    )
    reps = (
        cidx.filter(F.col("_df") > cap)
        .groupBy("h")
        .agg(F.min("media_id_c").alias("media_id_c"))
    )
    over = (
        nidx.filter(F.col("_df") > cap)
        .join(reps, "h")
        .select("media_id_n", "media_id_c")
    )
    cand = small.unionByName(over).distinct()
    inter = (
        cand.join(
            ch.select(F.col("media_id").alias("media_id_n"), "h"),
            "media_id_n",
        )
        .join(
            ch.select(F.col("media_id").alias("media_id_c"), "h"),
            ["media_id_c", "h"],
        )
        .groupBy("media_id_n", "media_id_c")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_chunks"))
    )
    na = sizes.select(
        F.col("media_id").alias("media_id_n"), F.col("n").alias("_na")
    )
    nb = sizes.select(
        F.col("media_id").alias("media_id_c"), F.col("n").alias("_nb")
    )
    scored = (
        inter.join(na, "media_id_n")
        .join(nb, "media_id_c")
        .withColumn(
            "containment_bp",
            fixed_ratio("shared_chunks", "least(_na, _nb)", 4),
        )
        .withColumn(
            "_is_dup",
            F.expr(
                f"shared_chunks * 10000 >= {contain_bp} * least(_na, _nb)"
            ),
        )
    )
    # r14: same argmin-as-aggregate rewrite as incremental_band_dedup
    # (see the note there): min(struct(NOT is_dup, -bp, -shared, id)) ≡
    # row_number() over (is_dup DESC, bp DESC, shared DESC, id ASC) = 1
    # — negations are overflow-safe (bp ≤ 10⁴, shared ≤ chunk count),
    # and the hash agg partial-merges map-side instead of sorting.
    best = (
        scored.groupBy("media_id_n")
        .agg(
            F.min(
                F.struct(
                    (~F.col("_is_dup")).alias("_nd"),
                    (-F.col("containment_bp")).alias("_nbp"),
                    (-F.col("shared_chunks")).alias("_nsc"),
                    F.col("media_id_c").alias("media_id_c"),
                )
            ).alias("_b")
        )
        .select(
            "media_id_n",
            F.col("_b.media_id_c").alias("media_id_c"),
            (-F.col("_b._nsc")).alias("shared_chunks"),
            (-F.col("_b._nbp")).alias("containment_bp"),
            (~F.col("_b._nd")).alias("_is_dup"),
        )
    )
    incoming = ch.filter(in_slot).select(
        F.col("media_id").alias("media_id_n")
    ).distinct()
    return incoming.join(best, "media_id_n", "left").select(
        F.col("media_id_n").alias("media_id"),
        F.col("media_id_c").alias("best_match"),
        "shared_chunks",
        "containment_bp",
        F.coalesce(~F.col("_is_dup"), F.lit(True)).alias("is_new"),
    )


def build_video_incremental(
    spark: SparkSession, sf_dir: str, ctx: RunContext = DEFAULT_CONTEXT
) -> DataFrame:
    return incremental_video_dedup(_cached_video_chunks(spark, sf_dir))


def _video_incremental_oracle() -> str:
    from demo_etl_spark.functions.fixedpoint import fixed_ratio_expr
    from demo_etl_spark.operators.dedup import INCR_MOD, INCR_SLOT

    bp = fixed_ratio_expr(
        "i.shared_chunks", "least(sa.n, sb.n)", 4, "duckdb"
    )
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         CAST({_W_EXPR} AS INTEGER) AS w,
         CAST({_H_EXPR} AS INTEGER) AS h,
         rpad(text, CAST({_W_EXPR} * {_H_EXPR} AS INT), ' ') AS raster
  FROM {_MEDIA_SRC} docs
  WHERE doc_id % 3 = 2
),
ch AS (
  SELECT DISTINCT media_id,
         md5(substr(raster, CAST(off + 1 AS BIGINT), {VIDEO_CHUNK_BYTES}))
           AS h
  FROM (
    SELECT media_id, raster,
           unnest(generate_series(0, n - 1, {VIDEO_CHUNK_BYTES})) AS off
    FROM (SELECT media_id, raster, w * h AS n FROM m)
  )
),
sizes AS (SELECT media_id, CAST(COUNT(*) AS INTEGER) AS n
          FROM ch GROUP BY 1),
dfc AS (SELECT h, COUNT(*) AS df FROM ch GROUP BY 1),
idx AS (SELECT ch.media_id, ch.h, dfc.df FROM ch JOIN dfc USING (h)),
small AS (
  SELECT n.media_id AS media_id_n, c.media_id AS media_id_c
  FROM idx n JOIN idx c ON c.h = n.h
  WHERE n.media_id % {INCR_MOD} = {INCR_SLOT}
    AND c.media_id % {INCR_MOD} <> {INCR_SLOT}
    AND n.df <= {VIDEO_CHUNK_DF_CAP}
),
reps AS (
  SELECT h, MIN(media_id) AS media_id_c FROM idx
  WHERE media_id % {INCR_MOD} <> {INCR_SLOT} AND df > {VIDEO_CHUNK_DF_CAP}
  GROUP BY h
),
over_cap AS (
  SELECT n.media_id AS media_id_n, r.media_id_c
  FROM idx n JOIN reps r ON r.h = n.h
  WHERE n.media_id % {INCR_MOD} = {INCR_SLOT}
    AND n.df > {VIDEO_CHUNK_DF_CAP}
),
cand AS (
  SELECT DISTINCT * FROM
    (SELECT * FROM small UNION ALL SELECT * FROM over_cap)
),
inter AS (
  SELECT c.media_id_n, c.media_id_c,
         CAST(COUNT(*) AS BIGINT) AS shared_chunks
  FROM cand c
  JOIN ch a ON a.media_id = c.media_id_n
  JOIN ch b ON b.media_id = c.media_id_c AND b.h = a.h
  GROUP BY 1, 2
),
scored AS (
  SELECT i.media_id_n, i.media_id_c, i.shared_chunks,
         {bp} AS containment_bp,
         i.shared_chunks * 10000 >= {VIDEO_CONTAIN_BP}
           * least(sa.n, sb.n) AS is_dup
  FROM inter i
  JOIN sizes sa ON sa.media_id = i.media_id_n
  JOIN sizes sb ON sb.media_id = i.media_id_c
),
best AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY media_id_n
    ORDER BY is_dup DESC, containment_bp DESC, shared_chunks DESC,
             media_id_c) AS rn
  FROM scored
)
SELECT i.media_id, b.media_id_c AS best_match, b.shared_chunks,
       b.containment_bp, COALESCE(NOT b.is_dup, TRUE) AS is_new
FROM (SELECT DISTINCT media_id FROM ch
      WHERE media_id % {INCR_MOD} = {INCR_SLOT}) i
LEFT JOIN best b ON b.media_id_n = i.media_id AND b.rn = 1
"""


ORACLE_SQL_VIDEO_INCREMENTAL = _video_incremental_oracle()
