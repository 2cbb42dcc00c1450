"""Hostile documents corpus — the repro fixture for the r5/r6 driver reds.

Generates a `documents.parquet` carrying every pathology class the
driver's regenerated testdata can emit but the pristine local corpus
never does (profiled: 500 docs, 0 NULLs, 0 dup ids, 0 multi-space):

* NULL ``text``          — Spark ``size(split(NULL))`` = -1 / NULL-int
                           arithmetic vs DuckDB ``CASE…ELSE 0`` → proved
                           to flip ``sequence_packing.n_straddle``
                           (VERDICT r6, What's wrong #1)
* NULL ``doc_id``        — Spark window ORDER BY defaults NULLS FIRST,
                           DuckDB NULLS LAST → every running-sum offset
                           after the NULL row shifts in one engine only
                           (VERDICT r6, What's wrong #2)
* duplicate ``doc_id``   — within and across sources (covered by the
                           (doc_id, n_tokens) secondary sort key)
* empty string ``text``  — split('') = [''] → 1 token in both engines
* multi/trailing/leading spaces — split parity between engines
* single-doc source      — window/group edge
* NEGATIVE ``doc_id``    — modular arithmetic on the id goes negative:
                           empty rasters, ``element_at`` indexing from
                           the array's END, sign-of-dividend ``%``
                           (proved to flip ``multimodal_frames``, r7)

Usage::

    python tools/hostile_corpus.py /tmp/hostile        # writes the dir
    python tools/verify_oracle.py /tmp/hostile sequence_packing ...

The generated directory carries ALL ten star tables (non-documents
tables are copied from sf0.001) so the gate mirror's view registration
works unchanged. Also imported by tests/test_oracle_fuzz.py.
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

SRC_SF = "/root/testdata/sf0.001"

#: (doc_id, text, lang, source) — n_chars derived. Deliberately tiny:
#: every pathology lands in a source small enough to eyeball, plus one
#: "normal" source whose offsets shift if NULL ordering diverges.
ROWS = [
    # src_a: clean docs + a NULL text in the middle + empty string
    (100, "alpha beta gamma delta", "en", "src_a"),
    (101, None, "en", "src_a"),                      # NULL text
    (102, "epsilon zeta", "en", "src_a"),
    (103, "", "en", "src_a"),                        # empty string
    (104, "eta theta iota kappa lambda mu", "en", "src_a"),
    # src_b: NULL doc_id + docs after it (their offsets shift if the
    # engines disagree on where the NULL row sorts)
    (None, "nu xi omicron", "en", "src_b"),          # NULL doc_id
    (200, "pi rho sigma tau", "en", "src_b"),
    (201, "upsilon phi", "en", "src_b"),
    (202, "chi psi omega alef bet gimel dalet he vav zayin het tet yod "
          "kaf lamed mem nun samekh ayin pe tsadi qof resh shin tav",
     "en", "src_b"),
    # src_c: duplicate doc_ids — same id, same token count (fully tied)
    # and same id, different token count (tie broken by n_tokens)
    (300, "one two three", "en", "src_c"),
    (300, "uno dos tres", "es", "src_c"),            # dup id, same count
    (301, "quatre cinq", "fr", "src_c"),
    (301, "six sept huit neuf", "fr", "src_c"),      # dup id, diff count
    # src_d: whitespace pathologies
    (400, "  leading spaces", "en", "src_d"),
    (401, "trailing spaces  ", "en", "src_d"),
    (402, "multi   internal    spaces", "en", "src_d"),
    (403, " ", "en", "src_d"),                       # lone space
    # src_e: single-document source
    (500, "solo", "en", "src_e"),
    # src_g: negative doc_ids — modular geometry / element_at / % sign
    (-5, "negative id document body", "en", "src_g"),
    (-7, None, "en", "src_g"),                       # negative id + NULL text
    # src_h: non-ASCII — Java regex (Spark) vs RE2 (DuckDB) Unicode
    # semantics, lower()/upper() folding, code-point vs byte lengths,
    # surrogate pairs. The pristine corpus is 100% ASCII (profiled) but
    # carries a 'zh' lang label — the driver's generator clearly COULD
    # emit real CJK/emoji one round.
    (700, "中文 文档 去重 测试 样本", "zh", "src_h"),          # CJK
    (701, "emoji 🚀 rocket 🌟 star 🚀 again", "en", "src_h"),  # surrogate pairs
    (702, "café cafe\u0301 façade", "fr", "src_h"),  # pre/decomposed accents
    (703, "İstanbul Iık straße STRASSE", "de", "src_h"),  # case folding traps
    (704, "tab\tseparated and\nnewline mixed", "en", "src_h"),  # non-space whitespace
    (705, "nbsp\u00a0bound zero\u200bwidth", "en", "src_h"),    # nbsp + zero-width
    (706, "кириллица текст ελληνικά κείμενο", "ru", "src_h"),   # Cyrillic + Greek
    # r9 wave 5 — ASTRAL-PLANE code points (> U+FFFF, 2 UTF-16 code
    # units, 4 UTF-8 bytes): Spark length() counts code POINTS but Java
    # regex \w classes and DuckDB strlen/RE2 can disagree on code units
    # vs code points vs bytes; mathematical alphanumerics and Gothic are
    # Unicode LETTERS living entirely above the BMP, ZWJ family + flag
    # sequences are multi-code-point grapheme clusters
    (707, "math 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 bold 𝐀𝐁𝐂 digits 𝟙𝟚𝟛", "en", "src_h"),
    (708, "family 👨‍👩‍👧‍👦 zwj flag 🇺🇸 cluster", "en", "src_h"),
    (709, "𐌲𐌿𐍄𐌹𐍃𐌺 𐐼𐐯𐑆𐐲𐑉𐐯𐐻", "en", "src_h"),  # only-astral tokens
    # NULL source (VERDICT r7 #3 — the one untested key axis of the
    # packing family): forms its own window partition on both engines,
    # and is dropped by sequence_packing's null-unsafe totals join on
    # both engines. Composed with NULL doc_id and NULL text so every
    # pairwise pathology combination on the packing key space exists.
    (800, "null source doc body here", "en", None),
    (801, "second null source doc", "en", None),
    (None, "null source and null id", "en", None),
    (802, None, "en", None),
    # embedded NUL byte: parquet strings may carry \x00 — an engine that
    # truncated at NUL would shift every downstream token/char count
    (803, "before\x00after nul byte", "en", "src_i"),
    # vertical tab INSIDE a URL: Java's \s includes \x0B, RE2's does
    # not — a [^\s]+ URL pattern matched different spans per engine
    # (r10 review; the noise patterns now use an explicit class)
    (804, "see http://ex.test/a\x0Btail and mail a@b.cd now", "en", "src_i"),
    # src_f: long docs that straddle the 512-token packing cap — 200
    # tokens each so four of them cross a boundary; plus a NULL text
    # right at the straddle region to compose both pathologies
    *[
        (600 + i, " ".join(f"w{i}t{j}" for j in range(200)), "en", "src_f")
        for i in range(6)
    ],
    (610, None, "en", "src_f"),                      # NULL text mid-pack
    (611, " ".join(f"tail{j}" for j in range(200)), "en", "src_f"),
    # r12 wave — hybrid retrieval (similarity_hybrid_rerank treats
    # doc_id < 10 as its query docs; the hostile base tables copy
    # sf0.001's embeddings, which cover vec_id 0..499, so these ids
    # rerank against REAL vectors while the pathologies ride along).
    # Without this wave the hybrid emitted 0 rows on the hostile corpus
    # — a green that exercised nothing.
    (1, "alpha beta gamma delta", "en", "src_q"),    # query; shares
    #   shingles with doc 2 (embedded) AND doc 100 (no embedding —
    #   pins the silent rerank-drop of an unembedded candidate)
    (2, "alpha beta gamma zeta eta", "en", "src_q"),  # query+candidate
    (1, "omega psi chi phi upsilon", "en", "src_q"),  # DUP query id,
    #   different text: posting sets union under the hash-level distinct
    (3, None, "en", "src_q"),                        # NULL-text query
    (4, "pi rho sigma tau omega", "en", "src_q"),    # query whose ONLY
    #   lexical match (doc 200) has no embedding → contributes no rows
    (5, " ", "en", "src_q"),                         # whitespace query
    # r13 wave — exchange-format SENTINEL COLLISIONS: texts that are
    # literally the CSV nullValue sentinel (backslash-N; quoteAll does
    # not protect it — probed) and the XML one. The roundtrips
    # quarantine these rows deterministically on both engines instead
    # of silently nulling them; every other doc query treats them as
    # ordinary 2-token/1-token texts.
    (900, "\\N", "en", "src_j"),
    (901, "__NULL__", "en", "src_j"),
    # r14 wave — NEGATIVE-ID NEAR-DUP pairs (media_dedup_agreement's
    # truth filter, r13 ADVICE): text-identical twins whose ids are both
    # negative. The -13/-10 pair is the crash class (sign-of-dividend %
    # gives doc_id % 3 = -1 → element_at(..., 0) INVALID_INDEX_OF_ZERO
    # on Spark vs NULL-modality on DuckDB before the doc_a >= 0 domain
    # filter); the -12/-9 pair is the phantom class (≡ 0 mod 3 — would
    # have counted as an 'image' text pair even though synthesize_media
    # derives no media rows for doc_id < 0).
    (-10, "negative twin words repeat across this whole shared body",
     "en", "src_g"),
    (-13, "negative twin words repeat across this whole shared body",
     "en", "src_g"),
    (-9, "another negative duplicate body with many shared tokens here",
     "en", "src_g"),
    (-12, "another negative duplicate body with many shared tokens here",
     "en", "src_g"),
    # r14 wave 2 — INCREMENTAL MEDIA pairs: without these, no hostile
    # doc sits in the INCR_SLOT shard for the image/audio modality at
    # all and the three media new-shard paths return 0 rows (a green
    # that exercises nothing). Each pair is (new-shard id ≡ 7 mod 10,
    # corpus id ≢ 7 mod 10) with ids ≡ each other mod 56 — identical
    # synthesized geometry — and identical text, so the pair is a
    # guaranteed duplicate: the verdict row must report is_new = FALSE
    # with the twin as best_match on both engines.
    (1047, "incremental image twin raster body", "en", "src_k"),   # %30=27
    (1215, "incremental image twin raster body", "en", "src_k"),   # corpus
    (1057, "incremental audio twin sample body", "en", "src_k"),   # %30=7
    (1225, "incremental audio twin sample body", "en", "src_k"),   # corpus
    (1067, "incremental video twin chunk body", "en", "src_k"),    # %30=17
    (1235, "incremental video twin chunk body", "en", "src_k"),    # corpus
]


def build_documents_table() -> pa.Table:
    doc_ids, texts, langs, sources, n_chars = [], [], [], [], []
    for doc_id, text, lang, source in ROWS:
        doc_ids.append(doc_id)
        texts.append(text)
        langs.append(lang)
        sources.append(source)
        n_chars.append(None if text is None else len(text))
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array(n_chars, pa.int64()),
        }
    )


#: NULL-hostile rows appended to the copied star tables (r7 second
#: wave): NULL identity keys / timestamps / measures in events, orders
#: and lineitem — the class that diverged 19 queries before the ingest
#: quarantine (io.timed_events / io.keyed_orders + the *_CLEAN_SQL
#: oracle twins) pinned both engine sides to the same row set.
HOSTILE_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (900001, "2024-01-05 10:00:00", None, "view", 1.0, '{"k":1}'),
    (900002, None, 917, "click", 2.0, '{"k":2}'),
    (900003, "2024-01-05 11:00:00", 918, None, None, None),
    (900004, None, None, None, None, None),
    (900005, "2024-01-05 10:00:00", None, "purchase", 5.0, '{"k":3}'),
    # non-finite measures: Spark casts NaN->0 silently, DuckDB ERRORS
    # casting NaN/inf to BIGINT — without the finite-guard in the
    # quarantine one bad double CRASHES every money-rounding oracle
    (900006, "2024-01-05 12:00:00", 919, "view", float("nan"), None),
    (900007, "2024-01-05 12:01:00", 919, "click", float("inf"), None),
    # negative identity keys: modular bucketing / % sign-of-dividend
    (-900008, "2024-01-05 12:02:00", -920, "view", 1.5, None),
    # props pathologies for the JSON/VARIANT extractors: malformed
    # payload (NULL variant ↔ json_valid false), JSON `null` literal
    # (non-null variant ↔ json_valid TRUE — the engines' one agreed
    # asymmetry, pinned), missing key, wrong-typed key
    (900009, "2024-01-05 12:03:00", 921, "view", 1.0, "not json {"),
    (900010, "2024-01-05 12:04:00", 921, "view", 1.0, "null"),
    (900011, "2024-01-05 12:05:00", 922, "click", 1.0, '{"x": 5}'),
    (900012, "2024-01-05 12:06:00", 922, "click", 1.0, '{"k": "str"}'),
    # r9 (ADVICE): every payload shape where the three JSON extractors
    # (get_json_object+try_cast / from_json PERMISSIVE / try_variant_get)
    # disagree with a bare DuckDB TRY_CAST — float-typed k (try_cast
    # NULLs it, variant_get truncates, DuckDB ROUNDS 5.7→6), boolean k
    # (variant_get → 1/0), string-typed integral k WITH sign/whitespace
    # (both engines parse), string float (both NULL), int32 OVERFLOW
    # (NULL int under both, but marks the from_json record corrupt),
    # JSON-null k (parses under from_json), scientific notation (DOUBLE
    # json_type), and an array-typed k
    (900013, "2024-01-05 12:07:00", 923, "view", 1.0, '{"k": 5.0}'),
    (900014, "2024-01-05 12:08:00", 923, "view", 1.0, '{"k": 5.7}'),
    (900015, "2024-01-05 12:09:00", 923, "click", 1.0, '{"k": -5.7}'),
    (900016, "2024-01-05 12:10:00", 924, "view", 1.0, '{"k": true}'),
    (900017, "2024-01-05 12:11:00", 924, "view", 1.0, '{"k": "5"}'),
    (900018, "2024-01-05 12:12:00", 924, "click", 1.0, '{"k": " +7\\t"}'),
    (900019, "2024-01-05 12:13:00", 925, "view", 1.0,
     '{"k": 99999999999}'),
    (900020, "2024-01-05 12:14:00", 925, "view", 1.0, '{"k": null}'),
    (900021, "2024-01-05 12:15:00", 925, "click", 1.0, '{"k": 1e2}'),
    (900022, "2024-01-05 12:16:00", 926, "view", 1.0, '{"k": [1]}'),
    (900023, "2024-01-05 12:17:00", 926, "view", 1.0, '{"k": "5.0"}'),
    # r10 (review): split-partition pins for events_incremental_rollup.
    # A negative ODD event_id — Java remainder gives (-n) % 2 = -1, so a
    # '% 2 == 1' increment branch silently drops it (== 0 / NULL-safe
    # complement is the correct partition); and a NULL event_id with a
    # VALID ts/user/value, which matches NEITHER modulo branch but does
    # survive the EVENTS_CLEAN quarantine (event_id is not an identity
    # column there).
    (-900025, "2024-01-05 12:18:00", 927, "view", 2.5, None),
    (None, "2024-01-05 12:19:00", 927, "click", 1.5, None),
    # r11 (ADVICE): a day whose EVERY event carries NULL user_id —
    # active_users must DROP the day on both engines (the Spark side
    # screens NULL identity before the distinct; the oracle's du CTE
    # carries the matching WHERE user_id IS NOT NULL — without it the
    # oracle emits a (day, dau=0) row the engine never produces).
    # 2024-02-10 is outside the base corpus range (Jan 2024), so no
    # non-NULL user can rescue the day.
    (900030, "2024-02-10 09:00:00", None, "view", 1.0, None),
    (900031, "2024-02-10 10:00:00", None, "click", 2.0, '{"k":4}'),
    (900032, "2024-02-10 11:00:00", None, "purchase", 3.0, None),
    # r11 (review): PRE-EPOCH event — epoch-µs is NEGATIVE, so any
    # "running max" state seeded at 0 silently reports 0 while the
    # oracle's MAX(epoch_us(ts)) goes negative (streaming_user_totals'
    # last_event_us); also exercises negative unix_date/day arithmetic
    (900033, "1969-12-30 23:00:00", 928, "view", 1.0, None),
    # r11 (review): NEGATIVE finite value (a refund) + NEGATIVE integral
    # JSON k — both engines' integer division truncates toward zero, so
    # truncation-based binning folds negatives into bins overlapping bin
    # 0's range and the HALF_UP shortcut mis-rounds net-negative sums
    # (consistently on both engines, i.e. semantically wrong while
    # hash-green): pins the FLOOR bin spellings (value_histogram,
    # k_decile) and the sign-safe round_div
    (900034, "2024-01-06 09:30:00", 929, "view", -75.0, '{"k": -15}'),
    # r12 (ADVICE): k = INT_MIN exactly — the r11 magnitude-negation
    # floor spelling computed -(-_k + 9) which overflows INT at this one
    # payload and (under Spark 4 ANSI) ABORTS the whole props_breakdown
    # scan; the remainder-correction spelling bins it to -214748365 on
    # both engines with no negation. The extreme negative value pins the
    # histogram's BIGINT fixed-point path the same way.
    (900035, "2024-01-06 09:31:00", 930, "view", -1234567.89,
     '{"k": -2147483648}'),
    # r12 (cdc review): an exact (user_id, ts) TIE against the NULL
    # event_id row above (user 927 @ 12:19:00), with a DIFFERENT
    # event_type — any window ordered (ts, event_id) now chains through
    # the tie in Spark's ASC default order (NULLS FIRST) vs DuckDB's
    # (NULLS LAST) unless the sort spells NULLS LAST explicitly
    # (scd2_history's lag/lead change detection was the exposed site)
    (900036, "2024-01-05 12:19:00", 927, "purchase", 4.5, None),
    # r12 (events review): a (user_id, ts) tie at a session HEAD — NULL
    # event_id "click" vs event_id 900037 "view" as user 931's very
    # first events. first-touch attribution crowns whichever sorts
    # first, so the Spark side must spell event_id NULLS LAST to match
    # the DuckDB oracle's default (first_touch = 'view' on both); under
    # Spark's bare ASC default the NULL row would win instead.
    (None, "2024-01-06 10:00:00", 931, "click", 1.0, None),
    (900037, "2024-01-06 10:00:00", 931, "view", 2.0, None),
    # r12 (rate limiter): a PER-USER gap of 380 days. Any gap past ~107
    # days makes the unclamped refill product Δµs·1e6 overflow BIGINT —
    # DuckDB would raise OUT_OF_RANGE while the Python-int kernel sails
    # on, so this pair is the corpus pin of events_rate_limit's
    # LEAST(Δµs, RL_GAP_FULL_US) clamp (no single user spanned more
    # than a day before this wave).
    (900038, "2024-01-06 10:00:00", 932, "view", 1.0, None),
    (900039, "2025-01-21 10:00:00", 932, "click", 1.0, None),
]
HOSTILE_ORDERS = [
    # (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
    #  o_orderpriority)
    (990001, None, "O", 1000.5, "2024-03-01", "1-URGENT"),
    (990002, 7, None, None, None, None),
    (990003, None, None, None, None, None),
    (990004, 8, "O", float("nan"), "2024-03-02", "2-HIGH"),
    (990005, 9, "O", float("inf"), "2024-03-03", "3-MEDIUM"),
    (-990006, -11, "O", 250.25, "2024-03-04", "4-NOT SPECIFIED"),
    # r12 (cdc merge review): a DUPLICATE primary key with fully
    # different payloads — latest-wins merge ties on priority alone and
    # picked a partition-order-arbitrary survivor (possible engine hash
    # divergence); the full-payload tiebreak keeps the same row on both
    # engines. data_quality_audit's orders_dup_pk now counts 1.
    (990010, 20, "O", 100.0, "2024-03-05", "5-LOW"),
    (990010, 21, "F", 200.0, "2024-03-06", "1-URGENT"),
    # r12 (cdc merge review): TWO distinct NULL-key orders — window
    # PARTITION BY groups all NULL keys together, so a keyed merge
    # would collapse them into one row on BOTH engines (consistently
    # wrong); they must route around the merge unchanged. One carries
    # status 'O' so the update-feed derivation is also exercised on a
    # keyless row (it must NOT produce an update).
    (None, 22, "O", 50.0, "2024-03-07", "2-HIGH"),
    (None, 23, "F", 75.0, "2024-03-08", "3-MEDIUM"),
]
HOSTILE_LINEITEM = [
    # (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
    #  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
    #  l_shipdate)
    (990001, None, None, 1, None, None, None, None, None, None, None),
    (990002, 5, 3, None, 2.0, 100.0, 0.05, 0.02, "N", "O", None),
    # r10 (review): NULL l_shipdate on a CLEAN order (-990006 carries
    # custkey/date/price) — a shipdate-range split that isn't a
    # partition (old < s / delta >= s) drops this row from both
    # branches while the one-shot incremental_join_view oracle keeps it
    (-990006, 5, 3, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", None),
    # r11 (review): ZERO l_quantity on a fully-joinable order (990002 →
    # custkey 7, partkey 5) — extendedprice/quantity raises
    # DIVIDE_BY_ZERO under Spark 4 ANSI even for doubles, while DuckDB
    # and the reference's non-ANSI Spark yield NULL; the unit-price
    # expressions must try_divide or one such row aborts the whole
    # customer/product/star analytics job
    (990002, 5, 3, 2, 0.0, 120.0, 0.05, 0.02, "N", "O", "2024-03-05"),
    # r11 (review): the ONLY line of part 970001 carries zero quantity
    # AND zero price — SUM(l_quantity) = 0 for the part, so
    # revenue_per_unit's denominator is exactly 0 (Spark ANSI `div 0`
    # raises; the guard must NULL the ratio as DuckDB does)
    (990002, 970001, 960001, 3, 0.0, 0.0, 0.0, 0.0, "N", "O", "2024-03-05"),
    # r11 (review): a REAL-money line whose ship-date's only order
    # carries a NULL custkey (990001) — that date's unique_customers is
    # COUNT(DISTINCT NULL) = 0 with non-NULL rev_c, so
    # revenue_per_customer divides by zero unless guarded
    (990001, 5, 3, 2, 1.0, 80.0, 0.0, 0.0, "N", "O", "2024-03-20"),
]
HOSTILE_CUSTOMER = [
    # (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
    (980001, None, None, None, None),
    (980002, "Null Nation", None, -12.5, "BUILDING"),
    (None, "No Key", 1, 10.0, "MACHINERY"),
]
HOSTILE_PART = [
    # (p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
    (970001, None, None, None, None, None),
    (None, "ghost part", "Brand#1", "TYPE A", 5, 10.0),
]
HOSTILE_SUPPLIER = [
    # (s_suppkey, s_name, s_nationkey, s_acctbal)
    (960001, None, None, None),
    (None, "ghost supp", 2, 5.0),
]
HOSTILE_EMBEDDINGS = [
    # (vec_id, embedding, label) — NULL vector, empty vector, wrong-dim
    # vector with NULL id, wrong-dim zero vector (similarity quarantine:
    # io-layer valid_embeddings keeps only modal-dim rows with an id)
    (950001, None, 1),
    (950002, [], 2),
    (None, [0.1, 0.2], None),
    (950003, [0.0, 0.0], None),
    # negative id with a VALID modal-dim (64) vector — survives the
    # quarantine, so negative ids flow through LSH/IVF bucketing
    (-950004, [((i * 7) % 13 - 6) / 10.0 for i in range(64)], 3),
    # modal-dim vectors with non-finite COMPONENTS: a NaN/Inf inside an
    # otherwise-valid vector reaches every similarity kernel unless the
    # quarantine screens component finiteness (the ANSI cast of NaN to
    # BIGINT crashes the scan; DuckDB TRY_CAST silently NULLs it)
    (950005, [float("nan") if i == 7 else 0.1 for i in range(64)], 4),
    (950006, [float("inf") if i == 11 else -0.2 for i in range(64)], 4),
    # r11 (review): MODAL-dim all-zero vector — survives valid_embeddings
    # (right dims, finite, has id) so it reaches every kernel: the
    # cosine family must screen it (_nonzero / int-norm guard, else an
    # ANSI x/0) and quantize must hit its greatest(absmax, 1e-12) guard
    (950007, [0.0] * 64, 5),
]


#: r10 hostile wave 6 — MEDIA payloads. Not a star table (verify_oracle
#: registers only the ten star views); written as media.parquet in the
#: hostile dir and consumed by tests/test_oracle_fuzz.py, which drives
#: every multimodal operator over it and asserts the ingest quarantine
#: (multimodal.decode_pgm_safe, applied by every kernel's _media_map
#: batch loop) drops EXACTLY the broken rows instead of crashing the
#: Arrow batch. One valid-but-gnarly PGM (comments + arbitrary header
#: whitespace) pins that the quarantine does NOT over-reject.
HOSTILE_MEDIA = [
    # (media_id, media_type, payload, source_doc_id, expect_kept)
    # valid baseline: 4x3 raster of 'A'
    (1, "image", b"P5 4 3 255\n" + b"A" * 12, 1, True),
    # valid with comments + LF/CR/TAB whitespace mix in the header
    (2, "audio", b"P5\n# a comment\n 4\t3 # trailing\n255\n" + b"B" * 12,
     2, True),
    # extra trailing bytes beyond w*h — tolerated (decoder slices)
    (3, "video", b"P5 2 2 255\n" + b"C" * 9, 3, True),
    # wrong magic bytes
    (10, "image", b"P6 4 3 255\n" + b"D" * 12, 10, False),
    (11, "image", b"JFIF\x00\x01garbage", 11, False),
    # truncated header (missing maxval / mid-token EOF)
    (12, "image", b"P5 4 3", 12, False),
    (13, "audio", b"P5 4", 13, False),
    (14, "video", b"P5", 14, False),
    # non-numeric header field
    (15, "image", b"P5 four 3 255\n" + b"E" * 12, 15, False),
    # 0x0, zero and negative dims: the grammar parses them (int(b"-2")
    # is -2), the safe decode rejects them as non_positive_dims
    (16, "image", b"P5 0 0 255\n", 16, False),
    (17, "image", b"P5 4 0 255\n", 17, False),
    (25, "image", b"P5 -2 -3 255\n" + b"K" * 6, 25, False),
    # bad maxval (0, 16-bit, huge)
    (18, "image", b"P5 4 3 0\n" + b"F" * 12, 18, False),
    (19, "image", b"P5 4 3 65535\n" + b"G" * 24, 19, False),
    # header promises more raster than the payload carries
    (20, "video", b"P5 100 100 255\n" + b"H" * 50, 20, False),
    # memory-bomb dims (would allocate ~1 PB if not screened)
    (21, "image", b"P5 999999999 999999999 255\n" + b"I" * 8, 21, False),
    # NULL payload / empty payload / NULL media_id
    (22, "image", None, 22, False),
    (23, "audio", b"", 23, False),
    (None, "video", b"P5 4 3 255\n" + b"J" * 12, 24, False),
]


def build_media_table() -> pa.Table:
    return pa.table(
        {
            "media_id": pa.array(
                [r[0] for r in HOSTILE_MEDIA], pa.int64()
            ),
            "media_type": pa.array(
                [r[1] for r in HOSTILE_MEDIA], pa.string()
            ),
            "payload": pa.array(
                [r[2] for r in HOSTILE_MEDIA], pa.binary()
            ),
            "source_doc_id": pa.array(
                [r[3] for r in HOSTILE_MEDIA], pa.int64()
            ),
        }
    )




#: r13 hostile wave — COLOR (P6) payloads, mirroring the P5 wave's
#: pathology classes so the P6 binding of the shared netpbm decoder and
#: the 3-channel safe decode have symmetric quarantine coverage (r12
#: verdict item 7): two-byte-sample
#: maxval rasters, a comment-inside-a-dimension-token (our grammar reads
#: whitespace-delimited tokens, so '2#c' is a REJECT — '#' opens a
#: comment only at token start; pinned as deterministic behavior),
#: raster over-length (tolerated: the decoder slices), raster
#: under-length, grayscale magic fed to the color decoder, memory-bomb
#: dims (rejected as oversized_dims before any allocation; Python
#: slicing never allocates w*h either), negative dims whose product is
#: positive (kept with width -2 before the color kernel shared the safe
#: decode). Consumed by tests/test_oracle_fuzz.py.
HOSTILE_COLOR_MEDIA = [
    # (media_id, payload, expect_kept)
    # valid baseline: 2x2 RGB raster
    (1, b"P6 2 2 255\n" + bytes(range(12)), True),
    # valid with comments + whitespace mix BETWEEN tokens
    (2, b"P6\n# c\n 2\t# mid\n2 # t\n255\n" + bytes(range(12)), True),
    # over-length raster — tolerated (decoder slices 3*w*h)
    (3, b"P6 2 2 255\n" + b"A" * 15, True),
    # grayscale magic to the color decoder
    (10, b"P5 2 2 255\n" + b"B" * 4, False),
    # two-byte-sample maxval (16-bit P6) and maxval 0
    (11, b"P6 2 2 65535\n" + b"C" * 24, False),
    (12, b"P6 2 2 0\n" + b"D" * 12, False),
    # truncated header / non-numeric dim / comment welded to a token
    (13, b"P6 2 2", False),
    (14, b"P6 two 2 255\n" + b"E" * 12, False),
    (15, b"P6 2#c\n2 255\n" + b"F" * 12, False),
    # zero dim, negative dims with a positive product
    (16, b"P6 0 2 255\n", False),
    (20, b"P6 -2 -3 255\n" + bytes(range(18)), False),
    # memory-bomb dims (slice-safe; rejected as oversized_dims)
    (17, b"P6 999999999 999999999 255\n" + b"G" * 8, False),
    # raster one byte short of 3*w*h
    (18, b"P6 2 2 255\n" + b"H" * 11, False),
    # NULL payload / NULL media_id
    (19, None, False),
    (None, b"P6 2 2 255\n" + bytes(range(12)), False),
]


def build_color_media_table() -> pa.Table:
    return pa.table(
        {
            "media_id": pa.array(
                [r[0] for r in HOSTILE_COLOR_MEDIA], pa.int64()
            ),
            "payload": pa.array(
                [r[1] for r in HOSTILE_COLOR_MEDIA], pa.binary()
            ),
        }
    )


def _append_rows(src_path: str, dst_path: str, rows: list[tuple]) -> None:
    """Copy a parquet table with hostile rows appended, coercing each
    value to the source column's arrow type (timestamps from ISO
    strings)."""
    import pandas as pd

    base = pq.read_table(src_path)
    cols = {}
    for i, field in enumerate(base.schema):
        vals = [r[i] for r in rows]
        if pa.types.is_timestamp(field.type):
            vals = [None if v is None else pd.Timestamp(v) for v in vals]
        cols[field.name] = pa.array(vals, field.type)
    extra = pa.table(cols, schema=pa.schema(list(base.schema)))
    pq.write_table(pa.concat_tables([base, extra]), dst_path)


def write_corpus(out_dir: str, src_sf: str = SRC_SF) -> str:
    """Write the hostile dir: all star tables from ``src_sf``, with
    documents.parquet replaced by the hostile corpus and NULL-hostile
    rows appended to events/orders/lineitem."""
    os.makedirs(out_dir, exist_ok=True)
    hostile = {
        "events.parquet": HOSTILE_EVENTS,
        "orders.parquet": HOSTILE_ORDERS,
        "lineitem.parquet": HOSTILE_LINEITEM,
        "customer.parquet": HOSTILE_CUSTOMER,
        "part.parquet": HOSTILE_PART,
        "supplier.parquet": HOSTILE_SUPPLIER,
        "embeddings.parquet": HOSTILE_EMBEDDINGS,
    }
    for name in os.listdir(src_sf):
        if not name.endswith(".parquet") or name == "documents.parquet":
            continue
        src, dst = os.path.join(src_sf, name), os.path.join(out_dir, name)
        if name in hostile:
            _append_rows(src, dst, hostile[name])
        elif not os.path.exists(dst):
            shutil.copy(src, dst)
    pq.write_table(build_documents_table(),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(build_media_table(),
                   os.path.join(out_dir, "media.parquet"))
    pq.write_table(build_color_media_table(),
                   os.path.join(out_dir, "color_media.parquet"))
    return out_dir


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/hostile"
    print(write_corpus(out))
