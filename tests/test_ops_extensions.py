"""Extension operator tests: text analysis, dedup, similarity, multimodal
(SURVEY.md §7 step 4)."""

import math

import pyspark.sql.functions as F
import pytest

from sanef_election_dashboard_etl_spark.operators import dedup as D
from sanef_election_dashboard_etl_spark.operators import multimodal as M
from sanef_election_dashboard_etl_spark.operators import similarity as S
from sanef_election_dashboard_etl_spark.operators import text as T

from .conftest import rows


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "the cat sat on the mat"),          # exact dup of 1
         (3, "the cat  sat on the   mat "),      # whitespace-variant of 1
         (4, "a dog runs in a park"),
         (5, "completely different words here entirely")],
        "doc_id long, text string")


def test_token_stats(spark, docs):
    out = {r["doc_id"]: r for r in T.token_stats(docs).collect()}
    assert out[1]["n_tokens"] == 6
    assert out[1]["n_bpe_tokens"] == 6
    assert out[4]["n_tokens"] == 6


def test_quality_and_lang(spark, docs):
    q = {r["doc_id"]: r for r in T.quality_score(docs).collect()}
    assert q[1]["n_stop"] == 2          # 'the' x2 ('on' is not in the list)
    assert q[1]["quality"] == "too_short"
    lang = {r["doc_id"]: r["lang_pred"] for r in T.lang_id(docs).collect()}
    assert lang[1] == "en"


def test_quality_score_perrow_rewrite_edges_and_plan(spark):
    """r11 zero-shuffle rewrite: the per-row array expressions must keep
    the explode+groupBy path's exact semantics at the edges — split('')
    yields [''] (1 token, 1 unique, 0 stop), duplicate tokens collapse in
    n_unique only, and a NULL text drops the doc (explode(NULL) used to
    drop it; the isNotNull guard drops it now) — and the plan must carry
    no exchange, no explode, no aggregate."""
    df = spark.createDataFrame(
        [(1, ""), (2, "the the the"), (3, None),
         (4, "a b the of unique tokens all around here ten")],
        "doc_id long, text string")
    q = {r["doc_id"]: r for r in T.quality_score(df).collect()}
    assert set(q) == {1, 2, 4}                    # NULL text dropped
    assert (q[1]["n_tokens"], q[1]["n_stop"], q[1]["n_unique"]) == (1, 0, 1)
    assert (q[2]["n_tokens"], q[2]["n_stop"], q[2]["n_unique"]) == (3, 3, 1)
    assert q[4]["n_tokens"] == 10 and q[4]["n_unique"] == 10
    lang = {r["doc_id"]: r for r in T.lang_id(df).collect()}
    assert set(lang) == {1, 2, 4}
    assert lang[2]["en_hits"] == 3
    for plan_df in (T.quality_score(df), T.lang_id(df)):
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        for node in ("Exchange", "Generate", "HashAggregate"):
            assert node not in plan, f"{node} crept back into the plan"


def test_exact_dedup_normalizes_whitespace(spark, docs):
    out = D.exact_dedup(docs)
    survivors = {r["survivor_id"]: r["n_copies"] for r in out.collect()}
    # docs 1,2,3 collapse (whitespace-normalized) -> survivor 1 with 3 copies
    assert survivors[1] == 3
    assert survivors[4] == 1 and survivors[5] == 1


def test_shingles_and_jaccard(spark, docs):
    g = D.shingles(docs, n=3)
    assert rows(g.filter(F.col("doc_id") == 1).select("shingle")) == sorted(
        [("the cat sat",), ("cat sat on",), ("sat on the",), ("on the mat",)])
    pairs = D.ngram_jaccard_pairs(docs, n=3, min_jaccard=0.9)
    assert (1, 2, 1.0) in rows(pairs)


def test_minhash_lsh_finds_exact_dups(spark, docs):
    pairs = rows(D.minhash_lsh_pairs(docs, n=1, k=16, bands=4,
                                     min_jaccard=0.9).select("id_a", "id_b"))
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert all(p[0] != 4 and p[1] != 4 for p in pairs)


def test_simhash_identical_docs_zero_hamming(spark, docs):
    sig = {r["doc_id"]: r["simhash"] for r in D.simhash64(docs).collect()}
    assert sig[1] == sig[2]
    pairs = rows(D.simhash_pairs(docs, max_hamming=0).select("id_a", "id_b"))
    assert (1, 2) in pairs


def test_simhash_arrow_bit_identical_to_expression(spark, docs):
    # integer-only folds -> the Arrow escape hatch must match exactly,
    # for both hash families and through the banding pipeline
    assert rows(D.simhash_signature_arrow(docs)) == rows(D.simhash64(docs))
    assert rows(D.simhash_pairs_arrow(docs, max_hamming=3)) == \
        rows(D.simhash_pairs(docs, max_hamming=3))
    assert rows(D.simhash_pairs_arrow(docs, max_hamming=3, portable=True)) == \
        rows(D.simhash_pairs_portable(docs, max_hamming=3))


def test_simhash_hot_band_guard(spark):
    """max_df band guard (r5): hot buckets drop from BOTH join sides, the
    guarded output is a subset of the unguarded one, and a pair inside a
    hot bucket survives iff it shares another non-hot chunk."""
    # 12 identical docs -> one signature cluster: every chunk bucket has
    # df=12, so max_df=5 drops all four buckets and ALL their pairs;
    # two other near-identical docs stay under the threshold and survive
    rows_in = [(i, "alpha beta gamma delta epsilon zeta") for i in range(12)]
    rows_in += [(100, "unique snowflake text one two three"),
                (101, "unique snowflake text one two threeX")]
    df = spark.createDataFrame(rows_in, "doc_id long, text string")
    unguarded = {(r["id_a"], r["id_b"])
                 for r in D.simhash_pairs_arrow(df, max_hamming=3).collect()}
    guarded = {(r["id_a"], r["id_b"])
               for r in D.simhash_pairs_arrow(df, max_hamming=3,
                                              max_df=5).collect()}
    assert guarded <= unguarded
    # the 12-clone cluster (66 pairs) is entirely hot -> gone
    assert not any(a < 12 and b < 12 for a, b in guarded)
    assert sum(1 for a, b in unguarded if a < 12 and b < 12) == 66
    # max_df larger than any bucket df -> bit-identical to unguarded
    assert {(r["id_a"], r["id_b"])
            for r in D.simhash_pairs_arrow(df, max_hamming=3,
                                           max_df=1000).collect()} == unguarded


def test_simhash_wide_tier(spark, docs):
    """128-bit wide tier: exact-dup docs pair at hamming 0 in both hash
    configurations, signatures are two independent longs (families
    disagree on non-dup docs) and the max_df guard composes."""
    for portable in (False, True):
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in D.simhash_pairs_wide(
                     docs, max_hamming=3, portable=portable).collect()}
        assert pairs.get((1, 2)) == 0          # identical texts
    sig = {r["doc_id"]: (r["sh_lo"], r["sh_hi"])
           for r in D.simhash_signature_wide(docs).collect()}
    assert sig[1] == sig[2]
    assert sig[1][0] != sig[1][1]              # two independent families
    # guard: clone cluster fully hot -> dropped, like the 64-bit tier
    clones = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(12)],
        "doc_id long, text string")
    guarded = D.simhash_pairs_wide(clones, max_hamming=3, max_df=5).collect()
    assert guarded == []


def test_simhash_arrow_edge_docs_match_expression(spark):
    # whitespace-only text tokenizes to [""] (kept); null text drops —
    # the arrow stage must mirror the expression path on both
    df = spark.createDataFrame([(1, "a b c"), (2, "   "), (3, None)],
                               "doc_id long, text string")
    assert rows(D.simhash_signature_arrow(df)) == rows(D.simhash64(df))
    assert sorted(r["doc_id"] for r in
                  D.simhash_signature_arrow(df).collect()) == [1, 2]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]),
         (1, [0.9, 0.1, 0.0]),    # near 0
         (2, [0.0, 1.0, 0.0]),
         (3, [0.0, 0.0, 1.0]),
         (4, [1.0, 0.01, 0.0])],  # nearest to 0
        "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark, vecs):
    out = S.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2)
    got = rows(out, "rank", "neighbor_id")
    assert got == [(1, 4), (2, 1)]


def test_cosine_pairs_threshold(spark, vecs):
    got = rows(S.cosine_pairs(vecs, min_cosine=0.99))
    assert (0, 4) in got and (0, 2) not in got


def test_lsh_topk_subset_of_exact_semantics(spark, vecs):
    out = S.lsh_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2,
                     dim=3, n_planes=2, multiprobe=0)
    got = rows(out, "rank", "neighbor_id")
    # same-bucket candidates ranked identically to the exact scorer
    assert got and got[0][1] in (4, 1)


def test_multimodal_feature_plumbing(spark, docs):
    media = M.synthesize_media(docs)
    assert [f.name for f in media.schema.fields] == \
        [f.name for f in M.MEDIA_SCHEMA.fields]
    feats = M.extract_features(media, fake=True)
    got = {r["media_id"]: r for r in feats.collect()}
    assert len(got) == 5
    assert got[1]["payload_sha256"] == got[2]["payload_sha256"]  # same text
    assert len(got[1]["feature"]) == 16
    assert got[1]["payload_bytes"] == len("the cat sat on the mat")
    # deterministic across runs
    again = {r["media_id"]: r for r in
             M.extract_features(media, fake=True).collect()}
    assert got[1]["feature"] == again[1]["feature"]


def test_multimodal_decode_is_stubbed():
    # compressed formats stay NotImplementedError (no codec libs here)
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG" + b"\x00" * 64)


def test_bmp_decoder_roundtrip_and_stride():
    # encoder output parses back exactly
    d = M.decode_bmp(M._encode_bmp(b"abcdef", 8, 4))
    assert (d["width"], d["height"]) == (8, 4)
    assert d["pixels"][:6] == b"abcdef" and len(d["pixels"]) == 8 * 3 * 4
    # decode_image dispatches BMP by magic
    assert M.decode_image(M._encode_bmp(b"xy", 4, 4))["width"] == 4
    # hand-built BMP with w=3 (stride 12, 3 pad bytes/row) and top-down
    # height (negative): stride bytes must be stripped, rows preserved
    import struct
    w, h, stride = 3, 2, 12
    rows = [bytes(range(r * 9, r * 9 + 9)) + b"\xee\xee\xee"
            for r in range(h)]
    payload = (struct.pack("<2sIHHI", b"BM", 54 + stride * h, 0, 0, 54)
               + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0,
                             stride * h, 0, 0, 0, 0)
               + b"".join(rows))
    d = M.decode_bmp(payload)
    assert (d["width"], d["height"]) == (3, 2)
    assert d["pixels"] == bytes(range(9)) + bytes(range(9, 18))
    with pytest.raises(ValueError):
        M.decode_bmp(b"XX" + b"\x00" * 60)
    with pytest.raises(NotImplementedError):   # 8-bit BMP
        M.decode_bmp(struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54)
                     + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 8, 0,
                                   4, 0, 0, 0, 0) + b"\x00" * 4)


def test_bmp_rle8_decoder_roundtrip_and_escapes():
    """r10: the BI_RLE8 branch — encoder round-trip (run structure =
    fixture byte arithmetic, palette-resolved channel sums), plus a
    hand-built multi-row stream exercising absolute mode, delta skip,
    and EOL/EOF escapes, plus malformed-stream errors."""
    import struct

    for text in (b"hello world", b"", b"\x00", bytes(range(256))):
        d = M.decode_bmp(M._encode_bmp_rle8(text))
        tile = text or b"\x00"
        assert d["width"] == sum((b % 15) + 1 for b in tile)
        assert d["height"] == 1
        assert sum(d["pixels"]) == sum(
            ((b % 15) + 1) * 6 * (b % 7) for b in tile)
        assert d["pixels"][0] == tile[0] % 7

    # decode_image dispatches by the same BM magic
    assert M.decode_image(M._encode_bmp_rle8(b"zz"))["height"] == 1

    # multi-row: encoded run, absolute run (odd count -> pad byte),
    # EOL, delta skip, second row, EOF; grayscale palette j -> (j,j,j)
    pal = b"".join(bytes((j, j, j, 0)) for j in range(256))
    off = 14 + 40 + 1024
    rle = (bytes((2, 5)) + b"\x00\x03" + bytes((7, 9, 11)) + b"\x00"
           + b"\x00\x00" + b"\x00\x02" + bytes((1, 0)) + bytes((3, 2))
           + b"\x00\x00" + b"\x00\x01")

    def bmp(stream, w=5, h=2):
        return (struct.pack("<2sIHHI", b"BM", off + len(stream), 0, 0, off)
                + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1,
                              len(stream), 0, 0, 256, 0) + pal + stream)

    d = M.decode_bmp(bmp(rle))
    assert (d["width"], d["height"]) == (5, 2)
    assert d["pixels"][:15] == bytes([5, 5, 5] * 2 + [7] * 3 + [9] * 3
                                     + [11] * 3)
    # delta-skipped pixel keeps index 0 (the format's defined behavior)
    assert d["pixels"][15:] == bytes([0, 0, 0] + [2, 2, 2] * 3 + [0, 0, 0])

    with pytest.raises(ValueError):       # run overflows the scanline
        M.decode_bmp(bmp(bytes((9, 1)) + b"\x00\x01", w=4, h=1))
    with pytest.raises(ValueError):       # stream ends without EOF escape
        M.decode_bmp(bmp(bytes((2, 1)), w=4, h=1))

    # r11 hardening (ADVICE): biClrUsed beyond the palette actually
    # present raises ValueError, not a bare IndexError on resolve
    stream = bytes((2, 1)) + b"\x00\x01"
    trunc = (struct.pack("<2sIHHI", b"BM", 54 + 16 + len(stream), 0, 0,
                         54 + 16)
             + struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 8, 1,
                           len(stream), 0, 0, 300, 0)
             + b"\x00" * 16 + stream)
    with pytest.raises(ValueError, match="palette truncated"):
        M.decode_bmp(trunc)
    # a pixel index >= biClrUsed raises ValueError (index 7, 4 colors)
    small_pal = b"".join(bytes((j, j, j, 0)) for j in range(4))
    stream = bytes((2, 7)) + b"\x00\x01"
    oob = (struct.pack("<2sIHHI", b"BM", 54 + 16 + len(stream), 0, 0,
                       54 + 16)
           + struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 8, 1,
                         len(stream), 0, 0, 4, 0)
           + small_pal + stream)
    with pytest.raises(ValueError, match="outside palette"):
        M.decode_bmp(oob)


def _pack_lzw(codes, widths):
    """LSB-first variable-width code packer for hand-built LZW tests."""
    bits = []
    for c, w in zip(codes, widths):
        for k in range(w):
            bits.append((c >> k) & 1)
    data = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        data[i >> 3] |= b << (i & 7)
    return bytes(data)


def test_gif_lzw_decoder_roundtrip_and_compressed_branches():
    """r10: the GIF87a/LZW codec — encoder round-trip across width
    growth and the 4096-entry dictionary reset, the general decoder's
    genuinely-compressed branches (dictionary hits, the KwKwK
    code==next_code case, width bump after growth) on hand-packed
    streams, and malformed-stream errors."""
    # r11 (ADVICE): width is a uint16 — oversize input is a diagnosable
    # ValueError, not an opaque struct.error
    with pytest.raises(ValueError, match="65535"):
        M._encode_gif(b"\x00" * 65536)
    for text in (b"hello world", b"", b"\x00", bytes(range(256)),
                 bytes((i * 7 + 3) % 256 for i in range(5000))):
        tile = text or b"\x00"
        d = M.decode_gif(M._encode_gif(text))
        assert (d["width"], d["height"]) == (len(tile), 1)
        assert sum(d["pixels"]) == sum(6 * (b % 13) for b in tile)
        assert d["pixels"][0] == tile[0] % 13
    # decode_image dispatches on the GIF8 magic
    assert M.decode_image(M._encode_gif(b"qq"))["width"] == 2

    # min_code=2: clear=4, end=5, initial width 3.
    # clear,1,1,6,end: second 1 adds 6=(1,1); 6 decodes (1,1) and its
    # add fills code 7 -> next_code 8 == 2^3 -> end reads at width 4
    assert M._lzw_decode(_pack_lzw([4, 1, 1, 6, 5], [3, 3, 3, 3, 4]),
                         2) == [1, 1, 1, 1]
    # KwKwK: code == next_code before it exists -> prev + prev[0]
    assert M._lzw_decode(_pack_lzw([4, 2, 6, 5], [3, 3, 3, 3]),
                         2) == [2, 2, 2]
    with pytest.raises(ValueError):    # code beyond the dictionary
        M._lzw_decode(_pack_lzw([4, 1, 7, 5], [3, 3, 3, 4]), 2)
    with pytest.raises(ValueError):    # stream ends without end code
        M._lzw_decode(_pack_lzw([4, 1], [3, 3]), 2)
    with pytest.raises(ValueError):    # not a GIF
        M.decode_gif(b"NOTGIF" + b"\x00" * 32)


def test_ulaw_decoder_canonical_values_and_roundtrip():
    """r10: G.711 mu-law expansion — canonical codec values (0xFF/0x7F
    are positive/negative zero, 0x00/0x80 the extremes +-32124) and
    the WAV container round-trip."""
    import struct

    assert M._ulaw_to_linear(0xFF) == 0
    assert M._ulaw_to_linear(0x7F) == 0
    assert M._ulaw_to_linear(0x00) == -32124
    assert M._ulaw_to_linear(0x80) == 32124
    for text in (b"hello world", b"", bytes(range(256))):
        tile = text or b"\x00"
        d = M.decode_wav(M._encode_wav_ulaw(text))
        assert d["n_samples"] == len(tile)
        got = struct.unpack("<%dh" % len(tile), d["samples"])
        assert list(got) == [M._ulaw_to_linear(b) for b in tile]
    # A-law twin: canonical values per ITU G.711 / Sun g711.c — after
    # the 0x55 XOR the sign bit SET means POSITIVE (A-law has no true
    # zero; 0x2A/0xAA the -/+32256 extremes) and the fmt-6 branch
    assert M._alaw_to_linear(0x55) == -8
    assert M._alaw_to_linear(0xD5) == 8
    assert M._alaw_to_linear(0x2A) == -32256
    assert M._alaw_to_linear(0xAA) == 32256
    d = M.decode_wav(M._encode_wav_ulaw(b"hi", tag=6))
    assert list(struct.unpack("<2h", d["samples"])) \
        == [M._alaw_to_linear(b) for b in b"hi"]


def test_ima_adpcm_decoder_state_machine():
    """r10: the IMA ADPCM branch — container round-trip (fmt tag 17,
    fact chunk, block header), hand-computed state-machine steps
    (diff reconstruction, sign bit, index walk), clamping, and
    malformed-block errors."""
    import struct

    for text in (b"hello world", b"", b"\x00", bytes(range(256))):
        tile = text or b"\x00"
        d = M.decode_wav(M._encode_wav_adpcm(text))
        assert d["n_samples"] == 1 + 2 * len(tile)
        assert (d["sample_rate"], d["n_channels"]) == (8000, 1)
        pred0 = struct.unpack("<h", bytes(
            (tile[0], tile[1] if len(tile) > 1 else tile[0])))[0]
        assert struct.unpack_from("<h", d["samples"], 0)[0] == pred0

    # hand-computed: pred0=0, idx0=0, byte 0x70 -> nibbles (0, 7):
    # nib 0: step=7, diff=0, pred 0, idx max(0,-1)=0
    # nib 7: diff=0+1+3+7=11, pred 11, idx 8
    block = struct.pack("<hBB", 0, 0, 0) + bytes([0x70])
    assert struct.unpack("<3h", M._ima_adpcm_decode(block, len(block))) \
        == (0, 0, 11)
    # sign bit: pred 100, idx 10 (step 19), nib 0xF:
    # diff = 2+4+9+19 = 34 -> pred 66; idx 10+8=18 (step 41);
    # high nib 0x0: diff = 41>>3 = 5 -> pred 71
    block = struct.pack("<hBB", 100, 10, 0) + bytes([0x0F])
    assert struct.unpack("<3h", M._ima_adpcm_decode(block, len(block))) \
        == (100, 66, 71)
    # int16 clamp holds under a run of maximal positive nibbles
    block = struct.pack("<hBB", 32000, 88, 0) + bytes([0x77] * 8)
    vals = struct.unpack("<17h", M._ima_adpcm_decode(block, len(block)))
    assert max(vals) == 32767 and min(vals) == 32000

    # r11 (ADVICE): samplesPerBlock from the fmt extension truncates
    # the padding nibble — 1 data byte decodes 3 samples, spb=2 keeps 2
    block = struct.pack("<hBB", 0, 0, 0) + bytes([0x70])
    assert len(M._ima_adpcm_decode(block, len(block),
                                   samples_per_block=2)) == 4
    fmt17 = struct.pack("<HHIIHHHH", 17, 1, 8000, 8000, len(block), 4,
                        2, 2)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt17) + 8
                                 + len(block))
           + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt17)) + fmt17
           + b"data" + struct.pack("<I", len(block)) + block)
    d = M.decode_wav(wav)
    assert d["n_samples"] == 2
    assert struct.unpack("<2h", d["samples"]) == (0, 0)

    with pytest.raises(ValueError):     # block shorter than its header
        M._ima_adpcm_decode(b"\x00\x00", 4)
    with pytest.raises(ValueError):     # step index out of range
        M._ima_adpcm_decode(struct.pack("<hBB", 0, 99, 0), 4)
    with pytest.raises(NotImplementedError):   # stereo ADPCM
        fmt = struct.pack("<HHIIHH", 17, 2, 8000, 8000, 8, 4)
        M.decode_wav(b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8)
                     + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt))
                     + fmt + b"data" + struct.pack("<I", 0))


def test_wav_decoder_roundtrip_and_chunk_walk():
    import struct
    d = M.decode_wav(M._encode_wav(b"abcd", n_samples=10))
    assert (d["sample_rate"], d["n_channels"], d["n_samples"]) == \
        (16_000, 1, 10)
    assert struct.unpack_from("<h", d["samples"], 0)[0] == \
        ord("a") + 256 * ord("b")
    # an extra LIST chunk between fmt and data must be skipped
    raw = b"\x01\x02\x03\x04"
    wav = (b"RIFF" + struct.pack("<I", 4 + 24 + 12 + 8 + len(raw))
           + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000,
                                   2, 16)
           + b"LIST" + struct.pack("<I", 4) + b"INFO"
           + b"data" + struct.pack("<I", len(raw)) + raw)
    d = M.decode_wav(wav)
    assert (d["sample_rate"], d["n_samples"]) == (8000, 2)
    with pytest.raises(ValueError):
        M.decode_wav(b"RIFX" + b"\x00" * 40)
    bad = bytearray(M._encode_wav(b"ab", 4))
    struct.pack_into("<H", bad, 34, 8)          # 8-bit PCM
    with pytest.raises(NotImplementedError):
        M.decode_wav(bytes(bad))


def test_decode_media_and_real_features(spark, docs):
    enc_i = M.synthesize_media_encoded(docs.filter(F.col("doc_id") <= 3))
    enc_a = M.synthesize_media_encoded(docs.filter(F.col("doc_id") > 3),
                                       "audio")
    out = {r["media_id"]: r
           for r in M.decode_media(enc_i.unionByName(enc_a)).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for mid, r in out.items():
        t = texts[mid].encode()
        if r["media_type"] == "image":
            assert r["width"] == (mid % 16) * 4 + 8
            assert r["n_pixels"] == r["width"] * r["height"]
            assert r["payload_bytes"] == 54 + 3 * r["n_pixels"]
            assert r["first_value"] == t[0]
            assert r["sample_rate"] is None
        else:
            assert r["n_samples"] == (len(t) % 997) + 16
            assert r["payload_bytes"] == 44 + 2 * r["n_samples"]
            assert r["first_value"] == t[0] + 256 * t[1 % len(t)]
            assert r["width"] is None
    # fake=False features now decode for real: 16-bin histogram of the
    # decoded body bytes, normalized
    feats = {r["media_id"]: r["feature"] for r in
             M.extract_features(enc_i.unionByName(enc_a),
                                fake=False).collect()}
    for mid, f in feats.items():
        assert len(f) == 16 and abs(sum(f) - 1.0) < 1e-5


def test_avi_roundtrip_rotation_and_rejects():
    import struct
    tile = "rotate me é".encode()
    payload = M._encode_avi(tile, 8, 8, 5)
    d = M.decode_avi(payload)
    assert (d["width"], d["height"], d["n_frames"]) == (8, 8, 5)
    size = 3 * 8 * 8
    for i, fr in enumerate(d["frames"]):
        rot = tile[i % len(tile):] + tile[:i % len(tile)]
        assert fr == (rot * (size // len(rot) + 1))[:size], i
    # word-alignment: odd-length tiles force pad bytes between chunks
    d2 = M.decode_avi(M._encode_avi(b"abc", 8, 4, 3))
    assert d2["n_frames"] == 3 and len(d2["frames"][1]) == 3 * 8 * 4
    with pytest.raises(ValueError):
        M.decode_avi(b"RIFFxxxxWAVE")
    # a compressed '00dc' frame chunk must be rejected loudly
    bad = payload.replace(b"00db", b"00dc", 1)
    with pytest.raises(NotImplementedError):
        M.decode_avi(bad)
    # 8-bit DIB stream rejected via strf validation
    p8 = bytearray(M._encode_avi(tile, 8, 8, 2))
    at = bytes(p8).index(b"strf") + 8
    struct.pack_into("<H", p8, at + 14, 8)    # biBitCount
    with pytest.raises(NotImplementedError):
        M.decode_avi(bytes(p8))


def test_sample_frames_real_tier(spark):
    docs = spark.createDataFrame(
        [(1, "alpha bravo"), (2, "z")], "doc_id long, text string")
    vid = M.synthesize_media_encoded(docs, "video")
    out = M.sample_frames(vid, every_n=2, max_frames=3,
                          fake=False).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    for mid, text in [(1, "alpha bravo"), (2, "z")]:
        tb = text.encode()
        nf = (len(tb) % 12) + 2
        want_idx = list(range(0, nf, 2))[:3]
        rows_ = sorted(by_id[mid], key=lambda r: r["frame_index"])
        assert [r["frame_index"] for r in rows_] == want_idx
        for r in rows_:
            o = r["frame_index"] % len(tb)
            assert bytes(r["frame"])[0] == tb[o]


def test_png_roundtrip_every_filter_type():
    # h >= 5 rows means row filters 0..4 (None/Sub/Up/Average/Paeth) ALL
    # execute; the decode must reproduce the raw tiled bytes exactly
    tile = "the quick brown fox é jumps".encode()
    for w, h in [(8, 8), (12, 5), (4, 20)]:
        payload = M._encode_png(tile, w, h)
        d = M.decode_png(payload)
        size = 3 * w * h
        expect = (tile * (size // len(tile) + 1))[:size]
        assert (d["width"], d["height"]) == (w, h)
        assert d["pixels"] == expect
    # empty tile -> single 0x00 byte contract
    d = M.decode_png(M._encode_png(b"", 8, 8))
    assert d["pixels"] == b"\x00" * (3 * 8 * 8)
    # non-PNG and unsupported color types fail loudly
    import struct
    import zlib
    with pytest.raises(ValueError):
        M.decode_png(b"nope")
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 6, 0, 0, 0)  # RGBA
    bad = (M._PNG_SIG
           + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
           + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
           + struct.pack(">I", 0) + b"IDAT"
           + struct.pack(">I", zlib.crc32(b"IDAT")))
    with pytest.raises(NotImplementedError):
        M.decode_png(bad)


def test_decode_media_non_ascii_and_signed_samples(spark):
    # ADVICE r5: the oracle must expect UTF-8 BYTES (not codepoints) and
    # SIGNED int16 samples. 'é' = 0xC3 0xA9: image first_value is the
    # first BYTE (195, not codepoint 233); the audio sample 0xA9C3 =
    # 43459 unsigned reinterprets to -22077. A 1-byte tile repeats
    # (b1 == b0); empty text tiles b'\\x00'.
    docs = spark.createDataFrame(
        [(1, "éclair"), (2, "x"), (3, "")], "doc_id long, text string")
    img = {r["media_id"]: r for r in M.decode_media(
        M.synthesize_media_encoded(docs, "image")).collect()}
    assert img[1]["first_value"] == 0xC3
    assert img[2]["first_value"] == ord("x")
    assert img[3]["first_value"] == 0
    aud = {r["media_id"]: r for r in M.decode_media(
        M.synthesize_media_encoded(docs, "audio")).collect()}
    v = 0xC3 + 256 * 0xA9
    assert aud[1]["first_value"] == v - 65536    # signed reinterpretation
    assert aud[2]["first_value"] == ord("x") + 256 * ord("x")  # tile repeat
    assert aud[3]["first_value"] == 0
    assert aud[3]["n_samples"] == 16             # blen 0 -> 0 % 997 + 16


def test_ivf_topk_finds_nearest(spark, vecs):
    out = S.ivf_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=2,
                     n_centroids=2, n_probe=2)
    got = rows(out, "rank", "neighbor_id")
    # probing both of 2 centroids == exhaustive -> must match exact top-2
    assert got == [(1, 4), (2, 1)]


def test_winnow_fingerprints_identical_docs_share_all(spark, docs):
    fp = T.winnow_fingerprints(docs, k=2, w=2)
    sets = {}
    for r in fp.collect():
        sets.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert sets[1] == sets[2]            # identical docs -> identical prints
    assert sets[1] != sets[5]            # different docs -> different prints
    pairs = rows(T.fingerprint_overlap_pairs(docs, k=2, w=2, min_overlap=1)
                 .select("id_a", "id_b"))
    assert (1, 2) in pairs
    assert (4, 5) not in pairs


def test_hash_sample_properties(spark):
    from sanef_election_dashboard_etl_spark.operators import sampling as SMP
    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    s10 = set(r["id"] for r in SMP.hash_sample(df, "id", 0.10).collect())
    s50 = set(r["id"] for r in SMP.hash_sample(df, "id", 0.50).collect())
    # nested: smaller rate is a subset of larger (same hash, same buckets)
    assert s10 <= s50
    # roughly proportional
    assert 120 < len(s10) < 280 and 850 < len(s50) < 1150
    # stable across repartitioning (the property RNG sampling lacks)
    s10b = set(r["id"] for r in
               SMP.hash_sample(df.repartition(7), "id", 0.10).collect())
    assert s10 == s10b


def test_mixture_sample_targets_token_budget(spark):
    from sanef_election_dashboard_etl_spark.operators import sampling as SMP
    # 3 sources x 500 docs x 10 tokens = 5000 tokens each
    rows_ = [(s * 1000 + i, f"s{s}", "t " * 9 + "t")
             for s in range(3) for i in range(500)]
    df = spark.createDataFrame(rows_, "doc_id long, source string, text string")
    out = SMP.mixture_sample(df, {"s0": 2.0, "s1": 0.5}, budget_tokens=1000,
                             default_weight=0.1)
    toks = {r["source"]: 0 for r in out.collect()}
    for r in out.collect():
        toks[r["source"]] += r["n_tokens"]
    # s0: weight*budget = 2000 tokens < 5000 -> expect ~2000 (40% of docs)
    assert 1400 < toks["s0"] < 2600
    # s1: 500 tokens expected
    assert 300 < toks["s1"] < 750
    # default: 100 tokens expected
    assert 30 < toks["s2"] < 250
    # cap: a weight that exceeds the source takes ALL of it
    full = SMP.mixture_sample(df, {"s0": 10.0}, budget_tokens=1000)
    assert sum(r["n_tokens"] for r in full.collect()
               if r["source"] == "s0") == 5000
    # deterministic under repartitioning
    again = SMP.mixture_sample(df.repartition(7), {"s0": 2.0, "s1": 0.5},
                               budget_tokens=1000, default_weight=0.1)
    assert sorted(map(tuple, again.collect())) == \
        sorted(map(tuple, out.collect()))


def test_weighted_sample_biases_toward_heavy_rows(spark):
    from sanef_election_dashboard_etl_spark.operators import sampling as SMP
    # 500 rows of weight 1 vs 500 of weight 10: a k=100 E-S draw must be
    # dominated by the heavy half; zero/negative weights never qualify
    df = spark.createDataFrame(
        [(i, 10.0 if i < 500 else 1.0) for i in range(1000)] +
        [(2000, 0.0), (2001, -1.0)],
        "doc_id long, w double")
    got = [r["doc_id"] for r in SMP.weighted_sample(df, "w", k=100).collect()]
    assert len(got) == 100
    heavy = sum(1 for i in got if i < 500)
    assert heavy > 75
    assert 2000 not in got and 2001 not in got
    # deterministic under repartitioning
    again = [r["doc_id"] for r in
             SMP.weighted_sample(df.repartition(7), "w", k=100).collect()]
    assert got == again


def test_multimodal_frame_sample(spark, docs):
    media = M.synthesize_media(docs)
    frames = M.sample_frames(media, every_n=10, max_frames=4).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_index"])
    assert all(idx == sorted(idx) or sorted(idx) == sorted(set(idx))
               for idx in by_id.values())
    assert max(len(v) for v in by_id.values()) <= 4
    assert all(i % 10 == 0 for v in by_id.values() for i in v)


def test_auto_n_planes_tracks_corpus():
    # bucket size stays ~64 as N grows: +1 plane per corpus doubling
    assert S.auto_n_planes(50) == 4
    assert S.auto_n_planes(2000) == 5
    assert S.auto_n_planes(4000) == 6
    assert S.auto_n_planes(10 ** 9) == 24
    assert S.auto_n_planes(2 ** 100) == 60  # packing cap


def test_hamming_topk_full_radius_equals_exact(spark, vecs):
    # radius = n_bits passes every candidate -> identical to brute force
    exact = rows(S.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=3))
    got = rows(S.hamming_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=3,
                              dim=3, n_bits=8, radius=8))
    assert got == exact


def test_hamming_topk_arrow_matches_expression(spark, vecs):
    kw = dict(k=3, dim=3, n_bits=8, radius=4)
    expr = rows(S.hamming_topk(vecs, vecs.filter(F.col("vec_id") == 0), **kw))
    arrow = rows(S.hamming_topk(vecs, vecs.filter(F.col("vec_id") == 0),
                                use_arrow=True, **kw))
    assert arrow == expr and expr  # same bits -> same candidates -> same ranks


def test_embedding_dup_pairs_finds_clones_not_neighbors(spark, vecs):
    # vec 4 is a near-clone of vec 0 (cos ~0.99995); vec 1 is merely
    # similar (cos ~0.994) and must be filtered by the exact verify
    got = rows(S.embedding_dup_pairs(vecs, min_cosine=0.999))
    assert (0, 4) in got and all(p != (0, 1) for p in got)
    # exact clones always pair: union an id-shifted copy
    import pyspark.sql.functions as F2
    both = vecs.unionByName(vecs.withColumn("vec_id",
                                            F2.col("vec_id") + F2.lit(100)))
    clone_pairs = rows(S.embedding_dup_pairs(both, min_cosine=0.999))
    for i in range(5):
        assert (i, i + 100) in clone_pairs


def test_embedding_dup_pairs_multitable_recall(spark):
    # perturb each corpus vector to cos ~0.99 with seeded noise: 1 table
    # detects ~0.72 of the pairs (docstring table), 3 tables ~0.98 —
    # the union amplification must show up in the measured recall
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((120, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    target = 0.99
    noise = rng.standard_normal((120, 16))
    noise -= (noise * base).sum(axis=1, keepdims=True) * base  # orthogonal
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    pert = target * base + math.sqrt(1 - target ** 2) * noise
    rows_ = [(i, [float(x) for x in base[i]]) for i in range(120)] + \
        [(i + 1000, [float(x) for x in pert[i]]) for i in range(120)]
    df = spark.createDataFrame(rows_, "vec_id long, embedding array<float>")

    def recall(n_tables):
        got = rows(S.embedding_dup_pairs(df, min_cosine=0.98, n_bits=60,
                                         n_tables=n_tables))
        return sum((i, i + 1000) in got for i in range(120)) / 120

    r1, r3 = recall(1), recall(3)
    assert r3 > r1
    assert r3 >= 0.9


def test_cosine_topk_pandas_matches_codegen(spark, vecs):
    exact = rows(S.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=3))
    vectorized = rows(S.cosine_topk_pandas(
        vecs, vecs.filter(F.col("vec_id") == 0), k=3))
    assert vectorized == exact


def test_lm_perplexity_separates_boilerplate_from_outliers(spark):
    # 3 identical template docs + 1 statistical outlier: under the
    # self-fit bigram LM the template's n-grams dominate the counts, so
    # the outlier must score strictly higher cross-entropy
    df = spark.createDataFrame(
        [(1, "click here to subscribe now"),
         (2, "click here to subscribe now"),
         (3, "click here to subscribe now"),
         (4, "zq xv wk jp qqnm zzyx")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["cross_entropy"]
           for r in T.lm_cross_entropy(df).collect()}
    assert got[4] > got[1]
    assert got[1] == got[2] == got[3]


def test_repetition_ratio(spark):
    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"),        # highly repetitive 3-grams
         (2, "one two three four five six")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.repetition_ratio(df, n=3).collect()}
    assert got[2]["repetition_ratio"] == 0.0
    assert got[1]["repetition_ratio"] > 0.5
    assert got[1]["n_grams"] == 7 and got[1]["n_distinct_grams"] == 3


def test_remove_boilerplate_lines(spark):
    docs = [(i, f"unique line {i}\nAll rights reserved\nAccept cookies")
            for i in range(4)]
    docs.append((9, "only unique content here"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"]
           for r in T.remove_boilerplate_lines(df, min_docs=3).collect()}
    for i in range(4):
        assert out[i] == f"unique line {i}"       # boilerplate dropped, order kept
    assert out[9] == "only unique content here"   # untouched


def test_empty_docs_produce_no_shingles_and_no_pairs(spark):
    # split(trim('')) yields [''] — empty/whitespace docs must not match
    # each other as jaccard-1.0 pairs (ADVICE r1)
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real words here")],
        "doc_id long, text string")
    assert D.token_set(docs).filter(F.col("doc_id") < 3).count() == 0
    assert D.shingles(docs, n=3).filter(F.col("doc_id") < 3).count() == 0
    assert D.ngram_jaccard_pairs(docs, n=1, min_jaccard=0.1).count() == 0
    assert D.minhash_lsh_pairs(docs, n=1, k=16, bands=4,
                               min_jaccard=0.1).count() == 0


def test_max_df_bounds_hot_shingle_candidates(spark):
    # 20 docs sharing one boilerplate sentence + a unique tail; the
    # boilerplate shingles alone would make every pair a candidate
    # (20*19/2 = 190 pairs). With max_df they are dropped before the
    # self-join and only the true near-dup pair (0, 1: same tail) remains.
    boiler = "subscribe to our newsletter for updates"
    rows_in = [(i, f"{boiler} unique{i} "
                   + ("shared tail words" if i < 2 else f"tail{i} t{i} w{i}"))
               for i in range(20)]
    docs = spark.createDataFrame(rows_in, "doc_id long, text string")

    unguarded = D.ngram_jaccard_pairs(docs, n=1, min_jaccard=0.1)
    assert unguarded.count() == 190  # quadratic blow-up from the hot key

    guarded = D.ngram_jaccard_pairs(docs, n=1, min_jaccard=0.1, max_df=10)
    got = rows(guarded.select("id_a", "id_b"))
    assert got == [(0, 1)]  # only the genuinely-similar tail pair survives

    # the LSH path shares the guard: hot shingles leave both the
    # signatures and the verification join
    # 2 rows/band: catch probability 1-(1-0.6^2)^8 ≈ .97 for the 0.6-jaccard
    # pair (deterministic here — fixed seed)
    lsh = D.minhash_lsh_pairs(docs, n=1, k=16, bands=8,
                              min_jaccard=0.1, max_df=10)
    assert rows(lsh.select("id_a", "id_b")) == [(0, 1)]


def test_asof_join_semantics(spark):
    from sanef_election_dashboard_etl_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 25), (1, 4), (2, 7)], "k long, t long")
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 20, "b"), (1, 25, "c"), (2, 30, "z")],
        "k long, t long, v string")
    out = {(r["k"], r["t"]): r["v"]
           for r in asof_join(left, right, "k", "t", ["v"]).collect()}
    assert out[(1, 4)] is None          # nothing at-or-before t=4
    assert out[(1, 10)] == "a"          # latest <= 10 is t=5
    assert out[(1, 25)] == "c"          # equal time matches (>= semantics)
    assert out[(2, 7)] is None          # right row is in the future


def test_pack_sequences_bins(spark):
    from sanef_election_dashboard_etl_spark.operators.packing import pack_sequences

    # one group (n_groups=1): docs 0..4 with 3000 tokens each, budget 4000
    docs = spark.createDataFrame([(i, 3000) for i in range(5)],
                                 "doc_id long, n long")
    out = {r["doc_id"]: (r["cum_before"], r["bin_id"])
           for r in pack_sequences(docs, "n", budget=4000, n_groups=1).collect()}
    assert out[0] == (0, 0)       # starts at 0 -> bin 0
    assert out[1] == (3000, 0)    # straddles 4000 but STARTS in bin 0
    assert out[2] == (6000, 1)
    assert out[3] == (9000, 2)
    assert out[4] == (12000, 3)


def test_tfidf_top_terms_ranks_distinctive(spark):
    docs = spark.createDataFrame(
        [(1, "common rare1 common"), (2, "common rare2"), (3, "common")],
        "doc_id long, text string")
    out = T.tfidf_top_terms(docs, k=2)
    top = {r["doc_id"]: r["term"] for r in out.collect() if r["rank"] == 1}
    # 'common' is in every doc -> idf 0; the rare term wins everywhere
    assert top[1] == "rare1" and top[2] == "rare2"
    # doc 3 only has the zero-idf term
    assert top[3] == "common"


def test_lsh_multiprobe_superset_of_exact_bucket(spark, vecs):
    # multiprobe explores the query's bucket PLUS Hamming-1 neighbors, so
    # its candidate set (and hence result quality) can only grow
    base = rows(S.lsh_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=4,
                           dim=3, n_planes=2, multiprobe=0)
                .select("neighbor_id"))
    probed = rows(S.lsh_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=4,
                             dim=3, n_planes=2, multiprobe=1)
                  .select("neighbor_id"))
    assert set(base) <= set(probed)
    # with every Hamming-1 bucket of a 2-plane space probed, all 4
    # non-query vectors are reachable -> exact top-4 order
    exact = rows(S.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=4)
                 .select("neighbor_id"))
    assert probed == exact


def test_cms_never_underestimates_and_is_tight_when_wide(spark):
    from sanef_election_dashboard_etl_spark.operators import sketch as SK

    tok = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 3 + [("c",)] * 1, "token string")
    for portable in (False, True):
        sk = SK.count_min_sketch(tok, "token", depth=4, width=256,
                                 portable=portable)
        # sketch size is bounded by depth*width regardless of input
        assert sk.count() <= 4 * 256
        probes = tok.select("token").distinct()
        est = {r["key"]: r["est_count"]
               for r in SK.cms_estimate(sk, probes, "token", depth=4,
                                        width=256,
                                        portable=portable).collect()}
        exact = {"a": 10, "b": 3, "c": 1}
        for k, true in exact.items():
            assert est[k] >= true          # CMS never underestimates
        # 3 keys in 4x256 buckets: no collisions, estimates are exact
        assert est == exact


def test_cms_weighted_build_equals_raw_build(spark):
    """r12: count_min_sketch(weight_col=...) over pre-aggregated
    (key, count) rows must produce bit-identical (j, bucket, cnt) rows
    to the raw-row build — the rewrite sketch_cms_tokens relies on."""
    from sanef_election_dashboard_etl_spark.operators import sketch as SK

    tok = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 3 + [("c",)] * 1, "token string")
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("w"))
    for portable in (False, True):
        raw = SK.count_min_sketch(tok, "token", depth=4, width=256,
                                  portable=portable)
        weighted = SK.count_min_sketch(counts, "token", depth=4, width=256,
                                       portable=portable, weight_col="w")
        key = ["j", "bucket", "cnt"]
        assert sorted(map(tuple, raw.select(*key).collect())) == \
            sorted(map(tuple, weighted.select(*key).collect()))
        assert dict(weighted.dtypes)["cnt"] == "bigint"


@pytest.mark.parametrize("bad", [None, -1])
def test_cms_weighted_build_rejects_null_and_negative_weights(spark, bad):
    """A NULL weight (skipped by SUM) or a negative one (breaks the
    never-underestimates invariant) fails the build loudly."""
    from sanef_election_dashboard_etl_spark.operators import sketch as SK

    counts = spark.createDataFrame([("a", 10), ("b", bad)],
                                   "token string, w bigint")
    sk = SK.count_min_sketch(counts, "token", depth=4, width=256,
                             weight_col="w")
    with pytest.raises(Exception, match="non-NULL and non-negative"):
        sk.collect()


def test_cms_absent_key_estimates_zero(spark):
    from sanef_election_dashboard_etl_spark.operators import sketch as SK

    tok = spark.createDataFrame([("a",)] * 5, "token string")
    sk = SK.count_min_sketch(tok, "token", depth=4, width=256)
    probes = spark.createDataFrame([("zzz",)], "token string")
    est = SK.cms_estimate(sk, probes, "token", depth=4, width=256).collect()
    assert est[0]["est_count"] == 0


def test_heavy_hitters_fraction_threshold(spark):
    from sanef_election_dashboard_etl_spark.operators import sketch as SK

    # 100 rows: 'hot' 60x, 'warm' 30x, 'cold' 10x
    tok = spark.createDataFrame(
        [("hot",)] * 60 + [("warm",)] * 30 + [("cold",)] * 10,
        "token string")
    # >= 30% keeps hot and warm (warm is exactly at the cutoff)
    got = {r["key"] for r in
           SK.heavy_hitters_fraction(tok, "token", num=30, den=100).collect()}
    assert got == {"hot", "warm"}


def test_z_value_interleaves_bits(spark):
    from sanef_election_dashboard_etl_spark.operators import layout as L

    # col0 = 0b10, col1 = 0b01, bits=2: output bit (i*2 + j)
    # col0 bit i=1 -> pos 2 (value 4); col1 bit i=0 -> pos 1 (value 2)
    df = spark.createDataFrame([(2, 1)], "a long, b long")
    z = df.select(L.z_value([F.col("a"), F.col("b")], bits=2).alias("z"))
    assert z.collect()[0]["z"] == 6

    def morton(a, b, bits):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (i * 2)
            out |= ((b >> i) & 1) << (i * 2 + 1)
        return out

    vals = [(a, b) for a in (0, 3, 7, 255) for b in (0, 1, 128, 255)]
    df = spark.createDataFrame(vals, "a long, b long")
    got = {(r["a"], r["b"]): r["z"] for r in df.select(
        "a", "b", L.z_value([F.col("a"), F.col("b")], 8).alias("z")).collect()}
    assert got == {(a, b): morton(a, b, 8) for a, b in vals}


def test_z_order_preserves_rows_and_clusters(spark):
    from sanef_election_dashboard_etl_spark.operators import layout as L

    import itertools
    rows_in = [(x, y) for x, y in itertools.product(range(16), range(16))]
    df = spark.createDataFrame(rows_in, "x long, y long")
    out = L.z_order(df, ["x", "y"], bits=4, num_partitions=4)
    # same multiset of rows, layout only
    assert sorted((r["x"], r["y"]) for r in out.collect()) == sorted(rows_in)
    # locality: each output partition covers a bounded sub-rectangle of
    # key space, so per-partition x-span stays well under the global span
    parts = out.withColumn("pid", F.spark_partition_id()) \
               .groupBy("pid").agg((F.max("x") - F.min("x")).alias("sx"))
    assert all(r["sx"] <= 8 for r in parts.collect())


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 propagation round) + island 8-9
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (9, 8)], "id_a long, id_b long")
    got = {r["doc_id"]: r["component"]
           for r in D.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 8: 8, 9: 8}


def test_connected_components_converges_on_long_path(spark):
    # path 0-1-2-...-9: worst-case diameter for plain min propagation
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)],
                                  "id_a long, id_b long")
    got = {r["doc_id"]: r["component"]
           for r in D.connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(10)}


def test_cap_per_group_quota_and_determinism(spark):
    from sanef_election_dashboard_etl_spark.operators.sampling import cap_per_group

    df = spark.createDataFrame(
        [(i, "big" if i < 50 else "small") for i in range(60)],
        "doc_id long, source string")
    out = cap_per_group(df, "source", cap=10)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 10, "small": 10}
    # plain order keeps the FIRST ids
    kept = sorted(r["doc_id"] for r in
                  out.filter(F.col("source") == "big").collect())
    assert kept == list(range(10))
    # hash order keeps a different-but-stable subset of the same size
    shuffled = cap_per_group(df, "source", cap=10, shuffle_order=True)
    kept_h = sorted(r["doc_id"] for r in
                    shuffled.filter(F.col("source") == "big").collect())
    assert len(kept_h) == 10 and kept_h != kept
    again = sorted(r["doc_id"] for r in
                   cap_per_group(df.repartition(7), "source", cap=10,
                                 shuffle_order=True)
                   .filter(F.col("source") == "big").collect())
    assert kept_h == again


def test_interval_join_containment_and_bin_spanning(spark):
    from sanef_election_dashboard_etl_spark.operators.temporal import interval_join

    # bin_width=10: interval [8, 22) spans bins 0,1,2; [0, 5) only bin 0
    pts = spark.createDataFrame(
        [(1, 8), (2, 21), (3, 22), (4, 0), (5, 4)],
        "pid long, t long").select(
            "pid", F.col("t").cast("timestamp").alias("t"))
    ivs = spark.createDataFrame(
        [(100, 8, 22), (200, 0, 5)], "iid long, s long, e long").select(
            "iid", F.col("s").cast("timestamp").alias("s"),
            F.col("e").cast("timestamp").alias("e"))
    got = sorted((r["pid"], r["iid"]) for r in
                 interval_join(pts, ivs, "t", "s", "e",
                               bin_width=10).collect())
    # start inclusive (8 in [8,22)), end exclusive (22 not in [8,22));
    # point 2 at t=21 only matches via the spanned bin 2
    assert got == [(1, 100), (2, 100), (4, 200), (5, 200)]


def test_resample_gap_fill_emits_zero_buckets(spark):
    from sanef_election_dashboard_etl_spark.operators.temporal import resample_gap_fill

    # events at hours 0 and 3 -> hours 1 and 2 must appear with 0
    df = spark.createDataFrame(
        [(0, "a"), (3 * 3600, "a")], "t long, g string").select(
            F.col("t").cast("timestamp").alias("ts"), "g")
    got = {(r["bucket_start"], r["g"]): r["n_events"]
           for r in resample_gap_fill(df, "ts", 3600, "g").collect()}
    assert got == {(0, "a"): 1, (3600, "a"): 0,
                   (7200, "a"): 0, (10800, "a"): 1}


def test_assign_splits_partition_and_stability(spark):
    from sanef_election_dashboard_etl_spark.operators.sampling import assign_splits

    df = spark.createDataFrame([(i,) for i in range(3000)], "doc_id long")
    out = assign_splits(df, "doc_id")
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    # every row labeled, proportions roughly 90/5/5
    assert sum(counts.values()) == 3000
    assert counts["train"] > 2500 and counts["val"] > 50 and counts["test"] > 50
    # stable under repartitioning (no RNG)
    again = {r["doc_id"]: r["split"] for r in
             assign_splits(df.repartition(7), "doc_id").collect()}
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    assert first == again
    # consistent across tables sharing the key: the 10% hash_sample of
    # the same key never crosses into train's complement differently
    with pytest.raises(ValueError):
        assign_splits(df, "doc_id", {"a": 0.9, "b": 0.2})


def test_ngram_lm_counts_probabilities(spark):
    df = spark.createDataFrame(
        [(1, "a b a c a b"), (2, "a"), (3, "")],  # short docs produce no grams
        "doc_id long, text string")
    out = {(r["context"], r["next_token"]): (r["cnt"], r["context_cnt"], r["p"])
           for r in T.ngram_lm_counts(df, n=2).collect()}
    # contexts: a->b (2x), a->c (1x), b->a (1x), c->a (1x)
    assert out[("a", "b")] == (2, 3, round(2 / 3, 4))
    assert out[("a", "c")] == (1, 3, round(1 / 3, 4))
    assert out[("b", "a")] == (1, 1, 1.0)
    assert out[("c", "a")] == (1, 1, 1.0)
    assert len(out) == 4
    # trigram context is the two preceding tokens
    tri = {(r["context"], r["next_token"]) for r in
           T.ngram_lm_counts(df, n=3).collect()}
    assert ("a b", "a") in tri and ("b a", "c") in tri


def test_winsorize_clips_to_quantile_band(spark):
    from sanef_election_dashboard_etl_spark.operators.sampling import winsorize

    # 0..99 plus two wild outliers
    df = spark.createDataFrame([(i, float(i)) for i in range(100)]
                               + [(100, 1e9), (101, -1e9)],
                               "event_id long, value double")
    out = {r["event_id"]: r["value_winsorized"]
           for r in winsorize(df, "value", lo=0.05, hi=0.95).collect()}
    hi = max(out.values())
    lo = min(out.values())
    assert hi < 1e9 and lo > -1e9          # outliers clipped
    assert out[100] == hi and out[101] == lo
    assert out[50] == 50.0                 # interior values untouched


def test_decontaminate_flags_overlapping_train_docs(spark):
    train = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "completely unrelated training material here today")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(1, "quick brown fox jumps high")], "doc_id long, text string")
    got = {(r["doc_id"], r["eval_doc_id"]): r["n_shared"]
           for r in D.decontaminate(train, ev, n=3,
                                    min_overlap=2).collect()}
    # shared 3-grams: 'quick brown fox', 'brown fox jumps' -> 2
    assert got == {(10, 1): 2}
    # raising the bar drops the pair
    assert D.decontaminate(train, ev, n=3, min_overlap=3).count() == 0


def test_mixture_sample_null_text_counts_zero_tokens(spark):
    # ADVICE r3: null text must contribute 0 (not -1 / NULL-skipped) to
    # per-source totals, identically in engine and oracle semantics
    from sanef_election_dashboard_etl_spark.operators import sampling as SMP
    rows_ = [(i, "s0", "t " * 9 + "t") for i in range(100)] + \
            [(900 + i, "s0", None) for i in range(5)]
    df = spark.createDataFrame(rows_, "doc_id long, source string, text string")
    out = SMP.mixture_sample(df, {"s0": 10.0}, budget_tokens=100)
    got = {r["doc_id"]: r["n_tokens"] for r in out.collect()}
    # weight*budget=1000 tokens = whole source (total is 1000, NOT 995
    # or 1000-minus-nulls): every doc kept, null-text docs at 0 tokens
    assert len(got) == 105
    assert all(got[900 + i] == 0 for i in range(5))
    assert sum(got.values()) == 1000


def test_curate_short_doc_gets_verdict_row(spark):
    # ADVICE r3: a 0/1-token doc has no bigram, so lm_cross_entropy emits
    # nothing for it — curate must still produce its 'short' verdict row
    # (left join; null cross_entropy passes the lm rule)
    df = spark.createDataFrame(
        [(1, "one"),
         (2, " ".join(f"w{i}" for i in range(30)))],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in T.curate(df).collect()}
    assert set(got) == {1, 2}
    assert got[1]["reason"] == "short" and got[1]["keep"] == 0
    assert got[1]["cross_entropy"] is None
    assert got[2]["reason"] == "keep" and got[2]["keep"] == 1


def test_embedding_dup_pairs_rejects_bad_n_bits(spark, vecs):
    # ADVICE r3: n_bits must not silently truncate to the first 60 planes
    # nor break pigeonhole coverage — validate, raise
    with pytest.raises(ValueError, match="exceeds the portable"):
        S.embedding_dup_pairs(vecs, n_bits=64)
    with pytest.raises(ValueError, match="pigeonhole"):
        S.embedding_dup_pairs(vecs, n_bits=58, max_hamming=3)
    # 40 bits / hamming<=3 -> 4 chunks of 10: valid non-default geometry
    assert {"id_a", "id_b"} == set(
        S.embedding_dup_pairs(vecs, n_bits=40, max_hamming=3).columns)


def test_ann_topk_routes_to_hamming_default(spark, vecs):
    # VERDICT r3 item 5: the default ANN entry point is the Hamming tier
    # at the documented operating point (120 bits, radius 56)
    q = vecs.limit(3)
    a = sorted(map(tuple, S.ann_topk(vecs, q, k=5).collect()))
    h = sorted(map(tuple, S.hamming_topk(vecs, q, k=5, n_bits=120,
                                         radius=56).collect()))
    assert a == h and len(a) > 0


def test_fingerprint_loose_collapses_punctuation(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world!"), (2, "hello   WORLD"), (3, "hello world?!"),
         (4, "hello worlds")],
        "doc_id long, text string")
    out = rows(D.exact_dedup(df, fp_fn=T.fingerprint_loose),
               "survivor_id", "n_copies")
    # 1,2,3 collapse (punctuation/case/whitespace); 4 ("worlds") does not
    assert out == [(1, 3), (4, 1)]


def test_bloom_has_no_false_negatives(spark):
    fps = spark.createDataFrame([(f"fp{i}",) for i in range(200)],
                                "fp string")
    words = D.build_bloom(fps, m_bits=1 << 12, k=5)
    assert len(words) == (1 << 12) // 64
    # probe every inserted fp through the same expression path: all must hit
    probe = fps
    for i, pos in enumerate(D.bloom_positions(F.col("fp"), 1 << 12, 5)):
        probe = probe.withColumn(f"__p{i}", pos)
    import functools
    wlit = F.array(*[F.lit(w).cast("long") for w in words])
    hits = functools.reduce(
        lambda a, b: a & b,
        [F.expr(f"(element_at(__w, CAST(__p{i} DIV 64 AS INT) + 1)"
                f" & shiftleft(CAST(1 AS BIGINT), CAST(__p{i} % 64 AS INT)))"
                f" != 0") for i in range(5)])
    n_hit = probe.withColumn("__w", wlit).filter(hits).count()
    assert n_hit == 200


def test_incremental_bloom_equals_plain_anti_join(spark):
    # corpus of 100 docs; batch = 40 dups of corpus + 60 genuinely new
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} body") for i in range(100)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1000 + i, f"corpus document number {i} body") for i in range(40)]
        + [(2000 + i, f"fresh unseen text {i}") for i in range(60)],
        "doc_id long, text string")
    got = rows(D.incremental_dedup_bloom(corpus, batch, m_bits=1 << 12),
               "doc_id")
    fp = T.fingerprint(F.col("text"))
    plain = (batch.select("doc_id", fp.alias("fp"))
             .join(corpus.select(fp.alias("fp")).distinct(), "fp",
                   "left_anti").select("doc_id"))
    assert got == rows(plain, "doc_id")
    assert [r[0] for r in got] == [2000 + i for i in range(60)]


def test_incremental_bloom_prunes_before_the_join(spark):
    # with m >> k*n the false-positive rate is tiny: the bloom-positive
    # set must be nearly just the true dups, so the exact join sees a
    # fraction of the batch — the operator's whole point.
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} body") for i in range(100)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1000 + i, f"corpus document number {i} body") for i in range(10)]
        + [(2000 + i, f"fresh unseen text {i}") for i in range(190)],
        "doc_id long, text string")
    fp = T.fingerprint(F.col("text"))
    words = D.build_bloom(corpus.select(fp.alias("fp")), 1 << 14, 5)
    probe = batch.select(fp.alias("fp"))
    for i, pos in enumerate(D.bloom_positions(F.col("fp"), 1 << 14, 5)):
        probe = probe.withColumn(f"__p{i}", pos)
    import functools
    wlit = F.array(*[F.lit(w).cast("long") for w in words])
    hits = functools.reduce(
        lambda a, b: a & b,
        [F.expr(f"(element_at(__w, CAST(__p{i} DIV 64 AS INT) + 1)"
                f" & shiftleft(CAST(1 AS BIGINT), CAST(__p{i} % 64 AS INT)))"
                f" != 0") for i in range(5)])
    n_maybe = probe.withColumn("__w", wlit).filter(hits).count()
    assert n_maybe >= 10            # the true dups always hit
    assert n_maybe <= 10 + 19      # <=10% fp rate on the 190 fresh rows


def test_semantic_dedup_drops_clones_keeps_originals(spark):
    # well-separated originals (pairwise cos <= ~0.5 < tau) so the ONLY
    # in-threshold pairs are (original, exact clone)
    sep = [(0, [1.0, 0.0, 0.0, 0.0]),
           (1, [0.0, 1.0, 0.0, 0.0]),
           (2, [0.0, 0.0, 1.0, 0.0]),
           (3, [0.0, 0.0, 0.0, 1.0]),
           (4, [1.0, 1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(sep, "vec_id long, embedding array<float>")
    clones = emb.withColumn("vec_id", F.col("vec_id") + F.lit(100000))
    out = S.semantic_dedup(emb.unionByName(clones), min_cosine=0.99)
    got = {r["vec_id"]: (r["kept"], r["cluster"]) for r in out.collect()}
    assert len(got) == 10
    for vid, (kept, cluster) in got.items():
        if vid >= 100000:
            assert not kept, f"clone {vid} should be dropped"
            assert cluster == got[vid - 100000][1]  # identical vec, same sig
        else:
            assert kept, f"original {vid} should survive"


def test_semantic_dedup_kmeans_same_invariant(spark):
    sep = [(0, [1.0, 0.0, 0.0, 0.0]),
           (1, [0.0, 1.0, 0.0, 0.0]),
           (2, [0.0, 0.0, 1.0, 0.0]),
           (3, [0.0, 0.0, 0.0, 1.0])]
    emb = spark.createDataFrame(sep, "vec_id long, embedding array<float>")
    clones = emb.withColumn("vec_id", F.col("vec_id") + F.lit(100000))
    out = S.semantic_dedup_kmeans(emb.unionByName(clones), min_cosine=0.99,
                                  n_clusters=2)
    got = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert all(not got[v] for v in got if v >= 100000)
    assert all(got[v] for v in got if v < 100000)


def test_semantic_dedup_respects_threshold(spark):
    # two near-identical vectors (cos ~0.99955 -> round4 0.9996) and one
    # orthogonal: at tau=0.99 the later near-twin drops; at tau=0.9999
    # (above the rounded cosine) nothing drops. Values sit clear of the
    # round(4) boundary so the comparison is unambiguous in both engines.
    base = [1.0, 0.0, 0.0, 0.0]
    near = [1.0, 0.03, 0.0, 0.0]
    orth = [0.0, 1.0, 0.0, 0.0]
    emb = spark.createDataFrame(
        [(1, base), (2, near), (3, orth)],
        "vec_id long, embedding array<float>")
    keep = {r["vec_id"]: r["kept"]
            for r in S.semantic_dedup(emb, min_cosine=0.99).collect()}
    assert keep[1] and keep[3]
    assert not keep[2]
    keep_hi = {r["vec_id"]: r["kept"]
               for r in S.semantic_dedup(emb, min_cosine=0.9999).collect()}
    assert all(keep_hi.values())


def test_bucketed_join_eliminates_exchanges(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange operators (the co-located join bucketing
    exists for); with sortBy metadata the per-side Sort disappears too.
    An unbucketed control of the same data must show exchanges."""
    from sanef_election_dashboard_etl_spark.operators import layout as L

    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a"))
    right = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("b"))
    L.bucketed_write(left, "bkt_left", ["k"], 4, sort_keys=["k"])
    L.bucketed_write(right, "bkt_right", ["k"], 4, sort_keys=["k"])
    try:
        bl, br = spark.table("bkt_left"), spark.table("bkt_right")
        # bucketed SMJ must win over a broadcast to exercise the layout
        joined = bl.hint("merge").join(br, "k").select("k", "a", "b")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert "Bucketed: true" in plan, plan
        control = left.hint("merge").join(right, "k").select("k", "a", "b")
        cplan = control._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in cplan
        assert rows(joined) == rows(control)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_bucketed_agg_on_bucket_key_skips_shuffle(spark):
    """groupBy on the bucket key of a bucketed table must aggregate with
    no Exchange (partial agg is already final per bucket)."""
    from sanef_election_dashboard_etl_spark.operators import layout as L

    df = spark.range(0, 5_000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v"))
    L.bucketed_write(df, "bkt_agg", ["k"], 4)
    try:
        agg = spark.table("bkt_agg").groupBy("k").agg(F.sum("v").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert rows(agg, "k", "s") == rows(
            df.groupBy("k").agg(F.sum("v").alias("s")), "k", "s")
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_agg")


# --------------------------------------------------------------------------
# ExactSubstr-style duplicated spans (dedup.duplicated_spans family)
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def span_docs(spark):
    # Docs 1 and 2 share the 10-token run w0..w9 at different offsets;
    # doc 3 shares only w4..w9 (6 tokens < k=8 -> invisible at k=8);
    # doc 4 is unique filler; doc 5 is shorter than k (no grams at all).
    shared = " ".join(f"w{i}" for i in range(10))
    return spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta " + shared),
         (2, shared + " iota kappa lam mu nu xi omicron pi"),
         (3, "one two three four five six seven eight "
             + " ".join(f"w{i}" for i in range(4, 10))),
         (4, "unique filler text that repeats nowhere else in the corpus "
             "and keeps going for a while longer than eight tokens"),
         (5, "too short for grams")],
        "doc_id long, text string")


def test_duplicated_spans_finds_maximal_shared_run(spark, span_docs):
    got = rows(D.duplicated_spans(span_docs, k=8))
    # Doc 1: w0..w9 occupies positions 8..17 -> one span start=8 len=10.
    # Doc 2: same run at positions 0..9 -> span start=0 len=10.
    # Docs 3-5: nothing (6-token overlap < k; unique; too short).
    assert got == [(1, 8, 10), (2, 0, 10)]


def test_duplicated_spans_merges_overlapping_windows(spark):
    # Two dup grams whose starts differ by more than 1 (not an adjacent
    # "island" by start positions) but whose k-token windows OVERLAP in
    # coverage must merge into ONE span: running-max interval merge, not
    # consecutive-start islands.
    a = " ".join(f"a{i}" for i in range(8))      # gram A
    b = " ".join(f"b{i}" for i in range(8))      # gram B
    docs = [
        # doc 1: A, 3 unique tokens, then B -> A covers 0..7, B covers
        # 11..18: disjoint (gap 3 > 0) -> two spans.
        (1, a + " u1x u2x u3x " + b),
        # doc 2: A then B overlapping: A at 0..7, B at 5..12 does not
        # happen with whole-gram reuse, so instead repeat A's tail:
        # tokens a0..a7 a3..a7 b0..b7 -> dup grams at many starts whose
        # windows chain -> ONE merged span covering everything shared.
        (2, a + " " + " ".join(f"a{i}" for i in range(3, 8)) + " " + b),
        # doc 3 provides second copies of A and B so both are cross-doc
        # duplicated, plus doc 4 carries the a3..a7 tail context of doc 2
        (3, a + " q1x q2x q3x q4x q5x q6x q7x q8x " + b),
        (4, " ".join(f"a{i}" for i in range(3, 8)) + " "
            + " ".join(f"b{i}" for i in range(8)) + " t1x t2x t3x"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r[0]: [] for r in rows(df.select("doc_id"))}
    for d, s, ln in rows(D.duplicated_spans(df, k=8)):
        got[d].append((s, ln))
    assert got[1] == [(0, 8), (11, 8)]          # disjoint -> two spans
    # doc 2: a0..a7 a3..a7 b0..b7 = 21 tokens, all covered by chained
    # dup windows -> exactly one maximal span
    assert got[2] == [(0, 21)]


def test_duplicated_span_stats_covers_every_doc(spark, span_docs):
    got = {r[0]: r[1:] for r in rows(D.duplicated_span_stats(
        span_docs, k=8))}
    assert set(got) == {1, 2, 3, 4, 5}
    n1 = got[1]
    assert n1 == (18, 1, 10, 10000 * 10 // 18)
    assert got[4][1:] == (0, 0, 0)              # clean doc -> zeros
    assert got[5][1:] == (0, 0, 0)              # sub-k doc -> zeros


def test_strip_duplicated_spans_removes_exactly_the_spans(spark, span_docs):
    got = {r[0]: (r[1], r[2]) for r in rows(D.strip_duplicated_spans(
        span_docs, k=8))}
    assert got[1][0] == "alpha beta gamma delta epsilon zeta eta theta"
    assert got[1][1] == 8
    assert got[2][0] == "iota kappa lam mu nu xi omicron pi"
    assert got[5] == ("too short for grams", 4)  # untouched short doc


def test_strip_fully_duplicated_doc_yields_empty_text(spark):
    t = " ".join(f"z{i}" for i in range(9))
    df = spark.createDataFrame(
        [(1, t), (2, t + " extra trailing tokens beyond the duplicate "
                          "run here now")],
        "doc_id long, text string")
    got = {r[0]: (r[1], r[2]) for r in rows(D.strip_duplicated_spans(
        df, k=8))}
    assert got[1] == ("", 0)


# --------------------------------------------------------------------------
# Training-shard export (packing.assign_shards)
# --------------------------------------------------------------------------

def test_assign_shards_deterministic_and_layout_independent(spark):
    from sanef_election_dashboard_etl_spark.operators.packing import \
        assign_shards

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r["doc_id"]: r["shard"]
         for r in assign_shards(df, 8).collect()}
    b = {r["doc_id"]: r["shard"]
         for r in assign_shards(df.repartition(7), 8).collect()}
    assert a == b                       # layout-independent
    assert set(a.values()) == set(range(8))
    # salt re-deals into a DIFFERENT (but still deterministic) sharding
    c = {r["doc_id"]: r["shard"]
         for r in assign_shards(df, 8, salt=1).collect()}
    assert c != a
    assert c == {r["doc_id"]: r["shard"]
                 for r in assign_shards(df, 8, salt=1).collect()}


def test_assign_shards_token_balance(spark):
    """Shard token totals must sit within a few sigma of mean — the
    statistical-balance contract the docstring promises."""
    import pyspark.sql.functions as F

    from sanef_election_dashboard_etl_spark.operators.packing import \
        assign_shards

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    n_tokens = F.greatest(
        F.lit(0), F.coalesce(F.size(F.split(F.trim("text"), r"\s+")),
                             F.lit(0))).cast("long")
    tot = (assign_shards(docs, 16, portable=True)
           .select("shard", n_tokens.alias("n"))
           .groupBy("shard").agg(F.sum("n").alias("t")).collect())
    totals = [r["t"] for r in tot]
    mean = sum(totals) / len(totals)
    assert len(totals) == 16
    # 500-doc fixture -> ~31 docs/shard; cv/sqrt(31) ~ 10% -> allow 35%
    assert all(abs(t - mean) / mean < 0.35 for t in totals), totals


def test_semantic_decontaminate_flags_planted_eval_clone(spark):
    """A training vector identical to an eval vector must be flagged
    (cosine 1.0); orthogonal vectors must not."""
    from sanef_election_dashboard_etl_spark.operators.similarity import \
        semantic_decontaminate

    def basis(i, dim=8):
        return [1.0 if j == i else 0.0 for j in range(dim)]

    eval_set = spark.createDataFrame(
        [(900, basis(0)), (901, basis(1))],
        "vec_id long, embedding array<double>")
    train = spark.createDataFrame(
        [(1, basis(0)),                       # exact clone of eval 900
         (2, [0.7, 0.7, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # cos 0.707 to both
         (3, basis(5))],                      # orthogonal to both
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["n_eval_hits"]
           for r in semantic_decontaminate(train, eval_set,
                                           min_cosine=0.95).collect()}
    assert got == {1: 1}
    loose = {r["vec_id"]: r["n_eval_hits"]
             for r in semantic_decontaminate(train, eval_set,
                                             min_cosine=0.5).collect()}
    assert loose == {1: 1, 2: 2}      # vec 2 is 0.707 from BOTH eval vecs


def test_compression_ratio_separates_repetitive_from_prose(spark):
    from sanef_election_dashboard_etl_spark.operators.text import \
        compression_ratio

    df = spark.createDataFrame(
        [(1, "spam " * 200),                                  # templated
         (2, "the quick brown fox jumps over the lazy dog "
             "while seventeen astronomers debate cosmology "
             "beyond fashionable orthodoxy " * 3),            # prose-ish
         (3, None),
         (4, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bytes"], r["compression_ratio"])
           for r in compression_ratio(df).collect()}
    assert got[1][1] < 0.1                  # pure repetition crushes
    assert 0.1 < got[2][1] < 0.9            # prose compresses moderately
    assert got[1][1] < got[2][1]
    assert got[3] == (0, 0.0) and got[4] == (0, 0.0)
    # deterministic across runs (fixed level, fixed zlib strategy)
    again = {r["doc_id"]: r["compression_ratio"]
             for r in compression_ratio(df).collect()}
    assert again == {d: v[1] for d, v in got.items()}


def test_containment_flags_quote_in_host_that_jaccard_misses(spark):
    host = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu")
    quote = "alpha bravo charlie delta echo foxtrot"   # head of host
    df = spark.createDataFrame(
        [(1, host), (2, quote),
         (3, "unrelated words entirely different from anything here")],
        "doc_id long, text string")
    cont = {(r["id_small"], r["id_big"]): r["containment"]
            for r in D.containment_pairs(df, n=3,
                                         min_containment=0.9).collect()}
    assert cont == {(2, 1): 1.0}       # full quote coverage, quote=small
    # ...while Jaccard at the same strictness sees nothing
    jac = D.ngram_jaccard_pairs(df, n=3, min_jaccard=0.9).collect()
    assert jac == []


def test_redact_pii_rewrites_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b@cd.ef and c@d.eu plus phone 0123456789 done"),
         (2, "clean text with short 123 number"),
         (3, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["clean_text"], r["n_redactions"])
           for r in T.redact_pii(df).collect()}
    assert got[1] == ("mail <EMAIL> and <EMAIL> plus phone <NUMBER> done", 3)
    assert got[2] == ("clean text with short 123 number", 0)
    assert got[3] == ("", 0)
    # a 7+-digit run inside an email local part becomes part of <EMAIL>,
    # never a nested <NUMBER> (email pass runs first)
    e = spark.createDataFrame([(9, "x 12345678@mail.com y")],
                              "doc_id long, text string")
    assert T.redact_pii(e).collect()[0]["clean_text"] == "x <EMAIL> y"


def test_profile_one_pass_stats_with_nulls(spark):
    from sanef_election_dashboard_etl_spark.operators.profile import profile

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, None, 30.0), (3, "a", 10.0)],
        "k long, s string, v double")
    got = {r["column_name"]: (r["n_rows"], r["n_nulls"], r["n_distinct"],
                              r["min_value"], r["max_value"])
           for r in profile(df).collect()}
    assert got["k"] == (4, 0, 3, "1", "3")
    assert got["s"] == (4, 1, 2, "a", "b")
    assert got["v"] == (4, 1, 2, "10.0", "30.0")


def test_profile_is_one_job_one_scan(spark):
    """No per-column scans: the whole profile must be a single-action
    plan with exactly one read of the table."""
    from sanef_election_dashboard_etl_spark.operators.profile import profile

    docs = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    p = profile(docs, ["l_orderkey", "l_returnflag"])
    p.collect()
    plan = p._jdf.queryExecution().executedPlan().toString()
    # AQE prints final + initial plan copies; count scans in the final
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1


def test_training_data_prep_drops_clones_and_shorts(spark):
    from sanef_election_dashboard_etl_spark.queries import REGISTRY

    out = REGISTRY["pipe_training_data_prep"].fn(
        spark, "/root/testdata/sf0.001").collect()
    ids = {r["doc_id"] for r in out}
    assert len(ids) == 500                       # exactly the originals
    assert not any(i >= 800000 for i in ids)     # clones + shorts gone
    by_id = {r["doc_id"]: r for r in out}
    # substring strip really removed tokens somewhere in the corpus
    assert any(r["n_tokens_kept"] == 0 for r in out) or \
        sum(r["n_tokens_kept"] for r in out) < 27939


def test_hll_shard_merge_estimates_within_tolerance(spark):
    """Per-shard HLL sketches merge to a global estimate within the
    lg_k=12 error bound of the exact distinct count, and the union row
    is NOT the sum of shard estimates (overlapping keys dedupe)."""
    from pyspark.sql import functions as F

    from sanef_election_dashboard_etl_spark.operators import sketch as SK

    # 3 shards, heavily overlapping key space: global distinct 500,
    # per-shard 400/300/500 — a sum-of-shards "merge" would say 1200
    rows = ([("s1", i) for i in range(400)]
            + [("s2", i) for i in range(100, 400)]
            + [("s3", i) for i in range(500)])
    df = spark.createDataFrame(rows, "shard_id string, user_id long")
    out = {r["shard"]: (r["est_distinct"], r["n_rows"]) for r in
           SK.hll_shard_cardinality(df, "user_id", "shard_id").collect()}
    assert out["<all>"][1] == len(rows)
    for shard, exact in (("s1", 400), ("s2", 300), ("s3", 500),
                         ("<all>", 500)):
        est = out[shard][0]
        assert abs(est - exact) <= 0.05 * exact, (shard, est, exact)
    # the union dedupes across shards: far below the 1200 naive sum
    assert out["<all>"][0] < 700


def test_global_row_number_matches_serial_numbering(spark):
    """Distributed offset+local-rank ids == the serial ROW_NUMBER over the
    same total order, ids are a dense 1..n bijection, and the result is
    identical across partition counts (layout.global_row_number)."""
    from pyspark.sql import functions as F

    from sanef_election_dashboard_etl_spark.operators import layout as L

    rows = [(i * 7919 % 1000, i) for i in range(1000)]  # duplicate keys
    df = spark.createDataFrame(rows, "k long, uniq long") \
        .repartition(13)  # scrambled input layout
    for n_parts in (1, 5, 32):
        out = L.global_row_number(df, ["k", "uniq"],
                                  num_partitions=n_parts).collect()
        ids = sorted(r["global_id"] for r in out)
        assert ids == list(range(1, 1001))
        got = {(r["k"], r["uniq"]): r["global_id"] for r in out}
        serial = sorted(rows)
        assert all(got[kv] == i + 1 for i, kv in enumerate(serial)), n_parts


def test_epoch_shuffle_seeded_permutations(spark):
    """Same seed -> bit-identical permutation across runs and partition
    counts; different seed -> a different permutation; ids dense 1..n."""
    from sanef_election_dashboard_etl_spark.operators import layout as L

    df = spark.range(500).withColumnRenamed("id", "doc_id")
    a1 = {r["doc_id"]: r["global_id"] for r in
          L.epoch_shuffle(df, "doc_id", seed=7, num_partitions=8).collect()}
    a2 = {r["doc_id"]: r["global_id"] for r in
          L.epoch_shuffle(df, "doc_id", seed=7, num_partitions=3).collect()}
    b = {r["doc_id"]: r["global_id"] for r in
         L.epoch_shuffle(df, "doc_id", seed=8, num_partitions=8).collect()}
    assert a1 == a2
    assert sorted(a1.values()) == list(range(1, 501))
    assert a1 != b  # a fresh seed is a fresh permutation
    # not the identity order: md5 actually scrambles
    assert [d for d, _ in sorted(a1.items(), key=lambda kv: kv[1])] \
        != sorted(a1)


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Spark's runtime bloom-filter join pruning (InjectRuntimeFilter) —
    the 100 TB semi-join reduction: a selective predicate on the dim
    side materializes a bloom filter that is pushed into the FACT side's
    scan/shuffle, so non-joining fact rows drop before they exchange.
    Local fixtures sit under the production size thresholds, so the
    thresholds are lowered to force injection and prove the engine
    config keeps the feature reachable; the assertion is on the
    OPTIMIZED plan (might_contain over a bloom_filter_agg scalar
    subquery on the fact side) plus a result-equality check against the
    uninjected control.

    Injection preconditions (InjectRuntimeFilter.filteringHasBenefit):
    the join must be a probable shuffle join (no broadcast) AND the
    application side must itself contain a shuffle-inducing node
    (Join/Aggregate/Window) the filter can prune INPUT to — a bare
    scan-join gains nothing, the filter's whole benefit is shrinking an
    exchange below the join. Hence the fact side aggregates first."""
    import os
    import shutil
    import tempfile

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    tmp = tempfile.mkdtemp(prefix="bloom_prune_")
    try:
        # parquet-backed sides: runtime filters key off scan statistics
        spark.range(0, 200_000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v")) \
            .write.parquet(os.path.join(tmp, "fact"))
        spark.range(0, 5_000).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("cat")) \
            .write.parquet(os.path.join(tmp, "dim"))
        fact = spark.read.parquet(os.path.join(tmp, "fact")) \
            .groupBy("k").agg(F.sum("v").alias("sv"))  # shuffle to prune
        dim = spark.read.parquet(os.path.join(tmp, "dim")) \
            .filter(F.col("cat") == 3)  # selective creation-side predicate
        control = fact.join(dim, "k").groupBy("cat") \
            .agg(F.sum("sv").alias("t")).collect()
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = fact.join(dim, "k").groupBy("cat") \
            .agg(F.sum("sv").alias("t"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan
        assert sorted(map(tuple, joined.collect())) == \
            sorted(map(tuple, control))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(tmp, ignore_errors=True)


def test_fuzzy_edit_pairs_pigeonhole_recall(spark):
    """PassJoin banding finds every pair within max_edits: substitutions,
    AND the alignment-shifting delete case (key re-slices, so a delete
    becomes delete+tail-shift within the fixed window); pairs beyond
    the budget or below key_len never appear."""
    from sanef_election_dashboard_etl_spark.operators.dedup import \
        fuzzy_edit_pairs

    base = "the quick brown fox jumps over the lazy dog again"
    rows = [
        (1, base),
        (2, base[:5] + "Q" + base[6:]),                  # 1 sub -> pair
        (3, base[:5] + "Q" + base[6:17] + "Z" + base[18:]),  # 2 subs -> pair w/1,2
        (4, base[:5] + "Q" + base[6:17] + "Z" + base[18:29] + "X" + base[30:]),
        # ^ 3 subs vs base: NOT a pair with 1 (dist 3), pairs with 3 (dist 1)
        (5, base[:8] + base[9:]),   # delete at pos 9: key shifts -> dist 2
        (6, "short text"),          # < key_len: out of scope, no rows
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["dist"]
           for r in fuzzy_edit_pairs(df).collect()}
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2 and got[(2, 3)] == 1
    assert (1, 4) not in got          # dist 3 > budget
    assert got[(3, 4)] == 1
    assert got[(1, 5)] == 2           # delete + tail shift-in
    assert not any(6 in p for p in got)


def test_categorical_drift_tvd_exact_values(spark):
    """TVD on hand-computable distributions: identical -> 0; disjoint ->
    1; a known mix shift -> the exact fraction; categories present on
    one side only are handled via the zero-count cell."""
    from sanef_election_dashboard_etl_spark.operators.profile import \
        categorical_drift_tvd

    def dist(pairs):
        rows = [(c,) for c, k in pairs for _ in range(k)]
        return spark.createDataFrame(rows, "src string")

    same = dist([("a", 3), ("b", 1)])
    assert categorical_drift_tvd(same, same, "src").first()["tvd"] == 0.0
    r = categorical_drift_tvd(dist([("a", 4)]), dist([("b", 2)]),
                              "src").first()
    assert r["tvd"] == 1.0 and r["n_old"] == 4 and r["n_new"] == 2
    # old: a=3/4, b=1/4; new: a=1/4, b=2/4, c=1/4
    # tvd = 0.5*(|3/4-1/4| + |1/4-2/4| + |0-1/4|) = 0.5
    r2 = categorical_drift_tvd(
        dist([("a", 3), ("b", 1)]),
        dist([("a", 1), ("b", 2), ("c", 1)]), "src").first()
    assert r2["tvd"] == 0.5


def test_fuzzy_edit_max_df_guard(spark):
    """The hot-chunk guard drops boilerplate-army candidates from the
    quadratic join but keeps unique-content variants: twins with
    distinct chunks still pair under a tight max_df; a pair whose ONLY
    matching chunks are hot is excluded (the documented trade)."""
    from sanef_election_dashboard_etl_spark.operators.dedup import \
        fuzzy_edit_pairs

    boiler = "common header boilerplate text!!!"          # 33 chars
    uniq_a = "zq8 xkcd vortex m3w plinth 940 jazz"
    uniq_b = uniq_a[:5] + "Q" + uniq_a[6:]                # 1 sub
    rows = [(i, boiler + f" filler {i}") for i in range(20)]
    rows += [(100, uniq_a), (101, uniq_b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {(r["id_a"], r["id_b"]) for r in fuzzy_edit_pairs(df).collect()}
    guarded = {(r["id_a"], r["id_b"])
               for r in fuzzy_edit_pairs(df, max_df=5).collect()}
    assert (100, 101) in exact and (100, 101) in guarded
    # the 20-doc boilerplate army pairs exactly (dist 0) unguarded...
    assert sum(1 for a, b in exact if a < 100 and b < 100) == 190
    # ...and is excluded from the candidate join under the guard
    assert not any(a < 100 and b < 100 for a, b in guarded)


def test_numeric_drift_ks_exact_values(spark):
    """KS on hand-computable samples: identical -> 0; fully separated ->
    1; a known half-shift -> the exact CDF gap fraction."""
    from sanef_election_dashboard_etl_spark.operators.profile import \
        numeric_drift_ks

    def dist(vals):
        return spark.createDataFrame([(v,) for v in vals], "v long")

    same = dist([1, 2, 2, 3])
    assert numeric_drift_ks(same, same, "v").first()["ks"] == 0.0
    r = numeric_drift_ks(dist([1, 2]), dist([10, 11]), "v").first()
    assert r["ks"] == 1.0 and r["n_old"] == 2 and r["n_new"] == 2
    # old {1,2,3,4}, new {3,4,5,6}: max gap at v=2 -> |2/4 - 0/4| = 0.5
    r2 = numeric_drift_ks(dist([1, 2, 3, 4]), dist([3, 4, 5, 6]),
                          "v").first()
    assert r2["ks"] == 0.5


def test_drift_gates_handle_null_categories_and_values(spark):
    """A NULL category/value is a real drift cell (null-safe join): TVD
    with matched nulls scores the true gap, not a split overcount; KS
    sorts nulls first in the CDF deterministically."""
    from sanef_election_dashboard_etl_spark.operators.profile import (
        categorical_drift_tvd, numeric_drift_ks)

    a = spark.createDataFrame([("x",), (None,), (None,)], "src string")
    b = spark.createDataFrame([("x",), ("x",), (None,)], "src string")
    # old: x=1/3, null=2/3; new: x=2/3, null=1/3 -> tvd = 1/3
    r = categorical_drift_tvd(a, b, "src").first()
    assert abs(r["tvd"] - 1 / 3) < 1e-15
    # equal null mix -> 0 (a split-cell bug would report > 0)
    same = categorical_drift_tvd(a, a, "src").first()
    assert same["tvd"] == 0.0
    ka = spark.createDataFrame([(1,), (None,), (2,)], "v long")
    assert numeric_drift_ks(ka, ka, "v").first()["ks"] == 0.0


def test_dynamic_partition_pruning_on_partitioned_join(spark, tmp_path):
    """Dynamic Partition Pruning — the join-driven sibling of the static
    PartitionFilters assert (layout_partition_pruned_scan) and the bloom
    runtime filter: a selective filter on the DIM side prunes the
    partitioned FACT's directories at RUNTIME via a dynamicpruning
    subquery, so a 100 TB date-partitioned table reads only the
    directories the join can match. Asserted on the executed plan
    (`dynamicpruning` in the fact scan's PartitionFilters) plus result
    equality against the unpruned control."""
    import os

    from sanef_election_dashboard_etl_spark.operators.layout import \
        partitioned_write

    fact = spark.range(0, 20_000).select(
        F.col("id"),
        F.concat(F.lit("2024-01-"),
                 F.lpad((F.col("id") % 20 + 1).cast("string"), 2, "0"))
        .alias("day"),
        (F.col("id") % 97).alias("v"))
    path = str(tmp_path / "fact_by_day")
    partitioned_write(fact, path, ["day"])

    dim = spark.createDataFrame(
        [(f"2024-01-{d:02d}", "keep" if d <= 2 else "drop")
         for d in range(1, 21)], "day string, tag string")

    pfact = spark.read.parquet(path)
    control = (pfact.join(dim.filter(F.col("tag") == "keep"), "day")
               .agg(F.sum("v").alias("s")).first()["s"])

    saved = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
                   "true")
    try:
        joined = (pfact.join(dim.filter(F.col("tag") == "keep"), "day")
                  .agg(F.sum("v").alias("s")))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan, plan
        assert joined.first()["s"] == control
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled", saved)


def test_quality_classifier_integer_exact_and_signed(spark):
    """Hashed linear scorer: integer dot product, sign-based verdict,
    score = score_int / (100 * n_tokens) exactly."""
    from sanef_election_dashboard_etl_spark.operators.text import \
        quality_classifier

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "x"), (3, "alpha alpha alpha")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_classifier(df).collect()}
    assert out[1]["n_tokens"] == 3 and out[3]["n_tokens"] == 3
    # repeated token => score_int is 3x the single-token weight
    assert out[3]["score_int"] % 3 == 0
    for r in out.values():
        assert r["score"] == r["score_int"] / (100.0 * r["n_tokens"])
        assert r["verdict"] == ("keep" if r["score_int"] >= 0 else "drop")
    # weights span negative and positive: over a real corpus both
    # verdicts appear (sf0.001 documents)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    verdicts = {r["verdict"]
                for r in quality_classifier(docs).select("verdict")
                .distinct().collect()}
    assert verdicts == {"keep", "drop"}


def test_ccnet_distributed_ntile_equals_window_form(spark):
    # r6: the default bucketing is the distributed exact ntile (range
    # rank + ((rank-1)*n) DIV total + 1). It must equal the classic
    # per-language ntile window BIT FOR BIT, for bucket counts that do
    # and don't divide the language populations, under any partitioning.
    from sanef_election_dashboard_etl_spark.operators.text import \
        ccnet_buckets

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 200))
    for nb in (2, 3, 7):
        a = sorted(tuple(r) for r in
                   ccnet_buckets(docs.repartition(9), nb).collect())
        b = sorted(tuple(r) for r in
                   ccnet_buckets(docs, nb, exact_window=True).collect())
        assert a == b, f"n_buckets={nb}"


def test_ccnet_buckets_equal_population_tertiles(spark):
    """Per-lang ntile(3): bucket sizes differ by at most 1 and head has
    strictly lower max cross-entropy than tail's min (ties impossible:
    doc_id breaks them inside ntile but bucket boundaries can share a
    value only when the ce values are equal — allow <=)."""
    from sanef_election_dashboard_etl_spark.operators.text import \
        ccnet_buckets

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 150))
    out = ccnet_buckets(docs).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert by_lang
    for lang, rows in by_lang.items():
        sizes = {}
        for r in rows:
            sizes[r["bucket_id"]] = sizes.get(r["bucket_id"], 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1, (lang, sizes)
        head_max = max(r["cross_entropy"] for r in rows if r["bucket"] == "head")
        tail_min = min(r["cross_entropy"] for r in rows if r["bucket"] == "tail")
        assert head_max <= tail_min


def test_epoch_repeat_fractional_superset_and_counts(spark):
    """x2.5 emits 2 or 3 copies per key; x0.6 emits 0 or 1; x0 drops;
    and the x2.0 output is a subset of the x2.5 output (same hash)."""
    from sanef_election_dashboard_etl_spark.operators.sampling import \
        epoch_repeat

    df = spark.createDataFrame(
        [(i, "a" if i % 3 == 0 else ("b" if i % 3 == 1 else "c"))
         for i in range(300)], "doc_id long, source string")
    out = epoch_repeat(df, {"a": 2.5, "b": 0.6, "c": 0.0}).collect()
    per_key = {}
    for r in out:
        per_key.setdefault((r["source"], r["doc_id"]), []).append(r["epoch"])
    assert not any(s == "c" for s, _ in per_key)
    a_counts = [len(v) for (s, _), v in per_key.items() if s == "a"]
    assert set(a_counts) <= {2, 3} and 2 in a_counts and 3 in a_counts
    b_counts = [len(v) for (s, _), v in per_key.items() if s == "b"]
    assert set(b_counts) == {1}  # kept b-keys have exactly one copy
    n_b = sum(1 for (s, _) in per_key if s == "b")
    assert 0 < n_b < 100  # ~60% of the 100 b-keys survive
    # epochs are dense ordinals starting at 0
    for v in per_key.values():
        assert sorted(v) == list(range(len(v)))
    # monotone composability: 2.0-epoch output is a subset of 2.5's
    two = {(r["doc_id"], r["epoch"])
           for r in epoch_repeat(df.filter(F.col("source") == "a"),
                                 {"a": 2.0}).collect()}
    twofive = {(d, e) for (s, d), v in per_key.items() if s == "a"
               for e in v}
    assert two <= twofive


def test_quality_classifier_weight_table_swap(spark):
    """The broadcast weight-table variant reproduces the expression
    path exactly when fed the derived weights, and its plan is a
    BroadcastHashJoin with no extra shuffle beyond the doc groupBy."""
    from sanef_election_dashboard_etl_spark.operators.text import (
        quality_classifier, quality_classifier_weighted)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 200))
    dim = 256
    weights = spark.range(dim).select(
        F.col("id").alias("feature"),
        (F.pmod(F.col("id") * F.lit(2654435761), F.lit(101)) - F.lit(50))
        .cast("int").alias("weight"))
    expr_rows = {r["doc_id"]: r for r in quality_classifier(docs, dim).collect()}
    tbl = quality_classifier_weighted(docs, weights, dim)
    tbl_rows = {r["doc_id"]: r for r in tbl.collect()}
    assert expr_rows.keys() == tbl_rows.keys()
    for k, e in expr_rows.items():
        t = tbl_rows[k]
        assert (e["n_tokens"], e["score_int"], e["score"], e["verdict"]) == \
               (t["n_tokens"], t["score_int"], t["score"], t["verdict"])
    plan = tbl._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_documents_windows_and_edges(spark):
    """Chunk boundaries: exact-fit doc -> 1 chunk, long doc -> overlapping
    windows whose stride-strided reassembly reproduces the token stream,
    empty doc -> zero chunks, bad overlap raises."""
    import pytest
    from sanef_election_dashboard_etl_spark.operators.packing import (
        chunk_documents)

    toks = [f"t{i}" for i in range(25)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)),          # 25 tokens: chunks at 0, 8, 16
         (2, " ".join(toks[:10])),     # exact fit -> 1 chunk
         (3, "   "),                   # whitespace-only -> 0 chunks
         (4, "a b")],                  # short -> 1 chunk of 2
        "doc_id long, text string")
    out = chunk_documents(df, max_tokens=10, overlap=2)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}

    assert {d for d, _ in rows} == {1, 2, 4}
    d1 = sorted(c for d, c in rows if d == 1)
    assert d1 == [0, 1, 2]  # ceil((25-10)/8)+1 = 3
    # window k starts at k*stride, carries `overlap` tokens of context
    assert rows[(1, 0)]["chunk_text"] == " ".join(toks[0:10])
    assert rows[(1, 1)]["chunk_text"] == " ".join(toks[8:18])
    assert rows[(1, 2)]["chunk_text"] == " ".join(toks[16:25])
    assert rows[(1, 2)]["n_tokens"] == 9  # final short chunk
    # dropping the overlap prefix of every later chunk rebuilds the doc
    rebuilt = rows[(1, 0)]["chunk_text"].split()
    for c in d1[1:]:
        rebuilt += rows[(1, c)]["chunk_text"].split()[2:]
    assert rebuilt == toks
    assert rows[(2, 0)]["n_tokens"] == 10
    assert (2, 1) not in rows
    assert rows[(4, 0)]["chunk_text"] == "a b"
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=10, overlap=10)


def test_ccnet_sampled_tracks_exact_tier(spark):
    """The sampled-cutpoint tier scores identically to the exact tier
    (same LM), covers every scored doc exactly once, keeps buckets
    approximately balanced, and a language absent from the sample lands
    wholly in head (no cut-points)."""
    from sanef_election_dashboard_etl_spark.operators.text import (
        ccnet_buckets, ccnet_buckets_sampled)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 200))
    exact = {r["doc_id"]: r for r in ccnet_buckets(docs, 3).collect()}
    samp = {r["doc_id"]: r
            for r in ccnet_buckets_sampled(docs, 3, sample_rate=0.3)
                     .collect()}
    assert exact.keys() == samp.keys()
    for k in exact:
        assert exact[k]["cross_entropy"] == samp[k]["cross_entropy"]
    # per-lang bucket balance: no bucket more than ~2x its fair share
    from collections import Counter
    per_lang = Counter((samp[k]["lang"], samp[k]["bucket_id"])
                       for k in samp)
    lang_tot = Counter(samp[k]["lang"] for k in samp)
    for (lang, _b), n in per_lang.items():
        assert n <= max(2 * lang_tot[lang] / 3, 6), (lang, _b, n)
    # agreement with the exact tertiles should be well above chance
    agree = sum(exact[k]["bucket_id"] == samp[k]["bucket_id"]
                for k in exact) / len(exact)
    assert agree > 0.6, agree
    # a lang whose ids all hash outside the sample: no cuts -> all head
    few = spark.createDataFrame(
        [(i, "x y z w v u t s r q p o n m", "xx") for i in range(5)],
        "doc_id long, text string, lang string")
    only_head = ccnet_buckets_sampled(few, 3, sample_rate=0.0).collect()
    assert {r["bucket"] for r in only_head} == {"head"}
    # generic id dtype (ADVICE r4): a STRING id column must not fail
    # analysis in the empty-cut-array coalesce (type is now derived
    # from the input schema, not hardcoded bigint)
    sfew = spark.createDataFrame(
        [(f"d{i}", "x y z w v u t s r q p o n m", "xx")
         for i in range(12)],
        "doc_id string, text string, lang string")
    sout = ccnet_buckets_sampled(sfew, 3, sample_rate=1.0).collect()
    assert len(sout) == 12
    assert {r["bucket_id"] for r in sout} <= {1, 2, 3}


def test_quantized_topk_recall_and_reconstruction(spark):
    """int8 quantization: per-element reconstruction error bounded by
    half a quantization step, all-zero vectors quantize to zero, and
    the quantized top-k tracks the float tier closely on the fixture."""
    from sanef_election_dashboard_etl_spark.operators.similarity import (
        cosine_topk, quantize_embeddings, quantized_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    some = emb.filter(F.col("vec_id") < 50)
    orig = {r["vec_id"]: r["embedding"] for r in some.collect()}
    quant = {r["vec_id"]: r["qvec"]
             for r in quantize_embeddings(some).collect()}
    for vid, e in orig.items():
        m = max(abs(x) for x in e)
        step = m / 127.0
        for x, qi in zip(e, quant[vid]):
            assert abs(qi) <= 127
            assert abs(x - qi * step) <= step / 2 + 1e-9
    z = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [0.5, -1.0, 0.25])],
        "vec_id long, embedding array<double>")
    qz = {r["vec_id"]: (r["qvec"], r["qnorm2"])
          for r in quantize_embeddings(z).collect()}
    assert qz[1] == ([0, 0, 0], 0)
    assert qz[2][0] == [64, -127, 32]   # floor(0.5*127 + .5) = 64

    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, queries, k=10).collect()}
    quantd = {(r["query_id"], r["neighbor_id"])
              for r in quantized_topk(emb, queries, k=10).collect()}
    assert len(exact & quantd) / len(exact) >= 0.9

    # zero-norm guard (ADVICE r4): an all-zero corpus vector and an
    # all-zero query must NOT raise DIVIDE_BY_ZERO under ANSI mode —
    # they score 0.0 against everything and rank last
    zc = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = quantized_topk(zc, zc, k=3).collect()
    ranks = {(r["query_id"], r["neighbor_id"]): r["rank"] for r in out}
    # zero query 1: all scores 0.0, ties broken by neighbor_id
    assert ranks[(1, 2)] == 1 and ranks[(1, 3)] == 2
    # every (query, neighbor) pair survives the guard (no row lost)
    assert len(ranks) == 6


def test_dsir_log_ratio_favors_target_domain(spark):
    """DSIR selection: docs from the target domain (src0) must score a
    higher mean log-ratio under the src0-fit target LM than docs from
    other sources, and keep == (log_ratio >= tau) exactly."""
    from sanef_election_dashboard_etl_spark.operators.text import (
        dsir_log_ratio)

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .filter(F.col("doc_id") < 200))
    target = docs.filter(F.col("source") == "src0")
    out = dsir_log_ratio(docs, target, tau=0.0)
    rows = out.join(docs.select("doc_id", "source"), "doc_id").collect()
    in_t = [r["log_ratio"] for r in rows if r["source"] == "src0"]
    out_t = [r["log_ratio"] for r in rows if r["source"] != "src0"]
    assert in_t and out_t
    assert sum(in_t) / len(in_t) > sum(out_t) / len(out_t)
    for r in rows:
        assert r["keep"] == (1 if r["log_ratio"] >= 0.0 else 0)


def test_embedding_centroids_exact_means(spark):
    """Centroids equal hand-computed per-coordinate means (at the 1e-6
    rounding the operator documents), n_vectors counts the cluster."""
    from sanef_election_dashboard_etl_spark.operators.similarity import (
        embedding_centroids)

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [3.0, 6.0], 0), (3, [10.0, -4.0], 1)],
        "vec_id long, embedding array<double>, label int")
    out = {r["cluster"]: r for r in embedding_centroids(df).collect()}
    assert out[0]["n_vectors"] == 2 and out[0]["centroid"] == [2.0, 4.0]
    assert out[1]["n_vectors"] == 1 and out[1]["centroid"] == [10.0, -4.0]


def test_source_overlap_matrix_hand_counts(spark):
    """Overlap matrix on a hand-built corpus: shared normalized texts
    count once (distinct fps), jaccard uses the union denominator, and
    EVERY ordered pair appears — zero-overlap pairs with n_shared=0
    (ADVICE r4: the inner-join shape silently dropped them)."""
    from sanef_election_dashboard_etl_spark.operators.dedup import (
        source_overlap_matrix)

    df = spark.createDataFrame(
        [(1, "alpha beta", "a"), (2, "Alpha  beta", "a"),   # same fp
         (3, "gamma", "a"),
         (4, "alpha beta", "b"), (5, "delta", "b"),
         (6, "epsilon", "c")],
        "doc_id long, text string, source string")
    rows = {(r["src_a"], r["src_b"]): r
            for r in source_overlap_matrix(df).collect()}
    ab = rows[("a", "b")]
    assert (ab["n_shared"], ab["n_a"], ab["n_b"]) == (1, 2, 2)
    assert ab["jaccard"] == round(1 / 3, 4)
    # all C(3,2) ordered pairs present, zero-overlap ones at 0
    assert set(rows) == {("a", "b"), ("a", "c"), ("b", "c")}
    ac = rows[("a", "c")]
    assert (ac["n_shared"], ac["n_a"], ac["n_b"], ac["jaccard"]) == \
        (0, 2, 1, 0.0)
    assert rows[("b", "c")]["n_shared"] == 0


def test_quality_quantile_gate_per_source_cut(spark):
    """Per-source relative gate: each source keeps exactly
    ceil(pct * n / 100) docs, chosen by unique-token ratio with id
    tie-break."""
    from sanef_election_dashboard_etl_spark.operators.sampling import (
        quality_quantile_gate)

    rows = []
    for s, n in (("a", 10), ("b", 3)):
        for i in range(n):
            # doc i in source s: i+1 distinct tokens out of 10 total
            toks = [f"w{j}" for j in range(i + 1)]
            text = " ".join((toks * 10)[:10])
            rows.append((len(rows), text, s))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = quality_quantile_gate(df, keep_pct=50)
    got = {(r["source"], r["doc_id"]) for r in out.collect()}
    by_src = {"a": [d for s, d in got if s == "a"],
              "b": [d for s, d in got if s == "b"]}
    assert len(by_src["a"]) == 5   # ceil(50% of 10)
    assert len(by_src["b"]) == 2   # ceil(50% of 3)
    # the kept docs are the highest-uniqueness ones (largest i per source)
    assert sorted(by_src["a"]) == [5, 6, 7, 8, 9]
    assert sorted(by_src["b"]) == [11, 12]


def test_bm25_topk_ranks_term_dense_docs(spark):
    df = spark.createDataFrame(
        [(1, "cat cat cat dog"),              # high tf for 'cat', short
         (2, "cat dog bird fish mouse wolf"), # one 'cat', longer
         (3, "dog dog dog dog"),              # no 'cat'
         (4, "cat " * 2 + "filler " * 30)],   # tf=2 but long doc
        "doc_id long, text string")
    q = spark.createDataFrame([("q1", "cat")], "query_id string, term string")
    out = {r["doc_id"]: (r["rank"], r["score"])
           for r in T.bm25_topk(df, q, k=10).collect()}
    # doc 3 never matches; doc 1 (dense + short) must beat doc 2 and
    # the length-normalized doc 4
    assert 3 not in out
    assert out[1][0] == 1
    assert out[1][1] > out[2][1] and out[1][1] > out[4][1]
    # every score positive (Lucene idf form never goes negative)
    assert all(s > 0 for _, s in out.values())


def test_bm25_topk_multi_term_sums_and_k_cap(spark):
    df = spark.createDataFrame(
        [(i, "alpha beta " + "x " * i) for i in range(1, 8)],
        "doc_id long, text string")
    q = spark.createDataFrame(
        [("q", "alpha"), ("q", "beta")], "query_id string, term string")
    out = T.bm25_topk(df, q, k=3).collect()
    assert len(out) == 3 and {r["rank"] for r in out} == {1, 2, 3}
    # shortest doc wins under length normalization
    assert out[0]["doc_id"] == 1 or \
        min(r["doc_id"] for r in out) == 1


def test_bm25_scan_mode_identical_incl_null_and_empty_text(spark):
    """r9: the term-scan plan must emit byte-identical (rank, score)
    rows to the index plan on EVERY input — including NULL and
    empty-text docs, where size(NULL) = -1 under non-ANSI configs
    would silently skew scan-mode total_tokens/avgdl (review catch:
    greatest(size, 0) now pins the NULL contribution to 0 like the
    explode path's absent rows)."""
    df = spark.createDataFrame(
        [(1, "cat cat cat dog"),
         (2, "cat dog bird fish mouse wolf"),
         (3, None),
         (4, ""),
         (5, "cat " * 2 + "filler " * 30)],
        "doc_id long, text string")
    q = spark.createDataFrame(
        [("q1", "cat"), ("q1", "dog"), ("q2", "bird")],
        "query_id string, term string")
    a = sorted(map(tuple, T.bm25_topk(df, q, k=10).collect()))
    spark.catalog.clearCache()
    b = sorted(map(tuple, T.bm25_topk(df, q, k=10, mode="scan").collect()))
    assert a == b
    prior = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")  # size(NULL) = -1
    try:
        spark.catalog.clearCache()
        c = sorted(map(tuple,
                       T.bm25_topk(df, q, k=10, mode="scan").collect()))
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prior)
    assert c == a


def test_temperature_mixture_flattens_mix(spark):
    from sanef_election_dashboard_etl_spark.operators import sampling as SMP
    # skewed corpus: s0 has 16x the tokens of s1
    rows_ = [(i, "s0", "t " * 15 + "t") for i in range(1600)] + \
            [(10_000 + i, "s1", "t " * 15 + "t") for i in range(100)]
    df = spark.createDataFrame(rows_, "doc_id long, source string, text string")
    nat = SMP.temperature_mixture(df, budget_tokens=8000, alpha=1.0)
    flat = SMP.temperature_mixture(df, budget_tokens=8000, alpha=0.25)
    def mix(out):
        t = {"s0": 0, "s1": 0}
        for r in out.collect():
            t[r["source"]] += r["n_tokens"]
        return t
    m_nat, m_flat = mix(nat), mix(flat)
    # alpha=1 reproduces natural proportions (~16:1)
    assert m_nat["s0"] / max(m_nat["s1"], 1) > 8
    # alpha=0.25 compresses the ratio hard (16^0.25 = 2)
    assert m_flat["s0"] / max(m_flat["s1"], 1) < 4
    # repartition-stable
    again = SMP.temperature_mixture(df.repartition(7), budget_tokens=8000,
                                    alpha=0.25)
    assert sorted(map(tuple, again.collect())) == \
        sorted(map(tuple, flat.collect()))


def test_temperature_mixture_guards(spark):
    from sanef_election_dashboard_etl_spark.operators import sampling as SMP
    df = spark.createDataFrame(
        [(1, "s0", "a b c"), (2, "s1", None)],
        "doc_id long, source string, text string")
    with pytest.raises(ValueError):
        SMP.temperature_mixture(df, budget_tokens=10, alpha=0.3)
    # an all-null source must not divide by zero under ANSI mode
    out = SMP.temperature_mixture(df, budget_tokens=100, alpha=0.5).collect()
    assert all(r["source"] == "s0" for r in out)


def test_pq_topk_recovers_cluster_structure(spark):
    import numpy as np
    rng = np.random.RandomState(7)
    # 3 well-separated direction clusters in 8 dims, 40 vectors each
    centers = np.eye(8)[:3] * 5.0
    rows_, truth = [], {}
    vid = 0
    for c in range(3):
        for _ in range(40):
            v = centers[c] + rng.normal(0, 0.15, 8)
            rows_.append((vid, [float(x) for x in v]))
            truth[vid] = c
            vid += 1
    df = spark.createDataFrame(rows_, "vec_id long, embedding array<float>")
    out = S.pq_topk(df, df.filter(F.col("vec_id").isin(0, 40, 80)),
                    k=10, m=4, k_codes=8, train_n=120)
    got = out.collect()
    assert len(got) == 30
    # every retrieved neighbor comes from the query's own cluster
    for r in got:
        assert truth[r["neighbor_id"]] == truth[r["query_id"]]


def test_pq_topk_partition_invariant_with_batch_pruning(spark):
    # ADVICE r5: the per-batch partial top-k inside the ADC scorer must
    # compose to the SAME global result for ANY partition/batch layout —
    # the batch cut uses the window's exact total order, so moving rows
    # between batches can never change which candidates survive. Small
    # k vs 120 corpus rows means real pruning happens in every layout.
    import numpy as np
    rng = np.random.RandomState(11)
    rows_ = [(i, [float(x) for x in rng.normal(0, 1, 8)])
             for i in range(120)]
    df = spark.createDataFrame(rows_, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 3)

    def res(d):
        return sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in S.pq_topk(d, q, k=3, m=4, k_codes=8, train_n=120,
                               rerank=2).collect())

    base = res(df.coalesce(1))
    assert res(df.repartition(7)) == base
    assert res(df.repartition(3, "vec_id")) == base


def test_pq_encode_codes_shape_and_determinism(spark, vecs):
    # pad the 3-dim fixture to 4 dims so m=2 divides evenly
    padded = vecs.select(
        "vec_id",
        F.concat(F.col("embedding"),
                 F.array(F.lit(0.0).cast("float"))).alias("embedding"))
    books = S.pq_train_codebooks(padded, m=2, k_codes=4, train_n=5)
    assert len(books) == 2 and all(len(b) == 4 for b in books)
    codes = S.pq_encode(padded, books).collect()
    assert all(len(r["codes"]) == 2 for r in codes)
    assert all(0 <= c < 4 for r in codes for c in r["codes"])
    # codebooks and codes are partition-layout independent
    books2 = S.pq_train_codebooks(padded.repartition(3), m=2, k_codes=4,
                                  train_n=5)
    assert books == books2
    codes2 = S.pq_encode(padded.repartition(3), books2).collect()
    assert sorted((r["vec_id"], tuple(r["codes"])) for r in codes) == \
        sorted((r["vec_id"], tuple(r["codes"])) for r in codes2)


def test_ivf_pq_topk_recovers_cluster_structure(spark):
    import numpy as np
    rng = np.random.RandomState(11)
    centers = np.eye(8)[:3] * 5.0
    rows_, truth = [], {}
    vid = 0
    for c in range(3):
        for _ in range(40):
            v = centers[c] + rng.normal(0, 0.15, 8)
            rows_.append((vid, [float(x) for x in v]))
            truth[vid] = c
            vid += 1
    df = spark.createDataFrame(rows_, "vec_id long, embedding array<float>")
    out = S.ivf_pq_topk(df, df.filter(F.col("vec_id").isin(0, 40, 80)),
                        k=10, n_centroids=3, n_probe=2, m=4, k_codes=8,
                        train_n=120)
    got = out.collect()
    assert len(got) == 30
    for r in got:
        assert truth[r["neighbor_id"]] == truth[r["query_id"]]
    # probing ALL centroids with rerank covering the cluster == exhaustive
    full = S.ivf_pq_topk(df, df.filter(F.col("vec_id") == 0), k=5,
                         n_centroids=3, n_probe=3, m=4, k_codes=8,
                         train_n=120, rerank=8)
    exact = S.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=5)
    assert rows(full, "rank", "neighbor_id") == \
        rows(exact, "rank", "neighbor_id")


def test_bpe_train_learns_expected_merges(spark):
    # classic BPE toy: 'low' x5, 'lowest' x2 -> 'lo' then 'low' merge
    df = spark.createDataFrame(
        [(1, "low low low low low"), (2, "lowest lowest")],
        "doc_id long, text string")
    merges = T.bpe_train(df, n_merges=3, train_n=10)
    # (o,w) and (l,o) both count 7; the lexicographic tie-break is
    # deterministic and picks (o,w); then (l,ow)=7, then (low,</w>)=5
    assert merges[0] == ["o", "w"]
    assert merges[1] == ["l", "ow"]
    assert merges[2] == ["low", "</w>"]


def test_bpe_encode_applies_merges_and_conserves_chars(spark):
    df = spark.createDataFrame(
        [(1, "low low low low low"), (2, "lowest lowest"),
         (3, "newer wider")],
        "doc_id long, text string")
    merges = T.bpe_train(df, n_merges=4, train_n=10)
    out = {r["doc_id"]: r for r in T.bpe_encode(df, merges).collect()}
    # doc1: each 'low' collapses to the single merged token 'low</w>'
    assert out[1]["bpe_tokens"] == ["low</w>"] * 5
    assert out[1]["n_bpe_tokens"] == 5
    # unseen-ish words still segment; stripping </w> conserves chars
    for r in out.values():
        joined = "".join(t.replace("</w>", "") for t in r["bpe_tokens"])
        assert joined == "".join(
            {1: "low low low low low", 2: "lowest lowest",
             3: "newer wider"}[r["doc_id"]].split())
    # repartition-stable
    again = {r["doc_id"]: r["bpe_tokens"]
             for r in T.bpe_encode(df.repartition(5), merges).collect()}
    assert again == {k: v["bpe_tokens"] for k, v in out.items()}
    # train determinism under repartition
    assert merges == T.bpe_train(df.repartition(3), n_merges=4, train_n=10)


def test_bpe_encode_distinct_matches_batch_cache(spark):
    """r9 (VERDICT r8 item 8): the distinct-word-join encoder must emit
    byte-identical pieces IN ORDER to the batch-cache encoder — same
    tokenization, same rank-greedy replay, position-sorted reassembly —
    including the empty/NULL-text ([] , 0) rows and under
    repartitioning. Checked on the fixture corpus plus edge docs."""
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text")
            .unionByName(spark.createDataFrame(
                [(900001, ""), (900002, None),
                 (900003, "  spaced   out  tokens "),
                 # NBSP + thin space: Java \s does NOT split these, so
                 # both encoders must treat each as ONE word (the
                 # Python side uses _ws_words, Java-\s parity — a
                 # str.split() there would tokenize differently)
                 (900004, "foo\u00a0bar baz\u2009qux")],
                "doc_id long, text string")))
    merges = T.bpe_train(docs, n_merges=50, train_n=64)
    a = {r["doc_id"]: (r["n_bpe_tokens"], r["bpe_tokens"])
         for r in T.bpe_encode(docs, merges).collect()}
    b = {r["doc_id"]: (r["n_bpe_tokens"], r["bpe_tokens"])
         for r in T.bpe_encode_distinct(docs, merges).collect()}
    assert a == b
    assert a[900001] == (0, []) and a[900002] == (0, [])
    c = {r["doc_id"]: (r["n_bpe_tokens"], r["bpe_tokens"])
         for r in T.bpe_encode_distinct(docs.repartition(7),
                                        merges).collect()}
    assert c == a


def test_bpe_pick_tier_regimes():
    """r10 (VERDICT r9 item 6): the pure decision function lands on the
    measured regime anchors — fixture corpora pick the batch cache,
    web-corpus shapes pick the distinct-word join."""
    # fixture sf0.1: vocab 31, 271k tokens, 32 partitions -> batch
    assert T.pick_bpe_tier(31, 270_704, 32) == "batch"
    # fixture sf1: same degenerate vocab at 2.7M tokens -> batch
    assert T.pick_bpe_tier(31, 2_700_000, 32) == "batch"
    # web corpus: 10M vocab, 10B tokens, 1000 partitions -> distinct
    assert T.pick_bpe_tier(10_000_000, 10_000_000_000, 1000) == "distinct"
    # moderate curated corpus: 200k vocab, 50M tokens, 64 partitions
    # -> redundant re-segmentation (12.6M) beats the shuffle (1.6M)
    assert T.pick_bpe_tier(200_000, 50_000_000, 64) == "distinct"
    # single partition: the batch cache is already exactly-once
    assert T.pick_bpe_tier(10_000_000, 100_000_000, 1) == "batch"


def test_bpe_auto_dispatch_identity(spark):
    """Identity across the auto-dispatch boundary: bpe_encode_auto's
    output equals BOTH tiers' (which the test above proves equal to
    each other), whichever the measured stats select, and forcing the
    other tier via explicit stats changes nothing."""
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(200))
    merges = T.bpe_train(docs, n_merges=50, train_n=64)
    want = {r["doc_id"]: (r["n_bpe_tokens"], r["bpe_tokens"])
            for r in T.bpe_encode(docs, merges).collect()}
    # measured dispatch (fixture stats -> batch tier)
    auto = {r["doc_id"]: (r["n_bpe_tokens"], r["bpe_tokens"])
            for r in T.bpe_encode_auto(docs, merges).collect()}
    assert auto == want
    # forced-distinct dispatch via caller-supplied web-scale stats.
    # n_partitions=4 matters: at P=1 the (P-1) factor is zero and the
    # dispatcher correctly stays on the exactly-once batch cache, so
    # this leg would silently re-test the batch tier (r10 review
    # catch) — assert the stats really select distinct
    assert T.pick_bpe_tier(10_000_000, 100_000_000, 4) == "distinct"
    forced = {r["doc_id"]: (r["n_bpe_tokens"], r["bpe_tokens"])
              for r in T.bpe_encode_auto(
                  docs, merges, vocab_est=10_000_000,
                  n_tokens=100_000_000, n_partitions=4).collect()}
    assert forced == want
    # stats without n_partitions fall back to defaultParallelism
    # (32 here -> distinct), never a plan->RDD conversion (r11:
    # no .rdd anywhere in pkg/, lint-enforced in full_check.sh)
    fallback = {r["doc_id"]: (r["n_bpe_tokens"], r["bpe_tokens"])
                for r in T.bpe_encode_auto(
                    docs, merges, vocab_est=10_000_000,
                    n_tokens=100_000_000).collect()}
    assert fallback == want
    # and that a 1-partition frame stays batch even with huge stats
    assert T.pick_bpe_tier(10_000_000, 100_000_000, 1) == "batch"


def test_rrf_fuse_hand_computed(spark):
    # list A ranks docs 1,2,3; list B ranks 2,3,4 -> doc 2 wins
    # (1/62 + 1/61), doc 3 next (1/63 + 1/62), then 1 (1/61), then 4 (1/63)
    a = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)],
        "query_id string, rank long, doc_id long")
    b = spark.createDataFrame(
        [("q", 1, 2), ("q", 2, 3), ("q", 3, 4)],
        "query_id string, rank long, doc_id long")
    out = S.rrf_fuse([a, b], k=10, k_rrf=60).collect()
    order = [(r["rank"], r["doc_id"], r["n_lists"]) for r in
             sorted(out, key=lambda r: r["rank"])]
    assert order == [(1, 2, 2), (2, 3, 2), (3, 1, 1), (4, 4, 1)]
    two = {r["doc_id"]: r["rrf_score"] for r in out}
    assert two[2] == pytest.approx(1 / 62 + 1 / 61, abs=2e-9)
    assert two[1] == pytest.approx(1 / 61, abs=2e-9)


def test_rrf_fuse_tie_breaks_on_id_and_caps_k(spark):
    # identical rank sets -> equal scores, id ascending; k caps output
    a = spark.createDataFrame(
        [("q", 1, 10), ("q", 2, 20), ("q", 3, 30)],
        "query_id string, rank long, doc_id long")
    b = spark.createDataFrame(
        [("q", 1, 20), ("q", 2, 10), ("q", 3, 5)],
        "query_id string, rank long, doc_id long")
    out = sorted(S.rrf_fuse([a, b], k=2).collect(), key=lambda r: r["rank"])
    # 10 and 20 both score 1/61+1/62 -> tie broken on doc_id
    assert [(r["rank"], r["doc_id"]) for r in out] == [(1, 10), (2, 20)]


def test_token_budget_cap_strict_prefix(spark):
    from sanef_election_dashboard_etl_spark.operators.sampling import (
        token_budget_cap)
    df = spark.createDataFrame(
        [(i, "s", "w " * 10) for i in range(10)]
        + [(100, "t", "a b c"), (101, "t", "d e"),
           (102, "t", "f g h i j k l m n o p q r s t u v w x y z")],
        "doc_id long, source string, text string")
    out = token_budget_cap(df, budget_tokens=25)
    got = {r["source"]: sorted([(r2["doc_id"], r2["cum_tokens"])
                                for r2 in out.collect()
                                if r2["source"] == r["source"]])
           for r in out.select("source").distinct().collect()}
    # source s: 10-token docs -> exactly 2 fit in 25
    assert [c for _, c in got["s"]] == [10, 20]
    # never exceeds the budget, cum is monotone within the hash order
    for r in out.collect():
        assert r["cum_tokens"] <= 25
    # deterministic under repartition
    assert rows(out, "doc_id", "cum_tokens") == \
        rows(token_budget_cap(df.repartition(7), 25),
             "doc_id", "cum_tokens")


def test_contamination_score_fractions_and_left_join(spark):
    train = spark.createDataFrame(
        [(1, "a b c d e"),        # shingles: abc bcd cde -> 2/3 dirty
         (2, "x y z w v u")],     # no overlap -> 0.0, still present
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(90, "a b c d q q q")],  # eval shingles include abc, bcd
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.contamination_score(train, ev, n=3, threshold=0.5).collect()}
    assert out[1]["n_shingles"] == 3 and out[1]["n_contaminated"] == 2
    assert out[1]["contamination"] == pytest.approx(2 / 3)
    assert out[1]["keep"] == 0
    assert out[2]["n_shingles"] == 4 and out[2]["n_contaminated"] == 0
    assert out[2]["contamination"] == 0.0 and out[2]["keep"] == 1


def test_merge_aggregates_equals_full_recompute(spark):
    from sanef_election_dashboard_etl_spark.operators.relational import (
        merge_aggregates)
    full = spark.createDataFrame(
        [("a", i % 3, 10 + i) for i in range(20)]
        + [("b", 7, 100)],
        "k string, extra long, val long")

    def rollup(df):
        return df.groupBy("k").agg(F.sum("val").alias("sv"),
                                   F.count(F.lit(1)).alias("n"))

    base = rollup(full.filter(F.col("val") < 20))
    delta = rollup(full.filter(~(F.col("val") < 20)))
    merged = merge_aggregates(base, delta, keys=["k"], sum_cols=["sv"],
                              count_col="n")
    assert rows(merged) == rows(rollup(full))
    # base-only and delta-only keys both survive (union semantics)
    lop = merge_aggregates(rollup(full.filter(F.col("k") == "a")),
                           rollup(full.filter(F.col("k") == "b")),
                           keys=["k"], sum_cols=["sv"], count_col="n")
    assert rows(lop) == rows(rollup(full))


def test_key_skew_shares_and_median_multiple(spark):
    from sanef_election_dashboard_etl_spark.operators.profile import key_skew
    # key 'h' 6 rows, 'm' 2 rows, 'l1'/'l2' 1 row -> median cnt 1.5
    df = spark.createDataFrame(
        [("h",)] * 6 + [("m",)] * 2 + [("l1",)] + [("l2",)],
        "k string")
    out = {r["key"]: r for r in key_skew(df, "k", top_n=10).collect()}
    assert out["h"]["rank"] == 1 and out["h"]["cnt"] == 6
    assert out["h"]["share"] == pytest.approx(0.6)
    assert out["h"]["skew_vs_median"] == pytest.approx(6 / 1.5)
    assert out["h"]["n_keys"] == 4
    assert out["m"]["rank"] == 2
    # ties broken by key string ascending
    assert out["l1"]["rank"] == 3 and out["l2"]["rank"] == 4


def test_pagerank_triangle_with_pendant(spark):
    # triangle 1-2-3 plus pendant 4 attached to 3: 3 is most central,
    # 4 least; mass stays ~1 (teleport+damping conserve within rounding)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long")
    out = {r["node_id"]: r["pagerank"]
           for r in D.pagerank(pairs, n_iter=5).collect()}
    fp = {r["node_id"]: r["pagerank_fp"]
          for r in D.pagerank(pairs, n_iter=5).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[3] == max(out.values())
    assert out[4] == min(out.values())
    # fixed-point floor drops <= (2N + E) * 1e-12 mass per iteration
    assert sum(out.values()) == pytest.approx(1.0, abs=1e-9)
    assert fp[1] == fp[2]  # symmetric pair: integer-EXACT equality
    # deterministic under repartition (integer arithmetic, no rounding)
    again = {r["node_id"]: r["pagerank_fp"]
             for r in D.pagerank(pairs.repartition(5), n_iter=5).collect()}
    assert again == fp
    # damping must be an exact short rational
    with pytest.raises(ValueError):
        D.pagerank(pairs, n_iter=1, damping=0.8567890123)


def test_trend_ols_recovers_exact_line_and_guards_singletons(spark):
    from sanef_election_dashboard_etl_spark.operators.profile import (
        trend_ols)
    # group 'g': y = 2x + 3 exactly; group 'one': single point -> NULL
    rows = [("g", 1000 + x, 2.0 * (1000 + x) + 3.0) for x in range(10)]
    rows.append(("one", 1000, 42.0))
    df = spark.createDataFrame(rows, "grp string, x long, y double")
    out = {r["grp"]: r for r in
           trend_ols(df, "x", "y", group_col="grp", y_scale=2).collect()}
    # x re-bases to the global min, slope is shift-invariant
    assert out["g"]["slope"] == pytest.approx(2.0, abs=1e-12)
    # intercept is in rebased-x space: fitted y at x = global min (1000)
    assert out["g"]["intercept"] == pytest.approx(2.0 * 1000 + 3.0,
                                                  abs=1e-9)
    assert out["one"]["slope"] is None and out["one"]["intercept"] is None
    assert out["one"]["n"] == 1
    # partition-independent exact (decimal sums + fixed double shape)
    again = {r["grp"]: (r["slope"], r["intercept"]) for r in
             trend_ols(df.repartition(7), "x", "y",
                       group_col="grp").collect()}
    assert again["g"] == (out["g"]["slope"], out["g"]["intercept"])


# ---------------------------------------------------------------------------
# hard-negative mining + kNN graph (contrastive-training / clustering tier)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def labeled_vecs(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0], 0),
         (1, [0.9, 0.1, 0.0], 1),    # nearest cross-label to 0
         (2, [0.0, 1.0, 0.0], 1),
         (3, [0.0, 0.0, 1.0], 2),
         (4, [1.0, 0.01, 0.0], 0)],  # nearest overall to 0 — same label
        "vec_id long, embedding array<float>, label int")


def test_hard_negatives_exclude_same_label(spark, labeled_vecs):
    out = S.hard_negatives(
        labeled_vecs, labeled_vecs.filter(F.col("vec_id") == 0), k=3)
    got = rows(out, "rank", "negative_id")
    # vec 4 (nearest, same label) never appears; cos ties (2,3 both
    # orthogonal) break by id.
    assert got == [(1, 1), (2, 2), (3, 3)]


def test_hard_negatives_semi_hard_band(spark, labeled_vecs):
    out = S.hard_negatives(
        labeled_vecs, labeled_vecs.filter(F.col("vec_id") == 0), k=3,
        max_cos=0.99)
    got = rows(out, "rank", "negative_id")
    # the too-close negative (vec 1, cos ~0.994) is banded out
    assert got == [(1, 2), (2, 3)]


def test_knn_graph_mutual_flag(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.99, 0.01, 0.0]),
         (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.99, 0.01]),
         (4, [0.7, 0.3, 0.0])],
        "vec_id long, embedding array<float>")
    got = rows(S.knn_graph(vecs, k=1), "id_a", "id_b", "mutual")
    # two reciprocal cluster pairs; 4's best edge points INTO cluster 1
    # but 1's best edge is 0, so (1, 4) is one-directional.
    assert sorted(got) == [(0, 1, True), (1, 4, False), (2, 3, True)]


def test_mmr_rerank_diversifies_near_duplicates(spark):
    # candidates 1 and 2 are near-duplicates of each other; 3 is less
    # relevant but diverse (rel > its sim to the first pick); 4 is
    # orthogonal noise. Plain top-2 returns the duplicate pair; MMR
    # swaps the duplicate for the diverse doc at rank 2.
    emb = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]),
         (1, [0.999, 0.01, 0.0]),
         (2, [0.998, 0.012, 0.0]),
         (3, [0.5, -0.5, 0.0]),
         (4, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 100)
    plain = rows(S.cosine_topk(emb, q, k=2), "rank", "neighbor_id")
    assert plain == [(1, 1), (2, 2)]
    mmr = rows(S.mmr_rerank(emb, q, k=2, pool=4, lam=0.5),
               "rank", "neighbor_id")
    assert mmr == [(1, 1), (2, 3)]


def test_mmr_rerank_k1_equals_topk(spark, labeled_vecs):
    q = labeled_vecs.filter(F.col("vec_id") == 0)
    assert (rows(S.mmr_rerank(labeled_vecs, q, k=1, pool=3), "neighbor_id")
            == rows(S.cosine_topk(labeled_vecs, q, k=1), "neighbor_id"))


def test_pack_efficiency_fill_and_overflow(spark):
    from sanef_election_dashboard_etl_spark.operators.packing import (
        pack_efficiency)
    docs = spark.createDataFrame(
        [(1, 6), (2, 6), (3, 6), (4, 2)], "doc_id long, n long")
    # one group, budget 10: cum_before 0,6,12,18 -> bins 0,0,1,1;
    # bin 0 fills to 12 (overflow), bin 1 to 8.
    got = pack_efficiency(docs, "n", budget=10, n_groups=1).collect()[0]
    assert (got.n_bins, got.n_docs, got.total_tokens) == (2, 4, 20)
    assert (got.max_fill, got.min_fill, got.n_overflow_bins) == (12, 8, 1)
    assert got.capacity == 20 and got.utilization == 1.0


def test_dedup_weighted_sample_keeps_uniques_downweights_clusters(spark):
    import hashlib

    from sanef_election_dashboard_etl_spark.operators.sampling import (
        dedup_weighted_sample)

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 10000

    # ids 0-9 unique clusters; ids 100-103 share one cluster of size 4
    rows_in = [(i, f"u{i}") for i in range(10)] + \
              [(100 + j, "dup") for j in range(4)]
    df = spark.createDataFrame(rows_in, "doc_id long, cluster string")
    kept = sorted(r.doc_id for r in
                  dedup_weighted_sample(df, "cluster").collect())
    # uniques ALWAYS survive (bucket * 1 < 10000 is vacuous);
    # the size-4 cluster keeps exactly the ids with bucket < 2500.
    expected = list(range(10)) + [100 + j for j in range(4)
                                  if bucket(100 + j) * 4 < 10000]
    assert kept == sorted(expected)
    assert 0 < len([i for i in kept if i >= 100]) < 4


def test_split_by_cluster_never_splits_a_cluster(spark):
    from sanef_election_dashboard_etl_spark.operators.sampling import (
        assign_splits, split_by_cluster)
    df = spark.createDataFrame(
        [(i, i // 3) for i in range(300)], "doc_id long, cluster long")
    out = split_by_cluster(df, "cluster")
    per = (out.groupBy("cluster")
           .agg(F.countDistinct("split").alias("n")).collect())
    assert all(r.n == 1 for r in per)
    # the doc-grain assignment DOES straddle at least one cluster —
    # the leak this operator exists to prevent
    doc_grain = (assign_splits(df, "doc_id")
                 .groupBy("cluster")
                 .agg(F.countDistinct("split").alias("n")).collect())
    assert any(r.n > 1 for r in doc_grain)


def test_data_card_counts_and_lang_mode_tie(spark):
    from sanef_election_dashboard_etl_spark.operators.profile import (
        data_card)
    df = spark.createDataFrame(
        [(1, "aa bb", "en", "web"), (2, "aa bb", "en", "web"),
         (3, "cc dd ee", "fr", "web"), (4, "ff", "fr", "books"),
         (5, "gg hh", "de", "books")],
        "doc_id long, text string, lang string, source string")
    got = {r.source: r for r in data_card(df).collect()}
    web = got["web"]
    # docs 1/2 share a fingerprint: 3 docs, 2 unique, dup_rate 1/3
    assert (web.n_docs, web.n_unique_docs, web.n_langs) == (3, 2, 2)
    assert abs(web.dup_rate - 1.0 / 3.0) < 1e-15
    assert web.n_tokens == 7 and web.top_lang == "en"
    books = got["books"]
    # de/fr tie at one doc each -> lexicographic tie-break picks "de"
    assert (books.n_docs, books.n_unique_docs, books.top_lang) == (2, 2, "de")


def test_data_card_two_level_null_semantics_and_no_expand(spark):
    """r11 Expand removal: the two-level (source, fp) rollup must keep
    countDistinct's NULL semantics — a NULL text (NULL fingerprint) and
    a NULL lang count into n_docs but NOT into n_unique_docs/n_langs —
    and the plan must carry no Expand node."""
    from sanef_election_dashboard_etl_spark.operators.profile import (
        data_card)
    df = spark.createDataFrame(
        [(1, "aa bb", "en", "web"), (2, None, "en", "web"),
         (3, "cc", None, "web")],
        "doc_id long, text string, lang string, source string")
    card = data_card(df)
    web = card.collect()[0]
    # 3 docs; distinct non-NULL fingerprints: fp(aa bb), fp(cc) -> 2;
    # distinct non-NULL langs: en -> 1; top_lang 'en' outright (2 > 1,
    # no tie against the NULL-lang group).
    assert (web.n_docs, web.n_unique_docs, web.n_langs) == (3, 2, 1)
    assert web.top_lang == "en"
    plan = card._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, "count-distinct Expand crept back"


def test_pack_ffd_invariants_and_beats_streaming_fill(spark):
    from sanef_election_dashboard_etl_spark.operators.packing import (
        pack_ffd, pack_sequences)
    # one long doc then short ones: the streaming packer strands
    # capacity behind the long doc; FFD back-fills it.
    rows_in = [(1, 9), (2, 2), (3, 2), (4, 2), (5, 2), (6, 2), (7, 12)]
    df = spark.createDataFrame(rows_in, "doc_id long, n long")
    out = pack_ffd(df, "n", budget=10, n_groups=1).collect()
    assert sorted(r.doc_id for r in out) == [1, 2, 3, 4, 5, 6, 7]
    fills = {}
    for r in out:
        fills[r.bin_id] = fills.get(r.bin_id, 0) + r.n_tokens
    # oversized doc 7 (12 > 10) sits alone; every other bin <= budget
    solo = [r.bin_id for r in out if r.doc_id == 7]
    assert [r.bin_id for r in out if r.n_tokens == 12] == solo
    assert all(f <= 10 for b, f in fills.items() if b != solo[0])
    # FFD lands on the capacity-respecting optimum: [12] [9] [2x5=10]
    assert len(fills) == 3 and sorted(fills.values()) == [9, 10, 12]
    # the streaming packer needs fewer bins only by OVERFLOWING them
    # (a doc is binned where its prefix starts): fills 11 and 20 here
    streamed = pack_sequences(df, "n", budget=10, n_groups=1).collect()
    sfills = {}
    for r in streamed:
        sfills[r.bin_id] = sfills.get(r.bin_id, 0) + r.n_tokens
    assert sorted(sfills.values()) == [11, 20]


def test_pack_ffd_partition_invariant(spark):
    from sanef_election_dashboard_etl_spark.operators.packing import (
        pack_ffd)
    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37 + 11, F.lit(900)) + 1).alias("n"))
    a = sorted(map(tuple, pack_ffd(df, "n", 1000).collect()))
    b = sorted(map(tuple,
                   pack_ffd(df.repartition(13), "n", 1000).collect()))
    assert a == b


def test_data_card_state_merge_equals_batch(spark):
    from sanef_election_dashboard_etl_spark.operators.profile import (
        data_card, data_card_from_state, data_card_merge, data_card_state)
    df = spark.createDataFrame(
        [(1, "aa bb", "en", "web"), (2, "aa bb", "en", "web"),
         (3, "cc dd ee", "fr", "web"), (4, "ff", "fr", "books"),
         (5, "gg hh", "de", "books"), (6, "aa bb", "en", "books")],
        "doc_id long, text string, lang string, source string")
    a, b = df.filter(F.col("doc_id") <= 3), df.filter(F.col("doc_id") > 3)
    merged = data_card_from_state(
        *data_card_merge(*data_card_state(a), *data_card_state(b)))
    batch = data_card(df)
    key = lambda r: r.source
    assert sorted(map(tuple, merged.collect()), key=lambda t: t[0]) == \
        sorted(map(tuple, batch.collect()), key=lambda t: t[0])


def test_scd2_merge_all_branches(spark):
    from sanef_election_dashboard_etl_spark.operators.relational import (
        scd2_merge)
    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone")], "k long, v string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh")], "k long, v string")
    out = {(r.k, r.valid_from, r.valid_to)
           for r in scd2_merge(old, new, "k", ["v"]).collect()}
    assert out == {
        (1, 1, None),   # unchanged: one open row
        (2, 1, 2),      # changed: old row closed ...
        (2, 2, None),   # ... new row open
        (3, 1, 2),      # removed: closed
        (4, 2, None),   # added: open
    }


def test_triangle_counts_hand_graph(spark):
    # K3 on {1,2,3} plus pendant 4 off node 3
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "id_a long, id_b long")
    got = {r.id: (r.degree, r.n_triangles, r.clustering_coef)
           for r in D.triangle_counts(pairs).collect()}
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, 1.0 / 3.0)
    assert got[4] == (1, 0, 0.0)
    # duplicate/reversed edges fold to the same canonical graph
    noisy = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 2), (1, 3), (3, 1), (4, 3)],
        "id_a long, id_b long")
    got2 = {r.id: (r.degree, r.n_triangles, r.clustering_coef)
            for r in D.triangle_counts(noisy).collect()}
    assert got2 == got


def test_jaccard_prefix_equals_naive(spark):
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "aa bb cc ee"),     # J = 3/5 — pair
         (3, "the xx yy zz"), (4, "the pp qq rr"),   # share only a hot token
         (5, "mm nn"), (6, "mm nn"),                 # exact twin — J = 1
         (7, "solo only words here")],
        "doc_id long, text string")
    grams = D.token_set(docs)
    naive = sorted(map(tuple, D.jaccard_pairs(
        grams, min_jaccard=0.5).collect()))
    pref = sorted(map(tuple, D.jaccard_prefix_pairs(
        grams, min_jaccard=0.5).collect()))
    assert pref == naive
    assert (1, 2, 0.6) in pref and (5, 6, 1.0) in pref
    assert not any({a, b} == {3, 4} for a, b, _ in pref)


def test_jaccard_prefix_boundary_pair_not_pruned(spark):
    # |x| = 2, |y| = 4, x subset of y: J = 2/4 = 0.5 exactly — the
    # boundary the integer size filter must NOT float-prune
    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb cc dd")], "doc_id long, text string")
    got = rows(D.jaccard_prefix_pairs(D.token_set(docs),
                                      min_jaccard=0.5))
    assert got == [(1, 2, 0.5)]


def test_quantile_normalize_aligns_shifted_scales(spark):
    from sanef_election_dashboard_etl_spark.operators.sampling import (
        quantile_normalize)
    # source B runs 100 "hotter" than A; after normalization, equal
    # within-source rank gets the identical calibrated value.
    df = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", 2.0), (3, "A", 3.0),
         (4, "B", 101.0), (5, "B", 102.0), (6, "B", 103.0)],
        "doc_id long, source string, score double")
    out = quantile_normalize(df, "score")
    byrank = {}
    for r in sorted(out.collect(), key=lambda r: (r.source, r.raw)):
        byrank.setdefault(r.source, []).append(r.calibrated)
    assert byrank["A"] == byrank["B"]
    # endpoints hit the global min/max: N=6 -> gidx 1, 3.5->3, 6
    assert byrank["A"] == [1.0, 3.0, 103.0]
    # singleton group maps to the global median index (N+1) div 2
    solo = spark.createDataFrame(
        [(1, "A", 5.0), (2, "A", 6.0), (3, "A", 7.0), (9, "S", 999.0)],
        "doc_id long, source string, score double")
    got = {r.doc_id: r.calibrated
           for r in quantile_normalize(solo, "score").collect()}
    assert got[9] == 6.0   # global sorted [5,6,7,999], (4+1) div 2 = idx 2


def test_numeric_drift_binned_known_values(spark):
    from sanef_election_dashboard_etl_spark.operators.profile import (
        numeric_drift_binned)
    o = spark.createDataFrame([(float(x),) for x in [0, 1, 2, 3]],
                              "v double")
    # identical distributions -> 0
    z = numeric_drift_binned(o, o, "v", n_bins=4).first()
    assert z.tvd == 0.0 and z.n_old == 4 and z.n_new == 4
    # range [0,3], 4 bins of width .75: old {0,1,2,3}->bins{0,1,2,3};
    # new all 3.0 -> bin 3. TVD = 0.5*(1/4+1/4+1/4+|1/4-1|) = 0.75
    n = spark.createDataFrame([(3.0,), (3.0,), (3.0,), (3.0,)],
                              "v double")
    d = numeric_drift_binned(o, n, "v", n_bins=4).first()
    assert d.tvd == 0.75
    # degenerate hi == lo: everything bin 0, no drift
    c = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    assert numeric_drift_binned(c, c, "v").first().tvd == 0.0


def test_kmeans_spherical_recovers_blobs(spark):
    # two well-separated directional blobs; seeds (ids 0 and 1) start
    # one in each blob, so two Lloyd rounds must keep them apart
    rows_in = [(0, [1.0, 0.02, 0.0]), (2, [0.99, -0.01, 0.03]),
               (4, [1.0, 0.0, 0.01]),
               (1, [0.0, 1.0, 0.02]), (3, [0.02, 0.98, 0.0]),
               (5, [0.0, 1.0, -0.01])]
    emb = spark.createDataFrame(rows_in, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.cluster
           for r in S.kmeans_spherical(emb, k=2, n_iter=2).collect()}
    assert got[0] == got[2] == got[4]
    assert got[1] == got[3] == got[5]
    assert got[0] != got[1]
    # partition invariance: same assignment on a reshuffled input
    got2 = {r.vec_id: r.cluster for r in S.kmeans_spherical(
        emb.repartition(7), k=2, n_iter=2).collect()}
    assert got2 == got


def test_semantic_dedup_lloyd_drops_every_clone(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]),
         (2, [0.0, 0.0, 1.0]), (3, [0.7, 0.7, 0.0])],
        "vec_id long, embedding array<float>")
    u = emb.unionByName(emb.select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"))
    got = {r.vec_id: r.kept
           for r in S.semantic_dedup_lloyd(u, n_clusters=2).collect()}
    # every original survives, every clone is dropped (identical
    # vectors always share a cluster under the deterministic assign)
    assert all(got[i] for i in (0, 1, 2, 3))
    assert not any(got[i + 100] for i in (0, 1, 2, 3))


def test_events_attribution_last_touch_and_organic(spark):
    from datetime import datetime

    from sanef_election_dashboard_etl_spark.operators.temporal import (
        last_touch_attribution)
    rows_in = [
        (1, datetime(2024, 1, 1, 10, 0, 0), 7, "click"),
        (2, datetime(2024, 1, 1, 11, 0, 0), 7, "click"),
        (3, datetime(2024, 1, 1, 12, 0, 0), 7, "purchase"),  # -> click 2
        (4, datetime(2024, 1, 1, 13, 0, 0), 7, "click"),     # after: ignored
        (5, datetime(2024, 1, 2, 9, 0, 0), 8, "purchase"),   # organic
        # same-second click with SMALLER id sorts before the purchase
        (6, datetime(2024, 1, 3, 9, 0, 0), 9, "click"),
        (7, datetime(2024, 1, 3, 9, 0, 0), 9, "purchase"),   # -> click 6
    ]
    df = spark.createDataFrame(
        rows_in, "event_id long, ts timestamp, user_id long, "
                 "event_type string")
    out = {r.conversion_event_id: (r.attributed_event_id, r.lag_secs)
           for r in last_touch_attribution(df).collect()}
    assert out[3] == (2, 3600)
    assert out[5] == (None, None)
    assert out[7] == (6, 0)


def test_peak_concurrency_sweep_semantics(spark):
    from sanef_election_dashboard_etl_spark.operators.temporal import (
        peak_concurrency)
    # overlap at t=5..10 -> peak 2, earliest at 5
    iv = spark.createDataFrame(
        [(0, 10), (5, 15), (20, 30)], "t_start long, t_end long")
    got = peak_concurrency(iv).first()
    assert (got.peak, got.t_at_peak) == (2, 5)
    # touching intervals never double-count (end sorts before start)
    touch = spark.createDataFrame(
        [(0, 10), (10, 20)], "t_start long, t_end long")
    assert peak_concurrency(touch).first().peak == 1
    # zero-length intervals count zero
    zero = spark.createDataFrame(
        [(5, 5), (5, 5)], "t_start long, t_end long")
    assert peak_concurrency(zero).first().peak == 0


def test_interval_coverage_union_and_segments(spark):
    from sanef_election_dashboard_etl_spark.operators.temporal import (
        interval_coverage)
    iv = spark.createDataFrame(
        [(0, 10), (5, 15), (20, 30)], "t_start long, t_end long")
    got = interval_coverage(iv).first()
    assert (got.covered_secs, got.n_segments) == (25, 2)
    # touching intervals merge into one segment (starts before ends)
    touch = spark.createDataFrame(
        [(0, 10), (10, 20), (40, 41)], "t_start long, t_end long")
    got2 = interval_coverage(touch).first()
    assert (got2.covered_secs, got2.n_segments) == (21, 2)
    # zero-length intervals dropped entirely
    zero = spark.createDataFrame(
        [(5, 5), (7, 9)], "t_start long, t_end long")
    got3 = interval_coverage(zero).first()
    assert (got3.covered_secs, got3.n_segments) == (2, 1)


def test_linear_attribution_weights_sum_to_one(spark):
    from datetime import datetime

    from sanef_election_dashboard_etl_spark.operators.temporal import (
        last_touch_attribution, linear_attribution)
    rows_in = [
        (1, datetime(2024, 1, 1, 10), 7, "click"),
        (2, datetime(2024, 1, 1, 11), 7, "click"),
        (3, datetime(2024, 1, 1, 12), 7, "purchase"),
        (4, datetime(2024, 1, 2, 9), 8, "purchase"),   # organic
    ]
    df = spark.createDataFrame(
        rows_in, "event_id long, ts timestamp, user_id long, "
                 "event_type string")
    lin = linear_attribution(df).collect()
    # purchase 3 splits credit across clicks 1 and 2; organic 4 absent
    by_conv = {}
    for r in lin:
        by_conv.setdefault(r.conversion_event_id, []).append(r)
    assert set(by_conv) == {3}
    assert sorted(r.touch_event_id for r in by_conv[3]) == [1, 2]
    assert sum(r.weight for r in by_conv[3]) == 1.0
    # the last-touch winner is linear's minimum-lag pair
    lt = {r.conversion_event_id: r.attributed_event_id
          for r in last_touch_attribution(df).collect()}
    assert lt[3] == min(by_conv[3], key=lambda r: r.lag_secs).touch_event_id


def test_ushaped_attribution_weights(spark):
    from datetime import datetime

    from sanef_election_dashboard_etl_spark.queries import REGISTRY
    import tempfile, os
    rows_in = [
        (1, datetime(2024, 1, 1, 10), 7, "click"),
        (2, datetime(2024, 1, 1, 11), 7, "click"),
        (3, datetime(2024, 1, 1, 12), 7, "click"),
        (4, datetime(2024, 1, 1, 13), 7, "click"),
        (5, datetime(2024, 1, 1, 14), 7, "purchase"),  # n=4
        (6, datetime(2024, 1, 2, 10), 8, "click"),
        (7, datetime(2024, 1, 2, 11), 8, "purchase"),  # n=1
    ]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows_in, "event_id long, ts timestamp, user_id long, "
                     "event_type string") \
            .write.parquet(os.path.join(td, "events.parquet"))
        out = REGISTRY["events_ushaped_attribution"].fn(spark, td)
        got = {(r.conversion_event_id, r.touch_event_id): r.weight
               for r in out.collect()}
    # n=4: first and last get 0.4, two middles 0.1 each; sums to 1
    assert got[(5, 1)] == 0.4 and got[(5, 4)] == 0.4
    assert got[(5, 2)] == got[(5, 3)] == 0.2 / 2
    assert abs(sum(v for (c, _), v in got.items() if c == 5) - 1.0) < 1e-15
    # n=1: the lone touch gets full credit
    assert got[(7, 6)] == 1.0


def test_pq_rerank_routing_boundary():
    # VERDICT r6 item 4: routing is a measured decision, pinned at BOTH
    # corpus scales. Below the RECALL.md boundary an explicit rerank=0
    # stays advisory (passes through); at/above the 200k boundary —
    # where the sf1 adversarial run measured unreranked ADC collapsing
    # to 0.28 recall — rerank=0 routes to the production default.
    from sanef_election_dashboard_etl_spark.operators.similarity import (
        PQ_UNRERANKED_MAX, route_pq_rerank)

    assert PQ_UNRERANKED_MAX == 200_000
    # small corpus (sf0.1-scale): explicit rerank=0 honored
    assert route_pq_rerank(6_400, 0) == 0
    assert route_pq_rerank(PQ_UNRERANKED_MAX - 1, 0) == 0
    # measured-failure corpus: auto-routed to the rerank tier
    assert route_pq_rerank(PQ_UNRERANKED_MAX, 0) == 10
    assert route_pq_rerank(5_000_000, 0) == 10
    # explicit rerank>0 always passes through, any scale
    assert route_pq_rerank(5_000_000, 3) == 3
    assert route_pq_rerank(100, 10) == 10


def test_pq_topk_routed_path_equals_explicit_rerank(spark):
    # The routed plan must BE the rerank plan: pq_topk(rerank=0) with a
    # boundary the corpus crosses returns exactly pq_topk(rerank=10).
    import warnings

    import numpy as np
    rng = np.random.RandomState(13)
    rows_ = [(i, [float(x) for x in rng.normal(0, 1, 8)])
             for i in range(120)]
    df = spark.createDataFrame(rows_, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 3)

    def res(out):
        return sorted((r["query_id"], r["rank"], r["neighbor_id"])
                      for r in out.collect())

    explicit = res(S.pq_topk(df, q, k=3, m=4, k_codes=8, train_n=120,
                             rerank=10))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        routed = res(S.pq_topk(df, q, k=3, m=4, k_codes=8, train_n=120,
                               rerank=0, unreranked_max=100))
        assert any("RECALL.md" in str(x.message) for x in w)
    assert routed == explicit


def test_jpeg_roundtrip_dc_only_blocks_exact():
    # VERDICT r6 item 7: baseline JPEG encode->decode. DC-only blocks
    # against an all-ones quant table IDCT to the constant DC/8, so
    # every decoded pixel equals its block's tile byte EXACTLY in all
    # three channels — lossless by construction through the real
    # Huffman/dequant/IDCT/YCbCr path.
    import numpy as np
    tile = "the quick brown fox é jumps".encode()
    for w, h in [(8, 8), (32, 24), (64, 48)]:
        d = M.decode_jpeg(M._encode_jpeg(tile, w, h))
        assert (d["width"], d["height"]) == (w, h)
        px = np.frombuffer(d["pixels"], dtype=np.uint8).reshape(h, w, 3)
        bw = w // 8
        for by in range(h // 8):
            for bx in range(bw):
                b = tile[(by * bw + bx) % len(tile)]
                assert (px[by*8:(by+1)*8, bx*8:(bx+1)*8, :] == b).all()
    # empty tile -> single 0x00 byte contract; decode_image dispatches
    d = M.decode_image(M._encode_jpeg(b"", 8, 8))
    assert d["pixels"] == b"\x00" * (3 * 8 * 8)
    # dims must be block-aligned; progressive SOF fails loudly
    with pytest.raises(ValueError):
        M._encode_jpeg(b"x", 12, 8)
    prog = M._encode_jpeg(b"x", 8, 8).replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError):
        M.decode_jpeg(prog)


def test_jpeg_decoder_full_ac_alphabet_matches_reference_idct():
    # The decoder is a GENERAL baseline decoder, not specialized to the
    # DC-only encoder: hand-build a grayscale stream with AC
    # coefficients (run/size codes beyond EOB) and compare the decoded
    # block to an independent numpy IDCT of the same coefficients.
    import math
    import struct

    import numpy as np
    dc_codes = M._jpeg_huff_codes(M._JPEG_DC_COUNTS, M._JPEG_DC_SYMBOLS)
    ac_counts = [0, 2, 1] + [0] * 13
    ac_syms = [0x00, 0x01, 0x11]
    ac_codes = M._jpeg_huff_codes(ac_counts, ac_syms)

    def seg(m, b):
        return b"\xff" + m + struct.pack(">H", len(b) + 2) + b

    out = [b"\xff\xd8", seg(b"\xdb", b"\x00" + bytes([1] * 64))]
    out.append(seg(b"\xc0", struct.pack(">BHHB", 8, 8, 8, 1)
                   + bytes([1, 0x11, 0])))
    out.append(seg(b"\xc4", b"\x00" + bytes(M._JPEG_DC_COUNTS)
                   + bytes(M._JPEG_DC_SYMBOLS)
                   + b"\x10" + bytes(ac_counts) + bytes(ac_syms)))
    out.append(seg(b"\xda", b"\x01" + b"\x01\x00" + b"\x00\x3f\x00"))
    bwr = M._JpegBitWriter()
    c, ln = dc_codes[5]; bwr.write(c, ln); bwr.write(16, 5)   # DC = +16
    c, ln = ac_codes[0x01]; bwr.write(c, ln); bwr.write(1, 1)  # k=1: +1
    c, ln = ac_codes[0x11]; bwr.write(c, ln); bwr.write(0, 1)  # k=3: -1
    c, ln = ac_codes[0x00]; bwr.write(c, ln)                   # EOB
    out.append(bwr.flush())
    out.append(b"\xff\xd9")
    got = np.frombuffer(M.decode_jpeg(b"".join(out))["pixels"],
                        dtype=np.uint8).reshape(8, 8, 3)
    assert (got[:, :, 0] == got[:, :, 1]).all()  # grayscale replication
    B = np.array([[0.5 * (1 / math.sqrt(2) if u == 0 else 1.0)
                   * math.cos((2 * x + 1) * u * math.pi / 16)
                   for u in range(8)] for x in range(8)])
    Fm = np.zeros((8, 8))
    Fm.flat[M._JPEG_ZIGZAG[0]] = 16
    Fm.flat[M._JPEG_ZIGZAG[1]] = 1
    Fm.flat[M._JPEG_ZIGZAG[3]] = -1
    ref = np.clip(np.rint(B @ Fm @ B.T + 128.0), 0, 255).astype(np.uint8)
    assert (got[:, :, 0] == ref).all()


def test_jpeg_flows_through_generic_media_tiers(spark):
    # decode_media / extract_features(fake=False)
    # dispatch on magic bytes, so JPEG payloads ride the same narrow
    # mapInPandas tiers as BMP/PNG with no special-casing
    docs = spark.createDataFrame(
        [(i, f"jpeg body {i} é") for i in range(6)],
        "doc_id long, text string")
    media = M.synthesize_media_encoded(docs, "image", image_format="jpeg")
    out = {r["media_id"]: r for r in M.decode_media(media).collect()}
    for mid, r in out.items():
        t = f"jpeg body {mid} é".encode()
        w, h = (mid % 8) * 8 + 8, (mid % 6) * 8 + 8
        assert (r["width"], r["height"]) == (w, h)
        assert r["first_value"] == t[0]
        nb = (w // 8) * (h // 8)
        assert r["value_sum"] == sum(192 * t[i % len(t)] for i in range(nb))
    feats = M.extract_features(media, fake=False).collect()
    assert all(len(r["feature"]) == 16 for r in feats)


def _flac_fixture_frame(samples, *, method=0, porder=0, wasted=0,
                        order=1, bs_code=None, corrupt_crc8=False,
                        corrupt_crc16=False, stype=None, lpc=None,
                        chan_code=0):
    """Hand-build one mono 16-bit FLAC payload (STREAMINFO + a single
    frame) exercising decoder branches the fixture encoder never emits:
    Rice2 (method=1), partition order > 0, wasted bits, table
    block-size codes, corrupted CRCs, reserved subframe types, and
    arbitrary LPC parameter tuples lpc=(prec, shift, coefs)."""
    import struct

    n = len(samples)
    si = M._BitWriter()
    si.write(n, 16); si.write(n, 16); si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(15, 5); si.write(n, 36)
    payload = bytearray(b"fLaC")
    body = si.bytes() + b"\x00" * 16
    payload += bytes((0x80,)) + struct.pack(">I", len(body))[1:] + body

    bw = M._BitWriter()
    bw.write(0b11111111111110, 14); bw.write(0, 2)
    bw.write(bs_code if bs_code is not None else 0b0111, 4)
    bw.write(0, 4); bw.write(chan_code, 4)
    bw.write(0b100, 3); bw.write(0, 1)
    header = bytearray(bw.bytes()) + b"\x00"     # frame number 0
    if bs_code is None:
        header += struct.pack(">H", n - 1)
    crc8 = M._crc8(bytes(header))
    header += bytes(((crc8 ^ 0xFF) if corrupt_crc8 else crc8,))

    sub = M._BitWriter()
    sub.write(0, 1)
    if stype is not None:
        sub.write(stype, 6)
    elif lpc is not None:
        sub.write(0b100000 | (len(lpc[2]) - 1), 6)
    else:
        sub.write(0b001000 | order, 6)
    if wasted:
        sub.write(1, 1)
        sub.write(1, wasted)          # unary: (wasted-1) zeros + 1
    else:
        sub.write(0, 1)
    if stype is None:                 # FIXED/LPC: warmup + Rice residual
        eff = 16 - wasted
        shifted = [s >> wasted for s in samples]
        if lpc is not None:
            prec, shift, coefs = lpc
            order = len(coefs)
            for s in shifted[:order]:
                sub.write(s, eff)
            sub.write(prec - 1, 4)
            sub.write(shift, 5)
            for c in coefs:
                sub.write(c, prec)
            resid = [shifted[i]
                     - (sum(c * shifted[i - 1 - j]
                            for j, c in enumerate(coefs)) >> shift)
                     for i in range(order, n)]
        else:
            for s in shifted[:order]:
                sub.write(s, eff)
            coefs = M._FLAC_FIXED_COEFS[order]
            resid = [shifted[i] - sum(c * shifted[i - 1 - j]
                                      for j, c in enumerate(coefs))
                     for i in range(order, n)]
        sub.write(method, 2)
        sub.write(porder, 4)
        nparts = 1 << porder
        pbits = 4 if method == 0 else 5
        for p in range(nparts):
            lo = p * (n >> porder) + (order if p == 0 else 0)
            hi = (p + 1) * (n >> porder)
            part = resid[(lo - order):(hi - order)]
            zig = [(e << 1) if e >= 0 else ((-e << 1) - 1) for e in part]
            k = max(0, (max(zig).bit_length() if zig else 0) - 3)
            sub.write(k, pbits)
            for u in zig:
                sub.write_unary(u >> k)
                sub.write(u, k)
    sub.align()
    frame = bytes(header) + sub.bytes()
    crc16 = M._crc16(frame)
    payload += frame + struct.pack(
        ">H", (crc16 ^ 0xFFFF) if corrupt_crc16 else crc16)
    return bytes(payload)


def test_flac_roundtrip_all_subframe_types():
    """r11: the fixture encoder's full matrix — CONSTANT (flat frames),
    VERBATIM (mid%7==3), FIXED orders 0-4 (mid%5), Rice escape (order-4
    residuals past parameter 14), multi-frame blocking (>256 samples) —
    every decoded sample equals the text-derived signal."""
    import struct

    for mid in range(10):
        for text in (b"hello world", b"", b"\x00", bytes(range(256)),
                     bytes((i * 7 + 3) % 256 for i in range(600)),
                     b"aaaaaa", bytes([0, 255] * 80)):
            tile = text or b"\x00"
            d = M.decode_flac(M._encode_flac(text, mid))
            want = M._flac_samples(tile)
            got = list(struct.unpack("<%dh" % len(want), d["samples"]))
            assert got == want and d["n_samples"] == len(tile)
            assert (d["sample_rate"], d["n_channels"]) == (8000, 1)
    # decode_audio dispatches FLAC by magic, WAV by RIFF
    assert M.decode_audio(M._encode_flac(b"hi", 0))["n_samples"] == 2
    assert M.decode_audio(M._encode_wav(b"hi", n_samples=4))["n_samples"] == 4
    # STREAMINFO min/max block size span ALL frames (600 samples ->
    # frames 256+256+88, so min=88, max=256; bytes 8-11 of the payload)
    p = M._encode_flac(bytes(600), 1)
    assert int.from_bytes(p[8:10], "big") == 88
    assert int.from_bytes(p[10:12], "big") == 256


def test_flac_stereo_decorrelation_modes():
    """r11: stereo FLAC — independent, left/side, right/side, mid/side
    (mid % 4 selects the assignment) all reconstruct the exact
    interleaved (left, right) signal; the side channel carries bps+1
    bits and mid recovers its dropped low bit from side's parity."""
    import struct

    for mid in range(8):          # two docs per assignment mode
        for text in (b"hello world", b"", bytes(range(256)),
                     bytes((i * 13 + 5) % 256 for i in range(600))):
            tile = text or b"\x00"
            d = M.decode_flac(M._encode_flac_stereo(text, mid))
            L, R = M._flac_samples(tile), M._flac_samples_right(tile)
            want = [v for pair in zip(L, R) for v in pair]
            got = list(struct.unpack("<%dh" % len(want), d["samples"]))
            assert got == want, (mid, text[:8])
            assert (d["n_channels"], d["n_samples"]) == (2, len(tile))
    # >2 channels and reserved assignments are explicit boundaries
    payload = bytearray(M._encode_flac_stereo(b"xy", 0))
    # STREAMINFO channels-1 lives in bits 100..102 of the 34-byte body
    # (byte 12 bits 1-3 counting from MSB) — patch to 7 (8 channels)
    payload[8 + 12] = (payload[8 + 12] & ~0x0E) | (7 << 1)
    with pytest.raises(NotImplementedError, match="stereo"):
        M.decode_flac(bytes(payload))
    # reserved channel assignment 0b1011 in the frame header
    bad = _flac_fixture_frame([1, 2, 3, 4], chan_code=0b1011)
    with pytest.raises(ValueError, match="channel assignment"):
        M.decode_flac(bad)


def test_flac_decoder_general_branches_on_handbuilt_streams():
    """r11: branches the fixture encoder never emits, decoded from
    hand-packed bitstreams — Rice2 (5-bit parameters), partition order
    2, wasted bits, table block-size codes — plus the error surface
    (CRC-8/CRC-16 mismatch, LPC/reserved subframe types, bad magic)."""
    import struct

    samples = [(i * 37) % 512 - 256 for i in range(64)]

    def decoded(payload):
        d = M.decode_flac(payload)
        return list(struct.unpack("<%dh" % d["n_samples"], d["samples"]))

    assert decoded(_flac_fixture_frame(samples)) == samples
    assert decoded(_flac_fixture_frame(samples, method=1)) == samples
    assert decoded(_flac_fixture_frame(samples, porder=2)) == samples
    assert decoded(_flac_fixture_frame(samples, porder=2, method=1,
                                       order=4)) == samples
    # wasted bits: samples divisible by 4 survive a 2-bit shift
    quad = [s * 4 for s in samples]
    assert decoded(_flac_fixture_frame(quad, wasted=2)) == quad
    # table block-size code 0b1000 = 256 samples, no explicit field
    s256 = [(i * 11) % 256 - 128 for i in range(256)]
    assert decoded(_flac_fixture_frame(s256, bs_code=0b1000)) == s256

    # LPC subframes (r11): high orders, big shifts, negative and
    # asymmetric coefficients — the truncating arithmetic-shift
    # prediction must reconstruct exactly whatever the parameters
    for prec, shift, coefs in ((5, 1, [3, -1]), (12, 6, [113, -51]),
                               (15, 9, [981, -512, 73, -9]),
                               (6, 0, [1]),
                               (9, 4, [31, -7, 5, -3, 2, -1, 1, 1])):
        got = decoded(_flac_fixture_frame(samples,
                                          lpc=(prec, shift, coefs)))
        assert got == samples, (prec, shift, coefs)
    assert decoded(_flac_fixture_frame(samples, method=1, porder=1,
                                       lpc=(5, 1, [3, -1]))) == samples

    with pytest.raises(ValueError, match="CRC-8"):
        M.decode_flac(_flac_fixture_frame(samples, corrupt_crc8=True))
    with pytest.raises(ValueError, match="CRC-16"):
        M.decode_flac(_flac_fixture_frame(samples, corrupt_crc16=True))
    with pytest.raises(ValueError, match="qlp precision"):
        M.decode_flac(_flac_fixture_frame(samples, lpc=(16, 1, [3, -1])))
    with pytest.raises(ValueError, match="reserved FLAC subframe"):
        M.decode_flac(_flac_fixture_frame(samples, stype=0b000010))
    with pytest.raises(ValueError, match="fLaC magic"):
        M.decode_flac(b"RIFFxxxx")


def test_constraint_check_counts_each_violation_class(spark):
    from sanef_election_dashboard_etl_spark.operators.profile import \
        constraint_check

    df = spark.createDataFrame(
        [(1, "A", 5.0), (2, "B", -1.0), (2, None, 150.0), (4, "zz", None)],
        "k long, s string, v double")
    got = {(r["check_name"], r["column_name"]):
           (r["n_violations"], r["passed"])
           for r in constraint_check(df, [
               ("not_null", "s"),
               ("unique", "k"),
               ("range", "v", 0.0, 100.0),
               ("in_set", "s", ("A", "B")),
               ("matches", "s", "^[A-Z]+$"),
               ("non_negative", "v")]).collect()}
    assert got[("not_null", "s")] == (1, False)
    assert got[("unique", "k")] == (1, False)       # k=2 appears twice
    # NULLs never violate value rules (completeness/compliance split)
    assert got[("range", "v")] == (2, False)        # -1.0 and 150.0
    assert got[("in_set", "s")] == (1, False)       # "zz"
    assert got[("matches", "s")] == (1, False)      # "zz" fails [A-Z]+
    assert got[("non_negative", "v")] == (1, False)
    # all-green suite on a clean frame
    clean = constraint_check(df.select("k"), [("not_null", "k")]).collect()
    assert clean[0]["passed"] is True


def test_constraint_check_is_one_scan(spark):
    from sanef_election_dashboard_etl_spark.operators.profile import \
        constraint_check

    li = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    p = constraint_check(li, [("not_null", "o_custkey"),
                              ("range", "o_totalprice", 0.0, 1e9)])
    p.collect()
    final = p._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1


def test_k_anonymity_flags_small_groups_and_null_class(spark):
    from sanef_election_dashboard_etl_spark.operators.profile import \
        k_anonymity

    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (1, "x"), (2, "y"), (None, "y")],
        "a int, b string")
    r = k_anonymity(df, ["a", "b"], k=3).collect()[0]
    assert (r["k"], r["n_rows"], r["n_groups"]) == (3, 5, 3)
    assert r["min_group_size"] == 1
    # (2,y) and (NULL,y) are each their own under-k class
    assert r["n_groups_below_k"] == 2
    assert r["n_rows_below_k"] == 2
    assert r["anonymity_ok"] is False
    ok = k_anonymity(df.filter("a = 1"), ["a", "b"], k=3).collect()[0]
    assert ok["anonymity_ok"] is True
