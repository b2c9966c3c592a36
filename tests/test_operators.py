"""Behavioral tests for pipeline operators: dedup recall/precision on
planted duplicates, ANN recall vs brute force, streaming==batch
equivalence, multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from duckdb_iceberg_spark.operators import dedup as DD
from duckdb_iceberg_spark.operators import multimodal as MM
from duckdb_iceberg_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs_with_dups(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    # plant exact + near duplicates with known ids
    exact = d.filter(F.col("doc_id") < 5).withColumn("doc_id", F.col("doc_id") + 100000)
    near = (
        d.filter((F.col("doc_id") >= 5) & (F.col("doc_id") < 10))
        .withColumn("doc_id", F.col("doc_id") + 200000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra token")))
    )
    return d.unionByName(exact).unionByName(near)


def test_exact_dedup_removes_planted(docs_with_dups):
    out = DD.exact_dedup(docs_with_dups)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    # planted exact copies (id >= 100000, text identical to originals) removed
    assert not any(100000 <= i < 200000 for i in ids)
    # near-duplicates (different text) survive exact dedup
    assert any(i >= 200000 for i in ids)


def test_exact_dedup_fingerprint_col_parity(docs_with_dups):
    """A precomputed fingerprint column (the layout layer's ingest-time
    fp stat) must yield exactly the rows the raw text-kernel path
    yields — both keep_cols shapes."""
    from duckdb_iceberg_spark.functions import text as TX

    pre = docs_with_dups.withColumn("fp", TX.fingerprint(F.col("text")))
    raw = DD.exact_dedup(docs_with_dups, keep_cols=["doc_id", "source"])
    fast = DD.exact_dedup(pre, keep_cols=["doc_id", "source"], fingerprint_col="fp")
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, fast.collect()))


def test_minhash_vocab_rank_branch_matches_inline(docs_with_dups):
    """The broadcast vocab branch (distinct-vocabulary hash +
    broadcast join-back) must produce signatures bit-identical to the
    inline per-instance md5 path — including digest-order ties and
    single-token docs."""
    inline = DD.minhash_signatures(docs_with_dups, num_perm=8)
    # force the vocab/rank branch regardless of corpus size
    ranked = DD.minhash_signatures(docs_with_dups, num_perm=8, min_corpus_bytes=0)
    a = sorted(tuple(r) for r in inline.collect())
    b = sorted(tuple(r) for r in ranked.collect())
    assert a == b


def test_minhash_lsh_finds_planted_neardups(docs_with_dups):
    pairs = DD.minhash_lsh_pairs(docs_with_dups, num_perm=32, bands=8, threshold=0.5)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    for i in range(5, 10):
        assert (i, i + 200000) in got, f"missed planted near-dup {i}"


def test_minhash_lsh_block_split_pair_identity(spark):
    """A deliberately skewed band bucket (every doc shares one
    signature) must produce the SAME candidate pairs whether it is
    expanded as one block or split into bucket_block sub-blocks — and
    the split must bound the per-row slice width (r11 verdict #5:
    one hot band key cannot create an O(k^2) single-row expansion)."""
    n = 503  # prime, so blocks of 64 leave a ragged tail block
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text every doc shares") for i in range(n)],
        "doc_id long, text string",
    )
    blocked = DD.minhash_lsh_pairs(
        docs, num_perm=16, bands=4, threshold=0.5, bucket_block=64
    )
    whole = DD.minhash_lsh_pairs(
        docs, num_perm=16, bands=4, threshold=0.5, bucket_block=1 << 30
    )
    a = sorted(map(tuple, blocked.collect()))
    b = sorted(map(tuple, whole.collect()))
    assert a == b
    assert len(a) == n * (n - 1) // 2  # every i<j pair, scored 1.0
    # memory bound: no generated expansion row may carry a slice wider
    # than bucket_block (the plan's slice(..., 64) literals)
    plan = blocked._jdf.queryExecution().optimizedPlan().toString()
    assert "slice(ks" in plan and ", 64)" in plan


def test_jaccard_pairs_exact_scores(docs_with_dups):
    pairs = DD.jaccard_pairs(docs_with_dups, threshold=0.8)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    for i in range(5):
        assert got.get((i, i + 100000)) == 1.0, "exact copy must have jaccard 1.0"


def test_jaccard_prefix_filter_bounds_stopword_skew(spark):
    """A stop-word shared by every doc must never become a join key:
    with prefix filtering, 100 docs x 10 unique tokens + 1 universal
    token yield ZERO candidates at t=0.9 (the old df-capped index
    would have produced 4950 stop-word pairs), yet a planted exact
    duplicate is still found with jaccard 1.0."""
    rows = [(i, " ".join([f"tok{i}_{j}" for j in range(9)] + ["the"])) for i in range(100)]
    rows.append((500, rows[3][1]))  # exact dup of doc 3
    d = spark.createDataFrame(rows, "doc_id long, text string")

    toks = DD._doc_tokens(d.filter("doc_id < 100"), "doc_id", "text", 1)
    cand = DD._jaccard_candidates(toks, "doc_id", 0.9)
    assert cand.count() == 0, "stop-word-only overlaps must not generate candidates"

    pairs = {(r.id_a, r.id_b): r.jaccard for r in DD.jaccard_pairs(d, threshold=0.9).collect()}
    assert pairs == {(3, 500): 1.0}


def test_simhash_close_for_neardups(spark, docs_with_dups):
    sig = DD.simhash(docs_with_dups)
    rows = {r.doc_id: r.simhash for r in sig.collect()}
    for i in range(5):
        assert rows[i] == rows[i + 100000], "identical docs must have identical simhash"


def test_ann_lsh_recall(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rest = e.filter(F.col("vec_id") > 0)
    exact = [r.vec_id for r in SIM.cosine_topk(rest, q, k=10).collect()]
    approx = [r.vec_id for r in SIM.lsh_topk(rest, q, k=10, n_planes=4, probe_hamming=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"LSH recall too low: {recall} (exact={exact}, approx={approx})"


def test_knn_join_shape(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = SIM.knn_join(e.filter(F.col("vec_id") < 10), e.filter(F.col("vec_id") >= 10), k=3, exact=True)
    rows = out.collect()
    assert len(rows) == 30
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == [1, 2, 3]
        cs = [r.cos for r in sorted(rs, key=lambda r: r.rank)]
        assert cs == sorted(cs, reverse=True)


def test_multimodal_features_deterministic(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    feats = MM.extract_features(MM.synth_media(d))
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r.feature) == 8 for r in rows)
    again = {r.media_id: r.digest for r in MM.extract_features(MM.synth_media(d)).collect()}
    assert all(again[r.media_id] == r.digest for r in rows)


def test_multimodal_undecodable_codecs_are_stubbed():
    """Compressed audio and video still route to the documented hook;
    BMP/PPM/PNG, baseline JPEG, and WAVE-PCM decode natively."""
    with pytest.raises(NotImplementedError, match="librosa"):
        MM._decode_payload("audio", b"ID3\x04mp3-ish", use_real_codecs=True)
    # a structurally-broken WAV (magic only, no chunks) also reaches the hook
    with pytest.raises(NotImplementedError, match="librosa"):
        MM._decode_payload("audio", b"RIFFxxxxWAVE", use_real_codecs=True)


def test_wav_codec_roundtrip_exact():
    """RIFF/WAVE PCM-16 is lossless: encode -> decode is bit-exact for
    mono and stereo, chunk walk tolerates trailing LIST chunks, and
    non-PCM formats raise ValueError."""
    import struct

    import numpy as np

    mono = (np.sin(np.arange(400) / 7.0) * 12000).astype(np.int16)
    out, rate = MM.decode_wav(MM.encode_wav(mono, 8000))
    assert rate == 8000 and out.shape == (400, 1) and (out[:, 0] == mono).all()

    stereo = np.stack([mono, -mono], axis=1)
    out2, rate2 = MM.decode_wav(MM.encode_wav(stereo, 44100))
    assert rate2 == 44100 and out2.shape == (400, 2) and (out2 == stereo).all()

    # extra chunk between fmt and data (odd length -> word-aligned pad)
    payload = MM.encode_wav(mono, 8000)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    patched = payload[:fmt_end] + extra + payload[fmt_end:]
    out3, _ = MM.decode_wav(patched)
    assert (out3[:, 0] == mono).all()

    ieee_float = bytearray(MM.encode_wav(mono, 8000))
    ieee_float[20:22] = struct.pack("<H", 3)  # audio_format = IEEE float
    with pytest.raises(ValueError, match="unsupported WAVE"):
        MM.decode_wav(bytes(ieee_float))


def test_wav_square_wave_feature_closed_form():
    """_audio_feature over the synthetic square wave reproduces the
    closed forms the mm_features_wav oracle computes: RMS == amplitude
    exactly, mean == 0, flips == (n-1) // half_period."""
    for did in (0, 1, 17, 123, 399):
        s, rate = MM._square_wave(did)
        f = MM._audio_feature(s, rate)
        amp = (did % 100 + 1) * 300
        half = did % 20 + 2
        n = 2 * half * (did % 30 + 5)
        assert round(f[0] * 32768) == amp and f[0] * 32768 == amp
        assert round(f[1] * 32768) == amp
        assert round(f[2] * 65536) == n
        assert round(f[3] * 65536) == (n - 1) // half == 2 * (did % 30 + 5) - 1
        assert round(f[4] * 65536) == 16000
        assert round(f[5] * 8) == did % 2 + 1
        assert f[6] == 0.0


def test_g711_codec_spec_parity_and_wav_roundtrip():
    """The G.711 μ-law/A-law codec is bit-exact with the public CCITT
    reference (checked against CPython's audioop where present) and
    round-trips through the RIFF/WAVE container with format tags 7/6."""
    import numpy as np

    from duckdb_iceberg_spark.operators import g711 as G7

    x = np.arange(-32768, 32768, dtype=np.int16)
    for enc, dec in ((G7.ulaw_encode, G7.ulaw_decode), (G7.alaw_encode, G7.alaw_decode)):
        y = dec(enc(x)).astype(np.int64)
        # companded quantization: error bounded by the largest half-step
        assert np.abs(y - x.astype(np.int64)).max() <= 1024
        # codewords are idempotent under re-encode of the decoded value
        assert (enc(dec(enc(x))) == enc(x)).all()
    try:
        import audioop

        assert (G7.ulaw_encode(x) == np.frombuffer(audioop.lin2ulaw(x.tobytes(), 2), np.uint8)).all()
        assert (G7.alaw_encode(x) == np.frombuffer(audioop.lin2alaw(x.tobytes(), 2), np.uint8)).all()
        u = np.arange(256, dtype=np.uint8)
        assert (G7.ulaw_decode(u) == np.frombuffer(audioop.ulaw2lin(u.tobytes(), 2), np.int16)).all()
        assert (G7.alaw_decode(u) == np.frombuffer(audioop.alaw2lin(u.tobytes(), 2), np.int16)).all()
    except ImportError:
        pass
    # container round trip: format tag + fact chunk + ±symmetric decode
    for did in (0, 1, 17, 123, 399):
        s, rate = MM._g711_wave(did)
        for law, tag in (("ulaw", 7), ("alaw", 6)):
            payload = MM.encode_wav_g711(s, rate, law=law)
            out, r2 = MM.decode_wav(payload)
            assert r2 == rate and out.shape == s.shape
            amp_out = np.unique(np.abs(out))
            assert len(amp_out) == 1  # ±A decodes to exactly ±A'
            f = MM._audio_feature(out, r2)
            assert f[6] == 0.0  # exact zero mean
            assert round(f[0] * 32768) == round(f[1] * 32768) == int(amp_out[0])


def test_pcm_depth_variants_roundtrip():
    """u8 / s24 / s32 / f32 WAV sample depths decode back to the exact
    int16 signal (u8 exactly on multiples of 256); float scale is
    value/32768 with round-half-even on decode."""
    import numpy as np

    for did in (0, 1, 17, 123, 399):
        s, rate = MM._square_wave(did)
        for depth in ("s24", "s32", "f32"):
            out, r2 = MM.decode_wav(MM.encode_wav_pcm(s, rate, depth))
            assert r2 == rate and out.shape == s.shape
            assert np.array_equal(out, s), (did, depth)
        s256 = ((s.astype(np.int32) >> 8) << 8).astype(np.int16)
        out, _ = MM.decode_wav(MM.encode_wav_pcm(s256, rate, "u8"))
        assert np.array_equal(out, s256), did
    # 24-bit sign extension: a negative sample's top byte must carry
    x = np.array([-32768, -1, 0, 1, 32767], dtype=np.int16)
    out, _ = MM.decode_wav(MM.encode_wav_pcm(x, 8000, "s24"))
    assert np.array_equal(out[:, 0], x)


def test_ima_adpcm_codec_parity_and_wav_roundtrip():
    """The IMA/DVI ADPCM core is bit-exact with CPython's audioop DVI
    reference (encode bytes AND decode states), the triangle fixtures
    round-trip EXACTLY through the multi-block RIFF/WAVE container
    (format 0x11, per-channel block headers, fact-chunk truncation),
    and generic signals track within the adaptive quantizer's error."""
    import numpy as np

    from duckdb_iceberg_spark.operators.adpcm import _encode_one, _step

    try:
        import audioop

        x = (2000 * np.sin(np.arange(2000) / 7.0) + 500 * np.sin(np.arange(2000) / 3.1)).astype(
            np.int16
        )
        pred, idx, codes = 0, 0, []
        for s in x:
            c, pred, idx = _encode_one(int(s), pred, idx)
            codes.append(c)
        # audioop packs the first code of each byte in the HIGH nibble
        mine = bytes((codes[i] << 4) | codes[i + 1] for i in range(0, len(codes), 2))
        assert mine == audioop.lin2adpcm(x.tobytes(), 2, None)[0]
        dec_ref = np.frombuffer(audioop.adpcm2lin(mine, 2, None)[0], dtype=np.int16)
        pred, idx, dec = 0, 0, []
        for c in codes:
            pred, idx = _step(c, pred, idx)
            dec.append(pred)
        assert np.array_equal(dec_ref, np.array(dec, dtype=np.int16))
    except ImportError:
        pass
    # triangle fixtures: EXACT round trip, mono + stereo, multi-block
    for did in (0, 1, 7, 17, 123, 399):
        s, rate = MM._adpcm_wave(did)
        out, r2 = MM.decode_wav(MM.encode_wav_ima(s, rate))
        assert r2 == rate and out.shape == s.shape
        assert np.array_equal(out, s)
        f = MM._audio_feature(out, r2)
        assert f[6] == 0.0 and round(f[3] * 65536) == 0
        assert round(f[7] * 4294967296.0) == int((s.astype(np.int64) ** 2).sum())
    # generic signal: adaptive tracking within quantizer error
    t = np.arange(3000)
    sig = (6000 * np.sin(t / 50.0)).astype(np.int16)
    out, _ = MM.decode_wav(MM.encode_wav_ima(sig, 16000))
    err = np.abs(out.astype(np.int32) - sig[: out.shape[0], None].astype(np.int32))
    assert err.max() <= 1200  # bounded by the adapted step size
    # fact chunk truncates final-block padding to the true frame count
    assert out.shape[0] == 3000


def test_ms_adpcm_codec_roundtrip():
    """MS ADPCM (format 0x0002): the 16x triangle fixtures round-trip
    EXACTLY (codes ±1 at the pinned idelta floor; two seed samples per
    block header), generic signals track within the adaptive quantizer
    error, and the fact chunk truncates final-block padding."""
    import numpy as np

    for did in (0, 1, 7, 17, 123, 399):
        s, rate = MM._msadpcm_wave(did)
        out, r2 = MM.decode_wav(MM.encode_wav_msadpcm(s, rate))
        assert r2 == rate and out.shape == s.shape
        assert np.array_equal(out, s)
        f = MM._audio_feature(out, r2)
        assert f[6] == 0.0 and round(f[3] * 65536) == 0
        assert round(f[7] * 4294967296.0) == int((s.astype(np.int64) ** 2).sum())
    t = np.arange(3000)
    sig = (6000 * np.sin(t / 50.0)).astype(np.int16)
    out, _ = MM.decode_wav(MM.encode_wav_msadpcm(sig, 16000))
    assert out.shape[0] == 3000
    err = np.abs(out.astype(np.int32) - sig[:, None].astype(np.int32))
    assert err.max() <= 200  # bounded by the adapted quantizer step


def test_msadpcm_custom_predictor_rejected():
    """A block declaring bPredictor >= 7 (custom coefficient table)
    must raise ValueError — the documented unsupported-codec fallback —
    instead of silently decoding with a wrapped coefficient pair
    (r7 ADVICE)."""
    import numpy as np
    import pytest

    s, rate = MM._msadpcm_wave(3)
    payload = bytearray(MM.encode_wav_msadpcm(s, rate))
    # find the data chunk and corrupt the first block's predictor byte
    pos = payload.index(b"data") + 8
    payload[pos] = 7
    with pytest.raises(ValueError, match="predictor"):
        MM.decode_wav(bytes(payload))


def test_msadpcm_fixture_energy_below_float32_cliff():
    """The energy feature slot (Σx²/2^32) is float32-exact only while
    Σx² < 2^24. The fixture wave law cycles with did % 40
    (period did%8, reps did%10, channels did%2), so sweeping 40 dids
    covers every shape any doc_id can produce — a future amplitude/
    reps/period tweak to _msadpcm_wave must fail HERE loudly, not as a
    flaky oracle hash mismatch (r7 ADVICE)."""
    import numpy as np

    for did in range(40):
        s, _rate = MM._msadpcm_wave(did)
        energy = int((s.astype(np.int64) ** 2).sum())
        assert energy < 2**24, f"did={did}: energy {energy} >= 2^24"


def test_avi_mjpeg_container_roundtrip():
    """MJPEG AVI encode -> decode preserves frame count/dims/content
    (within JPEG q95 loss); the RIFF walk tolerates JUNK chunks and
    rejects non-AVI payloads."""
    import struct

    import numpy as np
    import pytest

    from duckdb_iceberg_spark.operators import avi as AV

    frames = MM._gray_gif_frames(17)
    payload = AV.encode_avi_mjpeg(frames, fps=10)
    assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
    dec = AV.decode_avi_mjpeg(payload)
    assert len(dec) == len(frames)
    for a, b in zip(frames, dec):
        assert a.shape == b.shape
        assert abs(a[:, :, 0].astype(float).mean() - b[:, :, 0].astype(float).mean()) < 2.0
    # JUNK chunk between hdrl and movi must be skipped (RIFF grammar)
    junk = b"JUNK" + struct.pack("<I", 6) + b"abcdef"
    # find the movi LIST specifically (first LIST is hdrl)
    pos = 12
    while payload[pos + 8 : pos + 12] != b"movi":
        (ln,) = struct.unpack_from("<I", payload, pos + 4)
        pos += 8 + ln + (ln & 1)
    patched = payload[:pos] + junk + payload[pos:]
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert len(AV.decode_avi_mjpeg(patched)) == len(frames)
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        AV.decode_avi_mjpeg(MM.encode_wav(np.zeros(8, dtype=np.int16), 8000))


def test_gif_codec_roundtrip_and_features():
    """Animated GIF encode -> decode is index-exact with an explicit
    palette; interlaced and transparent frames decode per spec."""
    import struct

    import numpy as np

    from duckdb_iceberg_spark.operators import gif as G

    rng = np.random.RandomState(3)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    frames = [pal[rng.randint(0, 256, (11, 23))] for _ in range(3)]
    out = G.decode_gif(G.encode_gif(frames, 5, palette=pal))
    assert len(out) == 3 and all((a == b).all() for a, b in zip(frames, out))

    # a frame big enough to walk the LZW width growth to 12 bits + CLEAR
    big = pal[rng.randint(0, 256, (70, 80))]
    assert (G.decode_gif(G.encode_gif([big], 5, palette=pal))[0] == big).all()

    # interlace: permute an encoded frame's rows into interlace order,
    # set the flag, and expect the decoder to undo it
    small = pal[rng.randint(0, 256, (10, 4))]
    payload = bytearray(G.encode_gif([small], 5, palette=pal))
    # image descriptor starts after header(13) + palette(768) + netscape(19) + gce(8)
    desc = 13 + 768 + 19 + 8
    assert payload[desc] == 0x2C
    rows = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)) for r in range(start, 10, step)]
    inter = small[rows]
    repacked = G.encode_gif([inter], 5, palette=pal)
    payload2 = bytearray(repacked)
    payload2[desc + 9] |= 0x40  # set interlace flag
    assert (G.decode_gif(bytes(payload2))[0] == small).all()

    # transparency: mark index of frame2's delta as transparent ->
    # previous frame's pixels show through
    f1 = pal[np.zeros((6, 6), dtype=np.uint8)]
    f2 = pal[np.full((6, 6), 1, dtype=np.uint8)]
    p = bytearray(G.encode_gif([f1, f2], 5, palette=pal))
    # second GCE: the first search position past frame1's descriptor
    # (the first GCE sits BEFORE desc; frame1's all-zero LZW data
    # cannot contain the 0x21 0xF9 pair)
    i2 = p.index(b"\x21\xf9", desc)
    p[i2 + 3] |= 0x01  # transparency flag on
    p[i2 + 6] = 1  # transparent index = frame2's only color
    got = G.decode_gif(bytes(p))
    assert (got[1] == f1).all()  # fully transparent frame leaves frame1

    with pytest.raises(ValueError, match="not a GIF"):
        G.decode_gif(b"NOPE")

    # still-image path: decode_image takes frame 0; resize stays GIF
    # and is color-exact (NN sampling keeps the palette closed)
    still = frames[0]
    assert (MM.decode_image(G.encode_gif([still], 5, palette=pal)) == still).all()
    resized = MM._resize_payload(G.encode_gif([still], 5, palette=pal), 7, 5)
    assert resized[:4] == b"GIF8"
    got_r = G.decode_gif(resized)[0]
    assert (got_r == MM.resize_pixels(still, 7, 5)).all()


def test_jpeg_codec_roundtrip_bounded_error():
    """Baseline JPEG encode -> decode: lossy, so the contract is
    shape-exact output with bounded per-channel mean error (<= 2 luma
    units at q90+; DC quantization bounds block means)."""
    import numpy as np

    from duckdb_iceberg_spark.operators.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(7)
    for _ in range(4):
        h, w = rng.randint(5, 40), rng.randint(5, 40)
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(px, quality=90))
        assert out.shape == px.shape
        err = abs(out.astype(float).mean(axis=(0, 1)) - px.astype(float).mean(axis=(0, 1)))
        assert err.max() < 3.0, err
    # ramp fixtures (the mm_features_jpeg oracle inputs): tighter bound
    for did in (0, 17, 133, 399):
        px = MM._ramp_pixels(did)
        out = decode_jpeg(encode_jpeg(px, quality=95))
        err = abs(out.astype(float).mean(axis=(0, 1)) - px.astype(float).mean(axis=(0, 1)))
        assert err.max() < 2.0, (did, err)
    # flat image is exact (all AC coefficients zero, DC divides evenly)
    flat = np.full((16, 24, 3), 128, np.uint8)
    assert (decode_jpeg(encode_jpeg(flat, 90)) == flat).all()


def test_jpeg_grayscale_and_errors():
    import numpy as np

    from duckdb_iceberg_spark.operators.jpeg import decode_jpeg, encode_jpeg

    g = np.random.RandomState(1).randint(0, 256, (17, 23)).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, 90))
    assert out.shape == (17, 23, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all() and (out[:, :, 0] == out[:, :, 2]).all()
    assert abs(out[:, :, 0].astype(float).mean() - g.mean()) < 3.0
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"notjpeg")
    # SOF2 with no scan data is invalid, not silently empty
    prog = b"\xff\xd8" + b"\xff\xc2" + b"\x00\x0b" + b"\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    with pytest.raises(ValueError, match="no SOS"):
        decode_jpeg(prog + b"\xff\xd9")
    # arithmetic-coded frames still rejected
    arith = b"\xff\xd8" + b"\xff\xca" + b"\x00\x0b" + b"\x08\x00\x08\x00\x08\x01\x01\x11\x00"
    with pytest.raises(ValueError, match="arithmetic"):
        decode_jpeg(arith + b"\xff\xd9")


def test_jpeg_progressive_decode_matches_baseline():
    """Progressive (SOF2) decode vs baseline decode of the SAME input:
    encode_jpeg_progressive carries identical quantized coefficients
    through the Annex-G scan script (DC first at Al=1 + DC refine, AC
    spectral bands 1-5/6-63 at Al=1 + AC refines with EOB runs and
    correction bits), so the decoded pixels must be BIT-IDENTICAL —
    any error in EOBRUN bookkeeping, successive-approximation shifts,
    or the non-interleaved block-grid walk breaks equality."""
    import numpy as np

    from duckdb_iceberg_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(7)
    yy, xx = np.meshgrid(np.arange(48), np.arange(64), indexing="ij")
    cases = [
        ((yy + xx) % 256)[:, :, None].repeat(3, 2).astype(np.uint8),  # gradient
        rng.randint(0, 256, (41, 53, 3)).astype(np.uint8),  # dense noise
        np.full((16, 16, 3), 128, np.uint8),  # flat (EOB-run stress)
        rng.randint(0, 256, (3, 5, 3)).astype(np.uint8),  # sub-block dims
        rng.randint(0, 256, (33, 17)).astype(np.uint8),  # grayscale
    ]
    sparse = np.zeros((24, 24, 3), np.uint8)  # long zero runs (ZRL path)
    sparse[5, 7] = [255, 0, 0]
    sparse[20, 3] = [0, 255, 30]
    cases.append(sparse)
    for img in cases:
        for q in (30, 75, 95):
            base = decode_jpeg(encode_jpeg(img, q))
            prog_payload = encode_jpeg_progressive(img, q)
            assert b"\xff\xc2" in prog_payload and b"\xff\xc0" not in prog_payload[:200]
            prog = decode_jpeg(prog_payload)
            assert np.array_equal(base, prog), (img.shape, q)


def test_jpeg_resize_stays_jpeg():
    import numpy as np

    from duckdb_iceberg_spark.operators.jpeg import decode_jpeg, encode_jpeg

    px = MM._ramp_pixels(5)
    payload = encode_jpeg(px, 95)
    resized = MM._resize_payload(payload, 4, 6)
    assert resized[:2] == b"\xff\xd8"
    assert decode_jpeg(resized).shape == (6, 4, 3)


def test_png_codec_roundtrip_all_filters():
    """Our encoder writes filter-0 scanlines; the decoder must also
    reconstruct Sub/Up/Average/Paeth-filtered files (built here by an
    independent reference filterer) byte-exactly."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    assert (MM.decode_image(MM.encode_png(px)) == px).all()

    def enc(ftypes):
        h, w, bpp = px.shape[0], px.shape[1], 3
        raw = bytearray()
        prev = np.zeros(w * bpp, np.int16)
        for y in range(h):
            cur = px[y].reshape(-1).astype(np.int16)
            ft = ftypes[y % len(ftypes)]
            raw.append(ft)
            line = np.empty(w * bpp, np.uint8)
            for x in range(w * bpp):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b
                elif ft == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (int(cur[x]) - pred) & 0xFF
            raw += line.tobytes()
            prev = cur
        ihdr = struct.pack(">IIBBBBB", px.shape[1], px.shape[0], 8, 2, 0, 0, 0)
        return (
            MM._PNG_SIG
            + MM._png_chunk(b"IHDR", ihdr)
            + MM._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + MM._png_chunk(b"IEND", b"")
        )

    for fts in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        assert (MM.decode_png(enc(fts)) == px).all(), fts


def test_png_gray_and_rgba_decode():
    import struct
    import zlib

    import numpy as np

    def build(color, channels, arr):
        h, w = arr.shape[0], arr.shape[1]
        raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        return (
            MM._PNG_SIG
            + MM._png_chunk(b"IHDR", ihdr)
            + MM._png_chunk(b"IDAT", zlib.compress(raw))
            + MM._png_chunk(b"IEND", b"")
        )

    g = np.arange(12, dtype=np.uint8).reshape(3, 4)
    got = MM.decode_png(build(0, 1, g[..., None]))
    assert (got == np.repeat(g[..., None], 3, axis=2)).all()
    rgba = np.arange(3 * 4 * 4, dtype=np.uint8).reshape(3, 4, 4)
    got = MM.decode_png(build(6, 4, rgba))
    assert (got == rgba[..., :3]).all()


def test_png_resize_stays_png():
    import numpy as np

    px = np.zeros((8, 8, 3), dtype=np.uint8)
    px[4:, :, 0] = 200
    out = MM._resize_payload(MM.encode_png(px), 4, 4)
    assert out[:8] == MM._PNG_SIG
    small = MM.decode_image(out)
    assert small.shape == (4, 4, 3)
    assert (small[:2, :, 0] == 0).all() and (small[2:, :, 0] == 200).all()


def test_bmp_codec_roundtrip_and_feature():
    import numpy as np

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(19, 23, 3), dtype=np.uint8)  # odd width -> row padding
    back = MM.decode_image(MM.encode_bmp(px))
    assert back.shape == (19, 23, 3)
    assert (back == px).all()
    feat = MM._decode_payload("image", MM.encode_bmp(px))
    assert feat[0] == pytest.approx(px[..., 0].mean() / 255.0)
    assert feat[3] * 256 == 23 and feat[4] * 256 == 19


def test_ppm_codec_decode():
    import numpy as np

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    payload = b"P6\n# comment\n3 2\n255\n" + px.tobytes()
    back = MM.decode_image(payload)
    assert (back == px).all()


def test_bmp_resize_real_nearest_neighbor():
    import numpy as np

    px = np.zeros((8, 8, 3), dtype=np.uint8)
    px[4:, :, 0] = 200  # bottom half red
    out = MM._resize_payload(MM.encode_bmp(px), 4, 4)
    small = MM.decode_image(out)
    assert small.shape == (4, 4, 3)
    assert (small[:2, :, 0] == 0).all() and (small[2:, :, 0] == 200).all()


def test_streaming_equals_batch(spark, sf_dir):
    from duckdb_iceberg_spark.streaming.events import (
        hourly_rollup,
        read_events_stream,
        run_stream_to_memory,
    )

    from duckdb_iceberg_spark.session import normalize_event_ts

    ev_batch = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    batch = hourly_rollup(ev_batch)
    stream = run_stream_to_memory(hourly_rollup(read_events_stream(spark, sf_dir)), "stream_hourly_test")
    assert batch.exceptAll(stream).count() == 0
    assert stream.exceptAll(batch).count() == 0


def test_streaming_session_windows(spark, sf_dir):
    from duckdb_iceberg_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        session_windows,
    )

    out = run_stream_to_memory(session_windows(read_events_stream(spark, sf_dir)), "stream_sessions_test")
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.session_end >= r.session_start for r in rows)


def test_ivf_ann_recall(spark, sf_dir):
    """IVF-Flat: full-probe equals brute force; limited probe keeps
    recall reasonable while scanning a fraction of the lists."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    base = e.filter(F.col("vec_id") > 0)
    centroids, assigned = SIM.ivf_build(base, n_centroids=8, iters=2)
    assigned = assigned.cache()
    truth = {r.vec_id for r in SIM.cosine_topk(base, q, k=10).collect()}
    full = {r.vec_id for r in SIM.ivf_topk(assigned, centroids, q, k=10, n_probe=8).collect()}
    assert full == truth  # probing every list == exact
    approx = {r.vec_id for r in SIM.ivf_topk(assigned, centroids, q, k=10, n_probe=3).collect()}
    assert len(approx & truth) >= 5  # >=50% recall probing 3/8 lists
    # assignment covers every row exactly once
    assert assigned.count() == base.count()
    assert assigned.where(F.col("centroid_id").isNull()).count() == 0


def test_salted_join_equals_plain(spark, sf_dir):
    from duckdb_iceberg_spark.operators.skew import salted_join, skew_stats

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plain = li.join(p, "l_partkey").groupBy("p_brand").count()
    salted = salted_join(li, p, on="l_partkey", n_salts=8).groupBy("p_brand").count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    # outer join keeps unmatched big-side rows exactly once
    li_extra = li.withColumn("l_partkey", F.col("l_partkey") + 10**9).limit(50).union(li.limit(100))
    outer = salted_join(li_extra, p, on="l_partkey", how="left", n_salts=4)
    assert outer.count() == li_extra.count()
    top = skew_stats(li, "l_partkey", top=3).collect()
    assert len(top) == 3 and all(r.share > 0 for r in top)


# ---------------------------------------------------------------------------
# sequence packing / sampling
# ---------------------------------------------------------------------------


def test_pack_sequences_budget_property(spark, sf_dir):
    """No shard (except by a single oversized doc) exceeds budget +
    max-doc-tokens, shards are contiguous in order, and every doc is
    assigned."""
    from duckdb_iceberg_spark.functions.text import token_count
    from duckdb_iceberg_spark.operators.packing import pack_sequences

    B = 512
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "n_tokens", token_count(F.col("text"))
    )
    packed = pack_sequences(d, "n_tokens", "doc_id", budget=B, strata=["lang"])
    assert packed.count() == d.count()
    per_shard = (
        packed.groupBy("lang", "shard_id")
        .agg(
            F.sum("n_tokens").alias("tok"),
            F.max("n_tokens").alias("maxdoc"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
        .collect()
    )
    for r in per_shard:
        # greedy packing: a shard holds < budget before its last doc starts
        assert r.tok < B + r.maxdoc
    # shards partition each stratum into contiguous doc_id ranges
    by_lang = {}
    for r in per_shard:
        by_lang.setdefault(r.lang, []).append(r)
    for rows in by_lang.values():
        rows.sort(key=lambda r: r.shard_id)
        for a, b in zip(rows, rows[1:]):
            assert a.hi < b.lo


def test_every_kth_exact_rate(spark, sf_dir):
    from duckdb_iceberg_spark.operators.sampling import every_kth

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = every_kth(d, "doc_id", 7, strata=["lang"])
    per = {r.lang: r for r in d.groupBy("lang").count().collect()}
    got = {r.lang: r for r in s.groupBy("lang").count().collect()}
    for lang, r in per.items():
        assert got[lang]["count"] == -(-r["count"] // 7)  # ceil(n/7)
    # deterministic: same call twice -> identical ids
    ids1 = sorted(r.doc_id for r in s.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in every_kth(d, "doc_id", 7, strata=["lang"]).select("doc_id").collect())
    assert ids1 == ids2


def test_connected_components_known_graph(spark):
    from duckdb_iceberg_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11), (20, 21)], "a long, b long"
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_groups_keeps_min_survivor(spark, docs_with_dups):
    from duckdb_iceberg_spark.operators.dedup import dedup_groups, jaccard_pairs

    pairs = jaccard_pairs(docs_with_dups, threshold=0.99).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    out = dedup_groups(docs_with_dups, pairs)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    # planted exact copies (100000+i duplicates of i<5) lose to the original
    assert not any(100000 <= i < 100005 for i in ids)
    assert all(i in ids for i in range(5))


def test_repetition_fractions_planted(spark):
    from duckdb_iceberg_spark.functions import text as TX

    docs = spark.createDataFrame(
        [
            (1, "same line\nsame line\nsame line\nsame line"),  # 3/4 dup lines
            (2, "all lines differ\nsecond line\nthird line"),
            (3, "go go go go go"),  # bigrams: 4x "go go" -> 3/4 dup
            (4, "one"),  # single token: fallback gram, no dups
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            TX.dup_line_fraction(F.col("text")).alias("dl"),
            TX.dup_ngram_fraction(F.col("text"), 2).alias("dn"),
        ).collect()
    }
    assert out[1].dl == pytest.approx(0.75)
    assert out[2].dl == 0.0
    assert out[3].dn == pytest.approx(0.75)
    assert out[4].dl == 0.0 and out[4].dn == 0.0


def test_pii_scrub_planted(spark):
    from duckdb_iceberg_spark.functions import text as TX

    docs = spark.createDataFrame(
        [(1, "mail a.user+x@example.co.uk or call 555-123-4567, host 10.0.0.1, ssn 123-45-6789 ok")],
        "doc_id long, text string",
    )
    txt = docs.select(TX.pii_scrub(F.col("text")).alias("t")).first().t
    assert txt == "mail <EMAIL> or call <PHONE>, host <IP>, ssn <SSN> ok"


def test_contamination_planted(spark):
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # fully contained
            (2, "completely unrelated sentence about spark engines"),
            (3, "prefix words then the quick brown fox appears here"),  # partial
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in DD.ngram_contamination(docs, bench, n=3).collect()}
    assert out[1].contamination == pytest.approx(1.0)
    assert out[2].contamination == 0.0
    assert 0.0 < out[3].contamination < 1.0


def test_int8_quantized_topk_recall(spark, sf_dir):
    """int8 codes keep cosine ranking: recall@10 vs exact must be
    high, and every quantized code must fit int8."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    body = e.filter(F.col("vec_id") > 0)
    exact = {r.vec_id for r in SIM.cosine_topk(body, q, k=10).collect()}
    quant = {r.vec_id for r in SIM.cosine_topk_int8(body, q, k=10).collect()}
    assert len(exact & quant) >= 8

    from duckdb_iceberg_spark.functions import vectors as VEC

    codes = body.select(F.explode(VEC.quantize_int8(F.col("embedding"))["codes"]).alias("c"))
    mn, mx = codes.agg(F.min("c"), F.max("c")).first()
    assert -128 <= mn and mx <= 127


def test_resize_images_plumbing(spark, sf_dir):
    """resize_images: image rows get new dims + content-addressed
    payload, non-image rows pass through byte-identical, schema is
    closed under the op (composes with extract_features)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    media = MM.synth_media(docs)
    out = MM.resize_images(media, 224, 224)
    assert out.schema == MM.MEDIA_SCHEMA  # closed under the canonical media schema
    rows = {r.media_id: r for r in out.collect()}
    orig = {r.media_id: r for r in media.collect()}
    for mid, r in rows.items():
        if r.media_type == "image":
            assert (r.meta.width, r.meta.height) == (224, 224)
            assert bytes(r.payload).startswith(b"RESIZED:224x224:")
        else:
            assert bytes(r.payload) == bytes(orig[mid].payload)
            assert r.meta == orig[mid].meta
    # composes: features over resized media still runs
    assert MM.extract_features(out).count() == media.count()
    with pytest.raises(NotImplementedError):
        MM._resize_payload(b"x", 10, 10, use_real_codecs=True)


def test_hash_split_stable_and_proportional(spark, sf_dir):
    """hash_split: fractions land near targets, and a key's assignment
    is invariant under corpus growth (the anti-leakage property)."""
    from duckdb_iceberg_spark.operators.sampling import hash_split

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = hash_split(d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    n = d.count()
    frac = {r["split"]: r["n"] / n for r in full.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert abs(frac["train"] - 0.8) < 0.05 and abs(frac["val"] - 0.1) < 0.04
    # stability: the same keys keep their split on a subset
    sub = hash_split(d.filter("doc_id % 2 = 0"), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    merged = full.filter("doc_id % 2 = 0").select("doc_id", F.col("split").alias("s1")).join(
        sub.select("doc_id", F.col("split").alias("s2")), "doc_id"
    )
    assert merged.filter("s1 <> s2").count() == 0
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(d, "doc_id", {"train": 0.5})


def test_mixture_sample_deterministic_and_stable(spark, sf_dir):
    """sample_to_mixture: per-domain rates land near target, the kept
    set is identical across calls, and a row's keep/drop is stable
    under corpus growth (subset invariance — the property random()
    sampling lacks)."""
    from duckdb_iceberg_spark.operators.sampling import sample_to_mixture

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"src1": 1.0, "src2": 0.0}
    kept = sample_to_mixture(d, "source", "doc_id", rates, default_rate=0.5)
    by_src = {r.source: r.n for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_src1 = d.filter("source = 'src1'").count()
    assert by_src.get("src1", 0) == n_src1  # rate 1.0 keeps everything
    assert by_src.get("src2", 0) == 0  # rate 0.0 drops everything
    total_other = d.filter("source NOT IN ('src1','src2')").count()
    kept_other = sum(n for s, n in by_src.items() if s not in ("src1", "src2"))
    assert abs(kept_other / total_other - 0.5) < 0.15  # md5 uniformity
    # determinism across invocations
    a = sorted(r.doc_id for r in kept.select("doc_id").collect())
    b = sorted(r.doc_id for r in sample_to_mixture(d, "source", "doc_id", rates, default_rate=0.5).select("doc_id").collect())
    assert a == b
    # growth stability: sampling a subset == subset of the sampled set
    sub = d.filter("doc_id % 3 = 0")
    sub_kept = sorted(
        r.doc_id for r in sample_to_mixture(sub, "source", "doc_id", rates, default_rate=0.5).select("doc_id").collect()
    )
    assert sub_kept == [x for x in a if x % 3 == 0]


def test_approx_sketches_accuracy(spark, sf_dir):
    """HLL++ distinct counts within 5% of exact; approx percentiles
    within the rank tolerance implied by accuracy=10000."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    row = li.agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("ap"),
        F.countDistinct("l_partkey").alias("ep"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("ao"),
        F.countDistinct("l_orderkey").alias("eo"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("amed"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("emed"),
    ).first()
    assert abs(row.ap - row.ep) / row.ep < 0.03
    assert abs(row.ao - row.eo) / row.eo < 0.03
    assert abs(row.amed - row.emed) / row.emed < 0.02


def test_knn_join_dim_inference(spark):
    """dim is inferred from the data (128-dim works with no kwarg);
    a mismatched explicit dim raises instead of silently hashing a
    prefix of every vector."""
    import numpy as np
    import pytest

    from duckdb_iceberg_spark.operators import similarity as SIM

    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 128))
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    left, right = df.filter("vec_id < 5"), df.filter("vec_id >= 5")
    # inferred dim: self-neighbors of near-duplicate vectors are found
    dup = spark.createDataFrame(
        [(100 + i, [float(x) + 1e-6 for x in base[i]]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    out = SIM.knn_join(left, right.union(dup), k=1)
    got = {(r.qid, r.nid) for r in out.collect()}
    assert {(i, 100 + i) for i in range(5)} <= got  # planted near-dups recalled
    with pytest.raises(ValueError, match="does not match"):
        SIM.knn_join(left, right, k=1, dim=64)
    empty = df.filter("vec_id < 0")
    with pytest.raises(ValueError, match="empty inputs"):
        SIM.knn_join(empty, empty, k=1)


def test_knn_join_broadcast_kernel_matches_join_shape(spark):
    """The broadcast-kernel path (r12: query panel collected to the
    driver, right side scored in one mapInArrow pass with in-kernel
    partial top-k) must return row-identical results to the bucket-
    join shape it replaces, in both LSH and exact modes — including
    NULL vectors on either side and a zero vector (NaN cosine -> NULL,
    NULLS LAST ranking)."""
    import random

    random.seed(7)
    dim = 8
    mk = lambda: [random.uniform(-1, 1) for _ in range(dim)]  # noqa: E731
    schema = "vec_id long, embedding array<float>"
    L = spark.createDataFrame(
        [(0, mk()), (1, None), (2, mk()), (3, [0.0] * dim)], schema
    )
    R = spark.createDataFrame(
        [(10 + i, mk()) for i in range(40)] + [(99, None), (98, [0.0] * dim)],
        schema,
    )
    for exact in (False, True):
        new = sorted(map(tuple, SIM.knn_join(L, R, k=3, exact=exact).collect()))
        old = sorted(
            map(
                tuple,
                SIM.knn_join(
                    L, R, k=3, exact=exact, broadcast_queries_max=0
                ).collect(),
            )
        )
        assert new == old, f"exact={exact}"


def test_knn_join_blocked_panel_matches_join_shape(spark):
    """Past broadcast_queries_max (but under collect_queries_max) the
    query panel is split into tiles, one kernel pass per tile (r12
    two-sided blocked extension). Must be row-identical to the
    bucket-join shape in both modes, with the adversarial rows of the
    single-panel test (NULL / zero vectors on both sides) spread
    across tile boundaries, and the tiles must show in the plan as
    MapInArrow subtrees."""
    import random

    random.seed(11)
    dim = 8
    mk = lambda: [random.uniform(-1, 1) for _ in range(dim)]  # noqa: E731
    schema = "vec_id long, embedding array<float>"
    lrows = [(i, mk()) for i in range(25)]
    lrows[3] = (3, None)
    lrows[9] = (9, [0.0] * dim)  # tile 2 (cap 8)
    lrows[17] = (17, None)  # tile 3
    L = spark.createDataFrame(lrows, schema)
    R = spark.createDataFrame(
        [(100 + i, mk()) for i in range(60)] + [(199, None), (198, [0.0] * dim)],
        schema,
    )
    for exact in (False, True):
        tiled = SIM.knn_join(
            L, R, k=3, exact=exact, broadcast_queries_max=8
        )
        new = sorted(map(tuple, tiled.collect()))
        old = sorted(
            map(
                tuple,
                SIM.knn_join(
                    L, R, k=3, exact=exact, broadcast_queries_max=0
                ).collect(),
            )
        )
        assert new == old, f"exact={exact}"
        # the optimized logical plan, free of AQE's final/initial plan
        # rendering: one kernel pass per tile (ceil(25 / 8) = 4 tiles)
        # and no pair-materializing join
        plan = tiled._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("MapInArrow") == 4
        assert "Join" not in plan


def test_salt_autotuning(spark):
    """n_salts=None derives fan-out from the data: a planted hot key
    (half of all rows) tunes to a wide spread and still joins exactly;
    uniform keys tune to 1, skipping salting (no explode cost)."""
    from duckdb_iceberg_spark.operators.skew import salted_join, tune_n_salts

    n = 20_000
    skewed = spark.range(n).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 0 ELSE id END AS k", "id AS v"
    )
    uniform = spark.range(n).selectExpr("id AS k", "id AS v")
    dim = spark.range(n).selectExpr("id AS k", "id * 10 AS w")
    assert tune_n_salts(uniform, "k") == 1
    wide = tune_n_salts(skewed, "k")
    # tune_n_salts fans out to ceil(share x shuffle.partitions), capped
    # at 64; its 1% sample (~200 rows) estimates the planted 50% share
    # to within 3 standard errors
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tol = 3 * math.sqrt(0.5 * 0.5 / (n * 0.01))
    assert wide >= min(64, math.ceil((0.5 - tol) * parts))
    got = salted_join(skewed, dim, on="k").agg(
        F.count("*").alias("n"), F.sum("w").alias("s")
    ).first()
    want = skewed.join(dim, "k").agg(F.count("*").alias("n"), F.sum("w").alias("s")).first()
    assert (got["n"], got["s"]) == (want["n"], want["s"])
    # uniform auto mode takes the plain-join path (no __salt in plan)
    plan = salted_join(uniform, dim, on="k")._jdf.queryExecution().executedPlan().toString()
    assert "__salt" not in plan


def test_cluster_balanced_sample_caps_and_determinism(spark):
    """Every cluster contributes at most n rows; the kept set is a
    pure function of (cluster, key, seed) — stable under repartitioning
    and row-arrival order (the diversity-sampling contract)."""
    from duckdb_iceberg_spark.operators.sampling import cluster_balanced_sample

    df = spark.range(1000).selectExpr("id AS k", "CAST(id % 7 AS STRING) AS c")
    out = cluster_balanced_sample(df, "c", "k", n_per_cluster=20)
    per = {r["c"]: r["n"] for r in out.groupBy("c").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 20 for n in per.values()) and len(per) == 7
    # a cluster smaller than the cap keeps every row
    small = cluster_balanced_sample(df.filter("c = '0' AND k < 50"), "c", "k", 20)
    assert small.count() == 8  # ids 0,7,...,49
    # partitioning-invariant: same kept keys after an adversarial shuffle
    a = sorted(r["k"] for r in out.collect())
    b = sorted(
        r["k"]
        for r in cluster_balanced_sample(df.repartition(13, "k"), "c", "k", 20).collect()
    )
    assert a == b
    # seed changes the kept set (it is a real knob, not decoration)
    c = sorted(r["k"] for r in cluster_balanced_sample(df, "c", "k", 20, seed="other").collect())
    assert a != c


def test_weighted_priority_sample_properties(spark):
    """Sequential Poisson sampling: size-k per stratum, deterministic
    under repartitioning, weight-monotone (heavier rows are kept more
    often across seeds), and weight<=0 rows are never kept."""
    from duckdb_iceberg_spark.operators.sampling import weighted_priority_sample

    df = spark.range(2000).selectExpr(
        "id AS k",
        "CAST(id % 2 AS STRING) AS s",
        # weights 1 vs 100: the heavy half should dominate the sample
        "CASE WHEN id % 4 = 0 THEN 100 ELSE 1 END AS w",
    )
    out = weighted_priority_sample(df, "w", "k", 50, strata=["s"])
    per = {r["s"]: r["n"] for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert per == {"0": 50, "1": 50}
    # heavy rows (id%4==0) all live in stratum '0' (even ids): they are
    # half that stratum with 100x weight, so they should dominate its
    # kept set (deterministic given the fixed seed)
    heavy = out.filter("w = 100").count()
    assert heavy >= 45 and out.filter("s = '1' AND w = 100").count() == 0
    # partitioning-invariant kept set
    a = sorted(r["k"] for r in out.collect())
    b = sorted(
        r["k"]
        for r in weighted_priority_sample(df.repartition(13, "k"), "w", "k", 50, strata=["s"]).collect()
    )
    assert a == b
    # zero/negative weights are excluded even when k exceeds the rest
    z = weighted_priority_sample(
        spark.range(10).selectExpr("id AS k", "CAST(id >= 5 AS INT) AS w"), "w", "k", 10
    )
    assert sorted(r["k"] for r in z.collect()) == [5, 6, 7, 8, 9]


def test_dedup_keep_best_quality_argmax(spark):
    from duckdb_iceberg_spark.operators.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, 99), (9, 5)],
        "doc_id long, n_chars long",
    )
    # component {1,2,3}: 2 and 3 tie on n_chars=50 -> lower id (2) wins
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    out = dedup_keep_best(
        df, pairs, order_by=[F.col("n_chars").desc(), F.col("doc_id").asc()]
    )
    ids = sorted(r.doc_id for r in out.collect())
    # singletons 7 and 9 survive untouched
    assert ids == [2, 7, 9]


def test_line_dedup_strips_boilerplate_preserves_order(spark):
    from duckdb_iceberg_spark.operators.dedup import line_dedup

    footer = "subscribe to our newsletter"
    rows = [
        (1, f"alpha one\n{footer}\nbeta two"),
        (2, f"{footer}\ngamma three"),
        (3, f"delta four\n{footer}"),
        (4, footer),  # every segment is boilerplate -> empty text, row kept
        (5, "unique content only"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.text
        for r in line_dedup(df, max_doc_freq=2, joiner="\n").collect()
    }
    assert out[1] == "alpha one\nbeta two"  # order preserved around the cut
    assert out[2] == "gamma three"
    assert out[3] == "delta four"
    assert out[4] == ""  # all-boilerplate doc kept as empty, not dropped
    assert out[5] == "unique content only"
    # below-threshold segments are never touched
    assert len(out) == 5


def test_line_dedup_paths_identical(spark):
    """The zero-text-shuffle path (broadcast_common=True: hash-counted
    common set, clean/flagged doc split, array-side filter) and the
    exact-string shuffle-reassembly path must produce identical rows —
    including all-boilerplate docs (empty text) and untouched docs."""
    from duckdb_iceberg_spark.operators.dedup import line_dedup

    footer = "subscribe now"
    rows = [(i, f"word{i} a\n{footer}\ntail{i}") for i in range(8)] + [
        (100, footer),
        (101, "untouched doc"),
        (102, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r.doc_id, r.text)
        for r in line_dedup(df, max_doc_freq=2, joiner="\n").collect()
    )
    b = sorted(
        (r.doc_id, r.text)
        for r in line_dedup(
            df, max_doc_freq=2, joiner="\n", broadcast_common=False
        ).collect()
    )
    assert a == b
    assert dict(a)[100] == "" and dict(a)[101] == "untouched doc"


def test_line_dedup_threshold_boundary(spark):
    from duckdb_iceberg_spark.operators.dedup import line_dedup

    # "shared" appears in exactly 2 docs: with max_doc_freq=2 (strictly
    # greater-than semantics) it must SURVIVE
    df = spark.createDataFrame(
        [(1, "shared\nx"), (2, "shared\ny")], "doc_id long, text string"
    )
    out = {r.doc_id: r.text for r in line_dedup(df, max_doc_freq=2, joiner="\n").collect()}
    assert out == {1: "shared\nx", 2: "shared\ny"}


def test_token_window_boilerplate_window_mode_identical(spark):
    """reassembly='window' (r12: single corpus pass, doc-frequency via
    two windows sharing one hash exchange) must be row-identical to the
    two-pass 'shuffle' shape — including repeated chunks within one doc
    (counted once per doc), all-boilerplate docs (kept as ''), and the
    threshold boundary (df == max_doc_freq survives). Plan: one scan,
    no join, and both windows on the single hash exchange."""
    from pyspark.sql import functions as F

    from duckdb_iceberg_spark.operators.dedup import token_window_boilerplate

    footer = "sub scribe now pls click here ok thanks bye"  # one 8-token chunk + tail
    rows = (
        [(i, f"doc{i} unique words here pad pad pad pad {footer}") for i in range(5)]
        + [(100, footer)]                       # all-boilerplate doc
        + [(101, "only original content")]      # untouched short doc
        + [(102, f"{footer} {footer}")]         # repeats the chunk within ONE doc
        + [(103, "edge pair one"), (104, "edge pair one")]  # df==2 boundary
    )
    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id",
        F.split(F.trim("text"), r"\s+").alias("toks"),
        F.split(F.trim(F.lower("text")), r"\s+").alias("ltoks"),
    )
    a = sorted(
        (r.doc_id, r.text)
        for r in token_window_boilerplate(df, window=8, max_doc_freq=2, reassembly="shuffle").collect()
    )
    b = sorted(
        (r.doc_id, r.text)
        for r in token_window_boilerplate(df, window=8, max_doc_freq=2, reassembly="window").collect()
    )
    assert a == b
    d = dict(b)
    assert d[101] == "only original content"
    assert d[103] == "edge pair one" and d[104] == "edge pair one"
    plan = token_window_boilerplate(
        df, window=8, max_doc_freq=2, reassembly="window"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Scan") == 1
    assert plan.count("Window") == 2
    # both windows share ONE exchange (the pinned repartition on __h);
    # the only other exchange is the reassembly aggregate's
    assert plan.count("Exchange") == 2


def test_bigram_lm_paths_identical(spark):
    """The vocab-gated hash-broadcast path (vocab² under the limit:
    bigram/unigram identities as xxhash64 longs, both model tables
    broadcast, no instance shuffle) must score every doc identically
    to the window path (forced via bigram_broadcast_limit=0)."""
    from duckdb_iceberg_spark.operators.lm import bigram_lm_score

    rows = [(i, f"the cat sat on mat {i % 5} the cat ran") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r.doc_id: round(r.lm_score, 9)
        for r in bigram_lm_score(df, bigram_broadcast_limit=4_000_000).collect()
    }
    # default limit=0 is the lazy window path (no job at construction)
    b = {r.doc_id: round(r.lm_score, 9) for r in bigram_lm_score(df).collect()}
    # a gated-but-over-limit model must also match: vocab (11) squared
    # exceeds limit=1, so the window path runs with the reused literal v
    c = {
        r.doc_id: round(r.lm_score, 9)
        for r in bigram_lm_score(df, bigram_broadcast_limit=1).collect()
    }
    assert a == b == c and len(a) == 40


def test_bigram_lm_score_hand_computed(spark):
    import math

    from duckdb_iceberg_spark.operators.lm import bigram_lm_score

    # corpus: "a b" x2 and "a c" -> c(a b)=2, c(a c)=1, c(a)=3, V=3
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    got = {r.doc_id: r.lm_score for r in bigram_lm_score(df, alpha=0.5).collect()}
    p_ab = math.log((2 + 0.5) / (3 + 0.5 * 3))
    p_ac = math.log((1 + 0.5) / (3 + 0.5 * 3))
    assert abs(got[1] - p_ab) < 1e-12 and abs(got[2] - p_ab) < 1e-12
    assert abs(got[3] - p_ac) < 1e-12


def test_bigram_lm_score_penalizes_improbable_order(spark):
    from duckdb_iceberg_spark.operators.lm import bigram_lm_score

    # P(w2|w1) scores SEQUENCES, not vocabulary: a doc using the same
    # known words in an order the corpus never produces must rank
    # below the dominant pattern.
    rows = [(i, "x y z") for i in range(50)] + [(999, "z y x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {r.doc_id: r.lm_score for r in bigram_lm_score(df).collect()}
    assert scores[999] < scores[0]


def test_bigram_lm_score_cross_corpus_oov_floor(spark):
    import math

    from duckdb_iceberg_spark.operators.lm import bigram_counts, bigram_lm_score

    # Model trained on "a b"; scored corpus has one in-model doc, one
    # doc that is ALL OOV garbage, and one mixed doc. OOV bigrams must
    # contribute the smoothing floor a/(c1+aV) — not be dropped (the
    # old inner join scored the garbage doc only on its known bigrams,
    # i.e. not at all, and the mixed doc as if fully in-model).
    ref = spark.createDataFrame([(1, "a b"), (2, "a b")], "doc_id long, text string")
    counts = bigram_counts(ref)
    tgt = spark.createDataFrame(
        [(10, "a b"), (11, "zz qq ww"), (12, "a b zz")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.lm_score
        for r in bigram_lm_score(tgt, alpha=0.5, counts=counts).collect()
    }
    # model: c(a b)=2, c(a)=2, V={a,b} -> V=2
    p_known = math.log((2 + 0.5) / (2 + 0.5 * 2))
    p_oov = math.log(0.5 / (0 + 0.5 * 2))  # fully unseen w1 and bigram
    p_bzz = math.log(0.5 / (2 + 0.5 * 2))  # seen w1='b', unseen bigram
    assert abs(got[10] - p_known) < 1e-12
    assert abs(got[11] - p_oov) < 1e-12
    assert abs(got[12] - (p_known + p_bzz) / 2) < 1e-12
    # both OOV-carrying docs rank below the in-model doc (with this
    # tiny V=2 model the a/(aV) floor is 1/V — unrealistically high —
    # so no ordering claim between the two OOV docs themselves)
    assert got[11] < got[10] and got[12] < got[10]


def test_exact_percentiles_cents_matches_builtin(spark, sf_dir):
    """Domain-table exact percentile (operators/quantiles.py) must
    equal the built-in percentile (= SQL percentile_cont) to float
    noise, globally and per group."""
    from pyspark.sql import functions as F

    from duckdb_iceberg_spark.operators.quantiles import exact_percentiles_cents

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ps = [0.0, 0.25, 0.5, 0.95, 1.0]
    mine = exact_percentiles_cents(li, "l_extendedprice", ps).first()
    ref = li.agg(
        F.percentile("l_extendedprice", F.array(*[F.lit(p) for p in ps]))
    ).first()[0]
    for a, b in zip(mine, ref):
        assert abs(a - b) < 1e-9 * max(1.0, abs(b)), (list(mine), ref)

    grouped = {
        r.l_returnflag: (r.p0, r.p1)
        for r in exact_percentiles_cents(
            li, "l_quantity", [0.25, 0.75], by=["l_returnflag"]
        ).collect()
    }
    ref_g = {
        r.l_returnflag: r.ps
        for r in li.groupBy("l_returnflag")
        .agg(F.percentile("l_quantity", F.array(F.lit(0.25), F.lit(0.75))).alias("ps"))
        .collect()
    }
    assert set(grouped) == set(ref_g)
    for k, (a0, a1) in grouped.items():
        assert abs(a0 - ref_g[k][0]) < 1e-9 and abs(a1 - ref_g[k][1]) < 1e-9


def test_jpeg_decodes_third_party_files():
    """Real JPEGs written by OTHER encoders (libjpeg-family) must
    decode — the Huffman tables, sampling factors, EXIF/APPn segments
    and dimensions all come from the wild, not from our encoder."""
    import os

    import numpy as np

    from duckdb_iceberg_spark.operators.jpeg import decode_jpeg

    candidates = [
        # (path, (h, w))
        ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
         "site-packages/IPython/core/tests/2x2.jpg", (2, 2)),
        ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
         "test/test_email/data/python.jpg", (16, 16)),
        ("/root/.rustup/toolchains/stable-x86_64-unknown-linux-gnu/share/"
         "doc/rust/html/embedded-book/assets/verify.jpeg", (477, 720)),
    ]
    seen = 0
    for path, (h, w) in candidates:
        if not os.path.exists(path):
            continue
        px = decode_jpeg(open(path, "rb").read())
        assert px.shape == (h, w, 3) and px.dtype == np.uint8
        seen += 1
    if seen == 0:
        import pytest

        pytest.skip("no third-party JPEG present in this container")


def test_jpeg_progressive_restart_intervals():
    """Progressive streams WITH restart markers (DRI + RSTn every N
    MCUs, DC predictors reset and EOB runs fenced per interval) decode
    bit-identically to the baseline — the decoder's progressive
    restart machinery against spec-valid streams, including interval
    sizes that split every block apart (ri=1) and exceed the MCU
    count (ri=100)."""
    import numpy as np

    from duckdb_iceberg_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(11)
    for shape in [(48, 64, 3), (17, 9, 3), (8, 8, 3)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        base = decode_jpeg(encode_jpeg(img, 80))
        for ri in (1, 3, 7, 100):
            payload = encode_jpeg_progressive(img, 80, restart_interval=ri)
            assert b"\xff\xdd" in payload  # DRI present
            assert np.array_equal(base, decode_jpeg(payload)), (shape, ri)


def test_jpeg_progressive_wrong_dri_is_valueerror():
    """A progressive stream whose RSTn arrives BEFORE the DRI-declared
    interval (lying/corrupt DRI) must raise ValueError from
    decode_jpeg directly — not leak the private _RestartBoundary type
    (r8 ADVICE)."""
    import numpy as np
    import pytest

    from duckdb_iceberg_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(12)
    img = rng.randint(0, 256, (48, 64, 3)).astype(np.uint8)
    payload = bytearray(encode_jpeg_progressive(img, 80, restart_interval=3))
    # DRI segment: FF DD 00 04 <hi> <lo> — rewrite interval 3 -> 1000
    # so every RSTn in the entropy stream now lands "too early"
    i = payload.index(b"\xff\xdd")
    assert payload[i + 4 : i + 6] == (3).to_bytes(2, "big")
    payload[i + 4 : i + 6] = (1000).to_bytes(2, "big")
    with pytest.raises(ValueError):
        decode_jpeg(bytes(payload))
