"""Codec correctness: decode(encode(x)) must be bit-identical for every
codec and every supported arrow type — the north-rule contract.

Property-based over int64/float64/string/binary/timestamp/bool columns
with nulls, NaNs, -0.0, empty strings, non-ASCII bytes; plus explicit
checks that each codec actually compresses its favourable shape.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyrle_spark import codecs
from pyrle_spark.codecs import Encoded, decode_array, encode_array, encode_with
from pyrle_spark.codecs.fsst import decode_buffer, encode_buffer, train

MAX_EXAMPLES = int(__import__("os").environ.get("PYRLE_MAX_EXAMPLES", "60"))


def roundtrip(enc: Encoded, arr: pa.Array, via_row: bool = True):
    if via_row:
        enc = Encoded.from_row(enc.to_row())
    out = decode_array(enc)
    assert out.type == arr.type, (out.type, arr.type)
    assert len(out) == len(arr)
    if pa.types.is_floating(arr.type):
        # bit-identity, not just value equality: compare raw bits incl. NaN
        a = np.asarray(arr.fill_null(0.0)).view(np.uint64)
        b = np.asarray(out.fill_null(0.0)).view(np.uint64)
        assert np.array_equal(a, b)
        assert arr.is_null().equals(out.is_null())
    else:
        assert out.equals(arr), f"{arr[:10]} != {out[:10]}"


# ------------------------------------------------------------------ strategies

ints = st.lists(st.integers(-(2**40), 2**40), max_size=200)
runs_ints = st.lists(
    st.tuples(st.integers(1, 20), st.integers(-100, 100)), max_size=30
)
floats = st.lists(
    st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=100
)
texts = st.lists(st.text(max_size=40), max_size=60)
blobs = st.lists(st.binary(max_size=40), max_size=60)


def _with_nulls(values, draw_nulls):
    return [None if n else v for v, n in zip(values, draw_nulls)]


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(ints, st.data())
def test_int_codecs_roundtrip(xs, data):
    nulls = data.draw(st.lists(st.booleans(), min_size=len(xs), max_size=len(xs)))
    arr = pa.array(_with_nulls(xs, nulls), type=pa.int64())
    for codec in ["rle", "for", "delta", "dict", "raw"]:
        roundtrip(encode_with(codec, arr), arr)
    roundtrip(encode_array(arr), arr)


def test_fixed_dict_selected_for_low_cardinality_runless():
    """Repeated-but-runless values over a huge range (user-id style):
    neither rle (no runs) nor FoR (full range) helps — the selector must
    pick dict, and the float path must dictionary the BIT PATTERNS so
    distinct NaN payloads survive."""
    rng = np.random.default_rng(11)
    ids = rng.choice(rng.integers(0, 2**62, 300), 20000)
    ei = encode_array(pa.array(ids))
    assert ei.codec == "dict", ei.codec
    assert ei.nbytes < len(ids) * 2
    roundtrip(ei, pa.array(ids))
    fv = rng.choice(rng.normal(0, 1, 200), 20000)
    ef = encode_array(pa.array(fv))
    assert ef.codec == "dict", ef.codec
    roundtrip(ef, pa.array(fv))
    bits = np.array(
        [0x7FF8DEADBEEF0001, 0x7FF8000000000000, 0x8000000000000000] * 100,
        dtype=np.uint64,
    )
    arr = pa.array(bits.view(np.float64))
    out = decode_array(Encoded.from_row(encode_with("dict", arr).to_row()))
    assert np.array_equal(np.asarray(out).view(np.uint64), bits)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(runs_ints)
def test_runny_ints_pick_rle_and_compress(pairs):
    xs = [v for r, v in pairs for _ in range(r)]
    arr = pa.array(xs, type=pa.int64())
    enc = encode_with("rle", arr)
    roundtrip(enc, arr)
    if len(xs) > 50:
        assert enc.nbytes < len(xs) * 8


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(st.lists(st.integers(0, 2**63 - 1), max_size=200), st.data())
def test_bitpack_roundtrip(xs, data):
    nulls = data.draw(st.lists(st.booleans(), min_size=len(xs), max_size=len(xs)))
    arr = pa.array(_with_nulls(xs, nulls), type=pa.int64())
    roundtrip(encode_with("bitpack", arr), arr)
    roundtrip(encode_with("bitpack", arr, zstd=True), arr)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="aé𝄞zÿ\n ", min_size=1, max_size=64))
def test_run_profile_kernel_matches_naive(s):
    """``exact_find_runs`` over a string's codepoints (utf-32
    reinterpret) vs a character-loop oracle, over adversarial unicode:
    multibyte chars, repeats, singletons."""
    from pyrle_spark.codecs.rle_codec import exact_find_runs

    cps = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    runs, vals = exact_find_runs(cps)
    naive = []
    for ch in s:
        if naive and naive[-1][0] == ch:
            naive[-1][1] += 1
        else:
            naive.append([ch, 1])
    assert len(runs) == len(naive)
    assert [int(r) for r in runs] == [n for _, n in naive]
    assert [chr(v) for v in vals] == [c for c, _ in naive]
    assert int(runs.max()) == max(n for _, n in naive)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(floats)
def test_float_codecs_roundtrip(xs):
    arr = pa.array(xs, type=pa.float64())
    for codec in ["rle", "bss", "alp", "raw"]:
        roundtrip(encode_with(codec, arr), arr)
    roundtrip(encode_array(arr), arr)


def test_bss_roundtrip_bit_exact():
    """Byte-stream split is a pure byte permutation: every IEEE bit
    pattern (NaN payloads, -0.0, subnormals) survives both widths."""
    bits = np.array(
        [0x7FF8DEADBEEF0001, 0x8000000000000000, 0x0000000000000001, 0],
        dtype=np.uint64,
    )
    arr64 = pa.array(bits.view(np.float64), type=pa.float64())
    out = decode_array(Encoded.from_row(encode_with("bss", arr64).to_row()))
    assert np.array_equal(np.asarray(out).view(np.uint64), bits)
    rng = np.random.default_rng(3)
    f32 = rng.normal(0, 0.2, 4096).astype(np.float32)
    arr32 = pa.array(f32, type=pa.float32())
    for zstd in (False, True):
        roundtrip(encode_with("bss", arr32, zstd=zstd), arr32)


def test_bss_selected_for_structured_floats():
    """Low-variance float32 (embedding-like) has repetitive sign/exponent
    planes — the auto trial must pick bss+zstd over raw(+zstd) there and
    stay bit-identical; nullable input keeps its validity bitmap."""
    rng = np.random.default_rng(7)
    vals = rng.normal(0, 0.15, 65536).astype(np.float32)
    arr = pa.array(vals)
    enc = encode_array(arr)
    assert enc.codec == "bss+zstd", enc.codec
    assert enc.nbytes < len(vals) * 4
    roundtrip(enc, arr)
    mask = rng.random(len(vals)) < 0.05
    nullable = pa.array(np.where(mask, 0, vals), mask=mask)
    roundtrip(encode_array(nullable), nullable)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(
    st.lists(
        st.one_of(
            # decimals in disguise (ALP's favourable shape) ...
            st.decimals(
                min_value=-10**6, max_value=10**6, places=4, allow_nan=False
            ).map(float),
            # ... salted with arbitrary bit patterns (the exception path)
            st.floats(allow_nan=True, allow_infinity=True, width=64),
        ),
        max_size=150,
    )
)
def test_alp_roundtrip_mixed(xs):
    arr = pa.array(xs, type=pa.float64())
    roundtrip(encode_with("alp", arr), arr)


def test_alp_selected_for_decimal_doubles():
    """Price-like doubles (2 decimal places) are decimals in disguise:
    the auto trial must pick alp (digits fit ~24 bits vs 64 raw) with
    zero exceptions, and stay bit-identical; -0.0 must come back as an
    exception, not as +0.0."""
    from pyrle_spark.codecs.alp import AlpCodec

    rng = np.random.default_rng(11)
    vals = np.round(rng.uniform(0, 1e5, 65536), 2)
    arr = pa.array(vals, type=pa.float64())
    enc = encode_array(arr)
    assert enc.codec.startswith("alp"), enc.codec
    assert enc.nbytes < len(vals) * 4  # better than 2x on 2-decimal data
    roundtrip(enc, arr)
    meta, _ = AlpCodec.encode(vals)
    assert meta["n_exc"] == 0, meta
    neg_zero = np.array([1.25, -0.0, 0.0, 7.5])
    meta, bufs = AlpCodec.encode(neg_zero)
    out = AlpCodec.decode(meta, bufs)
    assert np.array_equal(out.view(np.uint64), neg_zero.view(np.uint64))


def test_alp_rejected_for_random_floats():
    """Uniform-random mantissas have no decimal structure: the raw-size
    guard / trial must never ship an inflated alp chunk."""
    rng = np.random.default_rng(13)
    vals = rng.standard_normal(32768)
    arr = pa.array(vals, type=pa.float64())
    enc = encode_array(arr)
    assert not enc.codec.startswith("alp"), enc.codec
    roundtrip(enc, arr)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(texts, st.data())
def test_string_codecs_roundtrip(xs, data):
    nulls = data.draw(st.lists(st.booleans(), min_size=len(xs), max_size=len(xs)))
    arr = pa.array(_with_nulls(xs, nulls), type=pa.string())
    for codec in ["dict", "fsst", "raw"]:
        roundtrip(encode_with(codec, arr), arr)
    roundtrip(encode_array(arr), arr)


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(blobs)
def test_binary_codecs_roundtrip(xs):
    arr = pa.array(xs, type=pa.binary())
    for codec in ["dict", "fsst", "raw"]:
        roundtrip(encode_with(codec, arr), arr)
    roundtrip(encode_array(arr), arr)


def test_timestamp_roundtrip():
    arr = pa.array(
        [1_700_000_000_000_000 + i * 1000 for i in range(100)] + [None],
        type=pa.timestamp("us"),
    )
    for codec in ["delta", "for", "rle", "raw"]:
        roundtrip(encode_with(codec, arr), arr)
    auto = encode_array(arr)
    assert auto.codec == "delta"  # sorted timestamps → delta wins
    roundtrip(auto, arr)


def test_bool_roundtrip():
    arr = pa.array([True, True, False, None, False] * 10, type=pa.bool_())
    roundtrip(encode_with("raw", arr), arr)
    roundtrip(encode_array(arr), arr)


# ------------------------------------------------------------------ fsst internals


@settings(max_examples=MAX_EXAMPLES, deadline=None)
@given(st.lists(st.binary(max_size=60), min_size=1, max_size=40))
def test_fsst_buffer_roundtrip(items):
    data = np.frombuffer(b"".join(items), dtype=np.uint8)
    offsets = np.zeros(len(items) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in items], out=offsets[1:])
    table = train(data, offsets)
    enc, enc_off = encode_buffer(data, offsets, table)
    dec, dec_off = decode_buffer(enc, enc_off, table)
    assert np.array_equal(dec, data)
    assert np.array_equal(dec_off, offsets)


def test_fsst_compresses_english_text():
    text = (
        b"the quick brown fox jumps over the lazy dog and then the dog "
        b"chases the fox around the barn again and again "
    ) * 50
    items = [text[i : i + 200] for i in range(0, len(text), 200)]
    arr = pa.array(items, type=pa.binary())
    enc = encode_with("fsst", arr)
    raw = encode_with("raw", arr)
    assert enc.nbytes < 0.75 * raw.nbytes, (enc.nbytes, raw.nbytes)
    roundtrip(enc, arr)


def test_dict_compresses_low_cardinality():
    arr = pa.array((["en"] * 50 + ["de"] * 30 + ["fr"] * 20) * 10)
    enc = encode_array(arr)
    assert enc.codec.startswith("dict")
    raw = encode_with("raw", arr)
    assert enc.nbytes < 0.25 * raw.nbytes
    roundtrip(enc, arr)


def test_auto_never_worse_than_raw():
    rng = np.random.default_rng(0)
    noise = rng.integers(0, 2**63 - 1, 500, dtype=np.int64)
    arr = pa.array(noise, type=pa.int64())
    enc = encode_array(arr)
    assert enc.nbytes <= 500 * 8 + 512  # raw + metadata epsilon


def test_negative_zero_and_nan_bits_preserved():
    xs = np.array([0.0, -0.0, np.nan, np.nan, 1.0], dtype=np.float64)
    # make a distinct NaN payload
    xs_bits = xs.view(np.uint64).copy()
    xs_bits[3] = 0x7FF8DEADBEEF0000
    xs = xs_bits.view(np.float64)
    arr = pa.array(xs, type=pa.float64())
    for codec in ["rle", "raw"]:
        enc = encode_with(codec, arr)
        out = decode_array(Encoded.from_row(enc.to_row()))
        assert np.array_equal(np.asarray(out).view(np.uint64), xs_bits)


def test_nullable_zstd_roundtrip_regression():
    """The validity bitmap is attached after zstd wrapping; unwrap must
    pass it through instead of trying to decompress it (hypothesis-found
    falsifying example: nullable strings with raw+zstd)."""
    import pyarrow as pa

    from pyrle_spark.codecs import decode_array, encode_with

    a = pa.array(["0000\x80𐀀𐀀𐀀", None, "0000\x80𐀀𐀀𐀀"], type=pa.large_string())
    e = encode_with("raw", a, zstd=True)
    assert e.codec == "raw+zstd" and e.meta.get("has_validity")
    assert decode_array(e).equals(a)


def test_for_codec_uint64_full_range():
    """Frame-of-reference must be wrap-exact: a uint64 column whose min
    exceeds int64 max corrupted silently under int64 delta arithmetic."""
    import numpy as np
    import pyarrow as pa

    from pyrle_spark.codecs import decode_array, encode_with
    from pyrle_spark.codecs.bitpack import ForCodec

    vals = (2**63 + np.arange(100, dtype=np.uint64)) * np.uint64(1)
    m, b = ForCodec.encode(vals)
    assert (ForCodec.decode(m, b) == vals).all()
    for dt in (np.int64, np.uint64, np.int32, np.uint32):
        info = np.iinfo(dt)
        a = np.array([info.min, info.max, info.min, info.max], dtype=dt)
        m2, b2 = ForCodec.encode(a)
        back = ForCodec.decode(m2, b2)
        assert (back == a).all() and back.dtype == a.dtype
    arr = pa.array(vals.tolist(), type=pa.uint64())
    assert decode_array(encode_with("for", arr)).equals(arr)


def test_alp_trialed_without_zstd(monkeypatch):
    """ALP needs no entropy coder: with the zstd package absent the
    auto trial must still consider (and here pick) plain alp."""
    monkeypatch.setattr(codecs, "HAVE_ZSTD", False)
    vals = np.round(np.random.default_rng(17).uniform(0, 1e4, 16384), 2)
    arr = pa.array(vals, type=pa.float64())
    enc = encode_array(arr)
    assert enc.codec == "alp", enc.codec
    roundtrip(enc, arr)


def test_fsst_eq_probe_canonical():
    """Greedy FSST encode is canonical per string: probing a block with
    a literal encoded via the block's own symbol table must match
    exactly the rows equal to it — including empty strings, multi-byte
    UTF-8, and prefix near-misses (the claim _fsst_eq_mask rests on)."""
    from pyrle_spark.codecs.fsst import FsstCodec
    from pyrle_spark.plans.compressed import _fsst_eq_mask

    rng = np.random.default_rng(7)
    words = ["the", "cat", "sat", "http://", "www", "com", "zebra", "", "Ωmega"]
    strs = ["".join(rng.choice(words, rng.integers(0, 6))) for _ in range(500)]
    strs += ["", "the", "thecat"]
    bts = [s.encode("utf-8") for s in strs]
    data = np.frombuffer(b"".join(bts), dtype=np.uint8)
    offs = np.zeros(len(bts) + 1, dtype=np.int64)
    offs[1:] = np.cumsum([len(b) for b in bts])
    meta, bufs = FsstCodec.encode(offs, data)
    for probe in ["", "the", "thecat", "zebra", "absent", "Ωmega", "thecatsat"]:
        mask = _fsst_eq_mask(meta, bufs, probe, len(strs))
        naive = np.array([s == probe for s in strs])
        assert (mask == naive).all(), probe


def test_kmv_sketch_and_merge_estimate():
    """Per-block KMV sketches merge to an NDV estimate within ~25% of
    truth for high cardinality, and are EXACT below k (union < k means
    no block truncated)."""
    import numpy as np

    from pyrle_spark.codecs.selector import (
        _kmv_b64,
        column_stats,
        kmv_merge_estimate,
    )

    rng = np.random.default_rng(7)
    # 20 blocks x 5000 rows drawn from 40k distinct values
    universe = rng.integers(0, 1 << 40, size=40_000)
    blocks = [rng.choice(universe, size=5000) for _ in range(20)]
    sketches = [_kmv_b64(b) for b in blocks]
    truth = len(np.unique(np.concatenate(blocks)))
    est = kmv_merge_estimate(sketches)
    assert abs(est - truth) / truth < 0.5, (est, truth)  # k=16: ~27% stderr

    # low cardinality: exact
    lo = [rng.choice([3, 5, 9], size=1000) for _ in range(4)]
    assert kmv_merge_estimate([_kmv_b64(b) for b in lo]) == 3

    # set-equality with the run-start values path used by column_stats
    arr = np.repeat(np.arange(7, dtype=np.int64), 200)  # n=1400 >= gate
    st = column_stats("fixed", arr)
    assert kmv_merge_estimate([st["kmv"]]) == 7
    # below the row gate no sketch is attached (raw+eps contract)
    assert "kmv" not in column_stats("fixed", arr[:500])

    # floats sketch on bit patterns (NaN and -0.0 are distinct patterns)
    f = np.array([0.0, -0.0, np.nan, np.nan, 1.5] * 10)
    assert kmv_merge_estimate([_kmv_b64(f)]) == 4
