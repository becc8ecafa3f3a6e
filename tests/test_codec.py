"""Codec round-trip property tests (FIXTURES F7): decode(encode(x)) == x
exactly — int64 for delta-of-delta, IEEE-754 bit patterns for Gorilla
XOR — plus the Spark applyInPandas chunk-encode path."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from biomed_timeseries_preprocessing_spark.functions.codec import (
    decode_chunk_row,
    decode_dod,
    decode_xor,
    encode_chunks,
    encode_dod,
    encode_xor,
    xor_ts_prediction,
)


@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=300)
)
@settings(max_examples=60, deadline=None)
def test_dod_roundtrip(values):
    arr = np.array(values, dtype=np.int64)
    assert np.array_equal(decode_dod(encode_dod(arr)), arr)


@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64), min_size=0, max_size=300
    )
)
@settings(max_examples=60, deadline=None)
def test_xor_roundtrip_bit_exact(values):
    arr = np.array(values, dtype=np.float64)
    out = decode_xor(encode_xor(arr))
    assert np.array_equal(out.view(np.uint64), arr.view(np.uint64))


def test_compression_beats_raw_on_quantized_series():
    rng = np.random.default_rng(42)
    deltas = np.round(np.exp(1.2 + rng.normal(size=4999)) * 1000).astype(np.int64)
    ts = np.concatenate(([1_760_000_000_000], 1_760_000_000_000 + np.cumsum(deltas)))
    assert len(encode_dod(ts)) < 0.6 * 8 * len(ts)
    lat = deltas.astype(np.float64)
    assert len(encode_xor(lat)) < 0.6 * 8 * len(lat)


def test_spark_chunk_encode_roundtrip(spark, small_transcripts):
    from biomed_timeseries_preprocessing_spark.operators.derive import with_derived

    derived = with_derived(small_transcripts)
    chunks = encode_chunks(derived, chunk_seconds=3600)
    rows = chunks.collect()
    assert sum(r["n"] for r in rows) == derived.count()
    # round-trip one non-trivial chunk exactly
    row = max(rows, key=lambda r: r["n"])
    dec = decode_chunk_row(row)
    pdf = (
        derived.filter(
            (derived.conv_id == row["conv_id"])
        )
        .toPandas()
        .sort_values(["ts", "turn_idx"], kind="mergesort")
    )
    start = row["chunk_start"]
    sel = pdf[
        (pdf["ts"].astype("datetime64[us]").astype("int64") // 3_600_000_000 * 3_600_000_000)
        == int(np.datetime64(start, "us").astype("int64"))
    ]
    assert np.array_equal(
        dec["ts_us"], sel["ts"].astype("datetime64[us]").astype("int64").to_numpy()
    )
    want_lat = sel["latency_ms"].astype("float64").to_numpy()
    assert np.array_equal(
        dec["latency_ms"].view(np.uint64), want_lat.view(np.uint64)
    )
    assert np.array_equal(dec["token_count"], sel["token_count"].astype("int64").to_numpy())
    # compression accounting is populated
    assert all(r["raw_bytes"] > 0 for r in rows)


def block_lists(block):
    """Lists of non-empty blocks, in random order, that always hold
    blocks of lengths 1, 2 and 3 (the short-header cases) and up to
    eight more of up to 40 values; ``block(lo, hi)`` draws one block of
    lo..hi values."""
    short = st.tuples(*[block(n, n) for n in (1, 2, 3)])
    more = st.lists(block(1, 40), max_size=8)
    return st.tuples(short, more).map(lambda t: [*t[0], *t[1]]).flatmap(st.permutations)


def of(elements):
    return lambda lo, hi: st.lists(elements, min_size=lo, max_size=hi)


INT64S = st.integers(min_value=-(2**62), max_value=2**62)
# NaN, ±inf and -0.0 drawn often, and repeats (XOR '0' codes) with them
FLOATS = st.one_of(
    st.sampled_from([np.nan, np.inf, -np.inf, -0.0, 0.0, 1.5]),
    st.floats(allow_nan=True, allow_infinity=True, width=64),
)


def ts_block(lo, hi):
    """A block of µs timestamps: a base (0, a 2025 instant, or near
    ±2^62) plus a walk of whole-ms steps, some backwards (ts not
    monotone in turn order), and on some rows a sub-ms remainder."""
    base = st.sampled_from([0, 1_760_000_000_000_000, 2**62 - 10**12, -(2**62)])
    sub_ms = st.one_of(st.just(0), st.just(0), st.just(0), st.integers(1, 999))
    step = st.tuples(st.integers(-200, 3_000), sub_ms)
    return st.tuples(base, st.lists(step, min_size=lo, max_size=hi)).map(
        lambda t: [
            t[0] + 1000 * int(ms) + us
            for ms, (_, us) in zip(np.cumsum([ms for ms, _ in t[1]], dtype=np.int64), t[1])
        ]
    )


@st.composite
def with_latency(draw, ts_blocks):
    """(ts, latency) per block: each latency is the one ``with_derived``
    gives it, ``(ts_i - ts_{i-1}) // 1000``, or disagrees (any float
    bit pattern, NaN payloads and ±inf included)."""
    out = []
    for ts in draw(ts_blocks):
        agree = [np.nan][: len(ts)] + [float((b - a) // 1000) for a, b in zip(ts, ts[1:])]
        out.append((ts, [draw(st.one_of(st.just(p), FLOATS)) for p in agree]))
    return out


def batch(blocks, dtype):
    blocks = [np.array(b, dtype=dtype) for b in blocks]
    starts = np.cumsum([0] + [len(b) for b in blocks[:-1]])
    return blocks, np.concatenate(blocks), starts


@given(
    block_lists(of(INT64S)),
    block_lists(of(FLOATS)),
    with_latency(block_lists(ts_block)),
)
@settings(max_examples=60, deadline=None)
def test_batch_encoders_byte_identical_to_single(int_blocks, float_blocks, ts_lat_blocks):
    """codec_batch blobs equal codec.py per-block blobs exactly, and
    decode back to their block: int64 and float64 blocks, and ts blocks
    (both delta-of-delta layouts) with their latencies XORed against the
    ts prediction."""
    from biomed_timeseries_preprocessing_spark.functions.codec_batch import (
        encode_dod_batch,
        encode_xor_batch,
    )

    ts_blocks = [ts for ts, _ in ts_lat_blocks]
    for int_like in (int_blocks, ts_blocks):
        blocks, values, starts = batch(int_like, np.int64)
        for i, (got, block) in enumerate(zip(encode_dod_batch(values, starts), blocks)):
            assert got == encode_dod(block), f"dod block {i} differs"
            assert np.array_equal(decode_dod(got), block)

    blocks, values, starts = batch(float_blocks, np.float64)
    for i, (got, block) in enumerate(zip(encode_xor_batch(values, starts), blocks)):
        assert got == encode_xor(block), f"xor block {i} differs"
        assert np.array_equal(decode_xor(got).view(np.uint64), block.view(np.uint64))

    ts_blocks, ts, starts = batch(ts_blocks, np.int64)
    lat_blocks, lat, _ = batch([lat for _, lat in ts_lat_blocks], np.float64)
    blobs = encode_xor_batch(xor_ts_prediction(lat, ts, starts), starts)
    for i, (got, t, want) in enumerate(zip(blobs, ts_blocks, lat_blocks)):
        assert got == encode_xor(xor_ts_prediction(want, t)), f"latency block {i} differs"
        back = xor_ts_prediction(decode_xor(got), decode_dod(encode_dod(t)))
        assert np.array_equal(back.view(np.uint64), want.view(np.uint64))


def test_latency_agreeing_with_ts_costs_at_most_two_bits_per_point():
    """A block whose latencies are all the ts prediction (the head's is
    NULL) codes latency in <= 2 bits/pt; plain XOR of consecutive
    latencies needs ~26."""
    from biomed_timeseries_preprocessing_spark.functions.codec_batch import (
        decode_xor_batch,
        encode_xor_batch,
    )

    rng = np.random.default_rng(3)
    n = 1000
    sub_ms = np.where(rng.random(n) < 0.03, rng.integers(1, 1000, n), 0)
    ts = 1_760_000_000_000_000 + np.cumsum(rng.integers(1, 90_000, n) * 1000 + sub_ms)
    lat = np.concatenate(([np.nan], np.diff(ts) // 1000)).astype(np.float64)
    (blob,) = encode_xor_batch(xor_ts_prediction(lat, ts, [0]), [0])
    assert 8 * len(blob) / n <= 2
    back = xor_ts_prediction(decode_xor_batch([blob])[0], ts, [0])
    assert np.array_equal(back.view(np.uint64), lat.view(np.uint64))


def test_old_layout_blob_raises():
    """The layout before the header tag stored n with a zero top byte and
    otherwise the same bytes; every decoder refuses such a blob instead
    of misreading it."""
    from biomed_timeseries_preprocessing_spark.functions.codec_batch import (
        decode_dod_batch,
        decode_xor_batch,
    )

    ts = np.array([1_000, 2_000, 3_500, 4_000], dtype=np.int64)
    lat = np.array([np.nan, 1.0, 1.0, 0.0])
    for decode, blob in (
        (decode_dod, encode_dod(ts)),
        (decode_xor, encode_xor(lat)),
        (lambda b: decode_dod_batch([b]), encode_dod(ts)),
        (lambda b: decode_xor_batch([b]), encode_xor(lat)),
    ):
        decode(blob)
        with pytest.raises(ValueError, match="older layout"):
            decode(b"\x00" + blob[1:])


def test_table_level_roundtrip(spark, small_transcripts):
    """encode_chunks → decode_chunks_df reproduces every turn exactly."""
    import pandas as pd

    from biomed_timeseries_preprocessing_spark.functions.codec import decode_chunks_df
    from biomed_timeseries_preprocessing_spark.operators.derive import with_derived

    derived = with_derived(small_transcripts)
    back = (
        decode_chunks_df(encode_chunks(derived, 3600))
        .toPandas()
        .sort_values(["conv_id", "ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    want = (
        derived.select("conv_id", "ts", "latency_ms", "token_count")
        .toPandas()
        .sort_values(["conv_id", "ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(back) == len(want)
    assert (back["conv_id"] == want["conv_id"]).all()
    assert (back["ts"].astype("datetime64[us]") == want["ts"].astype("datetime64[us]")).all()
    lat_b = back["latency_ms"].to_numpy()
    lat_w = want["latency_ms"].astype("float64").to_numpy()
    assert np.array_equal(lat_b.view("uint64"), lat_w.view("uint64"))
    assert (back["token_count"].to_numpy() == want["token_count"].to_numpy()).all()


@given(st.lists(st.one_of(of(INT64S)(0, 40), ts_block(0, 40)), min_size=1, max_size=12))
@settings(max_examples=40, deadline=None)
def test_batch_decoder_dod_matches_per_block(blocks):
    """Vectorized-across-blocks decoder == per-block decoder == input,
    over int64 and ts blocks (both delta-of-delta layouts) and empty
    blocks."""
    from biomed_timeseries_preprocessing_spark.functions.codec_batch import decode_dod_batch

    arrs = [np.array(b, dtype=np.int64) for b in blocks]
    blobs = [encode_dod(a) for a in arrs]
    vals, starts = decode_dod_batch(blobs)
    assert len(vals) == sum(len(a) for a in arrs)
    for i, a in enumerate(arrs):
        s = starts[i]
        assert np.array_equal(vals[s : s + len(a)], a)


@given(with_latency(st.lists(ts_block(0, 40), min_size=1, max_size=12)))
@settings(max_examples=40, deadline=None)
def test_batch_decoder_xor_matches_per_block(blocks):
    """The batch XOR decoder returns each block's float64 bit patterns,
    both for plain XOR blobs and for latency blobs, which decode to the
    latencies after ``xor_ts_prediction`` with the block's ts."""
    from biomed_timeseries_preprocessing_spark.functions.codec_batch import decode_xor_batch

    pairs = [(np.array(t, dtype=np.int64), np.array(x, dtype=np.float64)) for t, x in blocks]
    ts = np.concatenate([t for t, _ in pairs])
    for predicted in (False, True):
        blobs = [encode_xor(xor_ts_prediction(x, t) if predicted else x) for t, x in pairs]
        vals, starts = decode_xor_batch(blobs)
        if predicted:
            vals = xor_ts_prediction(vals, ts, starts)
        for i, (_, x) in enumerate(pairs):
            s = starts[i]
            assert np.array_equal(vals[s : s + len(x)].view(np.uint64), x.view(np.uint64))
