"""Codec round-trip property tests (FIXTURES F7): decode(encode(x)) == x
exactly — int64 for delta-of-delta, IEEE-754 bit patterns for Gorilla
XOR — plus the Spark applyInPandas chunk-encode path."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from biomed_timeseries_preprocessing_spark.functions.codec import (
    decode_chunk_row,
    decode_dod,
    decode_xor,
    encode_chunks,
    encode_dod,
    encode_xor,
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


def block_lists(elements):
    """Lists of non-empty blocks, in random order, that always hold
    blocks of lengths 1, 2 and 3 (the short-header cases) and up to
    eight more of up to 40 values."""
    short = st.tuples(*[st.lists(elements, min_size=n, max_size=n) for n in (1, 2, 3)])
    more = st.lists(st.lists(elements, min_size=1, max_size=40), max_size=8)
    return st.tuples(short, more).map(lambda t: [*t[0], *t[1]]).flatmap(st.permutations)


INT64S = st.integers(min_value=-(2**62), max_value=2**62)
# NaN, ±inf and -0.0 drawn often, and repeats (XOR '0' codes) with them
FLOATS = st.one_of(
    st.sampled_from([np.nan, np.inf, -np.inf, -0.0, 0.0, 1.5]),
    st.floats(allow_nan=True, allow_infinity=True, width=64),
)


@given(block_lists(INT64S), block_lists(FLOATS))
@settings(max_examples=60, deadline=None)
def test_batch_encoders_byte_identical_to_single(int_blocks, float_blocks):
    """codec_batch blobs equal codec.py per-block blobs exactly, and
    decode back to their block."""
    from biomed_timeseries_preprocessing_spark.functions.codec_batch import (
        encode_dod_batch,
        encode_xor_batch,
    )

    def batch(blocks, dtype):
        blocks = [np.array(b, dtype=dtype) for b in blocks]
        starts = np.cumsum([0] + [len(b) for b in blocks[:-1]])
        return blocks, np.concatenate(blocks), starts

    blocks, values, starts = batch(int_blocks, np.int64)
    for i, (got, block) in enumerate(zip(encode_dod_batch(values, starts), blocks)):
        assert got == encode_dod(block), f"dod block {i} differs"
        assert np.array_equal(decode_dod(got), block)

    blocks, values, starts = batch(float_blocks, np.float64)
    for i, (got, block) in enumerate(zip(encode_xor_batch(values, starts), blocks)):
        assert got == encode_xor(block), f"xor block {i} differs"
        assert np.array_equal(decode_xor(got).view(np.uint64), block.view(np.uint64))


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


@given(
    st.lists(
        st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=40),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=40, deadline=None)
def test_batch_decoder_dod_matches_per_block(blocks):
    """Vectorized-across-blocks decoder == per-block decoder == input."""
    from biomed_timeseries_preprocessing_spark.functions.codec_batch import decode_dod_batch

    arrs = [np.array(b, dtype=np.int64) for b in blocks]
    blobs = [encode_dod(a) for a in arrs]
    vals, starts = decode_dod_batch(blobs)
    assert len(vals) == sum(len(a) for a in arrs)
    for i, a in enumerate(arrs):
        s = starts[i]
        assert np.array_equal(vals[s : s + len(a)], a)


@given(
    st.lists(
        st.lists(
            st.floats(allow_nan=True, allow_infinity=True, width=64), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=40, deadline=None)
def test_batch_decoder_xor_matches_per_block(blocks):
    from biomed_timeseries_preprocessing_spark.functions.codec_batch import decode_xor_batch

    arrs = [np.array(b, dtype=np.float64) for b in blocks]
    blobs = [encode_xor(a) for a in arrs]
    vals, starts = decode_xor_batch(blobs)
    for i, a in enumerate(arrs):
        s = starts[i]
        assert np.array_equal(
            vals[s : s + len(a)].view(np.uint64), a.view(np.uint64)
        )
