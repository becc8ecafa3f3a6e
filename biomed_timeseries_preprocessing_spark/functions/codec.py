"""Time-series codecs: delta-of-delta integers + Gorilla XOR floats.

Public-knowledge basis: the Facebook Gorilla paper (Pelkonen et al.,
VLDB 2015) — delta-of-delta prefix codes for timestamps and XOR
compression for IEEE-754 doubles — with the two predictors that Camel
(SIGMOD 2024) and TerseTS (EDBT 2026) get their ratios from: integer
values coded at their quantum, and a prediction XORed out in place of
the previous value. The reference repo compresses nothing (it ships raw
float64 npz/hdf5/zarr blobs, ``Save_Agent.py:369-493``); these codecs
are the capability the north_rule adds on top.

Blob layout. One blob per stream and (conv_id, chunk) block; every
integer is big-endian. The first word is ``tag << 56 | n``: the tag
names the layout and n is the block's point count.

- ``dod`` (tag 0xD0): ``[word][v0:int64][d0:int64][codes]``; a block of
  n <= 2 omits the absent fields and has no codes. From the third point
  on, each point's zigzag(delta-of-delta) is one ``_DOD_BUCKETS`` code.
- ``dod`` on ms (tag 0xD3): the same layout over ``w = v // 1000``, and
  after the codes an exception list of the points whose ``v % 1000`` is
  not 0: their count (a ``_DOD_BUCKETS`` code), then per exception its
  position in the block (``bit_length(n - 1)`` bits) and its remainder
  (10 bits). ``encode_dod`` codes a block both ways and keeps the
  shorter blob (the plain one on a tie): a µs timestamp on a whole
  millisecond costs ~7 bits less, token counts keep the plain layout.
- ``xor`` (tag 0xA0): ``[word][u0:uint64][codes]``; per point after the
  first, '0' when its bit pattern equals the previous one, else '11' +
  6 bits of leading zeros + 6 bits of (length - 1) + the meaningful
  bits of the XOR.

The latency stream is the ``xor`` blob of ``xor_ts_prediction(latency,
ts)``: each latency's bit pattern XOR that of ``(ts_i - ts_{i-1}) //
1000`` in the block's (ts, turn_idx) order, which is the value
``with_derived`` gave it wherever ts rises with turn_idx; the block head
has no prediction and stays raw. A matching prediction leaves a 0, and a
run of them costs Gorilla's 1-bit '0' code per point. XOR with any
prediction is a bijection, so every float64 still round-trips bit for
bit (NaN payloads, ±inf, -0.0, latencies that disagree with ts); a wrong
prediction costs bits, never exactness. Decoding latency needs the
decoded ts of the same block. A blob whose first byte is not one of the
tags (the untagged layout that came before) raises ``ValueError``
instead of being misread.

Design for Spark:
- **Encode** runs per (conv_id, chunk) group inside ``mapInPandas`` —
  fully **vectorized numpy bit-packing** (bucket-at-a-time scatter into a
  bit array; no per-element Python loop), per input_hint's "no per-row
  Python" mandate. Output is one row per chunk with ``binary`` blobs.
- **Decode** is inherently sequential (prefix codes). The per-block
  decoders here are the reference for the batch decoders in
  ``codec_batch`` (round-trip property tests, FIXTURES F7).
- Exactness: round-trip is bit-exact — timestamps as int64 µs, floats by
  reinterpreting the IEEE-754 bit pattern (NaN patterns preserved).

Deviation from the paper, documented: the XOR encoder always emits the
'11' control (explicit leading-zero/length header) instead of reusing the
previous block window — this removes the sequential dependency so the
encoder vectorizes; decode is unambiguous and sizes are within ~6% of the
reference scheme on our data.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

# ---------------------------------------------------------------- bit pack

def _pack_bits(codes: np.ndarray, lengths: np.ndarray) -> bytes:
    """Scatter (code, bitlen) pairs into a packed big-endian bitstream.

    Vectorized: loops only over the distinct bit-lengths (≤ a handful),
    never over elements.
    """
    codes = codes.astype(np.uint64)
    lengths = lengths.astype(np.int64)
    total = int(lengths.sum())
    stream = np.zeros(total, dtype=np.uint8)
    offsets = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    for L in np.unique(lengths):
        Li = int(L)
        if Li == 0:
            continue
        sel = lengths == L
        shifts = np.arange(Li - 1, -1, -1, dtype=np.uint64)
        bits = (codes[sel, None] >> shifts[None, :]) & np.uint64(1)
        pos = offsets[sel, None] + np.arange(Li)[None, :]
        stream[pos.ravel()] = bits.ravel().astype(np.uint8)
    return np.packbits(stream).tobytes()


def _slots(*pairs: tuple[np.ndarray, np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Interleave per-element (codes, bits) slots into packing order:
    element 0's slots, then element 1's, and so on."""
    return (
        np.column_stack([np.asarray(c, dtype=np.uint64) for c, _ in pairs]).ravel(),
        np.column_stack([np.asarray(b, dtype=np.int64) for _, b in pairs]).ravel(),
    )


class _BitReader:
    def __init__(self, buf: bytes):
        self.bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        out = 0
        for b in self.bits[self.pos : self.pos + n]:
            out = (out << 1) | int(b)
        self.pos += n
        return out


def _zigzag(v: np.ndarray) -> np.ndarray:
    return ((v << 1) ^ (v >> 63)).astype(np.uint64)


def _unzigzag(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def _wrap64(v: int) -> int:
    """Wrap a Python int to int64 two's-complement — mirrors numpy's
    wrapping arithmetic on the encode side, so extreme inputs round-trip."""
    return (v + (1 << 63)) % (1 << 64) - (1 << 63)


# ------------------------------------------------------------ blob header

_N_MASK = (1 << 56) - 1
_TAG_DOD, _TAG_DOD_MS, _TAG_XOR = 0xD0, 0xD3, 0xA0
_MS = 1000  # quantum of the ms layout, in µs
_REM_BITS = 10  # an exception's remainder, 1..999


def _header(tag: int, n: int) -> bytes:
    return struct.pack(">Q", (tag << 56) | n)


def _layout_error(tag: int, tags: tuple[int, ...]) -> ValueError:
    return ValueError(
        f"codec blob has layout tag {tag:#04x}, not one of "
        f"{', '.join(f'{t:#04x}' for t in tags)}: a blob of an older layout "
        "must be re-encoded from its source"
    )


def _read_header(buf: bytes, tags: tuple[int, ...]) -> tuple[int, int]:
    """(tag, n) of a blob; raises on a tag outside ``tags``."""
    word = struct.unpack(">Q", buf[:8])[0]
    if word >> 56 not in tags:
        raise _layout_error(word >> 56, tags)
    return word >> 56, word & _N_MASK


# ------------------------------------------------- delta-of-delta (int64)

# Gorilla timestamp buckets (unsigned value -> prefix code)
_DOD_BUCKETS = (  # (max value exclusive, prefix, prefix_len, payload_bits)
    (1, 0b0, 1, 0),          # 0                   -> '0'
    (1 << 7, 0b10, 2, 7),    # small               -> '10'  + 7
    (1 << 9, 0b110, 3, 9),   # -> '110' + 9
    (1 << 12, 0b1110, 4, 12),  # -> '1110'+ 12
    (1 << 32, 0b11110, 5, 32),  # -> '11110' + 32
    (1 << 63, 0b11111, 5, 64),  # -> '11111' + 64 (the full value)
)
_BUCKET_UPPER = np.array([b[0] for b in _DOD_BUCKETS[:-1]], dtype=np.uint64)
_PREFIX = np.array([b[1] for b in _DOD_BUCKETS], dtype=np.uint64)
_PREFIX_BITS = np.array([b[2] for b in _DOD_BUCKETS], dtype=np.int64)
_PAYLOAD_BITS = np.array([b[3] for b in _DOD_BUCKETS], dtype=np.int64)
_PAYLOAD_MASK = np.array([(1 << b[3]) - 1 for b in _DOD_BUCKETS], dtype=np.uint64)


def _bucket_codes(u: np.ndarray) -> tuple[np.ndarray, ...]:
    """``_DOD_BUCKETS`` code of each uint64: (prefix code, prefix bits,
    payload code, payload bits) — two slots, so no slot exceeds 64 bits."""
    u = np.asarray(u, dtype=np.uint64)
    k = np.searchsorted(_BUCKET_UPPER, u, side="right")  # bucket index
    return _PREFIX[k], _PREFIX_BITS[k], u & _PAYLOAD_MASK[k], _PAYLOAD_BITS[k]


def _bucket_slots(u: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    hc, hb, pc, pb = _bucket_codes(u)
    return _slots((hc, hb), (pc, pb))


def _read_bucket(r: _BitReader) -> int:
    """One ``_DOD_BUCKETS`` code: its leading ones (at most 5) pick the
    bucket, whose payload follows."""
    ones = 0
    while ones < 5 and r.read(1):
        ones += 1
    return r.read(int(_PAYLOAD_BITS[ones]))


def _dod_blob(tag: int, w: np.ndarray, tail: list[tuple[np.ndarray, np.ndarray]]) -> bytes:
    """Header, first value, first delta and the prefix-coded zigzag
    delta-of-deltas of ``w``, then the (codes, bits) slots of ``tail``."""
    n = len(w)
    out = _header(tag, n)
    deltas = np.diff(w)  # wraps like the decoder's _wrap64
    if n >= 1:
        out += struct.pack(">q", int(w[0]))
    if n >= 2:
        out += struct.pack(">q", int(deltas[0]))
    slots = [_bucket_slots(_zigzag(deltas[1:] - deltas[:-1]))] + tail
    return out + _pack_bits(
        np.concatenate([c for c, _ in slots]), np.concatenate([b for _, b in slots])
    )


def encode_dod(values: np.ndarray) -> bytes:
    """Delta-of-delta encode an int64 block: the plain layout, or the ms
    layout with its exception list when that blob is shorter (module
    docstring)."""
    v = np.asarray(values, dtype=np.int64)
    n = len(v)
    plain = _dod_blob(_TAG_DOD, v, [])
    w, rem = np.divmod(v, _MS)
    at = np.flatnonzero(rem)
    width = max(n - 1, 0).bit_length()
    exceptions = [
        _bucket_slots(np.array([len(at)])),
        _slots((at, np.full(len(at), width)), (rem[at], np.full(len(at), _REM_BITS))),
    ]
    ms = _dod_blob(_TAG_DOD_MS, w, exceptions)
    return ms if len(ms) < len(plain) else plain


def decode_dod(buf: bytes) -> np.ndarray:
    tag, n = _read_header(buf, (_TAG_DOD, _TAG_DOD_MS))
    out = np.empty(n, dtype=np.int64)
    if n >= 1:
        out[0] = struct.unpack(">q", buf[8:16])[0]
    if n >= 2:
        delta = struct.unpack(">q", buf[16:24])[0]
        out[1] = _wrap64(int(out[0]) + delta)
    r = _BitReader(buf[8 + 8 * min(n, 2) :])
    for i in range(2, n):
        delta = _wrap64(delta + _unzigzag(_read_bucket(r)))
        out[i] = _wrap64(int(out[i - 1]) + delta)
    if tag == _TAG_DOD_MS:
        out = np.array([_wrap64(int(x) * _MS) for x in out], dtype=np.int64)
        width = max(n - 1, 0).bit_length()
        for _ in range(_read_bucket(r)):
            at = r.read(width)
            out[at] = _wrap64(int(out[at]) + r.read(_REM_BITS))
    return out


# ------------------------------------------------------ Gorilla XOR (f64)

def encode_xor(values: np.ndarray) -> bytes:
    """Gorilla-style XOR encode float64s (NaN bit patterns preserved).
    Control '0' = identical to previous; '11' + 6b leading + 6b nbits +
    meaningful bits otherwise (see module docstring for the deviation)."""
    f = np.asarray(values, dtype=np.float64)
    u = f.view(np.uint64)
    n = len(u)
    head = _header(_TAG_XOR, n)
    if n == 0:
        return head
    head += struct.pack(">Q", int(u[0]))
    if n == 1:
        return head
    x = u[1:] ^ u[:-1]
    zero = x == 0
    # leading zero count (vectorized): 63 - floor(log2(x)) for x>0
    lz = np.zeros(len(x), dtype=np.int64)
    nz = ~zero
    if nz.any():
        # bit_length via float log2 is unsafe near 2^53; use string-free method
        bl = np.zeros(len(x), dtype=np.int64)
        tmp = x.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            m = tmp >= (np.uint64(1) << np.uint64(shift))
            bl[m] += shift
            tmp[m] >>= np.uint64(shift)
        bl[nz] += 1  # bit_length
        lz[nz] = 64 - bl[nz]
    tz = np.zeros(len(x), dtype=np.int64)
    if nz.any():
        low = x.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            m = nz & ((low & ((np.uint64(1) << np.uint64(shift)) - np.uint64(1))) == 0)
            tz[m] += shift
            low[m] >>= np.uint64(shift)
    lz = np.minimum(lz, 63)
    nbits = np.where(nz, 64 - lz - tz, 0)
    # two slots per element: header ('0' | '11'+lz(6)+(nbits-1)(6)) then
    # the meaningful bits — keeps every packed code ≤ 64 bits.
    m = len(x)
    codes = np.zeros((m, 2), dtype=np.uint64)
    lengths = np.zeros((m, 2), dtype=np.int64)
    lengths[:, 0] = 1  # '0' control for identical values
    if nz.any():
        mean = x[nz] >> tz[nz].astype(np.uint64)  # top bits already zero
        hdr = (
            (np.uint64(0b11) << np.uint64(12))
            | (lz[nz].astype(np.uint64) << np.uint64(6))
            | (nbits[nz] - 1).astype(np.uint64)
        )
        codes[nz, 0] = hdr
        lengths[nz, 0] = 2 + 6 + 6
        codes[nz, 1] = mean
        lengths[nz, 1] = nbits[nz]
    return head + _pack_bits(codes.ravel(), lengths.ravel())


def decode_xor(buf: bytes) -> np.ndarray:
    _, n = _read_header(buf, (_TAG_XOR,))
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    out[0] = struct.unpack(">Q", buf[8:16])[0]
    r = _BitReader(buf[16:])
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = out[i - 1]
        else:
            r.read(1)  # second control bit (always 1 in this variant)
            lz = r.read(6)
            nb = r.read(6) + 1
            mean = r.read(nb)
            tz = 64 - lz - nb
            out[i] = out[i - 1] ^ (np.uint64(mean) << np.uint64(tz))
    return out.view(np.float64)


def xor_ts_prediction(values: np.ndarray, ts_us: np.ndarray, starts=(0,)) -> np.ndarray:
    """Each float64's bit pattern XOR that of its prediction
    ``(ts_i - ts_{i-1}) // 1000`` (wrapping int64), over the blocks that
    begin at ``starts``; a block head has no prediction and passes
    unchanged. Its own inverse: the encoder applies it to latencies
    before ``encode_xor``, the decoder to ``decode_xor``'s output."""
    u = np.asarray(values, dtype=np.float64).view(np.uint64)
    ts = np.asarray(ts_us, dtype=np.int64)
    gap = np.zeros(len(ts), dtype=np.int64)
    gap[1:] = ts[1:] - ts[:-1]
    pred = (gap // _MS).astype(np.float64).view(np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    pred[starts[starts < len(pred)]] = 0
    return (u ^ pred).view(np.float64)


# ------------------------------------------------------- Spark operators

CHUNK_SCHEMA = (
    "conv_id string, chunk_start timestamp, n long, "
    "ts_blob binary, latency_blob binary, token_blob binary, "
    "ts_bytes long, latency_bytes long, token_bytes long, raw_bytes long"
)


def encode_chunks(derived, chunk_seconds: int = 3600):
    """Compress derived turns into per-(conv, chunk) binary blobs.

    Physical shape: repartition by conv_id, sort within partitions by
    (conv_id, ts, turn_idx), then ONE ``mapInPandas`` pass that groups
    in-batch and carries the trailing incomplete group across Arrow batch
    boundaries. This amortizes the per-group Python/Arrow dispatch that
    makes per-group ``applyInPandas`` ~40 ms/group on tiny chunks (40x
    measured speedup at sf0.1), and is the same one-writer-per-partition
    shape the reference's per-file save loop has (``Save_Agent.py:90-136``)
    — with real compression instead of raw npz.
    """
    from ..operators.rollup import bucket_start

    with_chunk = derived.selectExpr(
        "conv_id",
        f"{bucket_start('ts', chunk_seconds)} AS chunk_start",
        "ts",
        "turn_idx",
        "latency_ms",
        "token_count",
    )

    # partition by (conv_id, chunk_start) — encoding only needs per-chunk
    # locality, so a hot conversation's history spreads across tasks
    # instead of landing in one; order within each chunk is restored by
    # the sort, so blobs are byte-identical to conv_id-only partitioning
    part = with_chunk.repartition("conv_id", "chunk_start").sortWithinPartitions(
        "conv_id", "chunk_start", "ts", "turn_idx"
    )

    def encode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        """Vectorized across ALL blocks in the batch (codec_batch)."""
        from .codec_batch import encode_dod_batch, encode_xor_batch

        keys = (pdf["conv_id"].astype(str) + "\x1f" + pdf["chunk_start"].astype(str)).to_numpy()
        change = np.flatnonzero(keys[1:] != keys[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.concatenate((change, [len(pdf)]))
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64").to_numpy()
        lat = pdf["latency_ms"].astype("float64").to_numpy()
        tok = pdf["token_count"].astype("int64").to_numpy()
        ts_blobs = encode_dod_batch(ts_us, starts)
        lat_blobs = encode_xor_batch(xor_ts_prediction(lat, ts_us, starts), starts)
        tok_blobs = encode_dod_batch(tok, starts)
        n = ends - starts
        return pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].to_numpy()[starts],
                "chunk_start": pdf["chunk_start"].to_numpy()[starts],
                "n": n,
                "ts_blob": ts_blobs,
                "latency_blob": lat_blobs,
                "token_blob": tok_blobs,
                "ts_bytes": [len(x) for x in ts_blobs],
                "latency_bytes": [len(x) for x in lat_blobs],
                "token_bytes": [len(x) for x in tok_blobs],
                "raw_bytes": n * 24,
            }
        )

    def encode_partition(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            keys = pdf["conv_id"].astype(str) + "\x1f" + pdf["chunk_start"].astype(str)
            tail_mask = (keys == keys.iloc[-1]).to_numpy()
            carry = pdf[tail_mask]
            head = pdf[~tail_mask]
            if len(head):
                yield encode_batch(head)
        if carry is not None and len(carry):
            yield encode_batch(carry)

    return part.mapInPandas(encode_partition, CHUNK_SCHEMA)


def decode_chunk_row(row) -> dict[str, np.ndarray]:
    """Round-trip helper for tests: blobs → arrays (exact)."""
    ts_us = decode_dod(bytes(row["ts_blob"]))
    return {
        "ts_us": ts_us,
        "latency_ms": xor_ts_prediction(decode_xor(bytes(row["latency_blob"])), ts_us),
        "token_count": decode_dod(bytes(row["token_blob"])),
    }


DECODED_TURNS_SCHEMA = "conv_id string, ts timestamp, latency_ms double, token_count long"


def decode_chunks_df(chunks):
    """Distributed decompression scan: blobs → per-turn rows.

    Decode is **vectorized across all blocks in the Arrow batch**
    (``codec_batch.decode_*_batch``: step k of every block decodes
    simultaneously as numpy array ops — the read-path mirror of the batch
    encoder; no per-row Python). ts decodes first, because latency is
    stored as its XOR against the ts prediction (``xor_ts_prediction``).
    latency comes back as float64 with NaN for the conversation-head NULL
    (bit-preserved by the XOR codec).
    """

    def decode_partition(batches):
        from .codec_batch import decode_dod_batch, decode_xor_batch

        for pdf in batches:
            if not len(pdf):
                continue
            ts_us, starts = decode_dod_batch(list(pdf["ts_blob"]))
            resid, _ = decode_xor_batch(list(pdf["latency_blob"]))
            lat = xor_ts_prediction(resid, ts_us, starts)
            tok, _ = decode_dod_batch(list(pdf["token_blob"]))
            n = np.diff(np.append(starts, len(ts_us)))
            yield pd.DataFrame(
                {
                    "conv_id": np.repeat(pdf["conv_id"].to_numpy(), n),
                    "ts": pd.to_datetime(ts_us, unit="us"),
                    "latency_ms": lat,
                    "token_count": tok,
                }
            )

    return chunks.select("conv_id", "ts_blob", "latency_blob", "token_blob").mapInPandas(
        decode_partition, DECODED_TURNS_SCHEMA
    )
