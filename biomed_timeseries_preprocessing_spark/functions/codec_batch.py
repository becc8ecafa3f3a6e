"""Batch codecs: encode THOUSANDS of (conv, chunk) blocks in one
vectorized numpy pass.

The per-block encoders in codec.py are vectorized *within* a block, but
transcript chunks are small (tens of turns), so per-block numpy overhead
dominates at scale (~12 µs/row measured). These batch variants compute
bucket codes, bit lengths, per-block bit offsets, and a single global
bit-scatter for the whole Arrow batch — per-row cost is O(1) numpy work
regardless of block count. Output blobs are **byte-identical** to
codec.py's per-block output (property-tested), and the batch decoders
read exactly what decode_dod/decode_xor read.

The blob layouts (plain and ms delta-of-delta, Gorilla XOR) are defined
in codec.py's module docstring. Like ``encode_dod``, ``encode_dod_batch``
sizes every block under both delta-of-delta layouts and keeps the
shorter one, so it needs no option to tell ts from token counts.
"""

from __future__ import annotations

import numpy as np

from .codec import (
    _MS,
    _N_MASK,
    _PAYLOAD_BITS,
    _PREFIX_BITS,
    _REM_BITS,
    _TAG_DOD,
    _TAG_DOD_MS,
    _TAG_XOR,
    _bucket_codes,
    _layout_error,
)

_U1 = np.uint64(1)


def _block_ids(starts: np.ndarray, total: int) -> np.ndarray:
    ids = np.zeros(total, dtype=np.int64)
    np.add.at(ids, starts[1:], 1)
    return np.cumsum(ids)


def _bit_length(x: np.ndarray) -> np.ndarray:
    """``int.bit_length`` of each uint64 (0 for 0), by halving shifts —
    float log2 is unsafe near 2^53."""
    x = np.asarray(x, dtype=np.uint64)
    bl = np.zeros(len(x), dtype=np.int64)
    tmp = x.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = tmp >= (_U1 << np.uint64(shift))
        bl[m] += shift
        tmp[m] >>= np.uint64(shift)
    return bl + (x != 0)


def _block_prefix(ibid: np.ndarray, bits: np.ndarray, nb: int) -> tuple[np.ndarray, np.ndarray]:
    """For items sorted by block id ``ibid``: each block's total of
    ``bits``, and each item's offset from its block's first item."""
    cs = np.concatenate(([0], np.cumsum(bits)))
    blocks = np.arange(nb)
    base = cs[np.searchsorted(ibid, blocks)]
    total = cs[np.searchsorted(ibid, blocks, side="right")] - base
    return total, cs[:-1] - base[ibid]


def _scatter_bits(
    total_bytes: int,
    headers: np.ndarray,  # (rows, ) uint64 header-slot codes
    header_bits: np.ndarray,
    payloads: np.ndarray,
    payload_bits: np.ndarray,
    bit_offsets: np.ndarray,  # absolute bit position of each row's header slot
) -> np.ndarray:
    """OR prefix+payload slots into a byte buffer at absolute positions."""
    out_bits = np.zeros(total_bytes * 8, dtype=np.uint8)
    for codes, lens, offs in (
        (headers, header_bits, bit_offsets),
        (payloads, payload_bits, bit_offsets + header_bits),
    ):
        for L in np.unique(lens):
            Li = int(L)
            if Li == 0:
                continue
            sel = lens == L
            shifts = np.arange(Li - 1, -1, -1, dtype=np.uint64)
            bits = (codes[sel, None] >> shifts[None, :]) & _U1
            pos = offs[sel, None] + np.arange(Li)[None, :]
            out_bits[pos.ravel()] = bits.ravel().astype(np.uint8)
    return np.packbits(out_bits)


def _write_be64(buf: np.ndarray, byte_offsets: np.ndarray, values: np.ndarray) -> None:
    """Scatter big-endian 64-bit words into buf at the given byte offsets."""
    b = np.asarray(values).astype(">u8").view(np.uint8).reshape(-1, 8)
    pos = byte_offsets[:, None] + np.arange(8)[None, :]
    buf[pos.ravel()] = b.ravel()


def _pack_blocks(
    lens: np.ndarray,
    tags: np.ndarray,
    fields: list[tuple[np.ndarray, np.ndarray]],
    sections: list[tuple[np.ndarray, ...]],
) -> list[bytes]:
    """Lay out one blob per block: the word ``tag << 56 | n``, then field
    k of ``fields`` (mask of the blocks that carry it, its values for
    those blocks) at byte 8k, then the block's codes bit packed from the
    end of its header. A field is carried only by blocks that carry
    every field before it. ``sections`` are packed in order, each one's
    items in order within a block; a section is (item block ids, sorted;
    prefix code; prefix bits; payload code; payload bits), and an item
    with zero bits packs to nothing."""
    nb = len(lens)
    placed = [_block_prefix(s[0], s[2] + s[4], nb) for s in sections]
    code_bits = sum(total for total, _ in placed)
    head_bytes = 8 + 8 * sum(has.astype(np.int64) for has, _ in fields)
    block_bytes = head_bytes + (code_bits + 7) // 8
    byte_start = np.concatenate(([0], np.cumsum(block_bytes)[:-1]))
    out = np.zeros(int(block_bytes.sum()), dtype=np.uint8)

    words = (tags.astype(np.uint64) << np.uint64(56)) | lens.astype(np.uint64)
    _write_be64(out, byte_start, words)
    for k, (has, vals) in enumerate(fields, 1):
        _write_be64(out, byte_start[has] + 8 * k, vals)

    # absolute bit of each item: its block's first code bit, the bits of
    # the block's earlier sections, its offset within this section
    first_bit = (byte_start + head_bytes) * 8
    slots = []
    for (ibid, hc, hb, pc, pb), (total, off) in zip(sections, placed):
        slots.append((hc.astype(np.uint64), hb, pc.astype(np.uint64), pb, first_bit[ibid] + off))
        first_bit = first_bit + total
    hc, hb, pc, pb, at = (np.concatenate(x) for x in zip(*slots))
    if hb.any() or pb.any():
        out |= _scatter_bits(len(out), hc, hb, pc, pb, at)
    b = out.tobytes()
    return [b[int(s) : int(s + L)] for s, L in zip(byte_start, block_bytes)]


def encode_dod_batch(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """values: concatenated int64 series; starts: block start indices
    (sorted, starts[0]==0). Returns one blob per block, in the shorter of
    the plain and the ms layout (``encode_dod``)."""
    v = np.asarray(values, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    total, nb = len(v), len(starts)
    lens = np.append(starts[1:], total) - starts
    bid = _block_ids(starts, total)
    uncoded = np.arange(total) - starts[bid] < 2  # rows without a prefix code
    has_v0 = lens >= 1
    has_d0 = lens >= 2  # n==2 stores n, v0, d0 and no codes

    def layout(w):
        """Row codes, their bits per block, and the two header fields of
        the delta-of-delta layout of w."""
        delta = np.zeros(total, dtype=np.int64)
        delta[1:] = w[1:] - w[:-1]
        dod = np.zeros(total, dtype=np.int64)
        dod[1:] = delta[1:] - delta[:-1]
        hc, hb, pc, pb = _bucket_codes(((dod << 1) ^ (dod >> 63)).view(np.uint64))
        hb[uncoded] = 0
        pb[uncoded] = 0
        bits = _block_prefix(bid, hb + pb, nb)[0]
        return (hc, hb, pc, pb), bits, [w[starts[has_v0]], delta[starts[has_d0] + 1]]

    plain_rows, plain_bits, plain_fields = layout(v)
    w, rem = np.divmod(v, _MS)
    ms_rows, ms_bits, ms_fields = layout(w)
    exc = np.flatnonzero(rem)
    count = np.bincount(bid[exc], minlength=nb)
    width = _bit_length(np.maximum(lens - 1, 0))
    chc, chb, cpc, cpb = _bucket_codes(count)
    ms_bits = ms_bits + chb + cpb + count * (width + _REM_BITS)
    ms = (ms_bits + 7) // 8 < (plain_bits + 7) // 8

    in_ms = ms[bid]
    rows = [np.where(in_ms, a, b) for a, b in zip(ms_rows, plain_rows)]
    fields = [
        (has, np.where(ms[has], a, b))
        for has, a, b in zip((has_v0, has_d0), ms_fields, plain_fields)
    ]
    mb = np.flatnonzero(ms)
    exc = exc[in_ms[exc]]
    eb = bid[exc]
    sections = [
        (bid, *rows),
        (mb, chc[mb], chb[mb], cpc[mb], cpb[mb]),
        (eb, exc - starts[eb], width[eb], rem[exc], np.full(len(exc), _REM_BITS)),
    ]
    tags = np.where(ms, _TAG_DOD_MS, _TAG_DOD)
    return _pack_blocks(lens, tags, fields, sections)


def _concat_blobs(blobs) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concatenate blobs into one byte buffer + per-blob byte offsets.
    The bit view is padded so vectorized 69/78-bit window gathers past the
    last code never index out of bounds."""
    lens = np.fromiter((len(b) for b in blobs), dtype=np.int64, count=len(blobs))
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    buf = np.frombuffer(b"".join(bytes(b) for b in blobs), dtype=np.uint8)
    bits = np.unpackbits(np.concatenate([buf, np.zeros(16, dtype=np.uint8)]))
    return buf, offs, bits


def _read_be64(buf: np.ndarray, byte_offsets: np.ndarray) -> np.ndarray:
    """Gather big-endian int64s at the given byte offsets (vectorized)."""
    if len(byte_offsets) == 0:
        return np.zeros(0, dtype=np.int64)
    pos = byte_offsets[:, None] + np.arange(8)[None, :]
    return buf[pos.ravel()].reshape(-1, 8).copy().view(">i8").ravel().astype(np.int64)


def _read_headers(buf: np.ndarray, offs: np.ndarray, tags: tuple[int, ...]):
    """(tag, n) of every blob; raises on a tag outside ``tags``."""
    word = _read_be64(buf, offs).view(np.uint64)
    tag = (word >> np.uint64(56)).astype(np.int64)
    bad = ~np.isin(tag, tags)
    if bad.any():
        raise _layout_error(int(tag[bad][0]), tags)
    return tag, (word & np.uint64(_N_MASK)).astype(np.int64)


def _gather_value(bits: np.ndarray, pos: np.ndarray, nbits: np.ndarray, width: int) -> np.ndarray:
    """Vectorized variable-length big-endian bit-field read: for each row
    i, the integer formed by bits[pos[i] : pos[i]+nbits[i]] (nbits ≤ width
    ≤ 64). One (rows × width) gather + shift-sum — no per-row Python."""
    if len(pos) == 0:
        return np.zeros(0, dtype=np.uint64)
    w = bits[pos[:, None] + np.arange(width)[None, :]].astype(np.uint64)
    shifts = nbits[:, None] - 1 - np.arange(width)[None, :]
    valid = shifts >= 0
    return ((w << np.where(valid, shifts, 0).astype(np.uint64)) * valid).sum(
        axis=1, dtype=np.uint64
    )


def _read_buckets(bits: np.ndarray, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The ``_DOD_BUCKETS`` code at each bit position: (values, the
    positions after the codes). A code's leading ones (0..5) are its
    bucket's index."""
    ctl = bits[pos[:, None] + np.arange(5)[None, :]]
    cls = np.cumprod(ctl, axis=1).sum(axis=1)
    hw, pw = _PREFIX_BITS[cls], _PAYLOAD_BITS[cls]
    return _gather_value(bits, pos + hw, pw, 64), pos + hw + pw


def decode_dod_batch(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized-across-blocks delta-of-delta decode: step k decodes
    element k of EVERY still-active block at once (prefix classification,
    payload gather, and the delta chain are all numpy array ops), so the
    per-row cost is O(1) numpy work regardless of block count — the read-
    path mirror of the batch encoders above. Then the ms blocks scale by
    1000 and add back their exceptions, all blocks' at once. Returns
    (values, starts) exactly inverse to ``encode_dod_batch``."""
    nb = len(blobs)
    if nb == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    buf, offs, bits = _concat_blobs(blobs)
    tag, n = _read_headers(buf, offs, (_TAG_DOD, _TAG_DOD_MS))
    starts = np.concatenate(([0], np.cumsum(n)[:-1]))
    out = np.zeros(int(n.sum()), dtype=np.int64)

    has1 = n >= 1
    out[starts[has1]] = _read_be64(buf, offs[has1] + 8)
    has2 = n >= 2
    d0 = np.zeros(nb, dtype=np.int64)
    d0[has2] = _read_be64(buf, offs[has2] + 16)
    out[starts[has2] + 1] = out[starts[has2]] + d0[has2]

    pos = (offs + 8 + 8 * np.minimum(n, 2)) * 8  # absolute bit cursor per block
    delta = d0.copy()
    cur = np.zeros(nb, dtype=np.int64)
    cur[has2] = out[starts[has2] + 1]
    for k in range(2, int(n.max())):
        act = np.flatnonzero(n > k)
        zz, pos[act] = _read_buckets(bits, pos[act])
        dod = ((zz >> _U1) ^ (np.uint64(0) - (zz & _U1))).view(np.int64)
        delta[act] = delta[act] + dod
        cur[act] = cur[act] + delta[act]
        out[starts[act] + k] = cur[act]

    ms = np.flatnonzero(tag == _TAG_DOD_MS)
    if len(ms):
        out[np.repeat(tag == _TAG_DOD_MS, n)] *= _MS
        count, at = _read_buckets(bits, pos[ms])
        count = count.astype(np.int64)
        width = _bit_length(np.maximum(n[ms] - 1, 0))
        # exception j of block b: (position, remainder) at bit
        # at_b + j * (width_b + _REM_BITS)
        e = np.repeat(np.arange(len(ms)), count)
        j = np.arange(len(e)) - np.repeat(np.cumsum(count) - count, count)
        p = at[e] + j * (width[e] + _REM_BITS)
        where = _gather_value(bits, p, width[e], int(width.max()))
        rem = _gather_value(bits, p + width[e], np.full(len(e), _REM_BITS), _REM_BITS)
        out[starts[ms][e] + where.astype(np.int64)] += rem.astype(np.int64)
    return out, starts


def decode_xor_batch(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized-across-blocks Gorilla-XOR decode (inverse of
    ``encode_xor_batch``; bit patterns — including NaNs — preserved).
    Returns (float64 values, starts)."""
    nb = len(blobs)
    if nb == 0:
        return np.zeros(0, dtype=np.float64), np.zeros(0, dtype=np.int64)
    buf, offs, bits = _concat_blobs(blobs)
    _, n = _read_headers(buf, offs, (_TAG_XOR,))
    starts = np.concatenate(([0], np.cumsum(n)[:-1]))
    out = np.zeros(int(n.sum()), dtype=np.uint64)

    has1 = n >= 1
    out[starts[has1]] = _read_be64(buf, offs[has1] + 8).view(np.uint64)
    head_bytes = np.where(n >= 1, 16, 8)
    pos = (offs + head_bytes) * 8
    cur = np.zeros(nb, dtype=np.uint64)
    cur[has1] = out[starts[has1]]
    max_n = int(n.max()) if nb else 0
    for k in range(1, max_n):
        act = np.flatnonzero(n > k)
        p = pos[act]
        c0 = bits[p].astype(bool)  # 1 → '11' header follows; 0 → repeat
        nz = np.flatnonzero(c0)
        if len(nz):
            pn = p[nz]
            lz = _gather_value(bits, pn + 2, np.full(len(nz), 6), 6).astype(np.int64)
            nbit = _gather_value(bits, pn + 8, np.full(len(nz), 6), 6).astype(np.int64) + 1
            mean = _gather_value(bits, pn + 14, nbit, 64)
            tz = (64 - lz - nbit).astype(np.uint64)
            cur[act[nz]] = cur[act[nz]] ^ (mean << tz)
            pos[act[nz]] = pn + 14 + nbit
        z = np.flatnonzero(~c0)
        if len(z):
            pos[act[z]] = p[z] + 1
        out[starts[act] + k] = cur[act]
    return out.view(np.float64), starts


def encode_xor_batch(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """Gorilla-XOR batch encode float64 blocks (bit patterns preserved)."""
    f = np.asarray(values, dtype=np.float64)
    u = f.view(np.uint64)
    starts = np.asarray(starts, dtype=np.int64)
    total = len(u)
    ends = np.append(starts[1:], total)
    lens = ends - starts
    bid = _block_ids(starts, total)
    off_in_block = np.arange(total) - starts[bid]
    coded = off_in_block >= 1

    x = np.zeros(total, dtype=np.uint64)
    x[1:] = u[1:] ^ u[:-1]
    x[~coded] = 0
    nzc = coded & (x != 0)

    lz = np.where(x != 0, 64 - _bit_length(x), 0)
    lz = np.minimum(lz, 63)
    tz = np.zeros(total, dtype=np.int64)
    low = x.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = (x != 0) & ((low & ((_U1 << np.uint64(shift)) - _U1)) == 0)
        tz[m] += shift
        low[m] >>= np.uint64(shift)
    nbits = np.where(nzc, 64 - lz - tz, 0)

    hdr_code = np.zeros(total, dtype=np.uint64)
    hdr_bits = np.zeros(total, dtype=np.int64)
    pay_code = np.zeros(total, dtype=np.uint64)
    pay_bits = np.zeros(total, dtype=np.int64)
    zeroc = coded & (x == 0)
    hdr_bits[zeroc] = 1  # control '0'
    if nzc.any():
        hdr_code[nzc] = (
            (np.uint64(0b11) << np.uint64(12))
            | (lz[nzc].astype(np.uint64) << np.uint64(6))
            | (nbits[nzc] - 1).astype(np.uint64)
        )
        hdr_bits[nzc] = 14
        pay_code[nzc] = x[nzc] >> tz[nzc].astype(np.uint64)
        pay_bits[nzc] = nbits[nzc]

    has_v0 = lens >= 1
    fields = [(has_v0, u[starts[has_v0]])]
    tags = np.full(len(starts), _TAG_XOR)
    sections = [(bid, hdr_code, hdr_bits, pay_code, pay_bits)]
    return _pack_blocks(lens, tags, fields, sections)
