"""Batch codecs: encode THOUSANDS of (conv, chunk) blocks in one
vectorized numpy pass.

The per-block encoders in codec.py are vectorized *within* a block, but
transcript chunks are small (tens of turns), so per-block numpy overhead
dominates at scale (~12 µs/row measured). These batch variants compute
bucket codes, bit lengths, per-block bit offsets (add.reduceat), and a
single global bit-scatter for the whole Arrow batch — per-row cost is
O(1) numpy work regardless of block count. Output blobs are
**byte-identical** to codec.py's per-block output (property-tested), so
decode_dod/decode_xor read them unchanged.

Layout per block (same as codec.py):
  dod:  [n:int64][v0:int64][d0:int64][prefix-coded zigzag dods...]
        (short blocks: n<=2 omit the absent fields)
  xor:  [n:int64][u0:uint64][coded xors...]
"""

from __future__ import annotations

import numpy as np

from .codec import _DOD_BUCKETS

_U1 = np.uint64(1)


def _block_ids(starts: np.ndarray, total: int) -> np.ndarray:
    ids = np.zeros(total, dtype=np.int64)
    np.add.at(ids, starts[1:], 1)
    return np.cumsum(ids)


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
    """Scatter big-endian int64s into buf at the given byte offsets."""
    b = values.astype(">i8").view(np.uint8).reshape(-1, 8)
    pos = byte_offsets[:, None] + np.arange(8)[None, :]
    buf[pos.ravel()] = b.ravel()


def _pack_blocks(
    starts: np.ndarray,
    lens: np.ndarray,
    bid: np.ndarray,
    fields: list[tuple[np.ndarray, np.ndarray]],
    hdr_code: np.ndarray,
    hdr_bits: np.ndarray,
    pay_code: np.ndarray,
    pay_bits: np.ndarray,
) -> list[bytes]:
    """Lay out one blob per block: big-endian int64 ``n``, then field k
    of ``fields`` (mask of the blocks that carry it, its values for those
    blocks) at byte 8k, then the block's rows' prefix+payload codes, bit
    packed from the end of its header. A row without codes has zero
    ``hdr_bits`` and ``pay_bits``; a field is carried only by blocks that
    carry every field before it."""
    nb = len(starts)
    row_bits = hdr_bits + pay_bits
    block_code_bits = np.where(
        lens > 0, np.add.reduceat(row_bits, starts) if len(row_bits) else 0, 0
    )
    head_bytes = 8 + 8 * sum(has.astype(np.int64) for has, _ in fields)
    block_bytes = head_bytes + (block_code_bits + 7) // 8
    byte_start = np.concatenate(([0], np.cumsum(block_bytes)[:-1]))
    out = np.zeros(int(block_bytes.sum()), dtype=np.uint8)

    _write_be64(out, byte_start, lens)
    for k, (has, vals) in enumerate(fields, 1):
        _write_be64(out, byte_start[has] + 8 * k, vals)

    # code bits: absolute offsets
    cum = np.cumsum(row_bits)
    block_cum_base = np.zeros(nb, dtype=np.int64)
    if nb > 1:
        block_cum_base[1:] = cum[starts[1:] - 1]
    bits_before = cum - row_bits - block_cum_base[bid]
    abs_bit = (byte_start[bid] + head_bytes[bid]) * 8 + bits_before
    if row_bits.any():
        out |= _scatter_bits(len(out), hdr_code, hdr_bits, pay_code, pay_bits, abs_bit)
    b = out.tobytes()
    return [b[int(s) : int(s + L)] for s, L in zip(byte_start, block_bytes)]


def encode_dod_batch(values: np.ndarray, starts: np.ndarray) -> list[bytes]:
    """values: concatenated int64 series; starts: block start indices
    (sorted, starts[0]==0). Returns one blob per block."""
    v = np.asarray(values, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    total = len(v)
    ends = np.append(starts[1:], total)
    lens = ends - starts
    bid = _block_ids(starts, total)
    off_in_block = np.arange(total) - starts[bid]

    delta = np.zeros(total, dtype=np.int64)
    delta[1:] = v[1:] - v[:-1]
    dod = np.zeros(total, dtype=np.int64)
    dod[1:] = delta[1:] - delta[:-1]
    coded = off_in_block >= 2  # rows that emit prefix codes

    zz = ((dod << 1) ^ (dod >> 63)).astype(np.uint64)
    hdr_code = np.zeros(total, dtype=np.uint64)
    hdr_bits = np.zeros(total, dtype=np.int64)
    pay_code = np.zeros(total, dtype=np.uint64)
    pay_bits = np.zeros(total, dtype=np.int64)
    assigned = ~coded
    for upper, prefix, plen, pbits in _DOD_BUCKETS:
        sel = ((~assigned) & (zz < np.uint64(upper))) if pbits < 64 else ~assigned
        hdr_code[sel] = np.uint64(prefix)
        hdr_bits[sel] = plen
        if pbits:
            mask = (
                (_U1 << np.uint64(pbits)) - _U1
                if pbits < 64
                else np.uint64(0xFFFFFFFFFFFFFFFF)
            )
            pay_code[sel] = zz[sel] & mask
            pay_bits[sel] = pbits
        assigned |= sel

    has_v0 = lens >= 1
    has_d0 = lens >= 2  # n==2 stores n, v0, d0 and no codes
    fields = [(has_v0, v[starts[has_v0]]), (has_d0, delta[starts[has_d0] + 1])]
    return _pack_blocks(starts, lens, bid, fields, hdr_code, hdr_bits, pay_code, pay_bits)


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


def decode_dod_batch(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized-across-blocks delta-of-delta decode: step k decodes
    element k of EVERY still-active block at once (prefix classification,
    payload gather, and the delta chain are all numpy array ops), so the
    per-row cost is O(1) numpy work regardless of block count — the read-
    path mirror of the batch encoders above. Returns (values, starts)
    exactly inverse to ``encode_dod_batch``."""
    nb = len(blobs)
    if nb == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    buf, offs, bits = _concat_blobs(blobs)
    n = _read_be64(buf, offs)
    starts = np.concatenate(([0], np.cumsum(n)[:-1]))
    out = np.zeros(int(n.sum()), dtype=np.int64)

    has1 = n >= 1
    out[starts[has1]] = _read_be64(buf, offs[has1] + 8)
    has2 = n >= 2
    d0 = np.zeros(nb, dtype=np.int64)
    d0[has2] = _read_be64(buf, offs[has2] + 16)
    with np.errstate(over="ignore"):
        out[starts[has2] + 1] = out[starts[has2]] + d0[has2]

    head_bytes = np.where(n >= 2, 24, np.where(n == 1, 16, 8))
    pos = (offs + head_bytes) * 8  # absolute bit cursor per block
    delta = d0.copy()
    cur = np.zeros(nb, dtype=np.int64)
    cur[has2] = out[starts[has2] + 1]
    max_n = int(n.max()) if nb else 0
    # payload widths by prefix class '0','10','110','1110','11110','11111'
    pay_w = np.array([0, 7, 9, 12, 32, 64], dtype=np.int64)
    hdr_w = np.array([1, 2, 3, 4, 5, 5], dtype=np.int64)
    for k in range(2, max_n):
        act = np.flatnonzero(n > k)
        p = pos[act]
        ctl = bits[p[:, None] + np.arange(5)[None, :]]
        ones = np.cumprod(ctl, axis=1).sum(axis=1)  # leading ones (0..5)
        cls = ones  # class index == number of leading ones
        hw = hdr_w[cls]
        pw = pay_w[cls]
        zz = _gather_value(bits, p + hw, pw, 64)
        dod = ((zz >> np.uint64(1)) ^ (np.uint64(0) - (zz & np.uint64(1)))).view(np.int64)
        with np.errstate(over="ignore"):
            delta[act] = delta[act] + dod
            cur[act] = cur[act] + delta[act]
        out[starts[act] + k] = cur[act]
        pos[act] = p + hw + pw
    return out, starts


def decode_xor_batch(blobs) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized-across-blocks Gorilla-XOR decode (inverse of
    ``encode_xor_batch``; bit patterns — including NaNs — preserved).
    Returns (float64 values, starts)."""
    nb = len(blobs)
    if nb == 0:
        return np.zeros(0, dtype=np.float64), np.zeros(0, dtype=np.int64)
    buf, offs, bits = _concat_blobs(blobs)
    n = _read_be64(buf, offs)
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

    bl = np.zeros(total, dtype=np.int64)
    tmp = x.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        m = tmp >= (_U1 << np.uint64(shift))
        bl[m] += shift
        tmp[m] >>= np.uint64(shift)
    bl[x != 0] += 1
    lz = np.where(x != 0, 64 - bl, 0)
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
    fields = [(has_v0, u[starts[has_v0]].view(np.int64))]
    return _pack_blocks(starts, lens, bid, fields, hdr_code, hdr_bits, pay_code, pay_bits)
