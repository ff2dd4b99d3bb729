"""Posting-block codec: vectorized numpy VByte (+ delta) for binary columns.

Semantics mirror the reference's posting encoding contract (ascending docID
deltas, tf >= 1, block-based layout — Lucene50PostingsFormat.java:42-140,
ForUtil.java:157-205) but the byte format is ours: classic VByte with the
high bit as the continuation flag, little-endian 7-bit groups, plus the
reference's all-equal-block optimization (ForUtil all-same -> single value).

Everything is numpy-vectorized: encode/decode never loops per-value in
Python (loops are over byte-position, <= 10 iterations).
"""

from __future__ import annotations

import numpy as np

# Block headers. PLAIN = vbyte payload; ALLEQ = collapsed all-equal run
# (vbyte(count) + vbyte(value)); FOR = ForUtil-style fixed-width bit packing
# ([width byte] + vbyte(count) + little-endian packed bits — the reference's
# packed int blocks, ForUtil.java:157-205); PFOR = patched FoR ([width byte]
# + vbyte(count) + vbyte(n_exceptions) + packed low bits + vbyte exception
# (position, high-bits) pairs — PForDelta's exception patching for blocks
# whose delta distribution is skewed by a few large gaps; used only when
# strictly smaller than FOR). Decoders dispatch on the header, so the
# codecs coexist in one index and old indexes stay readable.
_HDR_PLAIN = 0
_HDR_ALLEQ = 1
_HDR_FOR = 2
_HDR_PFOR = 3


def _vbyte_encode_raw(values: np.ndarray) -> np.ndarray:
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8)
    # number of 7-bit groups per value
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += tmp > 0
        tmp >>= np.uint64(7)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    rem = v.copy()
    idx = starts.copy()
    left = nbytes.copy()
    while True:
        active = left > 0
        if not active.any():
            break
        byte = (rem & np.uint64(0x7F)).astype(np.uint8)
        more = (left > 1).astype(np.uint8) << 7
        out[idx[active]] = byte[active] | more[active]
        rem >>= np.uint64(7)
        idx += 1
        left -= 1
    return out


def _vbyte_decode_raw(buf: np.ndarray, count: int | None = None) -> np.ndarray:
    b = np.asarray(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = b < 128
    if is_end.all():  # fast path: every value fits one byte
        return b.astype(np.uint64)
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    idx = np.arange(b.size)
    val_id = np.searchsorted(ends, idx)
    offsets = (idx - starts[val_id]).astype(np.uint64)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * offsets)
    # 64-bit exact scatter-add via two 32-bit bincounts
    lo = np.bincount(val_id, weights=(contrib & np.uint64(0xFFFFFFFF)).astype(np.float64),
                     minlength=ends.size)
    hi = np.bincount(val_id, weights=(contrib >> np.uint64(32)).astype(np.float64),
                     minlength=ends.size)
    vals = lo.astype(np.uint64) + (hi.astype(np.uint64) << np.uint64(32))
    return vals


def vbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint array; all-equal runs collapse to 3+ bytes (ForUtil's
    all-same-block trick, ForUtil.java:186-195)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size > 1 and (v == v[0]).all():
        payload = _vbyte_encode_raw(np.array([v.size, v[0]], dtype=np.uint64))
        return bytes(np.concatenate(([np.uint8(_HDR_ALLEQ)], payload)))
    return bytes(np.concatenate(([np.uint8(_HDR_PLAIN)], _vbyte_encode_raw(v))))


def vbyte_decode(buf: bytes) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    if b[0] == _HDR_ALLEQ:
        cnt_val = _vbyte_decode_raw(b[1:])
        return np.full(int(cnt_val[0]), cnt_val[1], dtype=np.uint64)
    if b[0] == _HDR_FOR:
        return _for_decode(b)
    if b[0] == _HDR_PFOR:
        return _pfor_decode(b)
    return _vbyte_decode_raw(b[1:])


def _read_vbyte_at(b: np.ndarray, i: int) -> tuple[int, int]:
    """Read one vbyte starting at b[i] -> (value, next index)."""
    n = 0
    shift = 0
    while True:
        byte = int(b[i])
        n |= (byte & 0x7F) << shift
        shift += 7
        i += 1
        if byte < 128:
            return n, i


def for_encode(values: np.ndarray) -> bytes:
    """Fixed-width bit-pack one block (ForUtil.java:157-205 analog): width =
    bit length of the block max, little-endian bit order, count stored as a
    vbyte after the width byte. All-equal blocks still collapse to the
    ALLEQ form (ForUtil's all-same trick is strictly smaller)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return bytes([_HDR_PLAIN])
    if v.size > 1 and (v == v[0]).all():
        return vbyte_encode(v)
    w = max(1, int(v.max()).bit_length())
    bit_idx = np.arange(w, dtype=np.uint64)
    bits = ((v[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.uint8)
    packed = np.packbits(bits.reshape(-1), bitorder="little")
    return bytes([_HDR_FOR, w]) + bytes(_vbyte_encode_raw(np.array([v.size], dtype=np.uint64))) + packed.tobytes()


def _for_decode(b: np.ndarray) -> np.ndarray:
    w = int(b[1])
    n, i = _read_vbyte_at(b, 2)
    bits = np.unpackbits(b[i:], bitorder="little")[: n * w].astype(np.uint64)
    bits = bits.reshape(n, w) << np.arange(w, dtype=np.uint64)[None, :]
    return bits.sum(axis=1, dtype=np.uint64)


def pfor_encode(values: np.ndarray, width: int, exc_pos: np.ndarray) -> bytes:
    """Patched FoR: low `width` bits of every value bit-packed, the
    exceptions' high bits appended as vbyte (position, value >> width)
    pairs (PForDelta's patch list; Lucene 8.4 PForUtil shape).

    exc_pos MUST list every position whose value exceeds `width` bits —
    an incomplete list would silently truncate those values, so it is
    checked here (one vectorized comparison per block)."""
    v = np.asarray(values, dtype=np.uint64)
    w = int(width)
    need = np.flatnonzero(v >> np.uint64(w))
    if not np.isin(need, np.asarray(exc_pos, dtype=np.int64)).all():
        raise ValueError("pfor_encode: exc_pos misses positions wider than width")
    bit_idx = np.arange(w, dtype=np.uint64)
    low = v & np.uint64((1 << w) - 1)
    bits = ((low[:, None] >> bit_idx[None, :]) & np.uint64(1)).astype(np.uint8)
    packed = np.packbits(bits.reshape(-1), bitorder="little")
    exc = np.empty(2 * exc_pos.size, dtype=np.uint64)
    exc[0::2] = exc_pos.astype(np.uint64)
    exc[1::2] = v[exc_pos] >> np.uint64(w)
    head = _vbyte_encode_raw(np.array([v.size, exc_pos.size], dtype=np.uint64))
    return bytes([_HDR_PFOR, w]) + bytes(head) + packed.tobytes() + bytes(_vbyte_encode_raw(exc))


def _pfor_decode(b: np.ndarray) -> np.ndarray:
    w = int(b[1])
    n, i = _read_vbyte_at(b, 2)
    n_exc, i = _read_vbyte_at(b, i)
    nbytes = (n * w + 7) // 8
    bits = np.unpackbits(b[i : i + nbytes], bitorder="little")[: n * w].astype(np.uint64)
    vals = (bits.reshape(n, w) << np.arange(w, dtype=np.uint64)[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    if n_exc:
        exc = _vbyte_decode_raw(b[i + nbytes :])
        pos = exc[0::2].astype(np.int64)
        vals[pos] |= exc[1::2] << np.uint64(w)
    return vals


def _widths(v: np.ndarray) -> np.ndarray:
    nbytes = np.ones(v.size, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += tmp > 0
        tmp >>= np.uint64(7)
    return nbytes


def _encode_payload(v: np.ndarray) -> tuple[bytes, np.ndarray]:
    """-> (concatenated vbyte payload, cumulative byte ends per value)."""
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    w = _widths(v)
    ends = np.cumsum(w)
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    starts = ends - w
    rem = v.copy()
    idx = starts.copy()
    left = w.copy()
    while True:
        active = left > 0
        if not active.any():
            break
        byte = (rem & np.uint64(0x7F)).astype(np.uint8)
        more = (left > 1).astype(np.uint8) << 7
        out[idx[active]] = byte[active] | more[active]
        rem >>= np.uint64(7)
        idx += 1
        left -= 1
    return out.tobytes(), ends


def vbyte_encode_batch(values: np.ndarray, bounds: np.ndarray) -> list[bytes]:
    """Encode MANY value groups in one vectorized pass (the per-call numpy
    overhead of vbyte_encode dominates index builds with 100k+ near-singleton
    terms). bounds = int64[n_groups+1] cumulative value offsets. Output is
    byte-identical to [vbyte_encode(values[b0:b1]) ...] including the
    all-equal-run optimization."""
    v = np.asarray(values, dtype=np.uint64)
    bounds = np.asarray(bounds, dtype=np.int64)
    n = bounds.size - 1
    sizes = np.diff(bounds)
    blob, ends = _encode_payload(v)
    byte_bounds = np.concatenate(([0], ends))[bounds] if v.size else np.zeros(n + 1, dtype=np.int64)
    # all-equal groups (size > 1, min == max) use the collapsed encoding
    nz = np.flatnonzero(sizes > 0)
    alleq = np.zeros(n, dtype=bool)
    if nz.size:
        mn = np.minimum.reduceat(v, bounds[nz])
        mx = np.maximum.reduceat(v, bounds[nz])
        alleq[nz] = (mn == mx) & (sizes[nz] > 1)
    ae_idx = np.flatnonzero(alleq)
    ae_blob, ae_bb = b"", None
    if ae_idx.size:
        pairs = np.empty(2 * ae_idx.size, dtype=np.uint64)
        pairs[0::2] = sizes[ae_idx].astype(np.uint64)
        pairs[1::2] = v[bounds[ae_idx]]
        ae_blob, ae_ends = _encode_payload(pairs)
        ae_bb = np.concatenate(([0], ae_ends))[0::2]
    out: list[bytes] = []
    ae_pos = 0
    hdr_plain = bytes([_HDR_PLAIN])
    hdr_alleq = bytes([_HDR_ALLEQ])
    for g in range(n):
        if alleq[g]:
            out.append(hdr_alleq + ae_blob[ae_bb[ae_pos] : ae_bb[ae_pos + 1]])
            ae_pos += 1
        else:
            out.append(hdr_plain + blob[byte_bounds[g] : byte_bounds[g + 1]])
    return out


def delta_encode(doc_ids: np.ndarray) -> np.ndarray:
    """Ascending docIDs -> deltas; first element is kept absolute relative to
    0 is wasteful, so it is the gap from first_doc (stored in block metadata),
    i.e. deltas[0] == 0 and deltas[i] = doc[i] - doc[i-1] >= 1."""
    d = np.asarray(doc_ids, dtype=np.uint64)
    return np.diff(d, prepend=d[:1])


def delta_decode(deltas: np.ndarray, first_doc: int) -> np.ndarray:
    d = np.asarray(deltas, dtype=np.uint64).copy()
    if d.size == 0:
        return d
    d[0] = np.uint64(first_doc)
    return np.cumsum(d, dtype=np.uint64)


def _grouped_arange(sizes: np.ndarray) -> np.ndarray:
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    return np.arange(int(sizes.sum())) - np.repeat(starts, sizes)


def _bit_widths(mx: np.ndarray) -> np.ndarray:
    """Vectorized bit lengths (min 1) — same shift loop as _widths."""
    w = np.ones(mx.size, dtype=np.int64)
    tmp = mx >> np.uint64(1)
    while tmp.any():
        w += tmp > 0
        tmp >>= np.uint64(1)
    return w


def block_encode_batch(values: np.ndarray, bounds: np.ndarray,
                       block_size: int = 128) -> list[bytes]:
    """vbyte_encode_batch + ForUtil packing: groups of exactly block_size
    that are not all-equal bit-pack at the block max's width (Lucene packs
    every FULL posting block with ForUtil and vbytes the tail —
    Lucene50PostingsWriter.java:272-297). Vectorized per width class:
    block_size*w bits is byte-aligned, so a width class stacks into a
    single packbits call; tails and all-equal blocks keep the
    vbyte/ALLEQ forms. Decoders dispatch per buffer, so outputs mix
    freely with vbyte_encode_batch's."""
    v = np.asarray(values, dtype=np.uint64)
    bounds = np.asarray(bounds, dtype=np.int64)
    n = bounds.size - 1
    sizes = np.diff(bounds)
    out: list = [None] * n
    f_idx = np.empty(0, dtype=np.int64)
    full = np.flatnonzero(sizes == block_size)
    if full.size:
        mn = np.minimum.reduceat(v, bounds[full])
        mx = np.maximum.reduceat(v, bounds[full])
        f_idx = full[mn != mx]  # all-equal full blocks stay ALLEQ (smaller)
    if f_idx.size:
        mat = v[bounds[f_idx][:, None] + np.arange(block_size)]
        # per-value bit widths (vectorized shift loop like _bit_widths)
        bw = np.ones(mat.shape, dtype=np.int64)
        tmp = mat >> np.uint64(1)
        while tmp.any():
            bw += tmp > 0
            tmp >>= np.uint64(1)
        wmax = bw.max(axis=1)
        # PForDelta candidate widths: allow ~3%/12%/25% exceptions (ranks
        # block_size-4 / -16 / -32 of the sorted per-value widths). Charge
        # each exception 1 byte position + ceil(high_bits/7) bytes value;
        # pick patched form only when strictly smaller than plain FoR.
        bw_sorted = np.sort(bw, axis=1)
        n_pack_bytes = lambda w: (block_size * w + 7) // 8  # noqa: E731
        best_w = wmax.copy()
        best_cost = n_pack_bytes(wmax) + 0  # FoR payload bytes (headers equal)
        for rank in (block_size - 4, block_size - 16, block_size - 32):
            wc = np.maximum(bw_sorted[:, rank - 1], 1)
            high = np.maximum(bw - wc[:, None], 0)
            exc_bytes = np.where(high > 0, 1 + (high + 6) // 7, 0).sum(axis=1)
            cost = n_pack_bytes(wc) + exc_bytes + 1  # +1 for the n_exc vbyte
            better = (cost < best_cost) & (wc < wmax)
            best_w = np.where(better, wc, best_w)
            best_cost = np.where(better, cost, best_cost)
        pfor_sel = np.flatnonzero(best_w < wmax)
        for j in pfor_sel:
            row = mat[j]
            w = int(best_w[j])
            exc_pos = np.flatnonzero(bw[j] > w)
            out[f_idx[j]] = pfor_encode(row, w, exc_pos)
        plain_for = np.flatnonzero(best_w == wmax)
        widths = wmax[plain_for]
        n_hdr = bytes(_vbyte_encode_raw(np.array([block_size], dtype=np.uint64)))
        for w in np.unique(widths):
            sel = plain_for[widths == w]
            bit_idx = np.arange(int(w), dtype=np.uint64)
            bits = ((mat[sel][:, :, None] >> bit_idx) & np.uint64(1)).astype(np.uint8)
            packed = np.packbits(bits.reshape(sel.size, -1), axis=1, bitorder="little")
            hdr = bytes([_HDR_FOR, int(w)]) + n_hdr
            row_len = packed.shape[1]
            rows = packed.tobytes()
            for j, gi in enumerate(f_idx[sel]):
                out[gi] = hdr + rows[j * row_len : (j + 1) * row_len]
    rest = np.flatnonzero(np.array([o is None for o in out]))
    if rest.size:
        sub_sizes = sizes[rest]
        idx = np.repeat(bounds[rest], sub_sizes) + _grouped_arange(sub_sizes)
        sub_bufs = vbyte_encode_batch(v[idx], np.concatenate(([0], np.cumsum(sub_sizes))))
        for j, gi in enumerate(rest):
            out[gi] = sub_bufs[j]
    return out


def block_decode_flat(bufs) -> tuple[np.ndarray, np.ndarray]:
    """Decode a mixed PLAIN/ALLEQ/FOR/PFOR buffer list in one pass ->
    (values, counts): every buffer's values concatenated in list order,
    and each buffer's value count. The PLAIN and ALLEQ payloads decode in
    one VByte pass over the joined bytes; FOR buffers vectorize per
    (width, count, size) class with one unpackbits per class; PFOR
    buffers (a few outlier blocks) decode one by one."""
    lens = np.fromiter(map(len, bufs), dtype=np.int64, count=len(bufs))
    n = lens.size
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    starts = np.cumsum(lens) - lens
    filled = np.flatnonzero(lens)
    hdr = np.full(n, _HDR_PLAIN, dtype=np.uint8)
    hdr[filled] = data[starts[filled]]
    vb = (lens > 0) & (hdr <= _HDR_ALLEQ)
    # one VByte pass over every PLAIN/ALLEQ payload byte (headers masked out)
    blk = np.repeat(np.arange(n), lens)
    in_vb = vb[blk]
    in_vb[starts[filled]] = False
    payload = data[in_vb]
    vals = _vbyte_decode_raw(payload)
    vcounts = np.bincount(blk[in_vb][payload < 128], minlength=n)
    vstart = np.cumsum(vcounts) - vcounts
    alleq = vb & (hdr == _HDR_ALLEQ)
    plain = vb & ~alleq
    counts = np.where(plain, vcounts, 0)
    counts[alleq] = vals[vstart[alleq]]  # ALLEQ payload: (count, value)
    packed: dict = {}
    classes: dict = {}
    for i in np.flatnonzero((lens > 0) & (hdr > _HDR_ALLEQ)).tolist():
        a = data[starts[i] : starts[i] + lens[i]]
        if hdr[i] == _HDR_PFOR:
            packed[i] = _pfor_decode(a)
        else:
            cnt, start = _read_vbyte_at(a, 2)
            classes.setdefault((int(a[1]), cnt, a.size, start), []).append(i)
    for (w, cnt, size, start), ids in classes.items():
        stack = np.stack([data[starts[i] + start : starts[i] + size] for i in ids])
        bits = np.unpackbits(stack, axis=1, bitorder="little")[:, : cnt * w]
        bits = bits.reshape(len(ids), cnt, w).astype(np.uint64)
        dec = (bits << np.arange(w, dtype=np.uint64)[None, None, :]).sum(
            axis=2, dtype=np.uint64
        )
        packed.update(zip(ids, dec))
    for i, v in packed.items():
        counts[i] = v.size
    ostart = np.cumsum(counts) - counts
    out = np.empty(int(counts.sum()), dtype=np.uint64)
    sel = np.repeat(plain, vcounts)
    out[(np.arange(vals.size) + np.repeat(ostart - vstart, vcounts))[sel]] = vals[sel]
    eq = np.flatnonzero(alleq)
    if eq.size:
        eq_n = counts[eq]
        out[np.repeat(ostart[eq], eq_n) + _grouped_arange(eq_n)] = np.repeat(
            vals[vstart[eq] + 1], eq_n
        )
    for i, v in packed.items():
        out[ostart[i] : ostart[i] + v.size] = v
    return out, counts


def block_decode_batch(bufs) -> list[np.ndarray]:
    """block_decode_flat, split back into one array per buffer."""
    vals, counts = block_decode_flat(bufs)
    return np.split(vals, np.cumsum(counts)[:-1]) if counts.size else []


#: the same decoder: every header decodes through it (the name predates FOR)
vbyte_decode_batch = block_decode_batch


def encode_doc_block(doc_ids: np.ndarray) -> bytes:
    return vbyte_encode(delta_encode(doc_ids))


def decode_doc_block(buf: bytes, first_doc: int) -> np.ndarray:
    return delta_decode(vbyte_decode(buf), first_doc)


def decode_doc_blocks(bufs, first_doc) -> tuple[np.ndarray, np.ndarray]:
    """decode_doc_block over many blocks in one block_decode_flat pass ->
    (int64 doc ids, per-block doc count); each block's deltas restart at
    its own first_doc."""
    doc, n = block_decode_flat(bufs)
    doc = doc.astype(np.int64)
    live = n > 0
    start = (np.cumsum(n) - n)[live]
    doc[start] = 0
    doc = np.cumsum(doc)
    doc += np.repeat(np.asarray(first_doc, dtype=np.int64)[live] - doc[start], n[live])
    return doc, n
