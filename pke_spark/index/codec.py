"""Posting-list codec: sorted docIDs, delta-encoded, compressed in
fixed-size blocks carrying block-max tf statistics (SURVEY §4.3; the
distributed generalization of the reference's term->df TSV artifact,
pke/utils.py:126-139).

Wire format. Each compressed value stream is TAGGED with a 1-byte codec
id, and the encoder picks the cheaper of two codecs per stream:

- ``0x01`` LEB128 varint (byte-aligned; wins for tiny streams and
  wide-dynamic-range values), and
- ``0x02`` NewPFD-style PForDelta: all values bit-packed at a fixed
  width ``b``, with the few larger values patched as exceptions
  (position byte + varint high bits). Sub-byte widths are where the
  win is: dense-ordinal gaps and tfs are mostly 1-3 bits wide, which
  varint cannot encode in under 8.

Size rule: the cheapest of varint, PFOR at the max bit width and PFOR
at the p90 width (both capped at ``_PFOR_MAX_B``); streams over
``_PFOR_MAX_N`` values are always varint; on a tie varint wins, and
between the two PFOR widths the wider one wins. An empty stream is
zero bytes (decoders key on the count).

One encoder. ``encode_streams`` encodes MANY streams per call,
segmented: the size rule, the width choice and the byte writes are
vector operations over every stream at once, so Python runs once per
distinct PFOR width and once per varint byte plane, never once per
stream or per term. ``encode_runs`` builds a whole ``list<struct>``
blocks column (one list per posting run) from Arrow buffers on top of
it; ``encode_stream`` and ``encode_blocks`` are one-run wrappers.
``decode_streams`` / ``decode_runs`` are the segmented decoders of the
rewrite paths (compact, the build's eager merge, purge, the positional
merge). The serving read path decodes one block at a time with the
scalar ``decode_stream`` / ``decode_block``, which is faster for a
single block than the segmented kernel's fixed cost.

docIDs are signed int64 (xxhash64 output); we map them order-preservingly
to uint64 via XOR(1<<63) before delta encoding so deltas are small
non-negative gaps.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128
_SIGN = np.uint64(1 << 63)

TAG_VARINT = 0x01
TAG_PFOR = 0x02
# PFOR constraints: positions are 1 byte (block_size <= 256 in
# practice; bigger streams fall back to varint) and the packed width
# is capped so ``value >> b`` / mask shifts never hit the uint64 edge
_PFOR_MAX_N = 255
_PFOR_MAX_B = 56


def to_u64(doc_ids: np.ndarray) -> np.ndarray:
    """Order-preserving signed int64 -> uint64."""
    return doc_ids.astype(np.int64).view(np.uint64) ^ _SIGN


def from_u64(u: np.ndarray) -> np.ndarray:
    return (u ^ _SIGN).view(np.int64)


# ------------------------------------------------------- segment helpers

def _starts(lens: np.ndarray) -> np.ndarray:
    """Offset of each segment's first value in the flat array."""
    s = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=s[1:])
    return s


def _seg_sum(q: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Exact per-segment sum of ``q`` (empty segments sum to 0)."""
    c = np.zeros(len(q) + 1, dtype=np.int64)
    np.cumsum(q, out=c[1:])
    s = _starts(lens)
    return c[s + lens] - c[s]


def _rank_in_seg(q: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per value: the sum of ``q`` over the earlier values of its own
    segment (an exclusive cumulative sum restarted at each segment)."""
    c = np.zeros(len(q) + 1, dtype=np.int64)
    np.cumsum(q, out=c[1:])
    return c[:-1] - np.repeat(c[_starts(lens)], lens)


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenation of ``arange(s, s + n)`` over the (s, n) pairs."""
    return (np.arange(int(lens.sum()), dtype=np.int64)
            + np.repeat(starts - _starts(lens), lens))


# ---------------------------------------------------------------- varint

def _varint_nbytes(bl: np.ndarray) -> np.ndarray:
    """LEB128 size per value from its bit length."""
    return np.maximum((bl + 6) // 7, 1)


def _put_varints(out: np.ndarray, pos: np.ndarray, v: np.ndarray,
                 nb: np.ndarray) -> None:
    """Write the LEB128 form of ``v[i]`` at ``out[pos[i]:pos[i]+nb[i]]``,
    one byte plane per pass."""
    cur = v.astype(np.uint64, copy=True)
    for i in range(int(nb.max()) if len(nb) else 0):
        live = nb > i
        if not live.all():
            pos, cur, nb = pos[live], cur[live], nb[live]
        b = (cur & np.uint64(0x7F)).astype(np.uint8)
        b[nb - 1 > i] |= 0x80
        out[pos + i] = b
        cur >>= np.uint64(7)


def varint_decode(buf: bytes) -> np.ndarray:
    """LEB128 decode -> uint64 array (vectorized via reduceat)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    starts = np.zeros(int(is_end.sum()), dtype=np.int64)
    ends = np.flatnonzero(is_end)
    starts[1:] = ends[:-1] + 1
    value_id = np.zeros(len(b), dtype=np.int64)
    value_id[starts[1:]] = 1
    np.cumsum(value_id, out=value_id)
    within = np.arange(len(b), dtype=np.int64) - starts[value_id]
    contrib = (b & 0x7F).astype(np.uint64) << (np.uint64(7) * within.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def _bitlen(v: np.ndarray) -> np.ndarray:
    """Exact bit length per uint64 value: the float64 exponent field,
    corrected where rounding to 53 bits carried into the next power."""
    e = (v.astype(np.float64).view(np.int64) >> 52) - 1022
    np.maximum(e, 0, out=e)  # 0.0 has exponent field 0
    big = np.flatnonzero(e > 53)
    if len(big):
        e[big] -= (v[big] >> (e[big] - 1).astype(np.uint64)) == 0
    return e


# ------------------------------------------------------- stream kernels

def _pfor_cost(lens, width, b_max, bl, sid):
    """Per stream: (bytes of PFOR at ``width``, exception count). Only
    streams with values wider than ``width`` pay a pass over values."""
    n_exc = np.zeros(len(lens), dtype=np.int64)
    high = np.zeros(len(lens), dtype=np.int64)
    some = width < b_max
    if some.any():
        sub = lens[some]
        blv = bl[some[sid]]
        wv = np.repeat(width[some], sub)
        exc = blv > wv
        n_exc[some] = _seg_sum(exc, sub)
        high[some] = _seg_sum(np.where(exc, (blv - wv + 6) // 7, 0), sub)
    return 4 + (lens * width + 7) // 8 + n_exc + high, n_exc


def encode_streams(values: np.ndarray, lens
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Encode the concatenated uint64 streams ``values`` (stream i holds
    ``lens[i]`` values) -> (uint8 data, int64 offsets): stream i is
    ``data[offsets[i]:offsets[i + 1]]``, byte-equal in size to a
    one-stream encode and decodable by ``decode_stream``."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    lens = np.asarray(lens, dtype=np.int64)
    n_streams = len(lens)
    first = _starts(lens)
    sid = np.repeat(np.arange(n_streams, dtype=np.int64), lens)
    bl = _bitlen(v)
    nb = _varint_nbytes(bl)
    nonempty = lens > 0
    var_cost = np.where(nonempty, 1 + _seg_sum(nb, lens), 0)

    # the two PFOR widths per stream: max and p90 bit length, capped
    b_max = np.zeros(n_streams, dtype=np.int64)
    b_p90 = np.zeros(n_streams, dtype=np.int64)
    if len(v):
        ne = np.flatnonzero(nonempty)
        b_max[ne] = np.maximum.reduceat(bl, first[ne])
        # sorting (stream, bit length) keys puts each stream's k-th
        # smallest bit length at its start + k
        keys = np.sort(sid * 65 + bl)
        b_p90[ne] = keys[first[ne] + (lens[ne] - 1) * 9 // 10] - ne * 65
    wide = np.minimum(b_max, _PFOR_MAX_B)
    narrow = np.minimum(b_p90, _PFOR_MAX_B)
    cost_w, exc_w = _pfor_cost(lens, wide, b_max, bl, sid)
    cost_n, exc_n = _pfor_cost(lens, narrow, b_max, bl, sid)
    take_w = cost_w <= cost_n
    p_cost = np.where(take_w, cost_w, cost_n)
    pfor = nonempty & (lens <= _PFOR_MAX_N) & (p_cost < var_cost)
    width = np.where(pfor, np.where(take_w, wide, narrow), 0)
    n_exc = np.where(pfor, np.where(take_w, exc_w, exc_n), 0)

    offsets = np.zeros(n_streams + 1, dtype=np.int64)
    np.cumsum(np.where(pfor, p_cost, var_cost), out=offsets[1:])
    data = np.zeros(int(offsets[-1]), dtype=np.uint8)
    off = offsets[:-1]

    # varint streams: tag, then the values back to back
    vs = np.flatnonzero(nonempty & ~pfor)
    data[off[vs]] = TAG_VARINT
    vi = _ranges(first[vs], lens[vs])
    _put_varints(data, np.repeat(off[vs] + 1, lens[vs])
                 + _rank_in_seg(nb[vi], lens[vs]), v[vi], nb[vi])

    # PFOR streams: tag, width, exception count (2 bytes), exception
    # positions, the packed low bits, the exceptions' varint high bits
    ps = np.flatnonzero(pfor)
    data[off[ps]] = TAG_PFOR
    data[off[ps] + 1] = width[ps]
    data[off[ps] + 2] = n_exc[ps] & 0xFF
    data[off[ps] + 3] = n_exc[ps] >> 8
    packed_at = off + 4 + n_exc
    packed_len = (lens * width + 7) // 8
    for b in np.unique(width[ps]):
        if b == 0:
            continue
        s_b = ps[width[ps] == b]
        # pad every stream to a multiple of 8 values, so each one packs
        # into whole bytes of its own
        n_pad = (lens[s_b] + 7) // 8 * 8
        low = np.zeros(int(n_pad.sum()), dtype=np.uint64)
        low[_ranges(_starts(n_pad), lens[s_b])] = \
            v[_ranges(first[s_b], lens[s_b])] & np.uint64((1 << int(b)) - 1)
        # each value's low b bits, least significant first, in a row
        bits = np.unpackbits(low.view(np.uint8).reshape(-1, 8)
                             [:, :(b + 7) // 8], axis=1,
                             bitorder="little")[:, :b]
        packed = np.packbits(bits.ravel(), bitorder="little")
        data[_ranges(packed_at[s_b], packed_len[s_b])] = \
            packed[_ranges(_starts(n_pad) * b // 8, packed_len[s_b])]
    es = np.flatnonzero(n_exc)
    vi = _ranges(first[es], lens[es])
    w_rep = np.repeat(width[es], lens[es])
    exc = bl[vi] > w_rep
    data[(np.repeat(off[es] + 4, lens[es])
          + _rank_in_seg(exc, lens[es]))[exc]] = \
        (vi - np.repeat(first[es], lens[es]))[exc]
    high = v[vi[exc]] >> w_rep[exc].astype(np.uint64)
    h_nb = _varint_nbytes(_bitlen(high))
    _put_varints(data, np.repeat((packed_at + packed_len)[es], n_exc[es])
                 + _rank_in_seg(h_nb, n_exc[es]), high, h_nb)
    return data, offsets


def decode_streams(data: np.ndarray, offsets: np.ndarray, lens
                   ) -> np.ndarray:
    """Segmented inverse of ``encode_streams``: stream i is
    ``data[offsets[i]:offsets[i + 1]]`` (uint8) and holds ``lens[i]``
    values -> the concatenated uint64 values."""
    offsets = np.asarray(offsets, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    n_streams = len(lens)
    start, end = offsets[:-1], offsets[1:]
    nonempty = lens > 0
    tag = np.zeros(n_streams, dtype=np.uint8)
    tag[nonempty] = data[start[nonempty]]
    known = np.isin(tag[nonempty], (TAG_VARINT, TAG_PFOR))
    if not known.all():
        raise ValueError("unknown stream codec tag "
                         f"{int(tag[nonempty][~known][0]):#x}")
    first = _starts(lens)
    out = np.zeros(int(lens.sum()), dtype=np.uint64)

    vs = np.flatnonzero(tag == TAG_VARINT)
    out[_ranges(first[vs], lens[vs])] = varint_decode(
        data[_ranges(start[vs] + 1, end[vs] - start[vs] - 1)])

    ps = np.flatnonzero(tag == TAG_PFOR)
    width = np.zeros(n_streams, dtype=np.int64)
    n_exc = np.zeros(n_streams, dtype=np.int64)
    width[ps] = data[start[ps] + 1]
    n_exc[ps] = data[start[ps] + 2] | (data[start[ps] + 3].astype(np.int64) << 8)
    packed_at = start + 4 + n_exc
    packed_len = (lens * width + 7) // 8
    for b in np.unique(width[ps]):
        if b == 0:
            continue
        s_b = ps[width[ps] == b]
        n_pad = (lens[s_b] + 7) // 8 * 8
        buf = np.zeros(int(n_pad.sum()) * b // 8, dtype=np.uint8)
        buf[_ranges(_starts(n_pad) * b // 8, packed_len[s_b])] = \
            data[_ranges(packed_at[s_b], packed_len[s_b])]
        bits = np.unpackbits(buf, bitorder="little").reshape(-1, b)
        nbytes = (b + 7) // 8
        if b % 8:
            bits = np.pad(bits, ((0, 0), (0, nbytes * 8 - b)))
        word = np.zeros((len(bits), 8), dtype=np.uint8)
        word[:, :nbytes] = np.packbits(bits, axis=1, bitorder="little")
        vals = word.view("<u8").ravel()
        out[_ranges(first[s_b], lens[s_b])] = \
            vals[_ranges(_starts(n_pad), lens[s_b])]
    if n_exc.any():
        e = np.flatnonzero(n_exc)
        high_at = packed_at[e] + packed_len[e]
        high = varint_decode(data[_ranges(high_at, end[e] - high_at)])
        e_sid = np.repeat(e, n_exc[e])
        tgt = first[e_sid] + data[_ranges(start[e] + 4, n_exc[e])]
        out[tgt] |= high << width[e_sid].astype(np.uint64)
    return out


def encode_stream(values: np.ndarray) -> bytes:
    """uint64 array -> tagged bytes (one-stream ``encode_streams``)."""
    v = np.asarray(values, dtype=np.uint64)
    return encode_streams(v, [len(v)])[0].tobytes()


def decode_stream(buf: bytes, n: int) -> np.ndarray:
    """Tagged bytes -> uint64 array of exactly ``n`` values."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    tag = buf[0]
    if tag == TAG_VARINT:
        return varint_decode(buf[1:])
    if tag != TAG_PFOR:
        raise ValueError(f"unknown stream codec tag {tag:#x}")
    b = buf[1]
    n_exc = buf[2] | (buf[3] << 8)
    pos_end = 4 + n_exc
    exc_pos = np.frombuffer(buf[4:pos_end], dtype=np.uint8)
    packed_len = (n * b + 7) // 8
    if b:
        bits = np.unpackbits(
            np.frombuffer(buf[pos_end:pos_end + packed_len], np.uint8),
            count=n * b, bitorder="little").reshape(n, b)
        v = (bits.astype(np.uint64)
             << np.arange(b, dtype=np.uint64)).sum(axis=1).astype(np.uint64)
    else:
        v = np.zeros(n, dtype=np.uint64)
    if n_exc:
        high = varint_decode(buf[pos_end + packed_len:])
        v[exc_pos] |= high << np.uint64(b)
    return v


# ------------------------------------------------- blocks, Arrow columns

def block_layout(run_lens, block_size: int):
    """Cut concatenated runs into blocks of at most ``block_size``:
    -> (blocks per run, block lengths, block start offsets)."""
    run_lens = np.asarray(run_lens, dtype=np.int64)
    n_blocks = (run_lens + block_size - 1) // block_size
    run = np.repeat(np.arange(len(run_lens)), n_blocks)
    k = np.arange(int(n_blocks.sum()), dtype=np.int64) \
        - np.repeat(_starts(n_blocks), n_blocks)
    blen = np.minimum(block_size, run_lens[run] - k * block_size)
    return n_blocks, blen, _starts(blen)


def doc_gaps(u: np.ndarray, bstart: np.ndarray) -> np.ndarray:
    """Per block, the uint64 gaps after its first doc, concatenated."""
    d = np.empty(len(u), dtype=np.uint64)
    np.subtract(u[1:], u[:-1], out=d[1:])
    keep = np.ones(len(u), dtype=bool)
    keep[bstart] = False
    return d[keep]


def blocks_column(n_blocks, fields: list, streams: list):
    """-> Arrow ``list<struct>`` with one list of blocks per run.
    ``fields``: (name, Arrow array) per fixed-width field; ``streams``:
    (name, uint64 values, per-block lengths) per compressed field, all
    encoded in one ``encode_streams`` call, each becoming a binary
    column cut from the shared buffer."""
    import pyarrow as pa
    lens = [np.asarray(s[2], dtype=np.int64) for s in streams]
    data, offs = encode_streams(
        np.concatenate([np.asarray(s[1], dtype=np.uint64) for s in streams]),
        np.concatenate(lens))
    cols, at = [], 0
    for ln in lens:
        o = offs[at:at + len(ln) + 1]
        cols.append(pa.Array.from_buffers(
            pa.binary(), len(ln),
            [None, pa.py_buffer((o - o[0]).astype(np.int32)),
             pa.py_buffer(data[o[0]:o[-1]])]))
        at += len(ln)
    struct = pa.StructArray.from_arrays(
        [a for _, a in fields] + cols,
        names=[n for n, _ in fields] + [s[0] for s in streams])
    list_offs = np.zeros(len(n_blocks) + 1, dtype=np.int32)
    np.cumsum(n_blocks, out=list_offs[1:])
    return pa.ListArray.from_arrays(pa.array(list_offs, pa.int32()), struct)


def encode_runs(run_lens, doc: np.ndarray, tf: np.ndarray, dl: np.ndarray,
                block_size: int = BLOCK_SIZE):
    """Concatenated doc-sorted posting runs (run i holds ``run_lens[i]``
    postings) -> the postings ``blocks`` column as an Arrow
    ``list<struct{first_doc, last_doc, n, max_tf, docs, tfs, dls}>``,
    one list per run. ``docs`` holds the gaps after ``first_doc``. Each
    block decodes independently (skippable), and doc lengths (BM25
    norms) ride in the block so scoring needs no doc-stats join."""
    import pyarrow as pa
    assert len(doc) == len(tf) == len(dl)
    doc = np.asarray(doc, dtype=np.int64)
    tf = np.asarray(tf, dtype=np.int64)
    n_blocks, blen, bstart = block_layout(run_lens, block_size)
    max_tf = (np.maximum.reduceat(tf, bstart) if len(bstart)
              else np.empty(0, np.int64))
    return blocks_column(n_blocks, [
        ("first_doc", pa.array(doc[bstart], pa.int64())),
        ("last_doc", pa.array(doc[bstart + blen - 1], pa.int64())),
        ("n", pa.array(blen, pa.int32())),
        ("max_tf", pa.array(max_tf, pa.int32())),
    ], [
        ("docs", doc_gaps(to_u64(doc), bstart), blen - 1),
        ("tfs", tf, blen),
        ("dls", dl, blen),
    ])


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                  block_size: int = BLOCK_SIZE) -> list[dict]:
    """One sorted run -> list of block dicts (one-run ``encode_runs``)."""
    return encode_runs([len(doc_ids)], doc_ids, tfs, dls,
                       block_size).to_pylist()[0]


def unpack_blocks(blocks):
    """Arrow ``list<struct>`` blocks column -> (input row of each block,
    {field: numpy array, or (uint8 data, int64 offsets) for binary})."""
    import pyarrow as pa
    if isinstance(blocks, pa.ChunkedArray):
        blocks = blocks.combine_chunks()
    per_row = np.diff(blocks.offsets.to_numpy())
    struct = blocks.flatten()
    out = {}
    for f, a in zip(struct.type, struct.flatten()):
        if pa.types.is_binary(f.type):
            bufs = a.buffers()
            offs = np.frombuffer(bufs[1], np.int32, count=len(a) + 1,
                                 offset=a.offset * 4).astype(np.int64)
            data = (np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None
                    else np.empty(0, np.uint8))
            out[f.name] = (data, offs)
        else:
            out[f.name] = a.to_numpy(zero_copy_only=False).astype(np.int64)
    return np.repeat(np.arange(len(per_row), dtype=np.int64), per_row), out


def block_docs(first_doc: np.ndarray, n: np.ndarray, gaps: np.ndarray
               ) -> np.ndarray:
    """Per-block first doc + gaps -> the blocks' int64 doc ids, by a
    segmented cumulative sum (uint64 wraparound is exact)."""
    u = np.empty(int(n.sum()), dtype=np.uint64)
    bstart = _starts(n)
    first = np.zeros(len(u), dtype=bool)
    first[bstart] = True
    u[bstart] = to_u64(first_doc)
    u[~first] = gaps
    c = np.cumsum(u)
    return from_u64(c - np.repeat(c[bstart] - u[bstart], n))


def decode_runs(blocks) -> tuple[np.ndarray, np.ndarray, np.ndarray,
                                 np.ndarray]:
    """Arrow postings ``blocks`` column -> flat int64 (row, doc, tf, dl)
    over all rows at once; ``row`` is the input row of each posting."""
    row, f = unpack_blocks(blocks)
    n = f["n"]
    doc = block_docs(f["first_doc"], n, decode_streams(*f["docs"], n - 1))
    tf = decode_streams(*f["tfs"], n).astype(np.int64)
    dl = decode_streams(*f["dls"], n).astype(np.int64)
    return np.repeat(row, n), doc, tf, dl


def _field(block, name):
    return block[name] if isinstance(block, dict) else getattr(block, name)


def decode_block(block) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """block (dict or Row) -> (doc_ids int64 asc, tfs int64, dls int64)."""
    n = int(_field(block, "n"))
    gaps = decode_stream(bytes(_field(block, "docs")), n - 1)
    u = np.empty(n, dtype=np.uint64)
    u[0] = to_u64(np.array([_field(block, "first_doc")], dtype=np.int64))[0]
    if len(gaps):
        np.cumsum(gaps, out=u[1:])
        u[1:] += u[0]
    tfs = decode_stream(bytes(_field(block, "tfs")), n).astype(np.int64)
    dls = decode_stream(bytes(_field(block, "dls")), n).astype(np.int64)
    return from_u64(u), tfs, dls


def decode_blocks(blocks) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    if blocks is None or len(blocks) == 0:
        z = np.empty(0, np.int64)
        return z, z, z
    parts = [decode_block(b) for b in blocks]
    return (np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]))
