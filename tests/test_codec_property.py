"""Property-based checks (hypothesis) for the posting-block codec:
delta+varint roundtrip over the FULL signed-64 doc_id domain (doc_id =
xxhash64 is signed; the 2M-doc capacity build serves negative ids),
arbitrary block sizes, and block-max metadata consistency."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pke_spark.index import codec

_doc_ids = st.lists(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    min_size=1, max_size=400, unique=True)


@settings(max_examples=150, deadline=None)
@given(_doc_ids, st.integers(min_value=1, max_value=37), st.randoms())
def test_roundtrip_any_int64_docs(ids, block_size, rnd):
    docs = np.array(sorted(ids), dtype=np.int64)
    tfs = np.array([rnd.randint(1, 10**6) for _ in docs], dtype=np.int64)
    dls = np.array([rnd.randint(1, 10**9) for _ in docs], dtype=np.int64)
    blocks = codec.encode_blocks(docs, tfs, dls, block_size=block_size)
    d2, t2, l2 = codec.decode_blocks(blocks)
    assert np.array_equal(d2, docs)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(l2, dls)


@settings(max_examples=80, deadline=None)
@given(_doc_ids, st.integers(min_value=1, max_value=37))
def test_blockmax_metadata_consistent(ids, block_size):
    """Per-block first/last/n/max_tf must describe exactly the block's
    decoded contents — WAND's pruning correctness rests on this."""
    docs = np.array(sorted(ids), dtype=np.int64)
    tfs = (np.arange(len(docs)) % 7 + 1).astype(np.int64)
    dls = np.full(len(docs), 42, dtype=np.int64)
    blocks = codec.encode_blocks(docs, tfs, dls, block_size=block_size)
    off = 0
    for b in blocks:
        n = b["n"]
        span_docs = docs[off:off + n]
        span_tfs = tfs[off:off + n]
        assert b["first_doc"] == int(span_docs[0])
        assert b["last_doc"] == int(span_docs[-1])
        assert b["max_tf"] == int(span_tfs.max())
        off += n
    assert off == len(docs)


_u64_vals = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=7),          # sub-byte widths
        st.integers(min_value=0, max_value=2**16 - 1),
        st.integers(min_value=0, max_value=2**64 - 1)), # full domain
    min_size=0, max_size=300)


@settings(max_examples=200, deadline=None)
@given(_u64_vals)
def test_stream_roundtrip_any_u64(vals):
    """encode_stream picks varint or PForDelta per stream; either way
    the roundtrip must be exact over the full uint64 domain, including
    adversarial mixes (tiny values + 2^63 outliers = PFOR exceptions)."""
    v = np.array(vals, dtype=np.uint64)
    buf = codec.encode_stream(v)
    out = codec.decode_stream(buf, len(v))
    assert np.array_equal(out, v)
    if len(v):
        assert buf[0] in (codec.TAG_VARINT, codec.TAG_PFOR)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=1, max_value=255),
       st.integers(min_value=0, max_value=6))
def test_stream_pfor_beats_varint_on_narrow_values(n, width):
    """The reason PFOR exists: n small-width values cost ~n*b bits
    packed vs >= 8n bits as varint. The cost model must actually pick
    it (and win) for uniform narrow streams of non-trivial length."""
    v = (np.arange(n, dtype=np.uint64) % (1 << width)).astype(np.uint64)
    buf = codec.encode_stream(v)
    assert np.array_equal(codec.decode_stream(buf, n), v)
    if n >= 32:
        assert buf[0] == codec.TAG_PFOR
        assert len(buf) < 1 + len(_oracle_varint(v))


# ---- cross-check against the per-stream encoder the segmented kernels
# replaced: a frozen copy (varint / PFOR size rule, one stream per call)

def _oracle_bitlen(v):
    bl = np.zeros(len(v), dtype=np.int64)
    m = v > 0
    if m.any():
        f = np.floor(np.log2(v[m].astype(np.float64))).astype(np.int64) + 1
        sh = np.minimum(f, 63).astype(np.uint64)
        f += ((v[m] >> sh) > 0) & (f < 64)
        f -= (v[m] >> np.maximum(f - 1, 0).astype(np.uint64)) == 0
        bl[m] = f
    return bl


def _oracle_varint(values):
    v = values.astype(np.uint64, copy=True)
    if len(v) == 0:
        return b""
    nb = np.ones(len(v), dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += (tmp > 0)
        tmp >>= np.uint64(7)
    pos = np.zeros(len(v), dtype=np.int64)
    np.cumsum(nb[:-1], out=pos[1:])
    out = np.zeros(int(nb.sum()), dtype=np.uint8)
    cur = v
    for i in range(int(nb.max())):
        mask = nb > i
        b = (cur[mask] & np.uint64(0x7F)).astype(np.uint8)
        b[(nb[mask] - 1) > i] |= 0x80
        out[pos[mask] + i] = b
        cur = cur >> np.uint64(7)
    return out.tobytes()


def _oracle_pfor_cost(n, b, bl):
    exc = bl > b
    if not exc.any():
        return 4 + (n * b + 7) // 8
    return (4 + (n * b + 7) // 8 + int(exc.sum())
            + int(((bl[exc] - b + 6) // 7).sum()))


def oracle_encode_stream(values):
    v = np.asarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    if n > 255:
        return bytes([codec.TAG_VARINT]) + _oracle_varint(v)
    bl = _oracle_bitlen(v)
    var_cost = 1 + int(np.maximum((bl + 6) // 7, 1).sum())
    b_max = int(bl.max())
    k = (n - 1) * 9 // 10
    b_p90 = int(np.partition(bl, k)[k])
    best_b, best_cost = None, var_cost
    for b in {min(b_max, 56), min(b_p90, 56)}:
        c = _oracle_pfor_cost(n, b, bl)
        if c < best_cost:
            best_b, best_cost = b, c
    if best_b is None:
        return bytes([codec.TAG_VARINT]) + _oracle_varint(v)
    b = best_b
    exc_idx = np.flatnonzero(bl > b)
    if b:
        low = v & np.uint64((1 << b) - 1)
        bits = ((low[:, None] >> np.arange(b, dtype=np.uint64))
                & np.uint64(1)).astype(np.uint8)
        packed = np.packbits(bits, bitorder="little").tobytes()
    else:
        packed = b""
    head = bytes([codec.TAG_PFOR, b, len(exc_idx) & 0xFF,
                  (len(exc_idx) >> 8) & 0xFF])
    exc_high = (_oracle_varint(v[exc_idx] >> np.uint64(b))
                if len(exc_idx) else b"")
    return head + exc_idx.astype(np.uint8).tobytes() + packed + exc_high


# 15 one-bit values and one two-bit value: PFOR at the max width (2)
# and at the p90 width (1, one exception) both cost 8 bytes
_TIE = [1] * 15 + [2]
EDGE_STREAMS = [
    [], [0], [5], [2**64 - 1], _TIE, [0] * 255, [1] * 255,
    [3] * 256, list(range(256)), [0, 2**63, 2**64 - 1, 1, 2**63 - 1],
    [2**64 - 1] * 255, [7] * 200 + [2**64 - 1] * 55,
]

_streams = st.lists(
    st.one_of(
        _u64_vals,
        st.lists(st.integers(min_value=0, max_value=3), min_size=250,
                 max_size=260),
        st.sampled_from(EDGE_STREAMS)),
    min_size=1, max_size=12)


def _flat(streams):
    lens = np.array([len(s) for s in streams], dtype=np.int64)
    vals = (np.concatenate([np.array(s, dtype=np.uint64) for s in streams])
            if lens.sum() else np.empty(0, np.uint64))
    return vals, lens


def test_pfor_width_tie_is_resolved_to_the_wider_width():
    buf = codec.encode_stream(np.array(_TIE, dtype=np.uint64))
    old = oracle_encode_stream(_TIE)
    assert buf[0] == old[0] == codec.TAG_PFOR
    assert len(buf) == len(old) == 8
    assert buf[1] == 2  # the max width, no exceptions
    assert np.array_equal(codec.decode_stream(buf, 16), _TIE)


@settings(max_examples=150, deadline=None)
@given(_streams)
def test_oracle_streams_decode_through_decode_streams(streams):
    """Streams the old encoder wrote (any index on disk) decode to the
    same values through the segmented decoder, many per call."""
    vals, lens = _flat(streams)
    bufs = [oracle_encode_stream(s) for s in streams]
    offs = np.zeros(len(bufs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in bufs], out=offs[1:])
    data = np.frombuffer(b"".join(bufs), np.uint8)
    assert np.array_equal(codec.decode_streams(data, offs, lens), vals)


@settings(max_examples=150, deadline=None)
@given(_streams)
def test_new_streams_decode_through_scalar_and_are_never_larger(streams):
    """Every stream the segmented encoder writes decodes through the
    kept scalar ``decode_stream`` (the serving path) and through
    ``decode_streams``, and is never larger than the old encoder's."""
    vals, lens = _flat(streams)
    data, offs = codec.encode_streams(vals, lens)
    assert np.array_equal(codec.decode_streams(data, offs, lens), vals)
    for s, a, b in zip(streams, offs[:-1], offs[1:]):
        buf = data[a:b].tobytes()
        assert np.array_equal(codec.decode_stream(buf, len(s)),
                              np.array(s, dtype=np.uint64))
        assert len(buf) <= len(oracle_encode_stream(s))
        assert buf == codec.encode_stream(np.array(s, dtype=np.uint64))


@pytest.mark.parametrize("stream", EDGE_STREAMS,
                         ids=lambda s: f"n{len(s)}")
def test_edge_streams_roundtrip_at_the_oracle_size(stream):
    v = np.array(stream, dtype=np.uint64)
    buf = codec.encode_stream(v)
    assert len(buf) == len(oracle_encode_stream(stream))
    assert np.array_equal(codec.decode_stream(buf, len(v)), v)


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=300), max_size=8),
       st.integers(min_value=1, max_value=40), st.randoms())
def test_runs_roundtrip_and_match_per_run_blocks(run_lens, block_size, rnd):
    """``encode_runs`` over concatenated runs equals one
    ``encode_blocks`` per run, and ``decode_runs`` gives back every
    posting with its input row."""
    docs, tfs, dls = [], [], []
    for n in run_lens:
        docs.append(np.array(sorted(rnd.sample(range(-2**40, 2**40), n)),
                             dtype=np.int64))
        tfs.append(np.array([rnd.randint(1, 50) for _ in range(n)],
                            dtype=np.int64))
        dls.append(np.array([rnd.randint(1, 10**6) for _ in range(n)],
                            dtype=np.int64))
    cat = [np.concatenate(x) if x else np.empty(0, np.int64)
           for x in (docs, tfs, dls)]
    col = codec.encode_runs(run_lens, *cat, block_size)
    assert col.to_pylist() == [codec.encode_blocks(d, t, l, block_size)
                               for d, t, l in zip(docs, tfs, dls)]
    row, d, t, l = codec.decode_runs(col)
    assert np.array_equal(row, np.repeat(np.arange(len(run_lens)),
                                         run_lens))
    for got, want in zip((d, t, l), cat):
        assert np.array_equal(got, want)
