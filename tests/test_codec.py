"""Frame-of-reference block codec: round trips, a pure-Python reference of
the payload layout, and the whole-batch paths against per-block ones."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from similarities_spark.index import codec


def _varint(v: int) -> bytes:
    out = bytearray()
    while True:
        low, v = v & 0x7F, v >> 7
        if not v:
            out.append(low)
            return bytes(out)
        out.append(low | 0x80)


def reference_block(ids, tfs, dls) -> bytes:
    """The payload layout of codec's module docstring, one Python int at a
    time: varint header, then the three streams bit-packed LSB first."""
    ids, tfs, dls = ([int(v) for v in a] for a in (ids, tfs, dls))
    tf_min, dl_min = min(tfs), min(dls)
    head = _varint(ids[0]) + _varint(tf_min) + _varint(dl_min)
    if len(ids) == 1:
        return head
    streams = (
        [b - a - 1 for a, b in zip(ids, ids[1:])],
        [t - tf_min for t in tfs],
        [d - dl_min for d in dls],
    )
    wd, wt, wl = (max(s).bit_length() for s in streams)
    acc = nbits = 0
    for values, width in zip(streams, (wd, wt, wl)):
        for v in values:
            acc |= v << nbits
            nbits += width
    return head + _varint(wd | wl << 6 | wt << 12) + acc.to_bytes((nbits + 7) // 8, "little")


def reference_decode(payload: bytes, n: int):
    """Per-block decode of ``reference_block``'s layout."""
    pos, fields = 0, []
    for _ in range(3 if n == 1 else 4):
        v = shift = 0
        while True:
            b = payload[pos]
            pos += 1
            v |= (b & 0x7F) << shift
            shift += 7
            if b < 0x80:
                break
        fields.append(v)
    first, tf_min, dl_min = fields[:3]
    w = fields[3] if n > 1 else 0
    wd, wl, wt = w & 63, (w >> 6) & 63, w >> 12
    acc, at = int.from_bytes(payload[pos:], "little"), 0

    def take(count, width):
        nonlocal at
        out = [(acc >> (at + i * width)) & ((1 << width) - 1) for i in range(count)]
        at += count * width
        return out

    gaps, tfs, dls = take(n - 1, wd), take(n, wt), take(n, wl)
    ids = [first]
    for g in gaps:
        ids.append(ids[-1] + g + 1)
    return ids, [t + tf_min for t in tfs], [d + dl_min for d in dls]


_POSTINGS = st.lists(
    st.tuples(
        st.one_of(st.integers(0, 3), st.integers(0, 2**40)),  # doc gap - 1
        st.one_of(st.just(1), st.integers(1, 2**31)),  # tf
        st.one_of(st.just(7), st.integers(1, 2**31)),  # dl
    ),
    min_size=1,
    max_size=300,
)


def _arrays(postings, first=0):
    gaps = np.array([p[0] for p in postings], dtype=np.int64)
    ids = np.cumsum(gaps + 1) - 1 + first
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    dls = np.array([p[2] for p in postings], dtype=np.int64)
    return ids, tfs, dls


@settings(max_examples=150, deadline=None)
@given(_POSTINGS, st.integers(1, 128), st.integers(0, 2**40))
def test_block_roundtrip_property(postings, block_size, first):
    """Every block size 1..128, widths from 0 (equal tf/dl, consecutive
    ids) up to 41-bit doc gaps and 31-bit tf/dl, singleton blocks: each
    payload equals the reference layout byte for byte and round-trips,
    alone and as a batch."""
    ids, tfs, dls = _arrays(postings, first)
    blocks = codec.encode_blocks_batch(ids, tfs, dls, block_size)
    for payload, lo, hi in blocks:
        assert payload == reference_block(ids[lo:hi], tfs[lo:hi], dls[lo:hi])
        d, t, l = codec.decode_block(payload, hi - lo)
        assert np.array_equal(d, ids[lo:hi])
        assert np.array_equal(t, tfs[lo:hi])
        assert np.array_equal(l, dls[lo:hi])
    counts = [hi - lo for _p, lo, hi in blocks]
    for payloads in ([p for p, _lo, _hi in blocks], pa.array([p for p, _lo, _hi in blocks])):
        d, t, l = codec.decode_blocks_batch(payloads, counts)
        assert np.array_equal(d, ids) and np.array_equal(t, tfs) and np.array_equal(l, dls)


def test_widest_values_roundtrip():
    """Values up to 63 bits reach into a 9th byte at most bit offsets."""
    ids = np.array([0, 2**40, 2**62, 2**63 - 1], dtype=np.int64)
    tfs = np.array([1, 2**62, 3, 2**31], dtype=np.int64)
    dls = np.array([2**63 - 1, 0, 5, 2**40], dtype=np.int64)
    for bs in (1, 2, 3, 4):
        blocks = codec.encode_blocks_batch(ids, tfs, dls, bs)
        for payload, lo, hi in blocks:
            assert payload == reference_block(ids[lo:hi], tfs[lo:hi], dls[lo:hi])
        d, t, l = codec.decode_blocks_batch([b[0] for b in blocks], [b[2] - b[1] for b in blocks])
        assert np.array_equal(d, ids) and np.array_equal(t, tfs) and np.array_equal(l, dls)


def test_non_increasing_doc_id_starts_a_new_run():
    """Several segments passed to encode_blocks_batch as one (doc ids drop
    or repeat) are cut into runs at each drop and round-trip."""
    ids = np.array([5, 9, 12, 3, 4, 100, 100, 7], dtype=np.int64)
    tfs = np.arange(1, 9, dtype=np.int64)
    dls = np.arange(8, dtype=np.int64) + 10
    blocks = codec.encode_blocks_batch(ids, tfs, dls, 2)
    assert [(lo, hi) for _p, lo, hi in blocks] == [(0, 2), (2, 3), (3, 5), (5, 6), (6, 7), (7, 8)]
    d, t, l = codec.decode_blocks_batch([p for p, _lo, _hi in blocks], [hi - lo for _p, lo, hi in blocks])
    assert np.array_equal(d, ids) and np.array_equal(t, tfs) and np.array_equal(l, dls)


def test_whole_batch_encoder_equals_per_segment():
    """encode_segments over many segments at once cuts and encodes the same
    blocks as encode_blocks_batch run segment by segment."""
    rng = np.random.default_rng(5)
    segs = []
    for _ in range(60):
        n = int(rng.integers(1, 400))
        ids = np.cumsum(rng.integers(1, int(rng.choice([2, 50, 10**6])), n))
        segs.append((ids, rng.integers(1, 9, n), rng.integers(1, 3000, n)))
    bs = 37
    enc = codec.encode_segments(
        *(np.concatenate([s[i] for s in segs]) for i in range(3)),
        np.cumsum([0] + [len(s[0]) for s in segs[:-1]]),
        bs,
    )
    want, want_ids = [], []
    for ids, tfs, dls in segs:
        blocks = codec.encode_blocks_batch(ids, tfs, dls, bs)
        want += [p for p, _lo, _hi in blocks]
        want_ids += list(range(len(blocks)))
    got = [enc.data[a:b].tobytes() for a, b in zip(enc.offsets[:-1], enc.offsets[1:])]
    assert got == want
    assert enc.block_id.tolist() == want_ids


@settings(max_examples=50, deadline=None)
@given(st.lists(_POSTINGS, min_size=1, max_size=20))
def test_batch_decode_equals_per_block(blocks):
    """decode_blocks_batch over many blocks equals the reference decode of
    each block."""
    payloads, counts, want = [], [], ([], [], [])
    for blk in blocks:
        ids, tfs, dls = _arrays(blk)
        payloads.append(codec.encode_block(ids, tfs, dls))
        counts.append(len(blk))
        for acc, part in zip(want, reference_decode(payloads[-1], len(blk))):
            acc.extend(part)
    got = codec.decode_blocks_batch(payloads, counts)
    for g, w in zip(got, want):
        assert g.tolist() == w


def test_contribs_matches_reference_expression():
    tf = np.array([1, 2, 5], dtype=np.int64)
    dl = np.array([10, 20, 7], dtype=np.int64)
    idf, avgdl, k1, b = 1.7, 12.5, 1.5, 0.75
    got = codec.contribs(tf, dl, idf, avgdl, k1, b)
    tf_f = tf.astype(np.float64)
    dl_f = dl.astype(np.float64)
    want = idf * (tf_f * (k1 + 1) / (tf_f + k1 * (1 - b + b * dl_f / avgdl)))
    assert np.array_equal(got, want)  # bit-identical
