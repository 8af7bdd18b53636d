"""Posting-block codec: frame-of-reference bit packing, numpy-vectorized.

A posting block packs the ``n`` postings (up to ``block_size``) of one
(term, salt) segment, sorted by strictly increasing doc_id, into one
self-describing payload:

    header : varint(first doc id) varint(tf_min) varint(dl_min)
             varint(wd | wl << 6 | wt << 12)               only when n > 1
    body   : (n-1) doc gaps - 1, at wd bits each
             n x (tf - tf_min), at wt bits each
             n x (dl - dl_min), at wl bits each

Header varints are LEB128. The body is bit-packed LSB first (value bit ``i``
at body bit ``p + i``; bit ``p`` is bit ``p % 8`` of byte ``p // 8``) and
zero-padded to a whole byte; each width is the bit length of the block's
largest value in that stream, so a stream of equal values (every tf 1,
consecutive doc ids) costs no body bits. A singleton block is its header
alone. The payload does not carry ``n``: decoders take it from the block
metadata (``n_postings``).

tf and dl are stored (not precomputed float contributions), so the exact
float64 BM25 contribution is recomputed at decode time from (tf, dl, idf,
avgdl) with the reference's expression shape (see ``contribs``), which keeps
scores bit-identical to the oracle. Measured on the benchmark's seed-1
indexes (``perfbench``): 1.94 B/posting on ``serve`` (5k Zipf docs), 2.54
on ``ingest`` (3k docs, 30k-term vocabulary, stopwords removed).

Encode and decode work on whole batches of blocks with array operations:
no Python runs per block or per posting. ``encode_segments`` cuts many
segments into blocks and returns every payload as one data buffer plus
offsets (an Arrow ``BinaryArray`` layout); ``decode_blocks_batch`` parses
every header of a batch at once and unpacks the bodies with one unaligned
64-bit gather per stream value.
"""

from __future__ import annotations

from typing import NamedTuple, Tuple

import numpy as np
import pyarrow as pa

# bit length of x = number of these <= x (exact for all non-negative int64)
_POW2 = np.left_shift(1, np.arange(63, dtype=np.int64))
# LEB128 length of x = 1 + number of these <= x
_POW7 = np.left_shift(1, 7 * np.arange(1, 9, dtype=np.int64))
_K = np.arange(10, dtype=np.int64)
_SHIFT7 = 7 * _K
_WEIGHT7 = np.left_shift(1, _SHIFT7[:9])
# widths word: wd | wl << 6 | wt << 12; rows of the stream arrays are
# (doc gaps, tf, dl), so these shift it to (wd, wt, wl)
_W_SHIFT = np.array([[0], [12], [6]], dtype=np.int64)
# the gap stream holds n - 1 values, tf and dl n each
_GAP_ROW = np.array([[1], [0], [0]], dtype=np.int64)
_FIELD_NO = np.arange(1, 5, dtype=np.int64)
_MASKS = np.left_shift(1, np.arange(64, dtype=np.int64)) - 1
_MASKS[63] = np.iinfo(np.int64).max
# zero bytes after the last payload: the decoder reads 8 (+1) bytes at any
# value's byte offset, and the 4th header field of a trailing singleton
# block (read, then ignored) and its byte window must lie inside the buffer
_PAD = 24
_PAD_BYTES = bytes(_PAD)


class EncodedBlocks(NamedTuple):
    """Blocks of a batch of segments: block ``i`` holds postings
    ``starts[i]:starts[i + 1]`` of the input and is block ``block_id[i]`` of
    its segment; its payload is ``data[offsets[i]:offsets[i + 1]]``."""

    starts: np.ndarray  # int64, n_blocks + 1
    block_id: np.ndarray  # int64
    offsets: np.ndarray  # int64, n_blocks + 1
    data: np.ndarray  # uint8


def _encode(ids: np.ndarray, tfs, dls, lo: np.ndarray):
    """(offsets, data) of the blocks starting at postings ``lo`` (each runs
    to the next start, the last to the end)."""
    n_total, n_blocks = ids.size, lo.size
    n = np.empty(n_blocks, dtype=np.int64)
    np.subtract(lo[1:], lo[:-1], out=n[:-1])
    n[-1] = n_total - lo[-1]

    # the three streams: doc gaps - 1 (0 at each block start, whose id is a
    # header base), tf, dl; each stored minus its block's base
    x = np.empty((3, n_total), dtype=np.int64)
    np.subtract(ids[1:], ids[:-1], out=x[0, 1:])
    x[0] -= 1
    x[0, lo] = 0
    x[1] = tfs
    x[2] = dls
    base = np.minimum.reduceat(x, lo, axis=1)
    if base.min() < 0 or ids[0] < 0:
        raise ValueError(
            "posting blocks need non-negative values and strictly increasing "
            "doc ids within a segment"
        )
    base[0] = 0
    w = np.searchsorted(_POW2, np.maximum.reduceat(x, lo, axis=1) - base, side="right")

    # header: four varint fields per block, the 4th absent if n == 1
    fields = np.empty((n_blocks, 4), dtype=np.int64)
    fields[:, 0] = ids[lo]
    fields[:, 1:3] = base[1:].T
    fields[:, 3] = w[0] | w[2] << 6 | w[1] << 12
    flen = np.searchsorted(_POW7, fields, side="right") + 1
    flen[:, 3] *= n > 1
    fend = np.cumsum(flen, axis=1)
    sizes = w * (n - _GAP_ROW)  # body bits of each stream
    ends = np.cumsum(sizes, axis=0)
    offsets = np.zeros(n_blocks + 1, dtype=np.int64)
    np.cumsum(fend[:, 3] + (ends[2] + 7 >> 3), out=offsets[1:])

    # body: each value's bit position (bi: its block); the gap stream's
    # block-start placeholder is 0 with width 0
    body0 = 8 * (offsets[:-1] + fend[:, 3])
    origin = body0 + ends - sizes
    origin[0] -= w[0]
    bi = np.repeat(np.arange(n_blocks), n)
    width = np.take(w, bi, axis=1)
    width[0, lo] = 0
    bitpos = np.take(origin, bi, axis=1) + (np.arange(n_total) - lo[bi]) * width
    bitpos[0, lo] = body0
    x -= np.take(base, bi, axis=1)
    # a value shifted to its bit offset spans at most 9 bytes: the low 8
    # little-endian bytes of x << s, then x >> (64 - s). Fields never
    # overlap, so summing the bytes that land on one output byte ORs them
    shift = bitpos & 7
    shifted = np.empty((3, n_total, 2), dtype="<i8")
    shifted[..., 0] = x << shift
    shifted[..., 1] = x >> 64 - shift
    dest = (bitpos >> 3)[..., None] + _K[:9]
    nbytes = int(offsets[-1])
    data = np.bincount(
        dest.ravel(), weights=shifted.view(np.uint8)[..., :9].ravel(),
        minlength=nbytes + 9,
    )[:nbytes].astype(np.uint8)

    # header bytes: 7 value bits each, the high bit set on all but the last
    # byte of a field
    k = _K[: int(flen.max())]
    win = fields[:, :, None] >> _SHIFT7[: k.size] & 0x7F | (k < flen[:, :, None] - 1) << 7
    keep = k < flen[:, :, None]
    data[((offsets[:-1, None] + fend - flen)[:, :, None] + k)[keep]] = win[keep]
    return offsets, data


def encode_segments(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    seg_starts: np.ndarray,
    block_size: int,
) -> EncodedBlocks:
    """Encode every segment of a batch in one vectorized pass.

    The postings of segment ``k`` are ``seg_starts[k]:seg_starts[k + 1]``
    (the last one runs to the end); within a segment doc ids are strictly
    increasing. Each segment is cut into blocks of ``block_size`` postings
    from its start, and every block gets the payload layout of the module
    docstring. Doc ids, tf and dl must be non-negative."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    seg = np.asarray(seg_starts, dtype=np.int64)
    seg_len = np.empty_like(seg)
    np.subtract(seg[1:], seg[:-1], out=seg_len[:-1])
    seg_len[-1:] = ids.size - seg[-1:]
    nblk = -(-seg_len // block_size)
    block_id = np.arange(int(nblk.sum()), dtype=np.int64) - np.repeat(
        np.cumsum(nblk) - nblk, nblk
    )
    lo = np.repeat(seg, nblk) + block_id * block_size
    starts = np.append(lo, ids.size)
    if lo.size == 0:
        return EncodedBlocks(starts, block_id, np.zeros(1, np.int64), np.zeros(0, np.uint8))
    return EncodedBlocks(starts, block_id, *_encode(ids, tfs, dls, lo))


def encode_blocks_batch(
    doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray, block_size: int
):
    """Encode ONE (term, salt) segment into blocks of ``block_size``
    postings. A doc id that does not exceed its predecessor (several
    segments passed as one) starts a new run, cut into blocks like a
    segment of its own.

    -> list of (payload bytes, start_index, end_index) per block."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    runs = np.flatnonzero(ids[1:] <= ids[:-1]) + 1
    enc = encode_segments(ids, tfs, dls, np.append(0, runs), block_size)
    buf, o, s = enc.data.tobytes(), enc.offsets.tolist(), enc.starts.tolist()
    return [(buf[o[i] : o[i + 1]], s[i], s[i + 1]) for i in range(len(o) - 1)]


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> bytes:
    """One block of all the given postings (doc ids strictly increasing)."""
    return encode_blocks_batch(doc_ids, tfs, dls, max(1, len(doc_ids)))[0][0]


def _buffers(payloads):
    """(zero-padded uint8 data, int64 start offset of each payload) of a
    list of payload bytes or an Arrow binary array."""
    if not isinstance(payloads, pa.Array):
        lens = np.fromiter(map(len, payloads), np.int64, len(payloads))
        data = np.frombuffer(b"".join([*payloads, _PAD_BYTES]), np.uint8)
        return data, np.cumsum(lens) - lens
    large = pa.types.is_large_binary(payloads.type)
    _, offs, body = payloads.buffers()
    offs = np.frombuffer(
        offs, dtype=np.int64 if large else np.int32,
        count=len(payloads) + 1, offset=payloads.offset * (8 if large else 4),
    ).astype(np.int64)
    data = np.zeros(int(offs[-1] - offs[0]) + _PAD, np.uint8)
    if body is not None:
        data[: data.size - _PAD] = np.frombuffer(body, np.uint8)[offs[0] : offs[-1]]
    return data, offs[:-1] - offs[0]


def decode_blocks_batch(payloads, n_postings) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blocks at once.

    ``payloads``: a list of payload bytes or an Arrow binary array;
    ``n_postings``: the posting count of each block (block metadata).
    -> (doc_ids, tfs, dls) as int64, concatenated in payload order.

    Header fields end at bytes whose high bit is clear: with a running count
    of those bytes, one ``searchsorted`` finds the ends of all four fields
    of every block (a singleton block's 4th is read past its end, then
    ignored). Body values are read with one gather of unaligned 64-bit
    little-endian words, shifted and masked to their widths."""
    data, starts = _buffers(payloads)
    n = np.asarray(n_postings, dtype=np.int64)
    pend = np.cumsum(n)
    n_total = int(pend[-1]) if pend.size else 0
    if n_total == 0:
        e = np.zeros(0, np.int64)
        return e, e, e
    pstart = pend - n

    # header fields: ends[b, f] is the byte completing field f of block b
    stops = np.zeros(data.size + 1, np.int64)
    np.cumsum(data < 0x80, out=stops[1:])
    ends = np.searchsorted(stops, stops[starts][:, None] + _FIELD_NO) - 1
    fstart = np.empty_like(ends)
    fstart[:, 0] = starts
    fstart[:, 1:] = ends[:, :3] + 1
    flen = ends - fstart + 1
    k = _K[: int(flen.max())]
    win = data[fstart[:, :, None] + k] & 0x7F
    fields = (win * (k < flen[:, :, None])) @ _WEIGHT7[: k.size]
    multi = n > 1
    w = fields[:, 3] * multi >> _W_SHIFT & 63

    # body: bit origin of each block's three streams, then per posting (bi:
    # its block) the stream values' bit positions and widths; the gap
    # stream's block-start placeholder has width 0 (the first block's may
    # point before the buffer: it reads a wrapped-around word, masked away)
    sizes = w * (n - _GAP_ROW)
    origin = 8 * (np.where(multi, ends[:, 3], ends[:, 2]) + 1) + (
        np.cumsum(sizes, axis=0) - sizes
    )
    origin[0] -= w[0]
    bi = np.repeat(np.arange(n.size), n)
    width = np.take(w, bi, axis=1)
    width[0, pstart] = 0
    bitpos = np.take(origin, bi, axis=1) + (np.arange(n_total) - pstart[bi]) * width
    words = np.ndarray((data.size - 7,), dtype="<i8", buffer=data, strides=(1,))
    shift = bitpos & 7
    vals = np.take(words, bitpos >> 3) >> shift
    if w.max() > 56:  # a value may reach into a 9th byte
        wide = width + shift > 64
        keep = 64 - shift[wide]  # bits the word supplied (the rest is sign)
        extra = data[(bitpos[wide] >> 3) + 8].astype(np.int64)
        vals[wide] = vals[wide] & _MASKS[keep] | extra << keep
    vals &= np.take(_MASKS, width)
    base = np.empty((3, n.size), dtype=np.int64)
    base[0] = 1  # doc gap = stored value + 1
    base[1:] = fields[:, 1:3].T
    vals += np.take(base, bi, axis=1)
    c = np.cumsum(vals[0])
    doc_ids = c + (fields[:, 0] - c[pstart])[bi]
    return doc_ids, vals[1], vals[2]


def decode_block(payload: bytes, n_postings: int) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """-> (doc_ids int64 sorted, tf int64, dl int64) of one block."""
    return decode_blocks_batch([payload], [n_postings])


def contribs(
    tf: np.ndarray, dl: np.ndarray, idf: float, avgdl: float, k1: float, b: float
) -> np.ndarray:
    """Exact per-posting BM25 term contribution, float64.

    Mirrors the reference's vectorized expression shape
    (similarities/utils/rank_bm25.py:110-113): idf * (tf*(k1+1) /
    (tf + k1*(1 - b + b*dl/avgdl))) so results are bit-identical.
    """
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return idf * (tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)))
