"""Posting-list codec: docID-delta + varint (LEB128), numpy-vectorized.

Postings are stored as fixed-size blocks (BLOCK_SIZE = 128 postings,
FIXTURES.md §4) of three parallel varint streams — docid deltas, term
frequencies, and doc lengths — plus block-max metadata
(first/last docid, max tf-norm) powering block-max WAND pruning at
query time. Carrying dl inside the block makes scoring self-contained:
no N-row doc-length broadcast at 10^12-doc scale.

Both encode and decode are vectorized over whole arrays (numpy byte
matrices), so the mapInArrow build and applyInArrow score kernels
stay Arrow-batch fast — no per-posting Python.

The reference itself never materializes posting lists (Lucene owns
them inside Elasticsearch, SURVEY.md §1.2); this layout is our
Spark-native equivalent, modeled on Lucene's doc-delta + vInt postings
format (public Lucene 7.x file-format docs).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128
CODEC_VERSION = 1


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes needed per value: ceil(bit_length / 7), min 1
    with np.errstate(divide="ignore"):
        bits = np.where(v == 0, 1, 64 - _clz64(v))
    nbytes = (bits + 6) // 7
    k = int(nbytes.max())
    # (n, k) matrix of 7-bit groups, little-endian
    mat = np.empty((v.size, k), dtype=np.uint8)
    shifted = v.copy()
    for j in range(k):
        mat[:, j] = (shifted & np.uint64(0x7F)).astype(np.uint8)
        shifted >>= np.uint64(7)
    # continuation bits on all but the last byte of each value
    cont = np.arange(k, dtype=np.uint64)[None, :] < (nbytes - 1)[:, None]
    mat |= cont.astype(np.uint8) << 7
    mask = np.arange(k, dtype=np.uint64)[None, :] < nbytes[:, None]
    return mat[mask].tobytes()


def varint_decode(buf: bytes, count: int, compact: bool = False) -> np.ndarray:
    """Decode ``count`` LEB128 values from ``buf`` (vectorized).

    Fast paths for the common shapes in posting data: all-1-byte
    streams (tfs, small deltas) decode with a single cast, and the
    multi-byte loop gathers only the still-active values per level
    instead of materializing a (count × max_len) matrix — the decode
    is the serving hot path (one call per posting stream per query).

    ``compact=True`` skips the uint64 widening where possible: an
    all-1-byte stream returns the zero-copy uint8 view of ``buf``
    itself (read-only). Bulk decode paths (millions of postings) use
    it to avoid an 8× memory-expansion pass; numpy arithmetic promotes
    the dtype as needed downstream.
    """
    if count == 0:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    if len(raw) == count:        # every value < 128: bytes ARE the values
        return raw if compact else raw.astype(np.uint64)
    if count < 4096:
        # small mixed stream (single-block decodes on the probe path):
        # the classic starts/lengths walk has fewer small-array ops
        # than the run-patching path below — temporaries are trivial
        # at this size, per-call overhead is what matters
        is_end = (raw & 0x80) == 0
        ends = np.flatnonzero(is_end)[:count]
        starts = np.empty(count, dtype=np.int64)
        starts[0] = 0
        starts[1:] = ends[:-1] + 1
        lengths = ends - starts + 1
        kmax = int(lengths.max())
        out = (raw[starts] & np.uint64(0x7F)).astype(np.uint64)
        active = np.flatnonzero(lengths > 1)
        idx = starts[active]
        for j in range(1, kmax):
            idx = idx + 1
            out[active] |= ((raw[idx] & np.uint64(0x7F)).astype(np.uint64)
                            << np.uint64(7 * j))
            if j + 1 < kmax:
                still = lengths[active] > j + 1
                active = active[still]
                idx = idx[still]
        return out
    # large mixed stream: pay O(multi-byte values), not O(values).
    # Posting streams are overwhelmingly 1-byte (only block-start
    # absolute docids and rare >127 gaps go long), so the hot path is:
    # start from the END byte of every value (1-byte values ARE their
    # end byte), then patch the few multi-byte values assembled from
    # the continuation-byte runs.
    cont = raw >= 0x80
    out = raw[~cont][:count].astype(np.uint64)
    cont_pos = np.flatnonzero(cont)
    if cont_pos.size:
        brk = np.flatnonzero(np.diff(cont_pos) > 1) + 1
        r0 = np.concatenate([[0], brk])          # run starts (in cont_pos)
        r1 = np.append(brk, cont_pos.size)       # run ends (exclusive)
        run_start = cont_pos[r0]                 # first byte of each value
        run_len = r1 - r0                        # continuation bytes
        val_idx = run_start - r0                 # value index of each run
        # torn-tail guards: value index past count, or a trailing
        # continuation run with no end byte
        keep = (val_idx < count) & (run_start + run_len < raw.size)
        run_start, run_len, val_idx = (run_start[keep], run_len[keep],
                                       val_idx[keep])
        vals = np.zeros(run_start.size, dtype=np.uint64)
        active = np.arange(run_start.size)
        j = 0
        while active.size:
            vals[active] |= ((raw[run_start[active] + j]
                              & np.uint8(0x7F)).astype(np.uint64)
                             << np.uint64(7 * j))
            j += 1
            active = active[run_len[active] > j]
        # the end byte (bit 7 clear) lands at shift 7·run_len
        vals |= (raw[run_start + run_len].astype(np.uint64)
                 << (np.uint64(7) * run_len.astype(np.uint64)))
        out[val_idx] = vals
    return out


def _clz64(v: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64 (vectorized via float64 exponent +
    correction; exact for all uint64)."""
    v = v.astype(np.uint64)
    bits = np.zeros(v.shape, dtype=np.int64)
    x = v.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = x >= (np.uint64(1) << np.uint64(shift))
        bits[mask] += shift
        x = np.where(mask, x >> np.uint64(shift), x)
    return 64 - (bits + 1)


def encode_blocks(docids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                  idf: float, k1: float = 1.2, b: float = 0.75,
                  avgdl: float = 1.0):
    """Split a docid-sorted posting list into BLOCK_SIZE blocks.

    Yields dict rows: block_id, first_docid, last_docid, n_docs,
    max_score_ub (idf × max tf-norm over the block — the block-max WAND
    bound), deltas/tfs/dls (varint bytes).
    """
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    n = docids.size
    tfn = (
        tfs * (k1 + 1.0)
        / (tfs + k1 * (1.0 - b + b * dls / max(avgdl, 1e-9)))
    )
    for b0 in range(0, n, BLOCK_SIZE):
        b1 = min(b0 + BLOCK_SIZE, n)
        d = docids[b0:b1]
        deltas = np.empty(b1 - b0, dtype=np.uint64)
        deltas[0] = d[0]
        deltas[1:] = np.diff(d).astype(np.uint64)
        yield {
            "block_id": b0 // BLOCK_SIZE,
            "first_docid": int(d[0]),
            "last_docid": int(d[-1]),
            "n_docs": int(b1 - b0),
            "max_score_ub": float(idf * tfn[b0:b1].max()),
            "deltas": varint_encode(deltas),
            "tfs": varint_encode(tfs[b0:b1].astype(np.uint64)),
            "dls": varint_encode(dls[b0:b1].astype(np.uint64)),
        }


def varint_lengths(values: np.ndarray) -> np.ndarray:
    """Encoded byte length of each value (LEB128): ceil(bitlen/7)."""
    v = np.asarray(values, dtype=np.uint64)
    bits = np.where(v == 0, 1, 64 - _clz64(v))
    return (bits + 6) // 7


def encode_blocks_frame(docids: np.ndarray, tfs: np.ndarray,
                        dls: np.ndarray, scores: np.ndarray,
                        group_starts: np.ndarray):
    """Encode MANY posting lists (one sorted frame of groups) at once.

    ``group_starts`` marks each (term, shard) group's first row; every
    group is split into BLOCK_SIZE blocks. All three varint streams are
    encoded in ONE vectorized pass over the whole frame, then sliced
    per block by cumulative byte offsets — the encode-side analog of
    ``decode_blocks_concat`` (3 numpy passes instead of 3 calls per
    block). Byte output is identical to per-block ``encode_blocks``.

    Returns (block_starts, block_meta dict of arrays, deltas/tfs/dls
    byte lists) where block_meta has block_id, first_docid,
    last_docid, n_docs, max_score_ub.
    """
    n = docids.size
    docids = np.asarray(docids, dtype=np.int64)
    sizes = np.diff(np.append(group_starts, n))
    offset_in_group = np.arange(n) - np.repeat(group_starts, sizes)
    is_block_start = (offset_in_group % BLOCK_SIZE) == 0
    block_starts = np.flatnonzero(is_block_start)
    block_ends = np.append(block_starts[1:], n)

    meta = {
        "block_id": (offset_in_group[block_starts] // BLOCK_SIZE).astype(np.int64),
        "first_docid": docids[block_starts],
        "last_docid": docids[block_ends - 1],
        "n_docs": (block_ends - block_starts).astype(np.int64),
        "max_score_ub": np.maximum.reduceat(scores, block_starts),
    }

    deltas = docids.astype(np.uint64).copy()
    deltas[1:] = (docids[1:] - docids[:-1]).astype(np.uint64)
    deltas[block_starts] = docids[block_starts].astype(np.uint64)

    out_bytes = []
    for stream in (deltas, np.asarray(tfs, dtype=np.uint64),
                   np.asarray(dls, dtype=np.uint64)):
        buf = varint_encode(stream)
        ends = np.cumsum(varint_lengths(stream))
        b0 = np.empty(block_starts.size, dtype=np.int64)
        b0[0] = 0
        b0[1:] = ends[block_starts[1:] - 1]
        b1 = ends[block_ends - 1]
        out_bytes.append([buf[i:j] for i, j in zip(b0, b1)])

    return block_starts, meta, out_bytes[0], out_bytes[1], out_bytes[2]


def decode_block(deltas: bytes, tfs: bytes, dls: bytes, n_docs: int):
    """Inverse of encode_blocks for one block → (docids, tfs, dls)."""
    d = varint_decode(deltas, n_docs).astype(np.int64)
    docids = np.cumsum(d)
    return docids, varint_decode(tfs, n_docs).astype(np.int64), \
        varint_decode(dls, n_docs).astype(np.int64)


def decode_blocks_concat(deltas_bufs, tfs_bufs, dls_bufs, n_docs,
                         compact: bool = False):
    """Decode MANY blocks in one vectorized pass.

    Varints are self-delimiting, so the concatenation of per-block
    byte streams decodes as one stream; the per-block delta→docid
    cumsum is recovered as a segmented cumsum (global cumsum minus a
    per-block base). One numpy call per posting list instead of one
    per 128-posting block — the serving/scoring hot path.

    ``compact=True`` keeps tf/dl in their minimal decoded dtype
    (uint8 view for the common all-1-byte streams — no 8× widening
    pass) and skips the docids' int64 re-materialization; values are
    identical, only dtypes differ (docids stay int64).
    """
    n_docs = np.asarray(n_docs, dtype=np.int64)
    total = int(n_docs.sum())
    if total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    d = varint_decode(b"".join(deltas_bufs), total, compact=compact)
    # cumsum in int64 regardless of the decoded dtype (uint64 values
    # are < 2^61 so the signed view/cast is exact)
    csum = np.cumsum(d.view(np.int64) if d.dtype == np.uint64 else d,
                     dtype=np.int64)
    starts = np.empty(n_docs.size, dtype=np.int64)
    starts[0] = 0
    np.cumsum(n_docs[:-1], out=starts[1:])
    base = np.zeros(n_docs.size, dtype=np.int64)
    nz = starts > 0
    base[nz] = csum[starts[nz] - 1]
    docids = csum - np.repeat(base, n_docs)
    tfs = varint_decode(b"".join(tfs_bufs), total, compact=compact)
    dls = varint_decode(b"".join(dls_bufs), total, compact=compact)
    if not compact:
        tfs = tfs.astype(np.int64)
        dls = dls.astype(np.int64)
    return docids, tfs, dls
