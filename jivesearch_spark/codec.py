"""Posting-list codec: docID-delta + varint (LEB128), numpy-vectorized.

Postings are stored as fixed-size blocks (BLOCK_SIZE = 128 postings,
FIXTURES.md §4) of three parallel varint streams — docid deltas, term
frequencies, and doc lengths — plus block-max metadata
(first/last docid, max tf-norm) powering block-max WAND pruning at
query time. Carrying dl inside the block makes scoring self-contained:
no N-row doc-length broadcast at 10^12-doc scale.

On disk a block is ONE binary value, ``blk``: a fixed little-endian
header (``BLK_HEADER``: first_docid, last_docid, n_docs, max_score_ub
and the byte lengths of the deltas and tfs streams) followed by the
deltas, tfs and dls streams. A cold read's cost is per column chunk,
so one chunk carries all of a block's metadata and bytes, and the
reader parses a whole read's headers in one numpy gather
(``parse_blk``) and decodes straight from the Arrow values buffer
(``decode_blocks_concat``) — no per-block Python objects.

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
#: 2 = the packed ``blk`` layout (1 was one column per block field);
#: readers refuse an index written under another version
CODEC_VERSION = 2

#: the fixed header that starts every ``blk`` value; the dls stream
#: runs from the end of the tfs stream to the end of the value
BLK_HEADER = np.dtype([("first_docid", "<i8"), ("last_docid", "<i8"),
                       ("n_docs", "<i4"), ("max_score_ub", "<f8"),
                       ("n_deltas", "<i4"), ("n_tfs", "<i4")])
HEADER_BYTES = BLK_HEADER.itemsize


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
    encoded in ONE vectorized pass over the whole frame and packed into
    ``blk`` values by byte offsets (``pack_blocks``) — the encode-side
    analog of ``decode_blocks_concat``. Each value is
    ``pack_block`` of the matching per-block ``encode_blocks`` row.

    Returns (block_starts, block_meta dict of arrays, blk values,
    blk offsets) where block_meta has block_id, first_docid,
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

    streams = []
    for stream in (deltas, np.asarray(tfs, dtype=np.uint64),
                   np.asarray(dls, dtype=np.uint64)):
        buf = np.frombuffer(varint_encode(stream), dtype=np.uint8)
        ends = np.concatenate([[0], np.cumsum(varint_lengths(stream))])
        streams.append((buf, ends[np.append(block_starts, n)]))
    values, offsets = pack_blocks(meta["first_docid"], meta["last_docid"],
                                  meta["n_docs"], meta["max_score_ub"],
                                  streams)
    return block_starts, meta, values, offsets


def pack_blocks(first_docid, last_docid, n_docs, max_score_ub, streams):
    """Pack blocks into ``blk`` values → (values uint8, offsets int64
    of n+1). ``streams`` is the (buf, bounds) pair of deltas, tfs and
    dls: ``buf`` holds that stream for every block in order and block
    i's bytes are ``buf[bounds[i]:bounds[i + 1]]``. Vectorized: one
    header array and one scatter per stream, no per-block Python."""
    n = len(n_docs)
    hdr = np.empty(n, dtype=BLK_HEADER)
    hdr["first_docid"] = first_docid
    hdr["last_docid"] = last_docid
    hdr["n_docs"] = n_docs
    hdr["max_score_ub"] = max_score_ub
    lens = [np.diff(bounds) for _, bounds in streams]
    hdr["n_deltas"], hdr["n_tfs"] = lens[0], lens[1]
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(HEADER_BYTES + lens[0] + lens[1] + lens[2], out=offsets[1:])
    values = np.empty(int(offsets[-1]), dtype=np.uint8)
    values[(offsets[:-1, None] + np.arange(HEADER_BYTES)).ravel()] = \
        hdr.view(np.uint8)
    at = offsets[:-1] + HEADER_BYTES      # where block i's next stream goes
    for (buf, bounds), ln in zip(streams, lens):
        # byte j of stream s (block i) lands at at[i] + j - bounds[i]
        values[np.repeat(at - bounds[:-1], ln)
               + np.arange(bounds[0], bounds[-1])] = buf[bounds[0]:bounds[-1]]
        at = at + ln
    return values, offsets


def pack_block(row: dict) -> bytes:
    """One ``blk`` value from a logical block row (``encode_blocks``
    output) — the per-block reference ``pack_blocks`` must match."""
    hdr = np.zeros(1, dtype=BLK_HEADER)
    for f in ("first_docid", "last_docid", "n_docs", "max_score_ub"):
        hdr[f] = row[f]
    hdr["n_deltas"], hdr["n_tfs"] = len(row["deltas"]), len(row["tfs"])
    return hdr.tobytes() + row["deltas"] + row["tfs"] + row["dls"]


def unpack_block(blk: bytes) -> dict:
    """Inverse of ``pack_block``: the logical fields of one value."""
    h = np.frombuffer(blk[:HEADER_BYTES], dtype=BLK_HEADER)[0]
    t0 = HEADER_BYTES + int(h["n_deltas"])
    t1 = t0 + int(h["n_tfs"])
    return {"first_docid": int(h["first_docid"]),
            "last_docid": int(h["last_docid"]),
            "n_docs": int(h["n_docs"]),
            "max_score_ub": float(h["max_score_ub"]),
            "deltas": bytes(blk[HEADER_BYTES:t0]),
            "tfs": bytes(blk[t0:t1]), "dls": bytes(blk[t1:])}


def blk_array(values: np.ndarray, offsets: np.ndarray):
    """``pack_blocks`` output as an Arrow binary array (no copy of the
    values)."""
    import pyarrow as pa
    if offsets[-1] > np.iinfo(np.int32).max:
        raise OverflowError("blk values exceed one Arrow binary array; "
                            "encode fewer groups per batch")
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(values)])


def blk_buffers(arr):
    """(values uint8, offsets int64 of n+1) views of an Arrow binary
    column (chunked or sliced; a chunked one is combined first)."""
    import pyarrow as pa
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.chunk(0) if arr.num_chunks == 1 else arr.combine_chunks()
    n = len(arr)
    _, obuf, vbuf = arr.buffers()
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    if obuf is None:   # an empty array may carry no buffers at all
        return np.empty(0, dtype=np.uint8), np.zeros(n + 1, dtype=np.int64)
    offsets = np.frombuffer(obuf, dtype=odt)[arr.offset:arr.offset + n + 1]
    values = (np.frombuffer(vbuf, dtype=np.uint8) if vbuf is not None
              else np.empty(0, dtype=np.uint8))
    return values, offsets.astype(np.int64)


def parse_blk(values: np.ndarray, lo: np.ndarray, hi: np.ndarray):
    """Headers of the ``blk`` values ``values[lo[i]:hi[i]]`` in one
    gather → (BLK_HEADER array, stream offsets (n, 4) int64: where each
    value's deltas, tfs and dls start, and where it ends)."""
    lo = np.asarray(lo, dtype=np.int64)
    hdr = values[lo[:, None] + np.arange(HEADER_BYTES)].view(
        BLK_HEADER).reshape(-1)
    so = np.empty((lo.size, 4), dtype=np.int64)
    so[:, 0] = lo + HEADER_BYTES
    so[:, 1] = so[:, 0] + hdr["n_deltas"]
    so[:, 2] = so[:, 1] + hdr["n_tfs"]
    so[:, 3] = hi
    return hdr, so


def decode_block(deltas: bytes, tfs: bytes, dls: bytes, n_docs: int):
    """Inverse of encode_blocks for one block → (docids, tfs, dls)."""
    d = varint_decode(deltas, n_docs).astype(np.int64)
    docids = np.cumsum(d)
    return docids, varint_decode(tfs, n_docs).astype(np.int64), \
        varint_decode(dls, n_docs).astype(np.int64)


def decode_blocks_concat(values: np.ndarray, so: np.ndarray, n_docs,
                         compact: bool = False):
    """Decode MANY blocks in one vectorized pass, straight from a
    ``blk`` values buffer: ``so`` holds each block's stream offsets
    (``parse_blk``), in the order the postings come out.

    One gather copies every block's deltas, then tfs, then dls bytes
    into one buffer. Varints are self-delimiting, so each stream's
    concatenation decodes as one stream; the per-block delta→docid
    cumsum is recovered as a segmented cumsum (global cumsum minus a
    per-block base). One numpy call per stream for the whole set of
    blocks — the serving/scoring hot path.

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
    so = np.asarray(so, dtype=np.int64)
    lo, hi = so[:, :3].T.ravel(), so[:, 1:].T.ravel()   # stream-major
    lens = hi - lo
    if lo.size == 3:   # one block: its three streams are one slice
        raw = values[lo[0]:hi[2]]
    else:
        raw = values[np.repeat(lo - (np.cumsum(lens) - lens), lens)
                     + np.arange(int(lens.sum()))]
    cut = np.cumsum(lens.reshape(3, -1).sum(axis=1))
    d = varint_decode(raw[:cut[0]], total, compact=compact)
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
    tfs = varint_decode(raw[cut[0]:cut[1]], total, compact=compact)
    dls = varint_decode(raw[cut[1]:cut[2]], total, compact=compact)
    if not compact:
        tfs = tfs.astype(np.int64)
        dls = dls.astype(np.int64)
    return docids, tfs, dls
