"""The packed postings layout: one ``blk`` value per block (codec.pack_blocks,
header codec.BLK_HEADER) round-trips bit-for-bit through parquet,
``index.TermFiles`` and ``query._term_block_meta``, whatever the row
order, chunking or slicing of the Arrow table the parse receives.

Pure pyarrow + numpy (no Spark): rows are random logical blocks —
regular and impact-prefix (negative block_id) rows, streams of 1- to
10-byte varints, 128-posting blocks — written the way the build lays
them out (one term-sorted file per ``bucket=N`` directory, several row
groups each).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from jivesearch_spark import codec
from jivesearch_spark.hashing import term_bucket
from jivesearch_spark.index import TermFiles
from jivesearch_spark.query import _POSTING_COLS, _term_block_meta

N_BUCKETS = 4
POSTINGS = pa.schema([
    ("term", pa.string()), ("shard", pa.int32()), ("block_id", pa.int32()),
    ("blk", pa.binary())])


def _stream(rng, n, wide=False):
    """Varint bytes of n random uint64 values: widths spread over 1 to
    10 bytes, or all 10 bytes (≥ 2^63) when ``wide``."""
    v = (rng.integers(0, 1 << 32, size=n, dtype=np.uint64) << np.uint64(32)
         | rng.integers(0, 1 << 32, size=n, dtype=np.uint64))
    if wide:
        return codec.varint_encode(v | np.uint64(1 << 63))
    return codec.varint_encode(
        v >> rng.integers(0, 64, size=n).astype(np.uint64))


def _random_rows(rng, n_terms=12):
    """Logical rows (term, shard, block_id and the blk fields)."""
    rows = []
    for ti in range(n_terms):
        term = f"t{ti:02d}" + ("é" if ti % 5 == 0 else "")
        for shard in range(int(rng.integers(1, 4))):
            bids = list(range(int(rng.integers(1, 6))))
            if rng.random() < 0.5:   # impact-prefix chunks of this list
                bids += [-(r + 1) for r in range(int(rng.integers(1, 4)))]
            for bid in bids:
                wide = rng.random() < 0.2   # a full block of 10-byte varints
                n = 128 if wide or rng.random() < 0.3 else int(
                    rng.integers(1, 129))
                rows.append({
                    "term": term, "shard": shard, "block_id": bid,
                    "first_docid": int(rng.integers(0, 1 << 62)),
                    "last_docid": int(rng.integers(0, 1 << 62)),
                    "n_docs": n,
                    "max_score_ub": float(rng.standard_normal() * 1e3),
                    "deltas": _stream(rng, n, wide),
                    "tfs": _stream(rng, n, wide), "dls": _stream(rng, n)})
    return rows


def _packed(rows):
    """The vectorized packer over the rows' logical fields."""
    streams = []
    for f in ("deltas", "tfs", "dls"):
        lens = np.array([len(r[f]) for r in rows], dtype=np.int64)
        buf = np.frombuffer(b"".join(r[f] for r in rows), dtype=np.uint8)
        streams.append((buf, np.concatenate([[0], np.cumsum(lens)])))
    cols = {f: np.array([r[f] for r in rows]) for f in
            ("first_docid", "last_docid", "n_docs", "max_score_ub")}
    values, offsets = codec.pack_blocks(
        cols["first_docid"], cols["last_docid"], cols["n_docs"],
        cols["max_score_ub"], streams)
    return codec.blk_array(values, offsets)


def _table(rows):
    return pa.table({"term": pa.array([r["term"] for r in rows]),
                     "shard": pa.array([r["shard"] for r in rows], pa.int32()),
                     "block_id": pa.array([r["block_id"] for r in rows],
                                          pa.int32()),
                     "blk": _packed(rows)}, schema=POSTINGS)


def _expected(rows):
    """What ``_term_block_meta`` must hold per term, from the logical
    rows: regular blocks by (shard, block_id), prefix chunks by
    (shard, rank)."""
    out = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["block_id"] < 0,
                                         r["shard"], abs(r["block_id"]))):
        e = out.setdefault(r["term"], {"reg": [], "pre": []})
        e["pre" if r["block_id"] < 0 else "reg"].append(r)
    return out


def _logical(tb):
    """Every field of a parsed block table as plain values (ub as its
    float bits, block bytes sliced out of ``buf`` by ``so``)."""
    out = {}
    for term, d in tb.items():
        buf = d["buf"]

        def blocks(so, nd, ub, shard, first=None, last=None):
            return [(int(sh), int(n), int(np.float64(u).view(np.int64)),
                     None if first is None else int(first[i]),
                     None if last is None else int(last[i]),
                     buf[s[0]:s[1]].tobytes(), buf[s[1]:s[2]].tobytes(),
                     buf[s[2]:s[3]].tobytes())
                    for i, (s, n, u, sh) in enumerate(zip(so, nd, ub, shard))]
        out[term] = {
            "reg": blocks(d["so"], d["nd"], d["ub"], d["bshard"],
                          d["first"], d["last"]),
            "pre": (blocks(d["iso"], d["ind"], d["iub"], d["ishard"])
                    if "iso" in d else []),
            "nd_total": d["nd_total"], "w": d["w"]}
    return out


def _want(rows):
    def row(r, bounds=True):
        return (r["shard"], r["n_docs"],
                int(np.float64(r["max_score_ub"]).view(np.int64)),
                r["first_docid"] if bounds else None,
                r["last_docid"] if bounds else None,
                r["deltas"], r["tfs"], r["dls"])
    out = {}
    for term, e in _expected(rows).items():
        df = sum(r["n_docs"] for r in e["reg"])
        out[term] = {"reg": [row(r) for r in e["reg"]],
                     "pre": [row(r, False) for r in e["pre"]],
                     "nd_total": df + sum(r["n_docs"] for r in e["pre"]),
                     "w": float(df)}
    return out


def _write_buckets(root, rows, row_group_size):
    """One term-sorted parquet file per bucket, as the build writes."""
    by_bucket = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["shard"],
                                         r["block_id"])):
        by_bucket.setdefault(term_bucket(r["term"], N_BUCKETS), []).append(r)
    for b, rs in by_bucket.items():
        d = os.path.join(root, f"bucket={b}")
        os.makedirs(d)
        pq.write_table(_table(rs), os.path.join(d, "part-0.parquet"),
                       row_group_size=row_group_size,
                       use_dictionary=["term", "shard", "block_id"])


def test_vectorized_pack_matches_per_block_reference():
    rows = _random_rows(np.random.default_rng(3))
    got = _packed(rows).to_pylist()
    assert got == [codec.pack_block(r) for r in rows]
    for r, b in zip(rows, got):
        back = codec.unpack_block(b)
        assert back == {k: r[k] for k in back}


def test_pack_parquet_termfiles_parse_round_trip(tmp_path):
    rng = np.random.default_rng(17)
    rows = _random_rows(rng)
    root = str(tmp_path / "postings")
    _write_buckets(root, rows, row_group_size=7)
    tf = TermFiles(root, N_BUCKETS)
    terms = sorted({r["term"] for r in rows})
    stats = {}
    tbl = tf.read(terms + ["absent"], _POSTING_COLS, stats)
    assert tbl.column("blk").num_chunks > 1       # several buckets read
    assert stats["row_groups_read"] > N_BUCKETS
    tb = _term_block_meta(tbl, float)             # w = df
    assert list(tb) == terms
    assert _logical(tb) == _want(rows)
    # decode straight from the values buffer ≡ per-block decode
    for term, e in _expected(rows).items():
        d = tb[term]
        for so, nd, rs in ((d["so"], d["nd"], e["reg"]),
                           (d.get("iso"), d.get("ind"), e["pre"])):
            if not rs:
                continue
            got = codec.decode_blocks_concat(d["buf"], so, nd)
            want = [np.concatenate(x) for x in zip(*(
                codec.decode_block(r["deltas"], r["tfs"], r["dls"],
                                   r["n_docs"]) for r in rs))]
            for g, w in zip(got, want):
                assert np.array_equal(g.astype(np.uint64),
                                      w.astype(np.uint64))
    # an absent term reads as an empty table and parses to nothing
    empty = tf.read(["absent"], _POSTING_COLS)
    assert empty.num_rows == 0 and _term_block_meta(empty, float) == {}


def test_parse_ignores_row_order_chunking_and_slicing():
    """Spark shard tables arrive unsorted, pruned reads arrive as
    several chunks, and a sliced table's arrays start at an offset:
    the parse gives the same block tables for each."""
    rng = np.random.default_rng(29)
    rows = _random_rows(rng)
    want = _want(rows)
    tbl = _table(rows)
    assert _logical(_term_block_meta(tbl, float)) == want
    perm = rng.permutation(len(rows))
    assert _logical(_term_block_meta(tbl.take(perm), float)) == want
    cut = len(rows) // 3
    chunked = pa.concat_tables([tbl.slice(0, cut), tbl.slice(cut)])
    assert chunked.column("blk").num_chunks == 2
    assert _logical(_term_block_meta(chunked, float)) == want
    # a slice with a non-zero array offset ≡ a fresh table of its rows
    lo, hi = 5, len(rows) - 4
    sliced = pa.concat_tables([tbl, tbl]).combine_chunks().slice(
        len(rows) + lo, hi - lo)
    assert sliced.column("blk").chunk(0).offset == len(rows) + lo
    assert (_logical(_term_block_meta(sliced, float))
            == _logical(_term_block_meta(_table(rows[lo:hi]), float)))


def test_empty_table_parses_and_decodes_to_nothing():
    assert _term_block_meta(POSTINGS.empty_table(), float) == {}
    values, offsets = codec.blk_buffers(pa.array([], pa.binary()))
    assert values.size == 0 and offsets.tolist() == [0]
    d, t, l = codec.decode_blocks_concat(values, np.empty((0, 4), np.int64),
                                         np.empty(0, np.int64))
    assert d.size == t.size == l.size == 0
