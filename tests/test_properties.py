"""Property-based tests (hypothesis) for the pinned kernels.

The reference ships only table-driven goldens (SURVEY.md §5); these
extend the gate with randomized invariants over the pure-Python /
numpy kernels that define our on-disk and scoring semantics — codec
roundtrip, block-max upper bounds, extractor text normalization,
tokenizer idempotence, URL canonicalization idempotence. No Spark
session needed: these are the exact functions the Arrow UDFs call.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from jivesearch_spark import analyze, codec, gourl
from jivesearch_spark.extract import extract_text

SETTINGS = dict(max_examples=200, deadline=None)


@settings(**SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
def test_varint_roundtrip(values):
    arr = np.asarray(values, dtype=np.uint64)
    buf = codec.varint_encode(arr)
    out = codec.varint_decode(buf, len(values))
    assert np.array_equal(out, arr)
    # varint_lengths is the exact per-value encoded size
    assert int(codec.varint_lengths(arr).sum()) == len(buf)


posting_lists = st.lists(
    st.tuples(st.integers(min_value=0, max_value=10**9),   # docid
              st.integers(min_value=1, max_value=1000),    # tf
              st.integers(min_value=1, max_value=5000)),   # dl
    min_size=1, max_size=400, unique_by=lambda t: t[0])


@settings(**SETTINGS)
@given(posting_lists,
       st.floats(min_value=0.01, max_value=20.0),
       st.floats(min_value=1.0, max_value=500.0))
def test_block_codec_roundtrip_and_blockmax_bound(postings, idf, avgdl):
    postings.sort()
    docids = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    dls = np.array([p[2] for p in postings], dtype=np.int64)

    blocks = list(codec.encode_blocks(docids, tfs, dls, idf, avgdl=avgdl))
    # per-block decode reassembles the exact posting list
    got_d, got_t, got_l = [], [], []
    for blk in blocks:
        d, t, l = codec.decode_block(blk["deltas"], blk["tfs"], blk["dls"],
                                     blk["n_docs"])
        got_d.append(d)
        got_t.append(t)
        got_l.append(l)
    assert np.array_equal(np.concatenate(got_d), docids)
    assert np.array_equal(np.concatenate(got_t), tfs)
    assert np.array_equal(np.concatenate(got_l), dls)

    # vectorized concat decode ≡ per-block decode
    values, off = codec.blk_buffers(
        pa.array([codec.pack_block(b) for b in blocks], pa.binary()))
    _, so = codec.parse_blk(values, off[:-1], off[1:])
    cd, ct, cl = codec.decode_blocks_concat(
        values, so, [b["n_docs"] for b in blocks])
    assert np.array_equal(cd, docids)
    assert np.array_equal(ct, tfs)
    assert np.array_equal(cl, dls)

    # block-max WAND soundness: ub ≥ every true score in the block
    # (allowing one float ulp — the kernel compares with the same
    # arithmetic, so a tight bound is fine, an undershoot is not)
    k1, b = 1.2, 0.75
    scores = idf * tfs * (k1 + 1.0) / (tfs + k1 * (1 - b + b * dls / avgdl))
    for blk in blocks:
        lo = blk["block_id"] * codec.BLOCK_SIZE
        hi = lo + blk["n_docs"]
        assert blk["max_score_ub"] >= scores[lo:hi].max() * (1 - 1e-12)
    # block metadata covers the whole list in order
    assert blocks[0]["first_docid"] == int(docids[0])
    assert blocks[-1]["last_docid"] == int(docids[-1])


@settings(**SETTINGS)
@given(st.text(max_size=300),
       st.one_of(st.just(-1), st.integers(min_value=1, max_value=100)))
def test_extract_text_invariants(s, max_bytes):
    out = extract_text(s, max_bytes)
    assert "  " not in out and out == out.strip()
    if max_bytes != -1:
        assert len(out.encode("utf-8")) <= max_bytes
    # idempotent: re-extracting the output is a no-op
    assert extract_text(out, max_bytes) == out


@settings(**SETTINGS)
@given(st.text(max_size=300))
def test_tokenizer_idempotent(text):
    toks = analyze.py_tokens(text)
    assert analyze.py_tokens(" ".join(toks)) == toks
    assert all(t == t.lower() and t for t in toks)


@settings(**SETTINGS)
@given(st.lists(st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
    min_size=1, max_size=8), max_size=30))
def test_remove_duplicates_order_preserving(words):
    out = gourl.remove_duplicates(words)
    assert len(set(out)) == len(out)            # unique
    seen = set()
    expected = [w for w in words if not (w in seen or seen.add(w))]
    assert out == expected                      # first-occurrence order


_host = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789-.",
                min_size=1, max_size=20)
_path = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789-._~/",
                max_size=30)


@settings(**SETTINGS)
@given(st.sampled_from(["http", "https"]), _host, _path)
def test_validate_url_idempotent(scheme, host, path):
    raw = f"{scheme}://{host}/{path}"
    try:
        once = gourl.validate_url(raw).string()
    except gourl.URLError:
        assume(False)
    assert gourl.validate_url(once).string() == once


@given(st.binary(max_size=4096))
@settings(max_examples=300, deadline=None)
def test_warc_parser_never_raises(blob):
    """Arbitrary bytes through the WARC record parser: skip, never
    throw (a torn segment must not fail a 1000-task ingest job)."""
    from jivesearch_spark import warc
    rows = warc.pages_from_warc_bytes(blob)
    assert isinstance(rows, list)
    rows = warc.pages_from_warc_bytes(b"\x1f\x8b" + blob)
    assert isinstance(rows, list)


@given(st.lists(st.tuples(st.integers(0, 10**6), st.binary(max_size=300)),
                min_size=1, max_size=8),
       st.booleans(), st.binary(max_size=64))
@settings(max_examples=100, deadline=None)
def test_warc_roundtrip_with_trailing_garbage(pages, gz, tail):
    """Round-trip identity holds for arbitrary html bytes and survives
    trailing garbage after the last record."""
    import datetime as dt

    from jivesearch_spark import warc
    rows = [(f"http://ex{i}.com/p{j}", dt.datetime(2026, 1, 1 + j % 27), h)
            for j, (i, h) in enumerate(pages)]
    blob = warc.warc_bytes(rows, per_record_gzip=gz)
    got = warc.pages_from_warc_bytes(blob + tail)
    # plain-format parsing stops at the first garbage byte; gzip-member
    # parsing ignores a non-gzip tail entirely — either way every
    # intact record already emitted survives byte-exact
    assert len(got) <= len(rows)
    if gz or not tail:
        assert len(got) == len(rows)
    for (u, ts, h), (gu, gts, gh, _, _) in zip(rows, got):
        assert (gu, gts, gh) == (u, ts, h)
