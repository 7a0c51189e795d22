"""Impact-ordered posting prefixes (index.IndexParams.impact_prefix).

The round-3 cold-latency scale risk: the flat-bound (tf-saturated)
regime bailed out of the lazy block-max sweep into a TA finisher that
first decoded EVERY block — O(df) cold cost, linear in head-term df.
The fix mirrors Lucene's impact-sorted postings (public Lucene 8
ImpactsEnum design): the build additionally writes each long
(term, shard) list's top-P postings by score as score-descending
chunks (block_id = -(rank+1)); the finisher (query._topk_impact_prefix)
then generates candidates from O(prefix) chunks and random-accesses
only surviving contenders' covering blocks.

Gates here:
- build writes prefix rows exactly for lists > impact_min, chunk ubs
  non-increasing per (term, shard), postings a subset re-ordering;
- byte determinism at different parallelism WITH prefixes on;
- rank identity serve-lazy vs serve-brute vs Spark kernel on an index
  small enough to exercise the prefix path (tiny impact_min);
- cold decode count strictly below total on a saturated corpus;
- merge/decode paths ignore prefix rows (no posting duplication).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from jivesearch_spark import bm25, codec
from jivesearch_spark.index import IndexParams, build_index
from jivesearch_spark.query import (IndexReader, _topk_blockmax_lazy,
                                    analyze_query, bm25_topk_indexed)
from jivesearch_spark.serve import LocalIndex

pytestmark = pytest.mark.usefixtures("spark")


def _docs(spark, n=3000, seed=11, lo=8, hi=40):
    """Saturated corpus: two head terms nearly everywhere with tf 1-3
    and narrow dl spread — the flat-bound regime that forces the
    dense→TA bailout — plus zipf filler for realistic torso/tail."""
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    for i in range(n):
        words = []
        if rng.random() < 0.55:
            words += ["bob"] * int(rng.integers(1, 4))
        if rng.random() < 0.35:
            words += ["dylan"] * int(rng.integers(1, 3))
        nw = int(rng.integers(lo, hi))
        words += [vocab[min(int(rng.zipf(1.3)) - 1, 399)] for _ in range(nw)]
        rng.shuffle(words)
        rows.append((i, f"http://ex.com/{i}", " ".join(words)))
    return spark.createDataFrame(rows, "docid long, url string, text string")


PARAMS = IndexParams(n_buckets=4, bucket_batch=4, docs_per_shard=1024,
                     impact_prefix=512, impact_min=64)


def _unpacked(pdf):
    """Postings rows with each ``blk``'s n_docs and max_score_ub as
    columns."""
    heads = [codec.unpack_block(bytes(b)) for b in pdf["blk"]]
    return pdf.assign(n_docs=[h["n_docs"] for h in heads],
                      max_score_ub=[h["max_score_ub"] for h in heads])


def _decode(blks):
    """(docids, tfs, dls) of ``blk`` values, in order."""
    values, off = codec.blk_buffers(
        pa.array([bytes(b) for b in blks], pa.binary()))
    hdr, so = codec.parse_blk(values, off[:-1], off[1:])
    return codec.decode_blocks_concat(values, so, hdr["n_docs"])

#: big enough that head-term lists exceed the sweep's
#: imminent-exhaustion guard, so the flat-bound regime actually bails
#: into the prefix TA (the small corpus is for structural gates only);
#: docs_per_shard=4096 → 5 shards, so per-shard prefix chunks, tail
#: floors, and the cross-shard impact-stream merge are all exercised
BIG_PARAMS = IndexParams(n_buckets=4, bucket_batch=4,
                         docs_per_shard=4096,
                         impact_prefix=1024, impact_min=256)


@pytest.fixture(scope="module")
def prefix_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pidx") / "idx")
    build_index(_docs(spark), root, PARAMS, id_col="docid", url_col="url",
                log=lambda *a: None)
    return root


@pytest.fixture(scope="module")
def big_prefix_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pidx_big") / "idx")
    build_index(_docs(spark, n=20000, lo=18, hi=28), root, BIG_PARAMS,
                id_col="docid", url_col="url", log=lambda *a: None)
    return root


def _sweep(li, q, k=10, msm_req=0):
    """The lazy block-max kernel over the tier's own cached block
    tables and decoded-block store: on this corpus the lists are short
    enough that ``_topk_query`` answers by brute, and the prefix TA is
    reached from the sweep. ``li.topk(q)`` caches the tables first.
    Returns (pinned rows, kernel stats)."""
    st = {}
    d, s = _topk_blockmax_lazy(
        li.terms.take(sorted(set(analyze_query(li.man, q)))), k, msm_req,
        li.k1, li.b, li.man.avgdl, stats=st, store=li.terms.store)
    return [(int(di), round(float(si), 9)) for di, si in zip(d, s)], st


def test_prefix_rows_written_and_consistent(spark, prefix_index):
    post = spark.read.parquet(f"{prefix_index}/postings")
    pdf = _unpacked(post.select("term", "shard", "block_id", "blk")
                    .toPandas())
    neg = pdf[pdf.block_id < 0]
    pos = pdf[pdf.block_id >= 0]
    assert len(neg) > 0, "saturated head terms must have prefix rows"
    # prefix rows exist exactly for (term, shard) lists > impact_min
    sizes = pos.groupby(["term", "shard"])["n_docs"].sum()
    with_prefix = set(map(tuple, neg[["term", "shard"]].drop_duplicates()
                          .itertuples(index=False)))
    for key, sz in sizes.items():
        if sz > PARAMS.impact_min:
            assert key in with_prefix, (key, sz)
        else:
            assert key not in with_prefix, (key, sz)
    # per (term, shard): chunk ubs non-increasing with rank, postings
    # count = min(impact_prefix, list length)
    for key, g in neg.groupby(["term", "shard"]):
        g = g.assign(rank=-g.block_id - 1).sort_values("rank")
        ubs = g["max_score_ub"].values
        assert (np.diff(ubs) <= 1e-12).all(), (key, ubs)
        assert g["n_docs"].sum() == min(PARAMS.impact_prefix,
                                        sizes[key]), key


def test_prefix_postings_are_subset_reordering(spark, prefix_index):
    post = spark.read.parquet(f"{prefix_index}/postings")
    pdf = _unpacked(post.where("term = 'bob'").toPandas())
    for shard, g in pdf.groupby("shard"):
        reg = g[g.block_id >= 0].sort_values("block_id")
        pre = g[g.block_id < 0]
        if not len(pre):
            continue
        rd, rt, rl = _decode(reg["blk"])
        full = {(int(a), int(b), int(c)) for a, b, c in zip(rd, rt, rl)}
        pd_, pt, pl = _decode(pre["blk"])
        assert len(pd_) == len(set(pd_.tolist())), "prefix docids unique"
        for a, b, c in zip(pd_, pt, pl):
            assert (int(a), int(b), int(c)) in full


def test_build_determinism_with_prefixes(spark, tmp_path):
    def build(parts, out):
        docs = _docs(spark).repartition(parts)
        build_index(docs, out, PARAMS, id_col="docid", url_col="url",
                    log=lambda *a: None)
        df = spark.read.parquet(f"{out}/postings")
        return sorted((r.term, r.shard, r.block_id,
                       *(codec.unpack_block(bytes(r.blk))[c]
                         for c in ("deltas", "tfs", "dls")))
                      for r in df.collect())

    a = build(3, str(tmp_path / "a"))
    b = build(13, str(tmp_path / "b"))
    assert a == b


def test_rank_identity_all_paths(spark, big_prefix_index):
    reader = IndexReader(spark, big_prefix_index)
    li = LocalIndex(big_prefix_index)
    queries = ["bob dylan", "bob", "dylan", "bob dylan w0",
               "w1 w2 bob", "w5"]
    saw_prefix_ta = False
    for q in queries:
        for k in (3, 10, 50):
            spark_rows = [(r.docid, round(r.score, 9)) for r in
                          bm25_topk_indexed(reader, q, k=k).collect()]
            lazy = [(d, round(s, 9)) for d, s in li.topk(q, k=k)]
            swept, st = _sweep(li, q, k)
            if st.get("prefix_ta"):
                saw_prefix_ta = True
            brute = [(d, round(s, 9))
                     for d, s in li.topk(q, k=k, use_wand=False)]
            assert lazy == brute == spark_rows, (q, k)
            assert swept == brute, (q, k)
    assert saw_prefix_ta, "the saturated corpus must exercise the prefix TA"


def test_rank_identity_msm_and_paging(spark, big_prefix_index):
    """MSM counting and offset paging through the prefix TA: the
    partial-sum θ pool undercounts msm matches by design (found-term
    counts only), which must stay conservative — gated against brute
    and the Spark kernel."""
    reader = IndexReader(spark, big_prefix_index)
    li = LocalIndex(big_prefix_index)
    for q in ["bob dylan", "bob dylan w0 w1", "bob w3 dylan w2 w9"]:
        for k, off in [(10, 0), (10, 10), (25, 5)]:
            spark_rows = [(r.docid, round(r.score, 9)) for r in
                          bm25_topk_indexed(reader, q, k=k, offset=off,
                                            min_should_match=True).collect()]
            lazy = [(d, round(s, 9)) for d, s in
                    li.topk(q, k=k, offset=off, min_should_match=True)]
            brute = [(d, round(s, 9)) for d, s in
                     li.topk(q, k=k, offset=off, min_should_match=True,
                             use_wand=False)]
            assert lazy == brute == spark_rows, (q, k, off)
            req = bm25.msm_required(len(set(analyze_query(li.man, q))))
            swept, _ = _sweep(li, q, k + off, req)
            assert swept[off:] == brute, (q, k, off)


def test_warm_repeat_is_decode_free(big_prefix_index):
    """A repeated query over the persistent store re-consumes the
    memoized impact stream: zero chunk or block decodes, and the
    absence-proof snapshot keeps random access at zero too."""
    li = LocalIndex(big_prefix_index)
    li.topk("bob dylan", k=10)
    _sweep(li, "bob dylan")
    _sweep(li, "bob dylan")   # resyncs ld with probe-decoded blocks
    _, st = _sweep(li, "bob dylan")
    assert st.get("prefix_ta"), st
    assert st["blocks_decoded"] == 0, st
    assert st.get("prefix_chunks_decoded", 0) == 0, st


def test_cold_decode_is_bounded(big_prefix_index):
    li = LocalIndex(big_prefix_index)
    li.topk("bob", k=10)
    _, st = _sweep(li, "bob")
    assert st.get("prefix_ta"), st
    # the single head term is the pure win case: candidates come
    # straight off the impact prefix, so only a handful of covering
    # blocks ever decode (8/86 at this corpus size)
    assert st["blocks_decoded"] < 0.25 * st["blocks_total"], st
    assert st["prefix_chunks_decoded"] < st["prefix_chunks_total"], st
    li2 = LocalIndex(big_prefix_index)
    li2.topk("bob dylan", k=10)
    _, st = _sweep(li2, "bob dylan")
    assert st.get("prefix_ta"), st
    # warm repeat decodes nothing new
    _, st2 = _sweep(li2, "bob dylan")
    assert st2["blocks_decoded"] == 0, (st, st2)


def test_decode_postings_df_ignores_prefix_rows(spark, prefix_index):
    from jivesearch_spark.index import _decode_postings_df
    tf = _decode_postings_df(spark, f"{prefix_index}/postings")
    dup = (tf.groupBy("term", "docid").count().where("count > 1").count())
    assert dup == 0
    stats = spark.read.parquet(f"{prefix_index}/term_stats")
    want = {r.term: r.df for r in stats.collect()}
    got = {r.term: r.cnt for r in
           tf.groupBy("term").agg(F.count("*").alias("cnt")).collect()}
    assert got == want


def test_served_df_ignores_prefix_rows(spark, prefix_index):
    """The serving tier takes df from the postings it reads, summing
    regular blocks only: a head term's impact-prefix rows repeat
    postings, so counting them would shrink its idf. The served answer
    equals the Spark path's, which reads df from term_stats."""
    reader = IndexReader(spark, prefix_index)
    li = LocalIndex(prefix_index)
    for q in ["bob", "bob dylan", "dylan w3"]:
        for wand in (True, False):
            spark_rows = [(r.docid, round(r.score, 9)) for r in
                          bm25_topk_indexed(reader, q, 10,
                                            use_wand=wand).collect()]
            served = [(d, round(s, 9))
                      for d, s in li.topk(q, 10, use_wand=wand)]
            assert served == spark_rows, (q, wand)
    for r in reader.term_stats.where("term IN ('bob', 'dylan')").collect():
        meta = li.terms.meta[r.term]
        assert meta.get("iub") is not None, r.term   # prefix rows read
        assert meta["w"] == bm25.idf(li.man.n_docs, r.df), r.term
