"""Rank identity on a saturated corpus, where the lazy sweep hands off.

Two head terms occur in most docs with tf 1-3 and a narrow dl spread:
the flat-bound regime, where θ cannot separate from the head terms'
block maxima, so the lazy block-max sweep gives up mid-sweep
(``handoff = {"why": "no_separation"}``) and ends in the brute exit.

Gates here:
- rank identity Spark kernel = served (``_topk_query``) = served brute
  = the raw lazy sweep, with and without MSM, at several k and
  offsets, on a 5-shard index whose lists are long enough for the
  sweep to run and hand off;
- a warm repeat over the serving tier's persistent decoded-block store
  decodes nothing, whether the sweep ran to its end or handed off.
"""

from __future__ import annotations

import numpy as np
import pytest

from jivesearch_spark import bm25
from jivesearch_spark.index import IndexParams, build_index
from jivesearch_spark.query import (IndexReader, _topk_blockmax_lazy,
                                    analyze_query, bm25_topk_indexed)
from jivesearch_spark.serve import LocalIndex

pytestmark = pytest.mark.usefixtures("spark")


def _docs(spark, n=3000, seed=11, lo=8, hi=40):
    """Saturated corpus: two head terms nearly everywhere with tf 1-3
    and narrow dl spread — the flat-bound regime that sends the lazy
    sweep to brute — plus zipf filler for realistic torso/tail."""
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


#: docs_per_shard=4096 → 5 shards, so the Spark kernels run per shard
#: while the serving tier sweeps whole lists, long enough to exceed the
#: sweep's imminent-exhaustion guard
PARAMS = IndexParams(n_buckets=4, bucket_batch=4, docs_per_shard=4096)


@pytest.fixture(scope="module")
def big_index(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("sat_big") / "idx")
    build_index(_docs(spark, n=20000, lo=18, hi=28), root, PARAMS,
                id_col="docid", url_col="url", log=lambda *a: None)
    return root


def _sweep(li, q, k=10, msm_req=0):
    """The lazy block-max kernel over the tier's own cached block
    tables and decoded-block store, whatever finisher ``_topk_query``
    would pick for these lists. ``li.topk(q)`` caches the tables first.
    Returns (pinned rows, kernel stats)."""
    st = {}
    d, s = _topk_blockmax_lazy(
        li.terms.take(sorted(set(analyze_query(li.man, q)))), k, msm_req,
        li.k1, li.b, li.man.avgdl, stats=st, store=li.terms.store)
    return [(int(di), round(float(si), 9)) for di, si in zip(d, s)], st


def test_rank_identity_all_paths(spark, big_index):
    reader = IndexReader(spark, big_index)
    li = LocalIndex(big_index)
    queries = ["bob dylan", "bob", "dylan", "bob dylan w0",
               "w1 w2 bob", "w5"]
    handoffs = set()
    for q in queries:
        for k in (3, 10, 50):
            spark_rows = [(r.docid, round(r.score, 9)) for r in
                          bm25_topk_indexed(reader, q, k=k).collect()]
            lazy = [(d, round(s, 9)) for d, s in li.topk(q, k=k)]
            swept, st = _sweep(li, q, k)
            if "handoff" in st:
                handoffs.add(st["handoff"]["why"])
            brute = [(d, round(s, 9))
                     for d, s in li.topk(q, k=k, use_wand=False)]
            assert lazy == brute == spark_rows, (q, k)
            assert swept == brute, (q, k)
    assert "no_separation" in handoffs, \
        "the saturated corpus must send the sweep to brute mid-sweep"


def test_rank_identity_msm_and_paging(spark, big_index):
    """MSM counting and offset paging through the sweep and its
    hand-off, gated against brute and the Spark kernel."""
    reader = IndexReader(spark, big_index)
    li = LocalIndex(big_index)
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


def test_warm_repeat_is_decode_free(big_index):
    """A repeated sweep over the persistent store decodes no block: the
    blocks it visited stay in the store, and a hand-off's bulk decode
    stays memoized on the cached block tables."""
    li = LocalIndex(big_index)
    for q in ("bob", "bob dylan"):
        li.topk(q, k=10)
        _, cold = _sweep(li, q)
        _, warm = _sweep(li, q)
        assert warm.get("handoff") == cold.get("handoff"), (cold, warm)
        assert cold["blocks_decoded"] > 0, cold
        assert warm["blocks_decoded"] == 0, (cold, warm)
