"""Batched query engine ≡ per-query engine (one job for a query log)."""

import pytest

from jivesearch_spark.index import IndexParams, build_index
from jivesearch_spark.query import IndexReader, bm25_topk_batch, bm25_topk_indexed

SF_DIR = "/root/testdata/sf0.001"
PARAMS = IndexParams(docs_per_shard=100, n_buckets=8, bucket_batch=4)

QUERIES = [
    ("q1", "the fast key order"),
    ("q2", "spark group query"),
    ("q3", "customer data window"),
    ("q4", "merge part"),
    ("q5", "slow"),
    ("q6", "zzz-not-a-term"),
    ("q7", "table scan merge sort filter"),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .selectExpr("doc_id AS docid", "text"))
    root = str(tmp_path_factory.mktemp("batch_index") / "main")
    man = build_index(docs, root, PARAMS, url_col=None, log=lambda *a: None)
    assert man.done
    return root


@pytest.mark.spark
@pytest.mark.parametrize("msm,use_wand", [
    pytest.param(False, True, id="False"),
    pytest.param(True, True, id="True"),
    pytest.param(False, False, id="False-brute"),
    pytest.param(True, False, id="True-brute"),
])
def test_batch_matches_per_query(spark, built, msm, use_wand):
    """Both kernel modes of the batch job ≡ the per-query job under the
    pinned (-round(score, 9), docid) tie-break."""
    reader = IndexReader(spark, built)
    got = {}
    for r in bm25_topk_batch(reader, QUERIES, 10, use_wand=use_wand,
                             min_should_match=msm).collect():
        got.setdefault(r.qid, []).append((r.docid, round(r.score, 9)))
    for qid, q in QUERIES:
        want = [(r.docid, round(r.score, 9)) for r in
                bm25_topk_indexed(reader, q, 10,
                                  min_should_match=msm).collect()]
        assert got.get(qid, []) == want, (qid, q)


@pytest.mark.spark
def test_batch_empty_queries(spark, built):
    reader = IndexReader(spark, built)
    assert bm25_topk_batch(reader, [("e", "")], 10).count() == 0
