"""Pagination: clamp semantics and offset identity across query tiers.

Reference: the frontend derives (page, number) with parse-error/range
clamps (frontend/search.go:223-234), offset = page*number - number
(:455), and the search tier applies From(offset).Size(number)
(search/elasticsearch.go:29,66). Our offset implementation fetches
top-(offset+k) in the kernels, so the gate is page composition: pages
concatenated in order must equal one deep top-k.
"""

import pytest

from jivesearch_spark import paging
from jivesearch_spark.index import IndexParams, build_index
from jivesearch_spark.query import IndexReader, bm25_topk_batch, bm25_topk_indexed
from jivesearch_spark.serve import LocalIndex

SF_DIR = "/root/testdata/sf0.001"
PARAMS = IndexParams(docs_per_shard=100, n_buckets=8, bucket_batch=8)
Q = "customer data window"


# -- clamp tables (mirroring frontend/search.go getData) ---------------------

@pytest.mark.parametrize("raw,want", [
    ("10", 10), (" 10 ", 10), ("100", 100),     # in range, trimmed
    ("101", 25), ("9999", 25),                  # > 100 → default 25
    ("x", 25), ("", 25), (None, 25),            # parse error → 25
    ("0", 0), ("-5", -5),                       # Go keeps parseable ≤100
])
def test_clamp_number(raw, want):
    assert paging.clamp_number(raw) == want


@pytest.mark.parametrize("raw,want", [
    ("1", 1), ("3", 3), (" 2 ", 2),
    ("0", 1), ("-1", 1),                        # page < 1 → 1
    ("x", 1), ("", 1), (None, 1),               # parse error → 1
])
def test_clamp_page(raw, want):
    assert paging.clamp_page(raw) == want


def test_offset_math():
    assert paging.offset_for(1, 25) == 0
    assert paging.offset_for(3, 10) == 20
    assert paging.offset_for("x", "y") == 0      # both clamp to defaults
    assert paging.offset_for(2, 101) == 25       # n clamps to 25 first


# -- page composition across tiers -------------------------------------------

@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .selectExpr("doc_id AS docid", "text"))
    root = str(tmp_path_factory.mktemp("paging_index") / "main")
    man = build_index(docs, root, PARAMS, url_col=None, log=lambda *a: None)
    assert man.done
    return root


@pytest.mark.spark
def test_pages_compose_to_deep_topk(spark, built):
    reader = IndexReader(spark, built)
    deep = [(r.docid, round(r.score, 9)) for r in
            bm25_topk_indexed(reader, Q, 30).collect()]
    assert len(deep) == 30
    paged = []
    for off in (0, 10, 20):
        paged += [(r.docid, round(r.score, 9)) for r in
                  bm25_topk_indexed(reader, Q, 10, offset=off).collect()]
    assert paged == deep


@pytest.mark.spark
def test_serve_offset_matches_spark(spark, built):
    reader = IndexReader(spark, built)
    idx = LocalIndex(built)
    deep = [(r.docid, round(r.score, 9)) for r in
            bm25_topk_indexed(reader, Q, 20).collect()]
    page2 = [(d, round(s, 9)) for d, s in idx.topk(Q, 10, offset=10)]
    assert page2 == deep[10:20]
    # a negative offset is page 1, as on the Spark path
    assert [(d, round(s, 9)) for d, s in idx.topk(Q, 10, offset=-5)] == deep[:10]
    # offset past the result set → empty, not an error
    assert idx.topk("zzzznotaterm", 10, offset=10) == []
    assert idx.topk(Q, 10, offset=10**6) == []


@pytest.mark.spark
def test_batch_offset_matches_single(spark, built):
    reader = IndexReader(spark, built)
    single = [(r.docid, round(r.score, 9)) for r in
              bm25_topk_indexed(reader, Q, 10, offset=10).collect()]
    rows = bm25_topk_batch(reader, [("qa", Q)], k=10, offset=10).collect()
    got = sorted(((r.docid, round(r.score, 9)) for r in rows),
                 key=lambda t: (-t[1], t[0]))
    assert got == single


@pytest.mark.spark
def test_fielded_offset_composes(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from jivesearch_spark.fielded import (FieldedLocalIndex, FieldedReader,
                                          bm25_fielded_indexed,
                                          build_fielded_index)
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .limit(200)
            .select(
                F.col("doc_id"),
                F.col("source").alias("domain"),
                F.format_string("https://d/%012d", F.col("doc_id")).alias("url"),
                F.lit(None).cast("string").alias("tld"),
                F.substring("text", 1, 60).alias("title"),
                F.substring("text", 61, 200).alias("description"),
                F.lit("").alias("path_parts")))
    root = str(tmp_path_factory.mktemp("paging_fielded") / "main")
    build_fielded_index(docs, root,
                        IndexParams(docs_per_shard=100, n_buckets=8,
                                    bucket_batch=8),
                        log=lambda *a: None)
    reader = FieldedReader(spark, root)
    deep = [(r.doc_id, round(r.score, 9)) for r in
            bm25_fielded_indexed(reader, Q, k=20).collect()]
    paged = []
    for off in (0, 10):
        paged += [(r.doc_id, round(r.score, 9)) for r in
                  bm25_fielded_indexed(reader, Q, k=10, offset=off).collect()]
    assert paged == deep
    idx = FieldedLocalIndex(root)
    page2 = [(u, round(s, 9)) for u, s in idx.topk(Q, k=10, offset=10)]
    assert page2 == deep[10:20]


def test_lucky_detection_goldens():
    # frontend/search.go:283-286 golden table
    from jivesearch_spark.paging import is_lucky, lucky_target
    assert is_lucky("! example")
    assert is_lucky("example !")
    assert is_lucky("\\example")
    assert is_lucky("\\example now")
    assert not is_lucky("example ! now")
    assert not is_lucky("example")
    assert not is_lucky("")
    assert lucky_target([]) is None
    assert lucky_target(["http://a.example/x", "http://b.example/y"]) == "http://a.example/x"
    assert lucky_target([("http://t.example/z", 3.2)]) == "http://t.example/z"

    class Doc:
        url = "http://o.example/w"
    assert lucky_target([Doc()]) == "http://o.example/w"
