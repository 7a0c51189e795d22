"""Index build / query gates (FIXTURES.md §4, SURVEY.md §5):

- codec round-trip losslessness,
- rank-identity: compressed-index path (WAND on AND off) ≡ brute-force
  DataFrame ≡ pure-Python oracle,
- build determinism: byte-identical postings at different parallelism,
- two-segment merge ≡ single-shot build, byte-identical,
- resume-from-manifest ≡ clean build.
"""

import os
import shutil

import numpy as np
import pytest

from jivesearch_spark import bm25, codec, oracle
from jivesearch_spark.index import IndexParams, Manifest, assign_doc_ids, build_index, merge_indexes
from jivesearch_spark.query import IndexReader, bm25_topk_indexed

SF_DIR = "/root/testdata/sf0.001"
PARAMS = IndexParams(docs_per_shard=100, n_buckets=8, bucket_batch=4)

QUERIES = [
    "the fast key order", "spark group query", "customer data window",
    "merge part", "slow", "zzz-not-a-term", "table scan merge sort filter",
]


@pytest.fixture(scope="module")
def docs(spark):
    df = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
          .selectExpr("doc_id AS docid", "text"))
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def built(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index") / "main")
    man = build_index(docs, root, PARAMS, url_col=None, log=lambda *a: None)
    assert man.done
    return root


def test_codec_roundtrip_property():
    rng = np.random.default_rng(7)
    for _ in range(20):
        n = int(rng.integers(1, 700))
        v = rng.integers(0, 2**62, size=n, dtype=np.int64).astype(np.uint64)
        assert np.array_equal(codec.varint_decode(codec.varint_encode(v), n), v)


def test_codec_large_mixed_varint_stream():
    """Streams of ≥ 4096 values take the run-patching decode branch:
    mixed 1-byte and multi-byte values, adjacent multi-byte runs and a
    multi-byte final value decode to what varint_encode was given, and
    to what the small-stream walk decodes from the same values."""
    rng = np.random.default_rng(17)
    n = 9000
    v = rng.integers(0, 128, size=n).astype(np.uint64)
    multi = rng.random(n) < 0.1
    v[multi] = rng.integers(128, 2**40, size=int(multi.sum()))
    v[100:105] = [300, 2**20, 2**35, 129, 2**62]   # adjacent multi-byte run
    v[-1] = 2**50                                   # multi-byte final value
    buf = codec.varint_encode(v)
    small = np.concatenate([codec.varint_decode(codec.varint_encode(c),
                                                c.size)
                            for c in np.array_split(v, 4)])   # < 4096 each
    assert np.array_equal(small, v)
    for compact in (False, True):
        out = codec.varint_decode(buf, n, compact=compact)
        assert np.array_equal(out.astype(np.uint64), v), compact


def test_codec_frame_encode_equals_per_block():
    """encode_blocks_frame (vectorized whole-batch) must be
    byte-identical to per-group encode_blocks."""
    rng = np.random.default_rng(5)
    k1, b, avgdl = 1.2, 0.75, 34.7
    for _ in range(5):
        groups, starts, pos = [], [], 0
        for _g in range(int(rng.integers(1, 40))):
            n = int(rng.integers(1, 700))
            docids = np.sort(rng.choice(10**8, n, replace=False)).astype(np.int64)
            tfs = rng.integers(1, 50, n).astype(np.int64)
            dls = rng.integers(1, 500, n).astype(np.int64)
            groups.append((docids, tfs, dls, float(rng.uniform(0.1, 8))))
            starts.append(pos)
            pos += n
        D = np.concatenate([g[0] for g in groups])
        T = np.concatenate([g[1] for g in groups])
        L = np.concatenate([g[2] for g in groups])
        tfn = T * (k1 + 1.0) / (T + k1 * (1 - b + b * L / avgdl))
        idf_row = np.concatenate([np.full(g[0].size, g[3]) for g in groups])
        bs, meta, db, tb, lb = codec.encode_blocks_frame(
            D, T, L, idf_row * tfn, np.array(starts))
        ref = []
        for docids, tfs, dls, idf in groups:
            ref.extend(codec.encode_blocks(docids, tfs, dls, idf, k1, b, avgdl))
        assert len(ref) == bs.size
        for i, r in enumerate(ref):
            assert (r["block_id"], r["first_docid"], r["last_docid"],
                    r["n_docs"]) == (meta["block_id"][i],
                                     meta["first_docid"][i],
                                     meta["last_docid"][i], meta["n_docs"][i])
            assert abs(r["max_score_ub"] - meta["max_score_ub"][i]) < 1e-12
            assert (r["deltas"], r["tfs"], r["dls"]) == (db[i], tb[i], lb[i])


@pytest.mark.spark
def test_head_term_skew_bounded_by_shards(spark, tmp_path):
    """A term present in EVERY doc (worst-case head skew) must be split
    across doc-range shards with every (term, shard) group bounded by
    docs_per_shard — no single task ever holds a whole head term — and
    still score correctly."""
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .selectExpr("doc_id AS docid",
                        "concat(text, ' zzhead zzhead') AS text"))
    root = str(tmp_path / "skew")
    build_index(docs, root, PARAMS, url_col=None, log=lambda *a: None)

    from pyspark.sql import functions as F
    post = spark.read.parquet(f"{root}/postings").where("term = 'zzhead'")
    per_shard = {r["shard"]: r["n"] for r in
                 post.groupBy("shard")
                 .agg(F.sum("n_docs").alias("n")).collect()}
    n_docs = docs.count()
    assert len(per_shard) == -(-n_docs // PARAMS.docs_per_shard)
    assert all(n <= PARAMS.docs_per_shard for n in per_shard.values())
    assert sum(per_shard.values()) == n_docs  # df == N, tf == 2 each

    reader = IndexReader(spark, root)
    top = bm25_topk_indexed(reader, "zzhead", 5).collect()
    assert len(top) == 5  # matches everything; shortest docs win


def test_codec_concat_decode_property():
    """Batch decode over concatenated block streams ≡ per-block decode."""
    rng = np.random.default_rng(11)
    for _ in range(10):
        n = int(rng.integers(1, 5000))
        docids = np.sort(rng.choice(10**9, size=n, replace=False)).astype(np.int64)
        tfs = rng.integers(1, 50, n).astype(np.int64)
        dls = rng.integers(1, 500, n).astype(np.int64)
        rows = list(codec.encode_blocks(docids, tfs, dls, 1.0))
        d, t, l = codec.decode_blocks_concat(
            [r["deltas"] for r in rows], [r["tfs"] for r in rows],
            [r["dls"] for r in rows], [r["n_docs"] for r in rows])
        assert np.array_equal(d, docids)
        assert np.array_equal(t, tfs)
        assert np.array_equal(l, dls)


@pytest.mark.spark
def test_indexed_matches_oracle_and_bruteforce(spark, docs, built):
    rows = {r.docid: r.text for r in docs.collect()}
    ora = oracle.SingleFieldIndex(rows)
    reader = IndexReader(spark, built)

    for q in QUERIES:
        want = ora.topk(q, k=10)
        brute = [(r.doc_id, r.score)
                 for r in bm25.bm25_topk(docs.selectExpr("docid AS doc_id", "text"), q, 10).collect()]
        wand_on = [(r.docid, r.score) for r in bm25_topk_indexed(reader, q, 10, use_wand=True).collect()]
        wand_off = [(r.docid, r.score) for r in bm25_topk_indexed(reader, q, 10, use_wand=False).collect()]

        for name, got in (("brute", brute), ("wand_on", wand_on), ("wand_off", wand_off)):
            assert len(got) == len(want), f"{q!r} {name}: {len(got)} vs {len(want)}"
            for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
                assert gd == wd, f"{q!r} {name} rank {i}: {gd} != {wd}\n{got}\n{want}"
                assert abs(gs - ws) < 1e-6, f"{q!r} {name} rank {i}: {gs} vs {ws}"


@pytest.mark.spark
def test_indexed_msm(spark, docs, built):
    rows = {r.docid: r.text for r in docs.collect()}
    ora = oracle.SingleFieldIndex(rows)
    reader = IndexReader(spark, built)
    q = "table scan merge sort nonexistentterm"
    want = ora.topk(q, k=10, min_should_match=True)
    got = [(r.docid, r.score)
           for r in bm25_topk_indexed(reader, q, 10, min_should_match=True).collect()]
    assert [d for d, _ in got] == [d for d, _ in want]


def _postings_bytes(spark, root):
    df = spark.read.parquet(f"{root}/postings")
    rows = df.select("term", "shard", "block_id", "first_docid", "n_docs",
                     "max_score_ub", "deltas", "tfs", "dls").collect()
    return sorted(
        (r.term, r.shard, r.block_id, r.first_docid, r.n_docs,
         round(r.max_score_ub, 12), bytes(r.deltas), bytes(r.tfs), bytes(r.dls))
        for r in rows)


@pytest.mark.spark
@pytest.mark.slow
def test_build_determinism_across_parallelism(spark, docs, built, tmp_path):
    root2 = str(tmp_path / "p1")
    build_index(docs.repartition(1), root2, PARAMS, url_col=None, log=lambda *a: None)
    root3 = str(tmp_path / "p13")
    build_index(docs.repartition(13), root3, PARAMS, url_col=None, log=lambda *a: None)
    a = _postings_bytes(spark, built)
    b = _postings_bytes(spark, root2)
    c = _postings_bytes(spark, root3)
    assert a == b == c


@pytest.mark.spark
@pytest.mark.slow
def test_two_segment_merge_equals_single_build(spark, docs, built, tmp_path):
    lo = docs.where("docid < 250")
    hi = docs.where("docid >= 250")
    seg1 = str(tmp_path / "seg1")
    seg2 = str(tmp_path / "seg2")
    build_index(lo, seg1, PARAMS, url_col=None, log=lambda *a: None)
    build_index(hi, seg2, PARAMS, url_col=None, log=lambda *a: None)
    merged = str(tmp_path / "merged")
    man = merge_indexes(spark, [seg1, seg2], merged, PARAMS, log=lambda *a: None)
    assert man.n_docs == 500
    assert _postings_bytes(spark, merged) == _postings_bytes(spark, built)


@pytest.mark.spark
def test_resume_skips_completed_batches_and_matches(spark, docs, built, tmp_path):
    root = str(tmp_path / "resume")
    build_index(docs, root, PARAMS, url_col=None, log=lambda *a: None)
    # simulate a crash after the first bucket-batch: drop the second
    # batch's outputs + manifest entry, then resume
    man = Manifest.load(root)
    keys = sorted(man.completed_batches)
    assert len(keys) == 2
    victim = man.completed_batches.pop(keys[1])
    man.done = False
    man.save(root)
    for bk in victim["buckets"]:
        shutil.rmtree(os.path.join(root, "postings", f"bucket={bk}"))

    logs = []
    man2 = build_index(docs.limit(0), root, PARAMS, url_col=None,
                       resume=True, log=logs.append)
    assert man2.done
    assert any("skipping" in str(m) for m in logs)  # batch 1 not rebuilt
    assert _postings_bytes(spark, root) == _postings_bytes(spark, built)


@pytest.mark.spark
def test_assign_doc_ids_dense_sorted_deterministic(spark):
    df = spark.createDataFrame(
        [(f"https://x{i:03d}.example.com/p",) for i in (5, 3, 9, 1, 7, 3)],
        "url string")
    a = {r.url: r.docid for r in assign_doc_ids(df.repartition(1)).collect()}
    b = {r.url: r.docid for r in assign_doc_ids(df.repartition(4)).collect()}
    assert a == b
    urls = sorted(a)
    assert [a[u] for u in urls] == list(range(len(urls)))


@pytest.mark.spark
def test_python_murmur3_matches_spark_hash(spark):
    from pyspark.sql import functions as F

    from jivesearch_spark.hashing import murmur3_32, term_bucket

    samples = ["bob", "dylan", "a", "", "1234", "東京", "naïve-ascii",
               "longer term with spaces", "x" * 33, "ab", "abc", "abcd", "abcde"]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    rows = df.select("t", F.hash("t").alias("h"),
                     F.pmod(F.hash("t"), F.lit(8)).alias("b")).collect()
    for r in rows:
        assert murmur3_32(r.t.encode("utf-8")) == r.h, r.t
        assert term_bucket(r.t, 8) == r.b, r.t


@pytest.mark.spark
def test_fast_path_single_batch_matches_staged(spark, docs, built, tmp_path):
    # single-batch fast path (no tf staging) must produce identical bytes
    fast = IndexParams(docs_per_shard=100, n_buckets=8, bucket_batch=8)
    root = str(tmp_path / "fast")
    build_index(docs, root, fast, url_col=None, log=lambda *a: None)
    assert not os.path.exists(os.path.join(root, "tf_staging"))
    assert _postings_bytes(spark, root) == _postings_bytes(spark, built)
