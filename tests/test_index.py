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
import time

import numpy as np
import pyarrow as pa
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
        bs, meta, values, offsets = codec.encode_blocks_frame(
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
            got = codec.unpack_block(
                values[offsets[i]:offsets[i + 1]].tobytes())
            assert (r["deltas"], r["tfs"], r["dls"]) == (
                got["deltas"], got["tfs"], got["dls"])


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

    post = spark.read.parquet(f"{root}/postings").where("term = 'zzhead'")
    per_shard = {}
    for r in post.select("shard", "blk").collect():
        n = codec.unpack_block(bytes(r["blk"]))["n_docs"]
        per_shard[r["shard"]] = per_shard.get(r["shard"], 0) + n
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
        values, off = codec.blk_buffers(
            pa.array([codec.pack_block(r) for r in rows], pa.binary()))
        _, so = codec.parse_blk(values, off[:-1], off[1:])
        d, t, l = codec.decode_blocks_concat(
            values, so, [r["n_docs"] for r in rows])
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
    rows = [(r.term, r.shard, r.block_id, codec.unpack_block(bytes(r.blk)))
            for r in df.select("term", "shard", "block_id", "blk").collect()]
    return sorted(
        (term, shard, bid, u["first_docid"], u["n_docs"],
         round(u["max_score_ub"], 12), u["deltas"], u["tfs"], u["dls"])
        for term, shard, bid, u in rows)


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
def test_postings_files_hold_packed_blk_without_dictionary(built):
    """On disk a postings row is (term, shard, block_id, blk), and the
    unique blk values are written without a dictionary page."""
    import glob

    import pyarrow.parquet as pq
    files = glob.glob(os.path.join(built, "postings", "bucket=*", "*.parquet"))
    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        assert md.schema.names == ["term", "shard", "block_id", "blk"], f
        for i in range(md.num_row_groups):
            chunk = md.row_group(i).column(md.schema.names.index("blk"))
            assert not chunk.has_dictionary_page, (f, i)
            assert not {"PLAIN_DICTIONARY", "RLE_DICTIONARY"} & set(
                chunk.encodings), (f, i, chunk.encodings)


class _Crash(Exception):
    pass


def _crash_after_first_batch(msg):
    if str(msg).startswith("[index] buckets_"):   # logged after its commit
        raise _Crash(msg)


@pytest.mark.spark
def test_resume_skips_completed_batches_and_matches(spark, docs, built, tmp_path):
    root = str(tmp_path / "resume")
    # a real crash after the first bucket-batch commits: the manifest
    # is not done and the staged tf the second batch needs is on disk
    with pytest.raises(_Crash):
        build_index(docs, root, PARAMS, url_col=None,
                    log=_crash_after_first_batch)
    man = Manifest.load(root)
    assert not man.done and len(man.completed_batches) == 1
    assert os.path.isdir(os.path.join(root, "tf_staging"))
    # doc_meta is written beside stage 2: let the crashed build's write
    # land before the resume decides whether to write it again
    deadline = time.monotonic() + 120
    while not os.path.exists(os.path.join(root, "doc_meta", "_SUCCESS")):
        assert time.monotonic() < deadline, "doc_meta write never finished"
        time.sleep(0.2)

    logs = []
    man2 = build_index(docs.limit(0), root, PARAMS, url_col=None,
                       resume=True, log=logs.append)
    assert man2.done
    assert len(man2.completed_batches) == 2
    assert any("skipping" in str(m) for m in logs)  # batch 1 not rebuilt
    assert _postings_bytes(spark, root) == _postings_bytes(spark, built)


@pytest.mark.spark
def test_done_build_drops_scratch_and_resume_returns_it(spark, docs, tmp_path):
    """A published index holds no build scratch, and resuming a done
    build returns its manifest without reading or writing anything."""
    root = str(tmp_path / "scratch")
    urls = _url_docs(docs)
    man = build_index(urls, root, PARAMS, id_col="docid", url_col="url",
                      log=lambda *a: None)
    assert man.done
    for scratch in ("docid_staging", "tf_staging"):
        assert not os.path.exists(os.path.join(root, scratch)), scratch

    def snapshot():
        return sorted((os.path.join(d, f), os.stat(os.path.join(d, f)).st_mtime_ns)
                      for d, _, fs in os.walk(root) for f in fs)
    before = snapshot()
    logs = []
    again = build_index(urls.limit(0), root, PARAMS, id_col="docid",
                        url_col="url", resume=True, log=logs.append)
    assert again == man and logs == []
    assert snapshot() == before


def _url_docs(docs):
    from pyspark.sql import functions as F
    return docs.withColumn("url", F.format_string(
        "https://x.example.com/%d", F.col("docid"))).drop("docid")


def _crash_after_stage1(msg):
    if str(msg).startswith("[index] stage1 done"):   # logged after its commit
        raise _Crash(msg)


@pytest.mark.spark
def test_default_build_encodes_in_one_job_from_url_text_staging(
        spark, docs, tmp_path):
    """Default params encode stage 2 in one job: no tf staging, one
    committed batch, and a docid staging of url + text only. A crash
    after the stage-1 commit resumes from that staging to the same
    postings bytes."""
    params = IndexParams()
    assert params == IndexParams(bucket_batch=params.n_buckets)
    urls = _url_docs(docs)
    seen = {}

    def inspect(msg):   # the scratch is gone once the build is done
        if str(msg).startswith("[index] stage1 done"):
            seen["staged"] = set(spark.read.parquet(
                os.path.join(clean, "docid_staging")).columns)
            seen["tf_staging"] = os.path.exists(os.path.join(clean, "tf_staging"))

    clean = str(tmp_path / "clean")
    man = build_index(urls, clean, url_col="url", log=inspect)
    assert man.done and man.params["bucket_batch"] == params.n_buckets
    assert seen == {"staged": {"url", "text", "__pid"}, "tf_staging": False}
    assert list(man.completed_batches) == [f"buckets_0_{params.n_buckets - 1}"]
    assert set(man.stage1_steps) == {"staging_write", "offsets", "tf_stats"}
    assert all(s >= 0 for s in man.stage1_steps.values())

    root = str(tmp_path / "resume")
    with pytest.raises(_Crash):
        build_index(urls, root, url_col="url", log=_crash_after_stage1)
    crashed = Manifest.load(root)
    assert crashed.stage1_done and not crashed.completed_batches
    assert not os.path.exists(os.path.join(root, "tf_staging"))
    man2 = build_index(urls.limit(0), root, url_col="url", resume=True,
                       log=lambda *a: None)
    assert man2.done and list(man2.completed_batches) == list(man.completed_batches)
    assert man2.stage1_steps == crashed.stage1_steps   # stage 1 not re-run
    assert _postings_bytes(spark, root) == _postings_bytes(spark, clean)


@pytest.mark.spark
def test_stats_for_reads_term_stats_without_a_spark_job(spark, built):
    """IndexReader.stats_for reads df on the driver: the same values a
    Spark scan of term_stats gives, and no Spark job."""
    from pyspark.sql import functions as F
    sc = spark.sparkContext
    terms = ["the", "fast", "merge", "zzz-not-a-term", "query"]
    reader = IndexReader(spark, built)
    group = "stats_for_no_job"
    sc.setJobGroup(group, "IndexReader.stats_for")
    try:
        got = reader.stats_for(terms)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        want = {r.term: r.df for r in reader.term_stats
                .where(F.col("term").isin(terms)).collect()}
        assert sc.statusTracker().getJobIdsForGroup(group)  # the scan is seen
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == want and len(want) == 4


@pytest.mark.spark
def test_readers_refuse_other_codec_version(spark, built, tmp_path):
    """A manifest from another codec layout is refused by every reader
    and by merge, naming both versions."""
    import json

    from jivesearch_spark import serve
    root = str(tmp_path / "old")
    shutil.copytree(built, root)
    with open(os.path.join(root, "manifest.json")) as f:
        m = json.load(f)
    m["params"]["codec_version"] = 1
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(m, f)
    want = f"codec version 1; this build reads codec version {codec.CODEC_VERSION}"
    for opener in (lambda: IndexReader(spark, root),
                   lambda: serve.LocalIndex(root),
                   lambda: merge_indexes(spark, [root], str(tmp_path / "m"),
                                         log=lambda *a: None)):
        with pytest.raises(ValueError, match=want):
            opener()


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
