"""Streaming incremental index: per-micro-batch segments + compaction
equals the single-shot batch build (byte-identity when batch order
aligns with the docid total order), and watermark dedup semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from jivesearch_spark import codec, corpus
from jivesearch_spark.extract import extract_pages_df
from jivesearch_spark.index import IndexParams, assign_doc_ids, build_index

PARAMS = IndexParams(docs_per_shard=128, n_buckets=8, bucket_batch=8)
N_PAGES = 300


def _postings_bytes(spark, root):
    rows = (spark.read.parquet(os.path.join(root, "postings"))
            .select("bucket", "term", "shard", "block_id", "blk")
            .collect())
    return sorted((r["bucket"], r["term"], r["shard"], r["block_id"],
                   *(codec.unpack_block(bytes(r["blk"]))[c]
                     for c in ("deltas", "tfs", "dls")))
                  for r in rows)


@pytest.mark.spark
def test_incremental_segments_compact_to_batch_build(spark, tmp_path):
    from jivesearch_spark import streaming

    pages = corpus.pages_df(spark, N_PAGES, partitions=4).cache()
    docs = (extract_pages_df(pages)
            .where(F.col("valid") & F.col("index") & F.col("canonical"))
            .select("url", "text"))

    # ---- reference: single-shot batch build over everything ----
    batch_root = str(tmp_path / "batch_idx")
    build_index(docs, batch_root, PARAMS, id_col="__none__", url_col="url",
                log=lambda *a: None)

    # ---- stream input: two files split at the url-order median so
    # batch-arrival order concatenates to the global url sort ----
    ranked = assign_doc_ids(docs, key="url",
                            staging_dir=str(tmp_path / "rank_staging"))
    n = ranked.count()
    stream_dir = str(tmp_path / "pages_stream")
    os.makedirs(stream_dir)
    # docids sort by the extractor's NORMALIZED url — split the raw
    # pages at the median normalized url so per-batch docid ranges
    # concatenate to the global order
    boundary = ranked.where(F.col("docid") == n // 2).collect()[0]["url"]

    def _norm(batches):
        from jivesearch_spark.gourl import validate_url

        def nrm(u):
            try:
                return validate_url(u).string()
            except Exception:
                return u  # invalid pages are filtered out later anyway

        for pdf in batches:
            out = pdf.copy()
            out["norm_url"] = [nrm(u) for u in pdf["url"]]
            yield out

    normed = pages.mapInPandas(
        _norm, schema=corpus.PAGES_SCHEMA + ", norm_url string").cache()
    lo = normed.where(F.col("norm_url") < boundary).drop("norm_url")
    hi = normed.where(F.col("norm_url") >= boundary).drop("norm_url")
    lo.coalesce(1).write.mode("append").parquet(stream_dir)
    hi.coalesce(1).write.mode("append").parquet(stream_dir)
    # ensure file mtimes order lo before hi for the file source
    files = sorted((os.path.getmtime(os.path.join(stream_dir, f)), f)
                   for f in os.listdir(stream_dir) if f.endswith(".parquet"))
    assert len(files) == 2

    # ---- incremental: one segment per micro-batch ----
    root = str(tmp_path / "inc")
    state = streaming.run_incremental_index(
        spark, stream_dir, root, PARAMS, max_files_per_trigger=1,
        log=lambda *a: None)
    assert len(state["segments"]) == 2
    bases = [s["docid_base"] for s in state["segments"]]
    assert bases == sorted(bases) and bases[0] == 0
    assert state["n_docs"] == n

    # ---- compaction == batch build, byte for byte ----
    compacted = str(tmp_path / "compacted")
    man = streaming.compact_segments(spark, root, compacted, PARAMS,
                                     log=lambda *a: None)
    assert man.n_docs == n
    assert _postings_bytes(spark, compacted) == _postings_bytes(spark, batch_root)

    # ---- idempotent replay: re-running over the same directory with
    # the same checkpoint commits nothing new ----
    state2 = streaming.run_incremental_index(
        spark, stream_dir, root, PARAMS, max_files_per_trigger=1,
        log=lambda *a: None)
    assert len(state2["segments"]) == 2
    pages.unpersist()


@pytest.mark.spark
def test_stream_dedup_by_url(spark, tmp_path):
    from jivesearch_spark import streaming

    pages = corpus.pages_df(spark, 40, partitions=2)
    dup = pages.unionByName(pages)  # every url twice
    d = str(tmp_path / "dup_pages")
    dup.write.parquet(d)

    out_rows = []
    stream = streaming.deduped_pages_stream(
        streaming.pages_stream(spark, d, max_files_per_trigger=100))

    def _sink(batch_df, batch_id):
        out_rows.extend(batch_df.select("url").collect())

    q = (stream.writeStream.foreachBatch(_sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    urls = [r["url"] for r in out_rows]
    assert len(urls) == len(set(urls)) == pages.select("url").distinct().count()
