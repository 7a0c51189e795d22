#!/usr/bin/env python
"""Phase-level profiling of the index build at two core counts.

Times each pipeline phase separately (extract, docid staging, tf+stats,
encode) so the scaling loss can be attributed. Usage:

    python tools/profile_build.py [n_docs] [cores ...]
"""
from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
CORES = [int(c) for c in sys.argv[2:]] or [1, 4]
WORK = "/tmp/jive_profile"
PAGES = f"{WORK}/pages_{N_DOCS}"


def make_session(cores):
    os.environ.setdefault("SPARK_DRIVER_MEM", "24g")
    from jivesearch_spark.session import get_spark
    spark = get_spark(master=f"local[{cores}]", app_name=f"prof-c{cores}",
                      shuffle_partitions=cores * 2)
    spark.sparkContext.setLogLevel("ERROR")
    (spark.range(0, cores * 4, 1, cores * 4)
     .mapInPandas(lambda it: it, schema="id long").count())
    return spark


def main():
    from pyspark.sql import functions as F

    if not os.path.exists(os.path.join(PAGES, "_SUCCESS")):
        spark = make_session(8)
        from jivesearch_spark import corpus
        corpus.write_pages(spark, PAGES, N_DOCS, partitions=32)
        spark.stop()

    from jivesearch_spark.extract import extract_pages_df
    from jivesearch_spark.index import (IndexParams, _tf_table,
                                        stage_docs_for_ids,
                                        enumerate_staged_docids, build_index)

    results = {}
    for cores in CORES:
        spark = make_session(cores)
        ph = {}

        # phase A: extract only (count forces full pipeline, no shuffle)
        t0 = time.time()
        pages = spark.read.parquet(PAGES)
        docs = (extract_pages_df(pages, collect_links=False)
                .where(F.col("valid") & F.col("index") & F.col("canonical"))
                .select("url", "text"))
        n = docs.count()
        ph["A_extract_count"] = time.time() - t0

        # phase B: extract + persist + staging write (the docid shuffle)
        t0 = time.time()
        staging = f"{WORK}/staging_c{cores}"
        shutil.rmtree(staging, ignore_errors=True)
        raw = docs.persist()
        stage_docs_for_ids(raw, key="url", staging_dir=staging)
        raw.unpersist()
        ph["B_stage_write"] = time.time() - t0

        # phase C: tf explode+groupBy+persist + stats write
        t0 = time.time()
        ids = enumerate_staged_docids(spark, staging, key="url")
        tf = _tf_table(ids, "docid", "text").withColumn(
            "bucket", F.pmod(F.hash("term"), F.lit(32)))
        from pyspark import StorageLevel
        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
        stats_path = f"{WORK}/stats_c{cores}"
        shutil.rmtree(stats_path, ignore_errors=True)
        (tf.groupBy("term")
         .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"),
              F.first("bucket").alias("bucket"))
         .write.mode("overwrite").partitionBy("bucket").parquet(stats_path))
        ph["C_tf_stats"] = time.time() - t0

        # phase D: encode (join stats + repartition + sort + mapInPandas)
        t0 = time.time()
        stats = spark.read.parquet(stats_path)
        nparts = max(2, 3 * spark.sparkContext.defaultParallelism)
        part = (tf.join(stats.select("term", "df"), "term")
                .withColumn("shard", (F.col("docid") / F.lit(1 << 16)).cast("int"))
                .repartition(nparts, "term", "shard")
                .sortWithinPartitions("term", "shard", "docid"))
        # reuse the real encode kernel via build path internals: simplest
        # honest proxy — count bytes after encode using codec directly
        import numpy as np
        import pandas as pd
        from jivesearch_spark import codec
        n_docs_c, avgdl = n, 120.0

        def _enc(batch_iter):
            for pdf in batch_iter:
                if not len(pdf):
                    continue
                terms_a = pdf["term"].values
                shards_a = pdf["shard"].values
                new_grp = np.empty(len(pdf), dtype=bool)
                new_grp[0] = True
                new_grp[1:] = (terms_a[1:] != terms_a[:-1]) | (shards_a[1:] != shards_a[:-1])
                starts = np.flatnonzero(new_grp)
                docid_a = pdf["docid"].values.astype(np.int64)
                tf_a = pdf["tf"].values.astype(np.int64)
                dl_a = pdf["dl"].values.astype(np.int64)
                df_a = pdf["df"].values.astype(np.float64)
                idf = np.log(1.0 + (n_docs_c - df_a + 0.5) / (df_a + 0.5))
                tfn = (tf_a * 2.2 / (tf_a + 1.2 * (0.25 + 0.75 * dl_a / avgdl)))
                bs, meta, _, blk_o = codec.encode_blocks_frame(
                    docid_a, tf_a, dl_a, idf * tfn, starts)
                yield pd.DataFrame({"n": meta["n_docs"],
                                    "b": np.diff(blk_o)})

        out = part.mapInPandas(_enc, schema="n int, b int")
        out.agg(F.sum("n"), F.sum("b")).collect()
        ph["D_encode"] = time.time() - t0

        tf.unpersist()

        # phase E: full build end-to-end (the bench-timed path)
        t0 = time.time()
        outdir = f"{WORK}/idx_c{cores}"
        shutil.rmtree(outdir, ignore_errors=True)
        build_index(docs, outdir,
                    IndexParams(docs_per_shard=1 << 16, n_buckets=32,
                                bucket_batch=32),
                    id_col="__none__", url_col="url",
                    check_invariants=False, log=lambda *a: None)
        ph["E_full_build"] = time.time() - t0

        spark.stop()
        results[cores] = ph
        print(f"c{cores}: " + " ".join(f"{k}={v:.1f}s" for k, v in ph.items()),
              flush=True)

    if len(CORES) == 2:
        lo, hi = CORES
        print("\nphase efficiencies (t_lo/t_hi)/(hi/lo):")
        for k in results[lo]:
            e = (results[lo][k] / results[hi][k]) / (hi / lo)
            print(f"  {k}: {e:.3f}")


if __name__ == "__main__":
    main()
