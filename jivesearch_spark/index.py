"""Inverted-index build — term-partitioned compressed postings at scale.

Architecture (the 10^12-doc design point, tested at small scale):

- **Dense doc ids** assigned by deterministic global sort of url
  (range-partition staged to parquet → per-partition offsets →
  row_number): ids are partition-count invariant, so every downstream
  artifact is too.
- **Doc-sharded postings**: shard = docid // docs_per_shard, the same
  doc ranges for every term (an ES/Lucene-style document-partitioned
  index — reference runs one ES index per language with hash-sharded
  docs, document/elasticsearch.go:23-58). Head-term skew is bounded by
  construction: a term's postings within one shard ≤ docs_per_shard,
  so no groupBy group can exceed that — this replaces ad-hoc key
  salting with a deterministic equivalent (same effect, reproducible
  bytes).
- **Term buckets**: bucket = murmur3(term) % n_buckets is the parquet
  partition column → query-side predicate pushdown prunes directories
  by bucket and row groups by term min/max.
- **Blocks**: 128-posting varint blocks with block-max metadata
  (codec.py), byte-identical for a given (corpus, params) at ANY build
  parallelism — the determinism gate (FIXTURES.md §4).
- **Resumable two-stage build** (the reference's staged-publish
  pattern, postgresql.go:320-369, re-expressed as snapshot commits):
  stage 1 stages the url + text columns, materializes term_stats and
  commits a manifest (with its step seconds); stage 2 encodes the
  postings and commits lineage + row/byte/term metrics to the
  manifest. By default stage 2 is one encode job over tf persisted in
  the session; with bucket_batch < n_buckets tf is staged to parquet
  and encoded bucket-batch by bucket-batch, each batch committed on
  its own. A killed build rerun with resume=True skips every
  committed batch (idempotent: batches write to their own dirs).

Everything relational is DataFrame built-ins (codegen); the only
Python is the Arrow-batched encode kernel (mapInPandas over
(term, shard)-clustered sorted partitions, numpy inside — one kernel
invocation covers thousands of term groups).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import analyze, codec
from .session import ensure_shipped

MANIFEST = "manifest.json"

#: on-disk row schemas (readers pass these explicitly so a
#: legitimately empty table — e.g. a zero-token field sub-index —
#: reads as an empty frame instead of failing schema inference)
#: ``blk`` packs a block's bounds and its three varint streams into
#: one value (codec.pack_blocks; layout in codec.BLK_HEADER): the cost
#: of a cold read is per column chunk, so a read decodes four
POSTINGS_SCHEMA = "bucket int, term string, shard int, block_id int, blk binary"
TERM_STATS_SCHEMA = "term string, df long, cf long, bucket int"
#: column -> Arrow type of those schemas (TermFiles' read of no files)
_ARROW_TYPES = {n: {"int": "int32", "long": "int64"}.get(t, t) for n, t in (
    c.split() for c in f"{POSTINGS_SCHEMA}, {TERM_STATS_SCHEMA}".split(","))}


@dataclass
class IndexParams:
    docs_per_shard: int = 1 << 20      # postings group bound (skew cap)
    n_buckets: int = 16                # term-hash parquet partitions
    #: buckets committed per stage-2 encode job; 0 (the default)
    #: resolves to n_buckets, so stage 2 is ONE job over tf persisted
    #: in the session. Below n_buckets, tf is staged to parquet and
    #: each batch commits to the manifest on its own (resume
    #: granularity for very large builds).
    bucket_batch: int = 0
    k1: float = 1.2
    b: float = 0.75
    block_size: int = codec.BLOCK_SIZE
    codec_version: int = codec.CODEC_VERSION
    #: "standard" (analyze.tokens) or an analyze_lang analyzer name
    #: ("english", "french", "cjk", …) — the same chain is applied to
    #: queries at read time (rank identity requires one spec).
    analyzer: str = "standard"
    #: pinned lang-profile version recorded at build time; readers
    #: refuse to analyze queries for an index built under a different
    #: profile (analyze_query) — "" only in pre-versioning manifests
    analyzer_profile: str = ""
    #: serving-layout knob: parquet row-group size for the postings
    #: and term_stats writes. Each bucket is co-located into ONE
    #: term-sorted file (see the stage-2 write), so row-group min/max
    #: on ``term`` actually prunes — a query term's cold read then
    #: touches O(its own row groups), not the whole bucket. 1 MiB ≈
    #: 5-10k block rows per group here; at 10^12 docs the same layout
    #: holds per bucket file (raise n_buckets with corpus size).
    row_group_bytes: int = 1 << 20

    def __post_init__(self):
        if not self.bucket_batch:
            self.bucket_batch = self.n_buckets
        if not self.analyzer_profile:
            from . import analyze_lang
            self.analyzer_profile = analyze_lang.LANG_PROFILE


@dataclass
class Manifest:
    params: dict
    n_docs: int = 0
    avgdl: float = 0.0
    n_shards: int = 0
    stage1_done: bool = False
    #: stage-1 step -> seconds, recorded at its commit: staging_write,
    #: offsets, tf_stats (a pre-id'd build: tf_stats, count)
    stage1_steps: dict = field(default_factory=dict)
    completed_batches: dict = field(default_factory=dict)  # batch_key -> metrics
    done: bool = False

    @classmethod
    def load(cls, root: str) -> "Manifest | None":
        p = os.path.join(root, MANIFEST)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            d = json.load(f)
        # forward-compat: params added after a manifest was written get
        # their defaults, so old indexes stay resumable/readable —
        # EXCEPT analyzer_profile, which must stay "" (unknown) for
        # pre-versioning manifests rather than claiming the current
        # one, and codec_version, whose absence means the first layout
        defaults = asdict(IndexParams())
        defaults["analyzer_profile"] = ""
        defaults["codec_version"] = 1
        for key, val in defaults.items():
            d.setdefault("params", {}).setdefault(key, val)
        return cls(**d)

    def check_codec(self, root: str) -> None:
        """Refuse postings written under another codec layout: read as
        this build's layout they would decode to garbage, not fail."""
        got = self.params.get("codec_version")
        if got != codec.CODEC_VERSION:
            raise ValueError(
                f"index at {root} was written with codec version {got}; "
                f"this build reads codec version {codec.CODEC_VERSION} — "
                "rebuild the index")

    def save(self, root: str) -> None:
        os.makedirs(root, exist_ok=True)
        tmp = os.path.join(root, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(asdict(self), f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(root, MANIFEST))  # atomic commit


def stage_docs_for_ids(docs: DataFrame, key: str = "url",
                       staging_dir: str | None = None) -> str:
    """Materialize the range partitioning that defines docid order.

    repartitionByRange seeds its sampler with the RDD id, so two jobs
    over the same plan can draw different boundaries — enumerating
    against a re-executed plan would corrupt the ids. The staged
    parquet pins one concrete partitioning (and is the natural resume
    artifact). Duplicates are NOT pre-shuffled away: equal keys land
    in the same range partition, so dedup happens inside the
    enumeration window — one wide shuffle of the data instead of two.
    """
    import tempfile

    spark = docs.sparkSession
    # 3 waves of range partitions — balances the per-partition sort +
    # enumeration work across cores even when ranges are uneven.
    # JIVESEARCH_STAGING_PARTITIONS overrides (the scaling bench pins
    # it so both cluster sizes run the IDENTICAL physical plan — on a
    # real N vs 4N cluster this is a fixed job config, not a
    # per-cluster derivation; same contract as ENCODE_PARTITIONS)
    p = max(2, int(os.environ.get(
        "JIVESEARCH_STAGING_PARTITIONS",
        3 * spark.sparkContext.defaultParallelism)))
    staging = staging_dir or tempfile.mkdtemp(prefix="docids_")
    (docs.repartitionByRange(p, F.col(key))
     .withColumn("__pid", F.spark_partition_id())
     .write.mode("overwrite").parquet(staging))
    return staging


def _staged_offsets(spark, staging: str, key: str) -> tuple:
    """Per-partition docid offsets + exact corpus size from the staged
    parquet: one column-pruned scan of the key (duplicates are
    co-located by the range partitioning, so per-partition DISTINCT
    counts are exact)."""
    staged = spark.read.parquet(staging)
    counts = {int(r["__pid"]): int(r["cnt"]) for r in
              staged.groupBy("__pid")
              .agg(F.countDistinct(key).alias("cnt")).collect()}
    offsets = []
    acc = 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "__pid int, __off long")
    return off_df, acc


def _enumerate_with_offsets(staged: DataFrame, off_df: DataFrame,
                            key: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("__pid").orderBy(key)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dup = (F.lag(key).over(w) == F.col(key)).cast("int")
    dup = F.coalesce(dup, F.lit(0))
    return (staged.join(F.broadcast(off_df), "__pid")
            .withColumn("__dup", dup)
            .withColumn("__cum", F.sum("__dup").over(wc))
            .withColumn("docid",
                        F.col("__off") + F.row_number().over(w) - 1 - F.col("__cum"))
            .where(F.col("__dup") == 0)
            .drop("__pid", "__off", "__dup", "__cum"))


def assign_doc_ids(docs: DataFrame, key: str = "url",
                   staging_dir: str | None = None) -> DataFrame:
    """Dense deterministic docids: global sort by key → dense 0..N-1.

    The range partitioning is materialized to staging parquet
    (stage_docs_for_ids), then docid = per-partition offset +
    row_number within partition — all JVM-side. Ids are invariant to
    the input partitioning because the composition is a total order on
    a unique key (duplicates dropped first); boundary placement only
    shifts offsets, never ranks.
    """
    spark = docs.sparkSession
    staging = stage_docs_for_ids(docs, key, staging_dir)
    return enumerate_staged_docids(spark, staging, key)


def enumerate_staged_docids(spark, staging: str, key: str = "url") -> DataFrame:
    """Assign docid = partition offset + rank over a previously staged
    range-partitioned parquet, dropping duplicate keys (first in key
    order wins). Deterministic and re-runnable — this is how a resumed
    build reconstructs its docids."""
    off_df, _ = _staged_offsets(spark, staging, key)
    return _enumerate_with_offsets(spark.read.parquet(staging), off_df, key)


def _tf_table(docs: DataFrame, id_col: str, text_col: str,
              toks_col: str | None = None) -> DataFrame:
    """(term, docid, dl, tf) rows with NO shuffle.

    A document's tokens are row-local, so term frequencies are
    computed inside the scan stage — array_sort + run-length encoding
    over the token array, all whole-stage-codegen built-ins — instead
    of explode + groupBy(term, docid). At 10^12 docs that explode
    exchange is the largest shuffle of the whole build and carries
    zero information the row did not already have; eliminating it also
    removes the reduce-side hash aggregation and one stage barrier
    from the critical path (measured: the old exchange+agg stage was
    the worst-scaling stage of the build, 0.52-0.55 efficiency at
    1→4 cores vs 0.9+ for the scan stages).
    """
    if toks_col:
        toks = docs.select(F.col(id_col).alias("docid"),
                           F.col(toks_col).alias("toks"))
    else:
        toks = docs.select(F.col(id_col).alias("docid"),
                           analyze.tokens(F.col(text_col)).alias("toks"))
    # bind the sorted array and counts as REAL columns before any
    # lambda references them: expressions used inside higher-order
    # functions are re-evaluated per element (no CSE inside lambdas),
    # so an unbound array_sort there turns O(n) into O(n^2 log n)
    toks = (toks.where(F.size("toks") > 0)   # empty docs emit no rows
            .select("docid", F.size("toks").alias("dl"),
                    F.array_sort(F.col("toks")).alias("s")))
    s = F.col("s")
    # 1-based positions where a new run starts in the sorted array
    # position 1 short-circuits via when(): Or's evaluation order is an
    # implementation detail and element_at(s, 0) raises
    starts = F.filter(
        F.sequence(F.lit(1), F.col("dl")),
        lambda p: F.when(p == F.lit(1), F.lit(True)).otherwise(
            F.element_at(s, p) != F.element_at(s, p - F.lit(1))))
    toks = toks.withColumn("starts", starts)
    # each run ends where the next begins (the last at dl+1)
    ends = F.concat(
        F.slice(F.col("starts"), F.lit(2), F.size(F.col("starts")) - F.lit(1)),
        F.array(F.col("dl") + F.lit(1)))
    pairs = F.zip_with(
        F.col("starts"), ends,
        lambda st, en: F.struct(F.element_at(s, st).alias("term"),
                                (en - st).cast("long").alias("tf")))
    return (toks
            .select("docid", "dl", F.explode(pairs).alias("p"))
            .select(F.col("p.term").alias("term"), "docid", "dl",
                    F.col("p.tf").alias("tf")))


def build_index(docs: DataFrame, out_dir: str, params: IndexParams | None = None,
                id_col: str = "docid", text_col: str = "text",
                url_col: str | None = "url", resume: bool = False,
                check_invariants: bool = True, log=print,
                toks_col: str | None = None,
                manage_cache: bool = True) -> Manifest:
    """Build a complete index at ``out_dir``.

    ``docs`` must already carry dense docids (assign_doc_ids) unless
    url_col is given and id_col is absent. ``toks_col`` names a
    pre-tokenized array<string> column to index instead of tokenizing
    ``text_col`` (the fielded/shingle build path); ``manage_cache=False``
    leaves the caller's persisted ``docs`` alone (used when one cached
    frame feeds several per-field builds).
    """
    params = params or IndexParams()
    spark = docs.sparkSession
    ensure_shipped(spark)

    if toks_col is None and params.analyzer != "standard":
        # per-language analyzer profile: the Arrow UDF chain lands in a
        # column BEFORE docid staging, so analysis is materialized once
        # into the staged parquet rather than recomputed per pass
        from . import analyze_lang
        docs = docs.withColumn(
            "__lang_toks",
            analyze_lang.tokens_lang(F.col(text_col), params.analyzer))
        toks_col = "__lang_toks"

    man = Manifest.load(out_dir) if resume else None
    if man is None:
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)
        man = Manifest(params=asdict(params))
    elif man.params != asdict(params):
        raise ValueError("resume with different params; rebuild instead")
    elif man.done:
        return man   # published: its build scratch is already gone

    tf_path = os.path.join(out_dir, "tf_staging")
    stats_path = os.path.join(out_dir, "term_stats")
    meta_path = os.path.join(out_dir, "doc_meta")
    post_path = os.path.join(out_dir, "postings")

    # ---- stage 1: materialize tf + stats (the resume checkpoint).
    # Critical path is 3 Spark jobs (sample, staging write, tf/stats);
    # corpus stats ride on the staging offsets (n_docs) and an
    # .observe(sum(cf)) on the stats write (Σcf ≡ Σdl) instead of
    # separate agg jobs, and doc_meta — needed only by readers, not by
    # the encode — is written CONCURRENTLY with stage 2. Each step's
    # seconds land in the manifest's ``stage1_steps`` at the commit.
    tf_live = None  # in-session persisted tf (one-job stage 2)
    if not man.stage1_done:
        t0 = t_step = time.time()

        def step(name):
            nonlocal t_step
            now = time.time()
            man.stage1_steps[name] = round(now - t_step, 2)
            t_step = now
            log(f"[index] stage1: {name.replace('_', ' ')} +{now - t0:.1f}s")

        n_all = None
        if id_col not in docs.columns:
            # stage only what the index reads after this point: the tf
            # pass reads the text (or pre-tokenized) column and
            # doc_meta the url. Persist the upstream (extraction is
            # expensive) for the duration of the staging write:
            # repartitionByRange runs a boundary-sampling job over the
            # full input BEFORE the shuffle write — without the cache
            # that executes the extractor twice.
            raw = docs.select(url_col, toks_col or text_col).persist()
            staging = stage_docs_for_ids(
                raw, key=url_col,
                staging_dir=os.path.join(out_dir, "docid_staging"))
            raw.unpersist()  # everything reads the staged parquet now
            step("staging_write")
            off_df, n_all = _staged_offsets(spark, staging, url_col)
            step("offsets")
            docs = _enumerate_with_offsets(
                spark.read.parquet(staging), off_df, url_col)
            id_col = "docid"
        elif manage_cache:
            # pre-id'd docs (segment/fielded builds): both the tf pass
            # and the meta join read this frame
            docs = docs.persist()

        # NOTE: tokens are computed ONCE, in the tf pass — doc lengths
        # are recovered from the tf rows (dl rides each row; Σcf is the
        # corpus token count), so no second tokenize pass exists.
        tf = _tf_table(docs, id_col, text_col, toks_col).withColumn(
            "bucket", F.pmod(F.hash("term"), F.lit(params.n_buckets)))

        from pyspark.sql import Observation
        obs = Observation("corpus_stats")
        if params.bucket_batch >= params.n_buckets:
            # the default: stage 2 is ONE encode job, so the tf table
            # is never written to parquet — term_stats is the only
            # checkpoint (saves a full write+read of the largest
            # intermediate). tf is persisted (memory, spill-to-disk)
            # so its tokenize + run-length pass runs ONCE for stats,
            # encode and doc_meta; resume granularity = stage boundary
            # (on resume tf is rebuilt from the docid staging).
            # persist measured vs recompute (round 3, tf now
            # shuffle-free): recompute costs a second tokenize+RLE
            # pass and loses ~15% wall at 4 cores; the persist wins.
            from pyspark import StorageLevel
            tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
            tf_live = tf
            stats_src = tf
        else:
            # per-batch commits (bucket_batch < n_buckets): each encode
            # job re-reads its buckets of the staged tf, and a resume
            # skips the committed batches. Co-locate each bucket before
            # the partitioned write: one file per bucket instead of
            # (tasks × buckets)
            tf.repartition(params.n_buckets, "bucket") \
                .write.mode("overwrite").partitionBy("bucket").parquet(tf_path)
            stats_src = spark.read.parquet(tf_path)
        # one term-sorted file per bucket (4x partitions ≈ no hash
        # collisions → every bucket lands alone in its partition;
        # partitionBy still splits any collided pair into its own
        # file, sorted because bucket leads the sort key). Serving's
        # stats_for then opens ONE footer per query bucket and prunes
        # row groups by term min/max instead of scanning a
        # file-per-shuffle-task directory.
        (stats_src.groupBy("term")
         .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"),
              F.first("bucket").alias("bucket"))
         .repartition(4 * params.n_buckets, "bucket")
         .sortWithinPartitions("bucket", "term")
         .observe(obs, F.sum("cf").alias("sum_dl"))
         .write.mode("overwrite").partitionBy("bucket")
         .option("parquet.block.size", str(params.row_group_bytes))
         .parquet(stats_path))
        sum_dl = float(obs.get["sum_dl"] or 0)
        step("tf_stats")

        if n_all is None:
            # pre-id'd path: no staging offsets to read the size from —
            # count the docs frame (cached above; cheap single agg)
            n_all = docs.count()
            step("count")
        man.n_docs = n_all
        man.avgdl = (sum_dl / n_all) if n_all else 0.0
        man.n_shards = max(1, -(-n_all // params.docs_per_shard))

        man.stage1_done = True
        man.save(out_dir)
        log(f"[index] stage1 done in {time.time()-t0:.1f}s: "
            f"n_docs={man.n_docs} avgdl={man.avgdl:.3f} shards={man.n_shards}")

    # ---- stage 2: encode postings, bucket-batch at a time ----
    n_docs, avgdl = man.n_docs, man.avgdl
    k1, b, dps = params.k1, params.b, params.docs_per_shard

    def _encode_stream(batch_iter):
        """mapInArrow over GROUPED rows: one row per (term, shard)
        posting list, its postings pre-aggregated JVM-side into three
        primitive list columns (docids/tfs/dls, docid-sorted).

        Why grouped-arrays instead of one row per posting: the Arrow
        exchange's per-row struct-vector bookkeeping
        (NonNullableStructVector.getBufferSizeFor/setValueCount) was
        JFR-measured at ~20% of JVM CPU with 4 concurrent tasks in one
        JVM vs ~4% at 1 — the dominant intra-job scaling loss of the
        whole build. Grouping shrinks rows crossing Arrow by the mean
        posting-list length (and sends each term string ONCE per
        group, not once per posting); list children transfer as plain
        primitive buffers. The flattened values + list offsets are
        exactly the (arrays, group_starts) shape the vectorized block
        encoder consumes — zero per-group Python.
        """
        import pyarrow as pa
        for rb in batch_iter:
            if rb.num_rows == 0:
                continue
            term_pa = rb.column("term")
            if isinstance(term_pa, pa.ChunkedArray):
                term_pa = term_pa.combine_chunks()
            shard_a = rb.column("shard").to_numpy(zero_copy_only=False)
            df_a = rb.column("df").to_numpy(zero_copy_only=False)
            bucket_a = rb.column("bucket").to_numpy(zero_copy_only=False)

            def flat(name):
                arr = rb.column(name)
                if isinstance(arr, pa.ChunkedArray):
                    arr = arr.combine_chunks()
                off = np.asarray(arr.offsets)
                vals = np.asarray(arr.values)[off[0]:off[-1]]
                return vals.astype(np.int64, copy=False), (off - off[0])

            docid_a, off = flat("docids")
            tf_a, _ = flat("tfs_a")
            dl_a, _ = flat("dls_a")
            sizes = np.diff(off)
            idf_g = np.log(1.0 + (n_docs - df_a.astype(np.float64) + 0.5)
                           / (df_a.astype(np.float64) + 0.5))
            tfn = (tf_a * (k1 + 1.0)
                   / (tf_a + k1 * (1.0 - b + b * dl_a / max(avgdl, 1e-9))))
            scores_flat = np.repeat(idf_g, sizes) * tfn
            bs, meta, blk_v, blk_o = codec.encode_blocks_frame(
                docid_a, tf_a, dl_a, scores_flat, off[:-1].astype(np.int64))
            # block → source group (row) index
            gi = np.searchsorted(off, bs, side="right") - 1
            # n_docs rides along for the write's postings metric only;
            # the stage-2 write drops it (it is inside blk)
            yield pa.record_batch([
                pa.array(bucket_a[gi].astype(np.int32, copy=False),
                         type=pa.int32()),
                term_pa.take(pa.array(gi, type=pa.int64())),
                pa.array(shard_a[gi].astype(np.int32, copy=False),
                         type=pa.int32()),
                pa.array(meta["block_id"], type=pa.int32()),
                codec.blk_array(blk_v, blk_o),
                pa.array(meta["n_docs"], type=pa.int32()),
            ], names=["bucket", "term", "shard", "block_id", "blk", "n_docs"])

    stats = spark.read.schema(TERM_STATS_SCHEMA).parquet(stats_path)
    if id_col not in docs.columns:
        staging = os.path.join(out_dir, "docid_staging")
        if not os.path.exists(staging):
            raise ValueError("cannot resume: no docid staging")
        docs = enumerate_staged_docids(spark, staging, key=url_col or "url")
        id_col = "docid"
    if tf_live is not None:
        tf_source = tf_live
    elif os.path.exists(tf_path):
        tf_source = spark.read.parquet(tf_path)
    else:
        # a resumed one-job build (no staged tf): rebuild tf from the
        # docs — the caller's pre-id'd frame, or the docid staging
        # enumerated above (deterministic, so the ids are the same).
        tf_source = _tf_table(docs, id_col, text_col, toks_col).withColumn(
            "bucket", F.pmod(F.hash("term"), F.lit(params.n_buckets)))

    # ---- doc_meta (docid ↔ url dictionary + doc lengths), written in
    # parallel with the encode batches: readers need it, the encode
    # doesn't, so it rides the same wall-clock window instead of
    # serializing a full corpus pass. dl is recovered from the tf rows
    # (no re-tokenize); zero-token docs are absent from tf → coalesce 0.
    meta_thread = None
    meta_err: list = []
    if not os.path.exists(os.path.join(meta_path, "_SUCCESS")):
        dlagg = tf_source.groupBy("docid").agg(F.first("dl").alias("dl"))
        left_cols = [F.col(id_col).alias("docid")]
        if url_col and url_col in docs.columns:
            left_cols.append(F.col(url_col).alias("url"))
        meta_df = (docs.select(*left_cols)
                   .join(dlagg, "docid", "left")
                   .withColumn("dl", F.coalesce(F.col("dl"), F.lit(0)))
                   .select("docid", "dl",
                           *(["url"] if len(left_cols) > 1 else [])))

        def _write_meta():
            try:
                meta_df.write.mode("overwrite").parquet(meta_path)
            except BaseException as exc:  # surfaced after join()
                meta_err.append(exc)

        import threading
        meta_thread = threading.Thread(target=_write_meta, daemon=True)
        meta_thread.start()

    all_buckets = list(range(params.n_buckets))
    batches = [all_buckets[i:i + params.bucket_batch]
               for i in range(0, len(all_buckets), params.bucket_batch)]

    # 3 waves of smaller encode tasks instead of 1 wave of big ones:
    # term-group sizes are skewed, and a single straggler in a
    # one-wave stage idles every other core for its whole tail.
    # JIVESEARCH_ENCODE_PARTITIONS overrides (the scaling bench pins
    # it so both cluster sizes run the IDENTICAL physical plan and
    # only the core budget differs — on a real N vs 4N cluster this
    # would be a fixed job config, not a per-cluster derivation)
    n_enc_parts = max(2, int(os.environ.get(
        "JIVESEARCH_ENCODE_PARTITIONS",
        3 * spark.sparkContext.defaultParallelism)))

    # encode fan-in batches: one row per (term, shard) GROUP (mean
    # ~10-30 postings as three primitive list columns), so 16k rows is
    # a few MB while amortizing the per-batch Python/IPC fixed cost
    # (the session default stays small because other kernels carry
    # wide binary/text payloads)
    _arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    _arrow_prev = spark.conf.get(_arrow_key, "10000")
    spark.conf.set(_arrow_key, "16384")
    # restored in the finally even when an encode batch throws: the
    # override is session-wide and later kernels in the same session
    # carry wide binary/text payloads (the reason the default is small)
    try:
        log("[index] stage2: encode begin")
        for batch in batches:
            key = f"buckets_{batch[0]}_{batch[-1]}"
            if key in man.completed_batches:
                log(f"[index] resume: skipping {key}")
                continue
            t0 = time.time()
            # group each (term, shard) posting list JVM-side: the
            # repartition's HashPartitioning(term, shard) already
            # satisfies the groupBy's distribution, so the agg adds no
            # second exchange; array_sort on the struct array orders by
            # docid (first struct field). The post-agg sort pins row
            # order (hash-agg iteration order is not deterministic),
            # keeping output bytes parallelism-invariant — the
            # determinism gate.
            part = (
                tf_source.where(F.col("bucket").isin(batch))
                .join(stats.where(F.col("bucket").isin(batch)).select("term", "df"), "term")
                .withColumn("shard", (F.col("docid") / F.lit(dps)).cast("int"))
                .repartition(n_enc_parts, "term", "shard")
                .groupBy("term", "shard")
                .agg(F.first("df").alias("df"),
                     F.first("bucket").alias("bucket"),
                     F.array_sort(
                         F.collect_list(F.struct("docid", "tf", "dl"))
                     ).alias("ps"))
                .select("term", "shard", "df", "bucket",
                        F.col("ps.docid").alias("docids"),
                        F.col("ps.tf").alias("tfs_a"),
                        F.col("ps.dl").alias("dls_a"))
                .sortWithinPartitions("term", "shard")
            )
            from pyspark.sql import Observation
            obs = Observation(f"batch_{key}")
            # co-locate each bucket's blocks into ONE term-sorted file
            # (serving layout): the encode kernel's 3-wave partitions
            # would otherwise leave ~n_enc_parts files per bucket dir,
            # each spanning the full term alphabet — a cold pruned
            # read then pays a footer+scan per FILE and row-group
            # min/max on term prunes nothing (measured 30-40 ms to
            # find a 26-row tail term at 2M docs). One sorted file
            # per bucket with params.row_group_bytes groups makes the
            # bucket dir behave like a term-keyed KV store: hive
            # pruning picks the dir, one footer, narrow row-group
            # term ranges prune the rest. The exchange this adds
            # moves only compressed blocks (~100 B/row), and the
            # write stage parallelism is one task per bucket — both
            # negligible next to the encode, and identical at every
            # cluster size (4x partitions ≈ collision-free hash →
            # bucket→task is 1:1; sort leads with bucket so a
            # collided pair still writes term-sorted per-bucket
            # files). Total row order (term, shard, block_id) keeps
            # output bytes parallelism-invariant (determinism gate).
            enc = part.mapInArrow(_encode_stream,
                                  schema=f"{POSTINGS_SCHEMA}, n_docs int")
            enc = (enc.repartition(4 * max(1, len(batch)), "bucket")
                   .sortWithinPartitions("bucket", "term", "shard",
                                         "block_id"))
            # "bytes" counts the varint streams (each blk value minus
            # its fixed header)
            out = (enc.observe(obs,
                            F.count(F.lit(1)).alias("blocks"),
                            F.approx_count_distinct("term").alias("terms"),
                            F.sum("n_docs").alias("postings"),
                            F.sum(F.length("blk")
                                  - F.lit(codec.HEADER_BYTES)).alias("bytes"))
                   .drop("n_docs"))
            for bk in batch:  # idempotent: wipe any partial output of a crashed run
                d = os.path.join(post_path, f"bucket={bk}")
                if os.path.exists(d):
                    shutil.rmtree(d)
            # blk values are unique: a dictionary page for them is pure
            # overhead, which parquet-mr writes unless told not to
            (out.write.mode("append").partitionBy("bucket")
             .option("parquet.block.size", str(params.row_group_bytes))
             .option("parquet.enable.dictionary#blk", "false")
             .parquet(post_path))

            m = obs.get  # metrics harvested from the write job itself
            man.completed_batches[key] = {
                "buckets": batch, "blocks": int(m["blocks"]),
                "terms": int(m["terms"]),
                "postings": int(m["postings"] or 0), "bytes": int(m["bytes"] or 0),
                "seconds": round(time.time() - t0, 2),
            }
            man.save(out_dir)
            log(f"[index] {key}: ~{m['terms']} terms, {m['postings']} postings, "
                f"{m['bytes']} B in {time.time()-t0:.1f}s")
    finally:
        spark.conf.set(_arrow_key, _arrow_prev)

    if meta_thread is not None:
        t_mw = time.time()
        meta_thread.join()
        if meta_err:
            raise meta_err[0]
        log(f"[index] meta write wait +{time.time()-t_mw:.1f}s")

    if check_invariants:
        dic = spark.read.parquet(meta_path)
        n_ids = dic.select("docid").distinct().count()
        if n_ids != man.n_docs:
            raise RuntimeError(
                f"docid collision: {man.n_docs} rows, {n_ids} distinct ids")

    man.done = True
    man.save(out_dir)
    frames = (docs, tf_live) if manage_cache else (tf_live,)
    for frame in frames:
        try:
            frame.unpersist()
        except Exception:
            pass
    # build scratch: only a resume reads it, and a done build never
    # resumes — left in place it is most of the published directory
    for scratch in ("docid_staging", "tf_staging"):
        shutil.rmtree(os.path.join(out_dir, scratch), ignore_errors=True)
    return man


class TermFiles:
    """Reader of one term-bucketed file set build_index writes
    (``postings`` or ``term_stats``: term-sorted ``bucket=N/*.parquet``).
    Each file is opened once and each row group's ``term`` min/max kept
    from its footer, so a read touches only the row groups that can
    hold a wanted term — no per-call dataset planning or footer re-read.
    Not memory-mapped, so reads stay visible in the process's IO counters."""

    def __init__(self, root: str, n_buckets: int):
        import glob

        import pyarrow as pa
        import pyarrow.parquet as pq
        self.n_buckets = n_buckets
        #: bucket -> [(file, [(min term, max term) | None per row group])]
        self._files: dict[int, list] = {}
        schema = pa.schema([(c, pa.type_for_alias(t))
                            for c, t in _ARROW_TYPES.items()])
        for path in sorted(glob.glob(os.path.join(root, "bucket=*", "*.parquet"))):
            pf = pq.ParquetFile(path)
            schema = pf.schema_arrow
            col = schema.get_field_index("term")
            sts = (pf.metadata.row_group(i).column(col).statistics
                   for i in range(pf.num_row_groups))
            ranges = [(st.min, st.max) if st is not None and st.has_min_max
                      else None for st in sts]
            bucket = int(os.path.basename(os.path.dirname(path))[len("bucket="):])
            self._files.setdefault(bucket, []).append((pf, ranges))
        self._empty = schema.empty_table()   # what a read of no match returns

    def read(self, terms, columns: list[str], stats: dict | None = None):
        """Rows of ``terms`` with ``columns`` (which include ``term``) as
        an Arrow table, empty when no file holds them. ``stats``
        accumulates ``terms_read`` and ``row_groups_read``."""
        import bisect

        import pyarrow as pa
        import pyarrow.compute as pc
        from .hashing import term_bucket
        want = sorted(set(terms))
        by_bucket: dict[int, list] = {}
        for t in want:
            by_bucket.setdefault(term_bucket(t, self.n_buckets), []).append(t)
        parts, n_groups = [], 0
        for bucket, ts in by_bucket.items():
            for pf, ranges in self._files.get(bucket, ()):
                # a group holds a wanted term iff the first term ≥ its
                # min is ≤ its max; a group without statistics is read
                groups = [i for i, r in enumerate(ranges) if r is None or (
                    (j := bisect.bisect_left(ts, r[0])) < len(ts)
                    and ts[j] <= r[1])]
                if groups:
                    parts.append(pf.read_row_groups(groups, columns=columns,
                                                    use_threads=False))
                    n_groups += len(groups)
        if stats is not None:
            stats["terms_read"] = stats.get("terms_read", 0) + len(want)
            stats["row_groups_read"] = stats.get("row_groups_read", 0) + n_groups
        if not parts:
            return self._empty.select(columns)
        tbl = pa.concat_tables(parts)
        return tbl.filter(pc.is_in(tbl["term"], value_set=pa.array(want, pa.string())))


# ---------------------------------------------------------------------------
# Deterministic segment merge (FIXTURES.md §4 merge fixture)
# ---------------------------------------------------------------------------

def merge_indexes(spark, seg_dirs: list[str], out_dir: str,
                  params: IndexParams | None = None, log=print) -> Manifest:
    """Merge segment indexes built over disjoint doc-id ranges.

    Decodes each segment's blocks back to (term, docid, tf, dl) rows
    (vectorized), unions them, and re-runs the stage-2 encode with the
    combined corpus stats — producing bytes identical to a single-shot
    build over the union (the determinism gate). This is the
    incremental-refresh path: new snapshot → new segment → merge.
    """
    mans = [Manifest.load(d) for d in seg_dirs]
    if any(m is None or not m.done for m in mans):
        raise ValueError("all segments must be complete")
    for d, m in zip(seg_dirs, mans):
        m.check_codec(d)
    if params is None:
        # inherit the segments' params — in particular the analyzer:
        # queries against the merged index are tokenized by its
        # manifest, so silently defaulting to "standard" over stemmed
        # postings would break rank identity without an error
        if any(m.params != mans[0].params for m in mans[1:]):
            raise ValueError("segments have differing params; pass params")
        params = IndexParams(**mans[0].params)

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)

    tf_parts = []
    total_docs = 0
    dl_sum = 0.0
    for d, m in zip(seg_dirs, mans):
        total_docs += m.n_docs
        dl_sum += m.avgdl * m.n_docs
        tf_parts.append(_decode_postings_df(spark, os.path.join(d, "postings")))
    tf_all = tf_parts[0]
    for t in tf_parts[1:]:
        tf_all = tf_all.unionByName(t)

    man = Manifest(params=asdict(params))
    man.n_docs = total_docs
    man.avgdl = dl_sum / total_docs if total_docs else 0.0
    man.n_shards = max(1, -(-total_docs // params.docs_per_shard))
    man.stage1_done = True

    tf_path = os.path.join(out_dir, "tf_staging")
    stats_path = os.path.join(out_dir, "term_stats")
    os.makedirs(out_dir, exist_ok=True)
    tf_all = tf_all.withColumn(
        "bucket", F.pmod(F.hash("term"), F.lit(params.n_buckets)))
    tf_all.write.mode("overwrite").partitionBy("bucket").parquet(tf_path)
    staged = spark.read.parquet(tf_path)
    (staged.groupBy("term")
     .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"),
          F.first("bucket").alias("bucket"))
     .repartition(4 * params.n_buckets, "bucket")
     .sortWithinPartitions("bucket", "term")
     .write.mode("overwrite").partitionBy("bucket")
     .option("parquet.block.size", str(params.row_group_bytes))
     .parquet(stats_path))
    # merge doc_meta (dictionary + doc_lengths)
    srcs = [os.path.join(d, "doc_meta") for d in seg_dirs
            if os.path.exists(os.path.join(d, "doc_meta"))]
    if srcs:
        spark.read.parquet(*srcs).write.mode("overwrite") \
            .parquet(os.path.join(out_dir, "doc_meta"))
    man.save(out_dir)
    # re-run stage 2 through build machinery
    dummy = spark.createDataFrame([(0, "")], "docid long, text string").limit(0)
    return build_index(dummy, out_dir, params, resume=True, url_col=None, log=log)


def _decode_postings_df(spark, postings_path: str) -> DataFrame:
    """postings parquet → (term, docid, dl, tf) rows: each Arrow batch
    is parsed and decoded in one vectorized pass."""
    ensure_shipped(spark)

    def _dec(batches):
        import pyarrow as pa
        for rb in batches:
            values, offsets = codec.blk_buffers(rb.column("blk"))
            hdr, so = codec.parse_blk(values, offsets[:-1], offsets[1:])
            n_docs = hdr["n_docs"].astype(np.int64)
            docids, tfs, dls = codec.decode_blocks_concat(values, so, n_docs)
            rows = np.repeat(np.arange(rb.num_rows), n_docs)
            yield pa.record_batch(
                [rb.column("term").take(pa.array(rows)), pa.array(docids),
                 pa.array(dls), pa.array(tfs)],
                names=["term", "docid", "dl", "tf"])

    return (spark.read.parquet(postings_path)
            .select("term", "blk")
            .mapInArrow(_dec, schema="term string, docid long, dl long, tf long"))
