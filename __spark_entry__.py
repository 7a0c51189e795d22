"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the training-data pipeline ops; ``oracle_sql()``
gives the DuckDB-equivalent SQL for every SQL-expressible one (same
column names, doubles rounded to 4dp on both sides, top-k ordering on
score quantized to 1e-9 with id tie-breaks so the selected SET is
engine-independent). Exactly 50 entries, ALL 50 oracled; non-SQL-
expressible semantics (HTML extraction, Porter/light stemming) are
pinned by precomputed-goldens VALUES tables derived from the pinned
pure-Python reference pipelines. LSH/IVF/minhash/simhash candidate
generation is checked through oracled recall gates instead of raw
pair dumps.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from jivesearch_spark import analyze, bm25, codec  # noqa: E402
from jivesearch_spark.session import ensure_shipped  # noqa: E402

DEFAULT_SF = "/root/testdata/sf0.001"

# --- shared query constants (must match the SQL below verbatim) -------------
QUERY_MAIN = "customer data window group"
QUERY_MSM = "table scan merge sort zebra"      # 'zebra' absent → 4-of-5 required
AND_TERMS = ["table", "scan", "merge"]
PREFIX = "s"
BIGRAM = "table scan"
CHAR = "e"

SQL_TOKS = ("SELECT doc_id, list_filter(regexp_split_to_array(lower(text), "
            "'[^a-z0-9]+'), t -> t <> '') AS tk FROM documents")


def _t(sf_dir: str, name: str):
    return f"{sf_dir}/{name}.parquet"


def _docs(spark, sf_dir):
    return spark.read.parquet(_t(sf_dir, "documents"))


def _terms_sql(terms):
    return ", ".join(f"''" if not t else f"'{t}'" for t in terms)


# ---------------------------------------------------------------------------
# Spark-side implementations
# ---------------------------------------------------------------------------

def q_bm25_topk(spark, sf_dir):
    out = bm25.bm25_topk(_docs(spark, sf_dir), QUERY_MAIN, k=10)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def q_bm25_msm(spark, sf_dir):
    out = bm25.bm25_topk(_docs(spark, sf_dir), QUERY_MSM, k=10,
                         min_should_match=True)
    return out.select("doc_id", F.round("score", 4).alias("score"))


def _derived_fielded(spark, sf_dir):
    """Deterministic field columns from the documents table — the ONE
    derivation both fielded entries (and _fielded_sql) are defined
    against: title/description/path = token-stream slices, domain =
    source, index bit from doc_id % 13."""
    d = _docs(spark, sf_dir)
    tk = analyze.tokens(F.col("text"))
    return d.select(
        "doc_id",
        (F.col("doc_id") % 13 != 0).alias("index"),
        F.col("source").alias("domain"),
        F.concat_ws(" ", F.slice(tk, 4, 6)).alias("path_parts"),
        F.concat_ws(" ", F.slice(tk, 1, 6)).alias("title"),
        F.concat_ws(" ", F.slice(tk, 7, 24)).alias("description"),
    )


def q_bm25_fielded(spark, sf_dir):
    """The reference SERP scorer (search/elasticsearch.go:32-48):
    cross-field BM25 with boosts domain^3 / path^2 / title^1.5 /
    description, bigram-shingle should clauses, index=true filter,
    MSM -25% — over _derived_fielded columns."""
    out = bm25.bm25_fielded_topk(_derived_fielded(spark, sf_dir), QUERY_MAIN,
                                 k=10, id_col="doc_id",
                                 shingles=True, min_should_match=True)
    return out.select("doc_id", F.round("score", 4).alias("score"))


_FIELDED_IDX_CACHE: dict[str, str] = {}


def q_bm25_fielded_indexed(spark, sf_dir):
    """The compressed fielded-index path (per-field posting lists +
    cross-field kernel, fielded.py) against the SAME SQL oracle as the
    brute-force SERP scorer — codec, per-field stats, and the
    cross-field MSM kernel all have to agree with DuckDB."""
    from jivesearch_spark.fielded import (FieldedReader, bm25_fielded_indexed,
                                          build_fielded_index)
    from jivesearch_spark.index import IndexParams

    root = _FIELDED_IDX_CACHE.get(sf_dir)
    if root is None:
        import hashlib
        import json
        import shutil
        h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        root = f"/tmp/jivesearch_fielded_{h}"
        meta_p = os.path.join(root, "fielded.json")
        expected = _docs(spark, sf_dir).where(F.col("doc_id") % 13 != 0).count()
        if os.path.exists(meta_p):
            # validate the on-disk index against the CURRENT table —
            # a regenerated sf_dir at the same path must not replay
            # against a stale index (cache keys only the path). Every
            # per-field sub-index records corpus n_docs in its manifest.
            # An index written under another codec layout is rebuilt
            # too: readers refuse it.
            try:
                with open(os.path.join(root, "fields", "tld",
                                       "manifest.json")) as fh:
                    cached = json.load(fh)
            except (OSError, ValueError):
                cached = {}
            if (cached.get("n_docs") != expected
                    or cached.get("params", {}).get("codec_version")
                    != codec.CODEC_VERSION):
                shutil.rmtree(root, ignore_errors=True)
        if not os.path.exists(meta_p):
            # url = zero-padded doc_id so url-rank docids preserve the
            # doc_id tie-break ordering of the oracle
            fielded = (_derived_fielded(spark, sf_dir)
                       .where(F.col("index")).drop("index")
                       .withColumn("url", F.format_string("https://d/%012d",
                                                          F.col("doc_id")))
                       .withColumn("tld", F.lit(None).cast("string")))
            build_fielded_index(
                fielded, root,
                IndexParams(docs_per_shard=2000, n_buckets=8, bucket_batch=8),
                log=lambda *a: None)
        _FIELDED_IDX_CACHE[sf_dir] = root

    reader = FieldedReader(spark, root)
    out = bm25_fielded_indexed(reader, QUERY_MAIN, k=10)
    return out.select(
        F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long").alias("doc_id"),
        F.round("score", 4).alias("score"))


def _fielded_sql() -> str:
    """DuckDB replay of q_bm25_fielded: same derived fields, same
    per-field stats, same arithmetic shape as the single-field oracle
    (proven bit-compatible with the Spark formula)."""
    q_tokens = analyze.py_tokens(QUERY_MAIN)
    q_terms = sorted(set(q_tokens))
    q_bigrams = sorted(set(analyze.py_bigrams(q_tokens)))
    msm = bm25.msm_required(len(q_terms))

    tok = ("list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), "
           "t -> t <> '')")
    big = ("[{l}[i] || ' ' || {l}[i+1] for i in range(1, len({l}))]")
    fields = [
        ("f0", tok.format(col="source"), 3.0, q_terms, False),
        ("f1", "tk[4:9]", 2.0, q_terms, False),
        ("f2", "tk[1:6]", 1.5, q_terms, False),
        ("f3", "tk[7:30]", 1.0, q_terms, False),
        ("f4", big.format(l="tk[1:6]"), 1.0, q_bigrams, True),
        ("f5", big.format(l="tk[7:30]"), 1.0, q_bigrams, True),
    ]
    ctes, unions = [], []
    for name, expr, boost, terms, is_sh in fields:
        tl = _terms_sql(terms)
        m_term = "CAST(NULL AS VARCHAR)" if is_sh else "t.term"
        ctes.append(f"""
{name}_base AS (SELECT doc_id, {expr} AS ftk FROM base),
{name}_stats AS (SELECT avg(len(ftk)) AS avgdl FROM {name}_base),
{name}_tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM
   (SELECT doc_id, len(ftk) AS dl, unnest(ftk) AS term FROM {name}_base)
   WHERE term IN ({tl}) GROUP BY 1, 2, 3),
{name}_df AS (SELECT term, count(DISTINCT doc_id) AS df
              FROM {name}_tf GROUP BY 1),
{name}_sc AS (SELECT t.doc_id, {m_term} AS m_term,
   {boost} * ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
   * t.tf * 2.2 / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / a.avgdl)) AS tscore
   FROM {name}_tf t JOIN {name}_df d USING (term)
   CROSS JOIN stats s CROSS JOIN {name}_stats a)""")
        unions.append(f"SELECT * FROM {name}_sc")
    return f"""
WITH base AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS tk
  FROM documents WHERE doc_id % 13 <> 0),
stats AS (SELECT count(*) AS n_docs FROM base),{",".join(ctes)},
u AS ({" UNION ALL ".join(unions)}),
agg AS (SELECT doc_id, sum(tscore) AS raw, count(DISTINCT m_term) AS nm
        FROM u GROUP BY 1)
SELECT doc_id, round(raw, 4) AS score FROM agg
WHERE nm >= {msm}
ORDER BY round(raw, 9) DESC, doc_id LIMIT 10"""


_INDEX_CACHE: dict[str, str] = {}


def _ensure_index(spark, sf_dir) -> str:
    from jivesearch_spark.index import IndexParams, Manifest, build_index

    root = _INDEX_CACHE.get(sf_dir)
    if root is None:
        import hashlib
        import shutil
        h = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
        root = f"/tmp/jivesearch_index_{h}"
        man = Manifest.load(root)
        # validate a pre-existing index against the CURRENT table and
        # codec: the cache keys only the path, so a regenerated sf_dir
        # or an index written under another codec layout must trigger
        # a rebuild, not a stale replay
        if man is not None and man.done:
            if (man.n_docs != _docs(spark, sf_dir).count()
                    or man.params["codec_version"] != codec.CODEC_VERSION):
                shutil.rmtree(root, ignore_errors=True)
                man = None
        if man is None or not man.done:
            docs = _docs(spark, sf_dir).selectExpr("doc_id AS docid", "text")
            build_index(docs, root,
                        IndexParams(docs_per_shard=2000, n_buckets=8,
                                    bucket_batch=8),
                        url_col=None, log=lambda *a: None)
        _INDEX_CACHE[sf_dir] = root
    return root


def q_bm25_indexed(spark, sf_dir):
    """The compressed-index + block-max-WAND path, checked against the
    SAME SQL oracle as the brute-force path — codec + kernel + stats
    all have to agree with DuckDB."""
    from jivesearch_spark.query import IndexReader, bm25_topk_indexed

    reader = IndexReader(spark, _ensure_index(spark, sf_dir))
    out = bm25_topk_indexed(reader, QUERY_MAIN, k=10, use_wand=True)
    return out.select(F.col("docid").alias("doc_id"),
                      F.round("score", 4).alias("score"))


def q_bm25_served(spark, sf_dir):
    """Serving-tier path (driver-side pruned pyarrow reads + the same
    numpy WAND kernel, no Spark job) against the same SQL oracle —
    proves serve ≡ cluster ≡ DuckDB."""
    from jivesearch_spark.serve import LocalIndex

    rows = LocalIndex(_ensure_index(spark, sf_dir)).topk(
        QUERY_MAIN, k=10, use_wand=True)
    # F.round (HALF_UP) to match q_bm25_indexed and the DuckDB oracle;
    # Python round is half-even and can differ at 4-decimal midpoints
    return (spark.createDataFrame(rows, "doc_id long, score double")
            .select("doc_id", F.round("score", 4).alias("score")))


BATCH_QUERIES = [("qa", QUERY_MAIN), ("qb", "table scan merge"),
                 ("qc", "slow part history")]


def q_bm25_page2(spark, sf_dir):
    """Page 2 of the SERP (offset/pagination — Fetch(number, offset),
    search/elasticsearch.go:29,66; page math frontend/search.go:455):
    indexed path with k=10 offset=10 vs LIMIT 10 OFFSET 10 in SQL."""
    from jivesearch_spark.query import IndexReader, bm25_topk_indexed

    reader = IndexReader(spark, _ensure_index(spark, sf_dir))
    out = bm25_topk_indexed(reader, QUERY_MAIN, k=10, use_wand=True,
                            offset=10)
    return out.select(F.col("docid").alias("doc_id"),
                      F.round("score", 4).alias("score"))


def q_bm25_batch(spark, sf_dir):
    """Batched query engine: whole query log in ONE job (union-term
    pruned scan, shard blocks decoded once, per-qid window top-k)."""
    from jivesearch_spark.query import IndexReader, bm25_topk_batch

    reader = IndexReader(spark, _ensure_index(spark, sf_dir))
    out = bm25_topk_batch(reader, BATCH_QUERIES, k=10, use_wand=True)
    return out.select("qid", F.col("docid").alias("doc_id"),
                      F.round("score", 4).alias("score"))


def q_term_stats(spark, sf_dir):
    toks = _docs(spark, sf_dir).select(
        "doc_id", analyze.tokens(F.col("text")).alias("toks"))
    tf = (toks.select("doc_id", F.explode("toks").alias("term"))
          .groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf")))
    return (tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
            .orderBy(F.desc("df"), F.asc("term")).limit(50))


def q_doc_lengths(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(analyze.tokens(F.col("text"))).alias("dl"))


def q_boolean_and(spark, sf_dir):
    toks = analyze.tokens(F.col("text"))
    cond = F.lit(True)
    for t in AND_TERMS:
        cond = cond & F.array_contains(toks, t)
    return _docs(spark, sf_dir).where(cond).select("doc_id")


def q_total_hits(spark, sf_dir):
    toks = analyze.tokens(F.col("text"))
    q = F.array(*[F.lit(t) for t in sorted(set(analyze.py_tokens(QUERY_MAIN)))])
    return (_docs(spark, sf_dir)
            .where(F.size(F.array_intersect(toks, q)) > 0)
            .agg(F.count(F.lit(1)).alias("total_hits")))


def q_suggest_prefix(spark, sf_dir):
    """Autocomplete analog (suggest/elasticsearch.go:20-50): top-10
    prefix completions by weight = total occurrences."""
    toks = _docs(spark, sf_dir).select(
        F.explode(analyze.tokens(F.col("text"))).alias("term"))
    return (toks.where(F.col("term").startswith(PREFIX))
            .groupBy("term").agg(F.count(F.lit(1)).alias("weight"))
            .orderBy(F.desc("weight"), F.asc("term")).limit(10))


def q_phrase_bigram(spark, sf_dir):
    toks = analyze.tokens(F.col("text"))
    n_occ = F.size(F.filter(analyze.bigrams(toks), lambda x: x == F.lit(BIGRAM)))
    return (_docs(spark, sf_dir).select("doc_id", n_occ.alias("n_occurrences"))
            .where(F.col("n_occurrences") > 0))


def q_topk_per_source(spark, sf_dir):
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (_docs(spark, sf_dir)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("source", "doc_id", "n_chars"))


def q_char_frequency(spark, sf_dir):
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        (F.length(t) - F.length(F.replace(t, F.lit(CHAR), F.lit("")))).alias("freq"))


def q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def q_domain_quota(spark, sf_dir):
    """P4 domain-quota admission (crawler.go:241-244) over documents,
    `source` standing in for domain: at most 40 docs per source,
    oldest doc_id first."""
    from jivesearch_spark import crawlops
    out = crawlops.domain_quota_filter(_docs(spark, sf_dir),
                                       domain_col="source", quota=40,
                                       order_col="doc_id")
    return out.select("doc_id", "source")


_STATUS_MAP = [200, 301, 302, 404, 403, 500, 503, 200, 204, 429]


def q_page_histograms(spark, sf_dir):
    """A4 status-class rollup (crawler/stats.go:36-60) + A2 per-domain
    doc-count rollup (crawler/elasticsearch.go:46-71) in one entry:
    two independent single-shuffle aggregations unioned under a
    ``kind`` discriminator. Status derived deterministically from
    event_id (same arithmetic in the oracle)."""
    from jivesearch_spark import crawlops
    ev = spark.read.parquet(_t(sf_dir, "events"))
    status = F.element_at(
        F.array(*[F.lit(s) for s in _STATUS_MAP]),
        (F.col("event_id") % 10 + 1).cast("int"))
    st = crawlops.status_histogram(ev.withColumn("status", status)).select(
        F.lit("status").alias("kind"), F.col("status_class").alias("key"),
        F.col("n"), F.lit(None).cast("long").alias("total_chars"))
    # BIGINT cast + deterministic kind/key mirror the oracle exactly:
    # DuckDB sum(int) is HUGEINT, which value-hashes differently from
    # a Spark long even when numerically equal
    sc = (_docs(spark, sf_dir).groupBy("source")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum("n_chars").alias("total_chars"))
          .select(F.lit("source").alias("kind"), F.col("source").alias("key"),
                  "n", "total_chars"))
    return st.unionByName(sc)


#: deterministic synthetic crawl timestamps for the P3/P6 predicates:
#: crawled = base + (doc_id % 60) days, NULL when doc_id % 11 == 0
_CRAWLED_EXPR = ("timestamp'2026-01-01 00:00:00'"
                 " + make_interval(0, 0, 0, CAST(doc_id % 60 AS INT))")
_NOW_TS = "2026-02-15 00:00:00"
_SINCE_TS = "2026-01-10 00:00:00"


def _docs_with_crawled(spark, sf_dir):
    d = _docs(spark, sf_dir)
    crawled = F.when(F.col("doc_id") % 11 == 0,
                     F.lit(None).cast("timestamp")).otherwise(F.expr(_CRAWLED_EXPR))
    return d.withColumn("crawled", crawled)


def q_crawl_frontier(spark, sf_dir):
    """P3 recrawl-window predicate (crawler.go:236-239) + P6
    anti-exists OR range predicate (image/elasticsearch.go:115-149) in
    one entry: both crawlops predicates evaluated over the same
    synthetic crawl log against a fixed 'now' (deterministic oracle);
    a row appears when EITHER predicate admits it, flag columns say
    which."""
    import datetime

    from jivesearch_spark import crawlops
    d = _docs_with_crawled(spark, sf_dir)
    due = (crawlops.recrawl_due(d, since_days=30,
                                now_col=F.to_timestamp(F.lit(_NOW_TS)))
           .select("doc_id", F.lit(True).alias("due_recrawl")))
    unc = (crawlops.uncrawled(d, since=datetime.datetime(2026, 1, 10))
           .select("doc_id", F.lit(True).alias("is_uncrawled")))
    return (d.select("doc_id", "crawled")
            .join(due, "doc_id", "left").join(unc, "doc_id", "left")
            .withColumn("due_recrawl", F.coalesce("due_recrawl", F.lit(False)))
            .withColumn("is_uncrawled", F.coalesce("is_uncrawled", F.lit(False)))
            .where(F.col("due_recrawl") | F.col("is_uncrawled")))


def q_nsfw_filter(spark, sf_dir):
    """P2 safe-search range predicate (image/elasticsearch.go:26-33);
    score derived deterministically from event_id."""
    from jivesearch_spark import crawlops
    ev = spark.read.parquet(_t(sf_dir, "events"))
    scored = ev.withColumn("nsfw_score",
                           (F.col("event_id") % 100) / F.lit(100.0))
    out = crawlops.nsfw_filter(scored, threshold=0.3, safe=True)
    return out.select("event_id", F.round("nsfw_score", 4).alias("nsfw_score"))


def q_label_max(spark, sf_dir):
    """A9 multi-key label split + max score per label
    (image/cmd/images.go:192-208)."""
    from jivesearch_spark import crawlops
    ev = spark.read.parquet(_t(sf_dir, "events"))
    labeled = ev.select(
        F.concat_ws("|", F.col("event_type"),
                    (F.col("event_id") % 5).cast("string")).alias("label"),
        F.col("value").alias("score"))
    return (crawlops.separate_keys_max(labeled)
            .select("label", F.round("score", 4).alias("score")))


def q_scalar_functions(spark, sf_dir):
    """§2.8 scalar-function surface in one entry: the hash answerer
    primitives (instant/hash.go:77) plus the display/template
    functions (frontend/filters.go funcMap) — all whole-stage-codegen
    column expressions (md5/sha2/truncate/commafy/url builders),
    DuckDB-verified per row."""
    from jivesearch_spark import functions as jf
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.md5("source").alias("md5_hex"),
        F.sha2(F.col("source").cast("binary"), 256).alias("sha256_hex"),
        jf.truncate(F.col("text"), 60, preserve=True).alias("t60"),
        jf.truncate(F.col("text"), 30, preserve=False).alias("h30"),
        jf.commafy("n_chars").alias("commafied"),
        jf.wikimedia_image_url("source").alias("img_url"),
        jf.wikipedia_canonical("source").alias("canon"),
    )


def q_agg_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


def q_revenue_by_nation(spark, sf_dir):
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    nation = spark.read.parquet(_t(sf_dir, "nation"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
            )


def q_left_join_order_counts(spark, sf_dir):
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    return (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("n_orders")))


def q_semi_anti_customers(spark, sf_dir):
    """Left-semi (EXISTS) + left-anti (NOT EXISTS) joins in one entry,
    tagged by ``side`` — together they partition the customer table,
    so the union is a stronger check than either alone."""
    cust = spark.read.parquet(_t(sf_dir, "customer"))
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    semi = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
            .select(F.lit("semi").alias("side"), "c_custkey", "c_name"))
    anti = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
            .select(F.lit("anti").alias("side"), "c_custkey", "c_name"))
    return semi.unionByName(anti)


def q_window_top3_orders(spark, sf_dir):
    from pyspark.sql import Window
    orders = spark.read.parquet(_t(sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                                F.asc("o_orderkey"))
    return (orders.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey",
                    F.round("o_totalprice", 4).alias("o_totalprice"), "rk"))


def q_stats_summary(spark, sf_dir):
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return li.agg(
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"))


def q_dedup_exact(spark, sf_dir):
    from jivesearch_spark.tdp import dedup
    return dedup.exact_dedup_groups(_docs(spark, sf_dir)).select(
        "text_hash", "keep_id", "n_dups")


def q_ngram_jaccard(spark, sf_dir):
    from jivesearch_spark.tdp import dedup
    out = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.2,
                                    max_shingle_df=10**9)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_token_counts(spark, sf_dir):
    from jivesearch_spark.tdp import textstats
    return textstats.token_counts(_docs(spark, sf_dir))


def q_quality_scores(spark, sf_dir):
    from jivesearch_spark.tdp import textstats
    return textstats.quality_scores(_docs(spark, sf_dir))


def q_language_id(spark, sf_dir):
    from jivesearch_spark.tdp import textstats
    return textstats.language_id(_docs(spark, sf_dir))


def q_fingerprints(spark, sf_dir):
    from jivesearch_spark.tdp import textstats
    return textstats.fingerprints(_docs(spark, sf_dir)).select("id", "fingerprint")


#: calculator replay: integer-friendly expressions whose float repr is
#: identical between json.dumps and DuckDB varchar casts; `^` is
#: BITWISE XOR binding looser than +/- (govaluate OperatorSymbol.go:164,
#: stagePlanner.go planBitwise), so '2 ^ 5 - 1' = 2 xor 4 = 6.0
CALC_QUERIES = ["12 * (3 + 2)", "2 ^ 5 - 1", "100 / 8"]


def q_instant_answers(spark, sf_dir):
    """Instant-answer registry (SURVEY.md §2.10; frontend/answer.go
    dispatch) replayed over a deterministic query log derived from the
    corpus' top-20 terms — answers computed in the Spark batch path
    (mapInPandas), verified against DuckDB md5/reverse/length."""
    from jivesearch_spark.instant import answer_queries
    toks = _docs(spark, sf_dir).select(
        "doc_id", analyze.tokens(F.col("text")).alias("toks"))
    tf = (toks.select("doc_id", F.explode("toks").alias("term"))
          .groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf")))
    top = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
           .orderBy(F.desc("df"), F.asc("term")).limit(20)
           .select("term"))
    qs = top.select(F.explode(F.array(
        F.concat(F.lit("md5 "), F.col("term")),
        F.concat(F.lit("reverse "), F.col("term")),
        F.concat(F.lit("char count "), F.col("term")),
    )).alias("query"))
    calc = spark.createDataFrame([(q,) for q in CALC_QUERIES], "query string")
    return (answer_queries(qs.unionByName(calc))
            .select("query", "answer_type", "solution"))


def q_suggest_store(spark, sf_dir):
    """Suggestion-store batch upsert (A6 — suggest/elasticsearch.go
    insert+increment re-expressed as one groupBy): query log derived
    deterministically from each doc's first 3 tokens."""
    from jivesearch_spark.suggest import record_queries
    qs = _docs(spark, sf_dir).select(
        F.concat_ws(" ", F.slice(analyze.tokens(F.col("text")), 1, 3))
        .alias("query"))
    return record_queries(qs)


def q_bang_dispatch(spark, sf_dir):
    """!bang dispatch (J6 — bangs/bangs.go:92-121) replayed over a
    deterministic query log: '!g <term>' / '!w <term>' / plain."""
    from jivesearch_spark.bangs import bang_queries
    toks = _docs(spark, sf_dir).select(
        "doc_id", analyze.tokens(F.col("text")).alias("toks"))
    tf = (toks.select("doc_id", F.explode("toks").alias("term"))
          .groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf")))
    top = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
           .orderBy(F.desc("df"), F.asc("term")).limit(10).select("term"))
    qs = top.select(F.explode(F.array(
        F.concat(F.lit("!g "), F.col("term")),
        F.concat(F.lit("!w "), F.col("term")),
        F.concat(F.col("term"), F.lit(" plain")),
    )).alias("query"))
    return bang_queries(qs).select("query", "bang_name", "location", "triggered")


def _wiki_tables(spark, sf_dir):
    from jivesearch_spark import wiki
    return wiki.synth_wiki_tables(_docs(spark, sf_dir))


def q_wiki_item_join(spark, sf_dir):
    """J3 — 4-way wiki item join (postgresql.go:189-218)."""
    from jivesearch_spark import wiki
    return wiki.item_join(_wiki_tables(spark, sf_dir))


def q_wiki_claims_join(spark, sf_dir):
    """J4 — claims explode + dimension join (postgresql.go:172-185)."""
    from jivesearch_spark import wiki
    return wiki.claims_join(_wiki_tables(spark, sf_dir))


def q_wiki_disambiguation(spark, sf_dir):
    """J5 — disambiguation fan-out, top-10 by popularity per page
    (postgresql.go:237-291)."""
    from jivesearch_spark import wiki
    return wiki.disambiguation(_wiki_tables(spark, sf_dir))


def q_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact O(n²); the scale
    path runs the same comparator inside LSH buckets — ann_lsh_recall
    gates it)."""
    from jivesearch_spark.tdp import ann
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    out = ann.cosine_pairs(emb, threshold=0.35)
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def q_ann_cosine_topk(spark, sf_dir):
    from jivesearch_spark.tdp import ann
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    qv = emb.where("vec_id = 0").select("embedding").collect()[0][0]
    out = ann.cosine_topk(emb, list(qv), k=10)
    return out.select(F.col("id").alias("vec_id"),
                      F.round("cosine", 4).alias("cosine"))


def _hexbyte_sql(col: str, pos: int) -> str:
    """SQL for byte ``pos`` (0-based) of a lowercase-hex digest string
    — DuckDB 1.0 has no hex→int cast, so nibble lookup by strpos."""
    i = 2 * pos + 1
    return (f"((strpos('0123456789abcdef', substr({col},{i},1))-1)*16"
            f" + strpos('0123456789abcdef', substr({col},{i + 1},1))-1)")


def _extract_pages_sql() -> str:
    """Oracle for q_extract_pages: a VALUES table of the corpus'
    golden (url, lang, text, title, keywords, description, path_parts)
    — text AND the per-field values computed by the pinned FIELD rules
    in corpus.gen_page_full, independent of the HTML parser under test
    (edge rows carry hand-derived fields) — with domain re-derived in
    SQL (eTLD+1 over the corpus' 2-level public suffixes) and text
    hashed by DuckDB's own md5."""
    from jivesearch_spark import corpus, gourl

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = []
    for i in range(200):
        url, _ts, _html, golden_text, lang, flds = corpus.gen_page_full(i)
        try:
            u = gourl.validate_url(url).string()
        except (gourl.URLError, ValueError):
            continue  # invalid rows are filtered on the Spark side too
        vals.append("(" + ", ".join([
            q(u), q(lang), q(golden_text), q(flds["title"]),
            q(flds["keywords"]), q(flds["description"]),
            q(flds["path_parts"])]) + ")")
    return f"""
WITH g(url, lang, text, title, keywords, description, path_parts)
  AS (VALUES {", ".join(vals)}),
h AS (SELECT *, string_split(lower(regexp_extract(url, '^[a-zA-Z]+://([^/]+)', 1)), '.') AS parts
      FROM g)
SELECT url,
       CASE WHEN text = '' THEN ''
            WHEN len(parts) >= 3 AND (parts[-2] || '.' || parts[-1])
                 IN ('co.uk', 'com.br', 'co.jp')
            THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
            ELSE parts[-2] || '.' || parts[-1] END AS domain,
       lang, (text = '') AS stub, md5(text) AS text_md5,
       title, keywords, description, path_parts
FROM h"""


def _lang_analyze_sql() -> str:
    """Exact oracle for q_lang_analyze via the precomputed-goldens
    VALUES pattern (_extract_pages_sql precedent): Porter / the light
    stemmers aren't DuckDB-expressible, so the pinned pure-Python
    pipeline (py_tokens_lang — the SAME code path the Arrow UDF runs,
    analyze_lang.py:402-413) computes (n_tokens, head) per document at
    oracle-generation time, and the VALUES table self-validates by
    joining the live ``documents`` view on doc_id + lang + md5(text):
    any drift between the corpus the goldens were derived from and the
    corpus the driver registered shrinks the row count and fails the
    gate loudly instead of passing stale goldens."""
    import hashlib

    import duckdb

    from jivesearch_spark import analyze_lang as al

    sf_dir = os.environ.get("JIVESEARCH_ORACLE_SF_DIR",
                            "/root/testdata/sf0.01")
    rows = duckdb.sql(
        f"SELECT doc_id, text, lang FROM '{sf_dir}/documents.parquet' "
        "ORDER BY doc_id").fetchall()

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = []
    for doc_id, text, lang in rows:
        toks = al.py_tokens_lang(text, al.analyzer_for(lang or ""))
        md5 = hashlib.md5((text or "").encode("utf-8")).hexdigest()
        vals.append(f"({doc_id}, {q(lang) if lang is not None else 'NULL'}, "
                    f"{len(toks)}, {q(' '.join(toks[:5]))}, {q(md5)})")
    return f"""
WITH g(doc_id, lang, n_tokens, head, text_md5)
  AS (VALUES {", ".join(vals)})
SELECT g.doc_id, g.lang, CAST(g.n_tokens AS BIGINT) AS n_tokens, g.head
FROM g JOIN documents d
  ON g.doc_id = d.doc_id AND g.lang IS NOT DISTINCT FROM d.lang
 AND g.text_md5 = md5(d.text)"""


def _media_decode_sql() -> str:
    """Exact replay of multimodal._stub_decode over the same 60
    payloads: the stub digests the lowercase-hex payload encoding, so
    DuckDB recomputes sha256 itself (no literal answer table)."""
    return f"""
WITH p AS (
  SELECT CAST(i AS BIGINT) AS media_id, CAST(i % 3 AS INT) AS m,
         sha256((CASE CAST(i % 3 AS INT) WHEN 0 THEN '89504e470d0a1a0a'
                 WHEN 1 THEN 'ffd8ff' ELSE '474946383961' END)
                || repeat(printf('%02x', i % 251), 32)) AS hx
  FROM range(60) t(i))
SELECT media_id,
       CASE m WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
              ELSE 'image/gif' END AS kind,
       CAST(16 + {_hexbyte_sql('hx', 0)}*4 AS INT) AS width,
       CAST(16 + {_hexbyte_sql('hx', 1)}*4 AS INT) AS height,
       round({_hexbyte_sql('hx', 11)}/255.0, 2) AS nsfw_score,
       true AS ok, 'stub' AS decoder_mode, 'stub-digest' AS nsfw_model
FROM p"""


def _frame_sample_sql() -> str:
    """Exact replay of multimodal.sample_frames(every_n=8, max_frames=4)
    over the same 30 payloads: n_frames from digest byte 2, stride-8
    sampling capped at 4 frames ⇒ range(0, least(n, 32), 8)."""
    return f"""
WITH p AS (
  SELECT CAST(i AS BIGINT) AS media_id, CAST(i % 3 AS INT) AS m,
         sha256((CASE CAST(i % 3 AS INT) WHEN 0 THEN '89504e470d0a1a0a'
                 WHEN 1 THEN '1a45dfa3' ELSE '494433' END)
                || repeat(printf('%02x', i % 251), 32)) AS hx
  FROM range(30) t(i)),
f AS (SELECT media_id,
        CASE WHEN m = 0 THEN 1 ELSE 1 + ({_hexbyte_sql('hx', 2)}) % 64 END AS n_frames
      FROM p)
SELECT media_id, CAST(fi AS INT) AS frame_idx,
       CAST(fi * 40 AS INT) AS ts_ms, true AS ok
FROM (SELECT media_id, unnest(range(0, least(n_frames, 32), 8)) AS fi FROM f)"""


def q_neardup_recall(spark, sf_dir):
    """Recall gates for BOTH near-dup scale paths in one oracled entry
    (one row per method).

    minhash: candidates from minhash_lsh_pairs (est ≥ 0.35, band-
    bucket cap ON) must cover ≥ 90% of the EXACT n-gram-Jaccard ≥ 0.5
    pairs. simhash: planted byte-identical duplicates (every doc with
    doc_id % 97 == 0, re-id'd +1,000,000) must ALL surface as
    Hamming ≤ 3 candidate pairs — identical text ⇒ identical 64-bit
    signature, so a miss means the signature kernel or the pigeonhole
    chunk join broke. cosine_lsh: planted near-duplicate EMBEDDINGS
    (every vec_id % 41 == 0, re-id'd +1,000,000, deterministically
    perturbed to cosine ≈ 0.994) must all surface from
    ann.cosine_near_dup_lsh — the 100-TB embedding-dedup path
    (bucketed candidate generation + exact-cosine verify) sits in the
    driver's hard signal like the text paths. n_exact is SQL-verified
    by the oracle; recall_ok is the measured gate (a recall
    regression flips it and hash-fails the driver row)."""
    from jivesearch_spark.tdp import ann, dedup
    docs = _docs(spark, sf_dir)
    exact = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5,
                                      max_shingle_df=10**9).select("id_a", "id_b")
    lsh = dedup.minhash_lsh_pairs(docs, num_hashes=64, bands=16,
                                  threshold=0.35,
                                  max_bucket_size=1000).select("id_a", "id_b")
    n_mh = exact.count()
    f_mh = exact.join(lsh, ["id_a", "id_b"], "left_semi").count()
    ok_mh = (f_mh >= 0.9 * n_mh) if n_mh else True

    planted = docs.where(F.col("doc_id") % 97 == 0)
    dup = planted.withColumn("doc_id", F.col("doc_id") + 1000000)
    sh_pairs = dedup.simhash_near_pairs(
        docs.unionByName(dup), max_hamming=3).select("id_a", "id_b")
    expect = planted.select(F.col("doc_id").alias("id_a"),
                            (F.col("doc_id") + 1000000).alias("id_b"))
    n_sh = expect.count()
    f_sh = expect.join(sh_pairs, ["id_a", "id_b"], "left_semi").count()
    ok_sh = (f_sh == n_sh)

    emb = (spark.read.parquet(_t(sf_dir, "embeddings"))
           .select("vec_id", "embedding"))
    planted_e = emb.where(F.col("vec_id") % 41 == 0)
    pert = planted_e.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (1.0 + 0.05 * (
                F.pmod(F.col("vec_id") * 31 + i, F.lit(7)) - 3))
        ).alias("embedding"))
    cl_pairs = ann.cosine_near_dup_lsh(
        emb.unionByName(pert), threshold=0.9).select("id_a", "id_b")
    expect_e = planted_e.select(F.col("vec_id").alias("id_a"),
                                (F.col("vec_id") + 1000000).alias("id_b"))
    n_cl = expect_e.count()
    f_cl = expect_e.join(cl_pairs, ["id_a", "id_b"], "left_semi").count()
    ok_cl = (f_cl >= 0.9 * n_cl) if n_cl else True

    return spark.createDataFrame(
        [("cosine_lsh", n_cl, ok_cl), ("minhash", n_mh, ok_mh),
         ("simhash", n_sh, ok_sh)],
        "method string, n_exact long, recall_ok boolean")


def _ann_recall_rows(spark, sf_dir, approx_fn):
    """Shared recall-gate shape (mirrors q_neardup_recall): one row per
    probe query — sum_exact_ids is the SQL-verified exact-top-10 id
    checksum, recall_ok the measured approximate-recall gate. The
    exact side orders by (round(cos, 9) desc, id) — the SAME quantized
    tie-break as the oracle, so two cosines equal at 9 decimals cannot
    select different rank-10 ids on the two sides."""
    from jivesearch_spark.tdp import ann
    emb = spark.read.parquet(_t(sf_dir, "embeddings"))
    rows = []
    for qid in (0, 1, 2):
        qv = list(emb.where(f"vec_id = {qid}")
                  .select("embedding").collect()[0][0])
        exact = [r.id for r in ann.cosine_topk(emb, qv, k=10,
                                               tie_round=9).collect()]
        approx = [r.id for r in approx_fn(emb, qv).collect()]
        rows.append((qid, sum(exact),
                     len(set(exact) & set(approx)) >= 7))
    return spark.createDataFrame(
        rows, "query_id int, sum_exact_ids long, recall_ok boolean")


#: shared oracle for both ANN recall gates — identical exact side,
#: the approximate kernel under test differs only Spark-side
_ANN_RECALL_SQL = """
WITH qs AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT qs.qid, e.vec_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), qs.qv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(qs.qv, qs.qv))), 9) AS c
  FROM embeddings e CROSS JOIN qs),
ranked AS (SELECT qid, vec_id,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY c DESC, vec_id) AS rn
           FROM scored)
SELECT CAST(qid AS INTEGER) AS query_id,
       CAST(sum(vec_id) AS BIGINT) AS sum_exact_ids,
       true AS recall_ok
FROM ranked WHERE rn <= 10 GROUP BY qid ORDER BY qid"""


def q_ann_lsh_recall(spark, sf_dir):
    """Recall gate for the RP-LSH scale path: multi-table banding at
    (n_bits=8, n_tables=32, Hamming-1 probes) must recover ≥ 70% of
    the exact cosine top-10 per probe query (measured ~0.9-1.0 on the
    sf0.01 embeddings)."""
    from jivesearch_spark.tdp import ann
    return _ann_recall_rows(
        spark, sf_dir,
        lambda emb, qv: ann.ann_topk_lsh(emb, qv, k=10, n_bits=8,
                                         n_tables=32, probe_hamming=1))


def q_ann_ivf_recall(spark, sf_dir):
    """Recall gate for the IVF scale path: probing 10/16 lists must
    recover ≥ 70% of the exact cosine top-10 per probe query."""
    from jivesearch_spark.tdp import ann
    return _ann_recall_rows(
        spark, sf_dir,
        lambda emb, qv: ann.ann_topk_ivf(emb, qv, k=10, n_lists=16,
                                         n_probe=10))


def q_media_decode(spark, sf_dir):
    """Stub media decode over deterministic payloads; exact DuckDB
    oracle (_media_decode_sql) recomputes the digest-derived fields.
    decoder='stub' pins the oracle-replayable path — production calls
    use decoder='auto', which import-probes Pillow per executor and
    upgrades to real decode when the library exists."""
    from jivesearch_spark.tdp import multimodal
    payloads = [
        (i, (b"\x89PNG\r\n\x1a\n" if i % 3 == 0 else
             b"\xff\xd8\xff" if i % 3 == 1 else b"GIF89a") + bytes([i % 251]) * 32)
        for i in range(60)
    ]
    media = spark.createDataFrame(payloads, "media_id long, payload binary")
    return multimodal.decode_media(media, decoder="stub").select(
        "media_id", "kind", "width", "height", "nsfw_score", "ok",
        "decoder_mode", "nsfw_model")


def q_lang_analyze(spark, sf_dir):
    """Per-language analyzer routing (§2.8 chain; one-index-per-
    analyzer analog): each row tokenized by its language's pinned
    chain (en→Porter, es/de/fr→light stemmers, zh→cjk bigrams) in ONE
    Arrow UDF. Porter isn't SQL-expressible in DuckDB (stem() needs an
    extension download), so the oracle embeds precomputed goldens from
    the pinned pure-Python pipeline as a self-validating VALUES table
    (_lang_analyze_sql)."""
    from jivesearch_spark import analyze_lang as al
    d = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    out = al.analyzed_docs(d)
    return out.select("doc_id", "lang",
                      F.size("toks").cast("long").alias("n_tokens"),
                      F.concat_ws(" ", F.slice("toks", 1, 5)).alias("head"))


def q_frame_sample(spark, sf_dir):
    """Frame-sampling fan-out (UDTF-shaped mapInPandas): one row per
    sampled frame; decode is a deterministic stub, plumbing is real;
    exact DuckDB oracle (_frame_sample_sql) replays the fan-out."""
    from jivesearch_spark.tdp import multimodal
    payloads = [
        (i, (b"\x89PNG\r\n\x1a\n" if i % 3 == 0 else
             b"\x1aE\xdf\xa3" if i % 3 == 1 else b"ID3") + bytes([i % 251]) * 32)
        for i in range(30)
    ]
    media = spark.createDataFrame(payloads, "media_id long, payload binary")
    return (multimodal.sample_frames(media, every_n=8, max_frames=4)
            .select("media_id", "frame_idx", "ts_ms", "ok"))


def q_extract_pages(spark, sf_dir):
    """Extractor over the synthetic pages corpus (the input_hint
    pipeline). The DuckDB oracle replays the corpus' GOLDEN field
    rules (gen_page derives text from the raw ingredients, NOT by
    parsing HTML — corpus.py:77-89), so this checks the HTML-parse
    path against an independent derivation: text via md5, domain
    re-derived in SQL from the url string, stub = the noindex/
    non-canonical projection (crawler.go:311-322).

    Round 4: the pages now ARRIVE through the WARC source — the same
    200 rows serialized into 4 Common-Crawl-layout segments
    (per-record gzip members) and re-parsed by the stdlib WARC record
    parser inside the same Spark stage — so this entry gates ingest
    (S1) + extraction together; the oracle is unchanged because the
    round-trip is byte-exact (tests/test_warc.py)."""
    from jivesearch_spark import corpus, warc
    from jivesearch_spark.extract import extract_pages_df
    rows = [corpus.gen_page(i) for i in range(200)]
    blobs = [(bytearray(warc.warc_bytes(
        [(u, ts, h) for u, ts, h, _, _ in rows[j::4]])),) for j in range(4)]
    bin_df = spark.createDataFrame(blobs, "content binary").repartition(4)
    pages = bin_df.mapInPandas(warc._parse_files_fn(False, 256),
                               schema=warc.PAGES_SCHEMA)
    ex = extract_pages_df(pages).where(F.col("valid"))
    return ex.select(
        "url", "domain", "lang",
        (~(F.col("index") & F.col("canonical"))).alias("stub"),
        F.md5("text").alias("text_md5"),
        "title", "keywords", "description", "path_parts")


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    ensure_shipped(spark)
    return q_bm25_topk(spark, DEFAULT_SF)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 entries (the driver checks the first 50), ALL with
    exact DuckDB oracles — lang_analyze gained one in round 4 via the
    precomputed-goldens VALUES pattern (_lang_analyze_sql).
    Round-2 consolidation: the rows-only ann_*_topk /
    minhash_lsh_pairs / simhash_near_pairs entries are subsumed by the
    oracled recall gates (ann_lsh_recall / ann_ivf_recall /
    neardup_recall), which execute the same kernels and additionally
    gate recall; hash+display functions, the two crawl-frontier
    predicates, semi+anti joins, and the two page rollups are merged
    pairwise under one entry each so every oracled check fits the
    driver window."""
    return {
        "bm25_topk": q_bm25_topk,
        "bm25_msm": q_bm25_msm,
        "bm25_fielded": q_bm25_fielded,
        "bm25_fielded_indexed": q_bm25_fielded_indexed,
        "bm25_indexed": q_bm25_indexed,
        "bm25_served": q_bm25_served,
        "bm25_page2": q_bm25_page2,
        "bm25_batch": q_bm25_batch,
        "term_stats": q_term_stats,
        "doc_lengths": q_doc_lengths,
        "boolean_and": q_boolean_and,
        "total_hits": q_total_hits,
        "suggest_prefix": q_suggest_prefix,
        "phrase_bigram": q_phrase_bigram,
        "topk_per_source": q_topk_per_source,
        "char_frequency": q_char_frequency,
        "events_hourly": q_events_hourly,
        "domain_quota": q_domain_quota,
        "page_histograms": q_page_histograms,
        "crawl_frontier": q_crawl_frontier,
        "nsfw_filter": q_nsfw_filter,
        "label_max": q_label_max,
        "scalar_functions": q_scalar_functions,
        "agg_pricing_summary": q_agg_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "left_join_order_counts": q_left_join_order_counts,
        "semi_anti_customers": q_semi_anti_customers,
        "window_top3_orders": q_window_top3_orders,
        "stats_summary": q_stats_summary,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "token_counts": q_token_counts,
        "quality_scores": q_quality_scores,
        "language_id": q_language_id,
        "fingerprints": q_fingerprints,
        "ann_cosine_topk": q_ann_cosine_topk,
        "cosine_near_dup": q_cosine_near_dup,
        "instant_answers": q_instant_answers,
        "suggest_store": q_suggest_store,
        "bang_dispatch": q_bang_dispatch,
        "wiki_item_join": q_wiki_item_join,
        "wiki_claims_join": q_wiki_claims_join,
        "wiki_disambiguation": q_wiki_disambiguation,
        "neardup_recall": q_neardup_recall,
        "ann_lsh_recall": q_ann_lsh_recall,
        "ann_ivf_recall": q_ann_ivf_recall,
        "media_decode": q_media_decode,
        "frame_sample": q_frame_sample,
        "extract_pages": q_extract_pages,
        "lang_analyze": q_lang_analyze,
    }


def _suggest_store_sql() -> str:
    from jivesearch_spark.suggest import NAUGHTY
    not_naughty = " AND ".join(
        f"query NOT LIKE '%{t}%'" for t in sorted(NAUGHTY))
    return f"""
WITH toks AS ({SQL_TOKS}),
qs AS (SELECT substring(array_to_string(tk[1:3], ' '), 1, 50) AS query
       FROM toks)
SELECT query, count(*) AS weight FROM qs
WHERE query <> '' AND {not_naughty}
GROUP BY 1"""


def _wiki_sql(body: str) -> str:
    from jivesearch_spark.wiki import synth_wiki_sql
    return f"WITH {synth_wiki_sql(SQL_TOKS)['wbase']} {body}"


WIKI_ITEM_SQL = """
SELECT coalesce(w.id, '') AS id, coalesce(w.title, '') AS title,
       coalesce(len(w.outgoing_link), 0) AS n_links,
       coalesce(len(q.quotes), 0) AS n_quotes,
       coalesce(d.label, '') AS label,
       coalesce(wk.title, '') AS wktitle,
       coalesce(wk.definition, '') AS definition,
       coalesce(w.popularity_score, 0.0) AS popularity_score
FROM wikipedia w
LEFT JOIN wikiquote q ON w.id = q.id
LEFT JOIN wikidata d ON w.id = d.id
FULL OUTER JOIN wiktionary wk ON lower(w.title) = lower(wk.title)"""

WIKI_CLAIMS_SQL = """
SELECT e.id, e.claim_id, coalesce(d2.label, '') AS claim_label
FROM (SELECT id, unnest(claims) AS claim_id FROM wikidata) e
LEFT JOIN (SELECT id AS claim_id, label FROM wikidata) d2 USING (claim_id)"""

WIKI_DISAMBIG_SQL = """
, dis AS (
  SELECT w.id AS src_id, lower(replace(w.title, ' ', '_')) AS lc,
         w.outgoing_link
  FROM wikipedia w JOIN wikidata d ON w.id = d.id
  WHERE d.description = 'Wikipedia disambiguation page'),
lnk AS (
  SELECT src_id, lower(replace(link, '_', ' ')) AS target
  FROM (SELECT src_id, lc, unnest(outgoing_link) AS link FROM dis)
  WHERE starts_with(lower(link), lc || '_')),
hits AS (
  SELECT l.src_id, w.id AS target_id, w.title AS target_title,
         w.popularity_score
  FROM lnk l JOIN wikipedia w ON lower(w.title) = l.target)
SELECT * FROM (
  SELECT src_id, target_id, target_title, popularity_score,
         row_number() OVER (PARTITION BY src_id
                            ORDER BY popularity_score DESC, target_id) AS rk
  FROM hits) WHERE rk <= 10"""


def oracle_sql() -> dict[str, str]:
    terms_main = sorted(set(analyze.py_tokens(QUERY_MAIN)))
    terms_msm = sorted(set(analyze.py_tokens(QUERY_MSM)))
    msm_req = bm25.msm_required(len(terms_msm))

    def bm25_sql(terms, msm=0, offset=0):
        tl = _terms_sql(terms)
        having = f"HAVING count(DISTINCT t.term) >= {msm}" if msm else ""
        page = f" OFFSET {offset}" if offset else ""
        return f"""
WITH toks AS ({SQL_TOKS}),
tfl AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks),
tfg AS (SELECT doc_id, dl, term, count(*) AS tf FROM tfl
        WHERE term IN ({tl}) GROUP BY 1, 2, 3),
stats AS (SELECT count(*) AS n_docs, avg(len(tk)) AS avgdl FROM toks),
dfreq AS (SELECT term, count(*) AS df FROM tfg GROUP BY 1),
scored AS (
  SELECT t.doc_id,
         sum(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * t.tf * 2.2
             / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl))) AS raw,
         count(DISTINCT t.term) AS nm
  FROM tfg t JOIN dfreq d ON t.term = d.term CROSS JOIN stats s
  GROUP BY t.doc_id {having.replace('HAVING', 'HAVING')})
SELECT doc_id, round(raw, 4) AS score FROM scored
ORDER BY round(raw, 9) DESC, doc_id LIMIT 10{page}"""

    sql = {
        "bm25_topk": bm25_sql(terms_main),
        "bm25_msm": bm25_sql(terms_msm, msm_req),
        "bm25_fielded": _fielded_sql(),
        "bm25_fielded_indexed": _fielded_sql(),
        "bm25_indexed": bm25_sql(terms_main),
        "bm25_served": bm25_sql(terms_main),
        "bm25_page2": bm25_sql(terms_main, offset=10),
        "bm25_batch": "\nUNION ALL\n".join(
            f"SELECT '{qid}' AS qid, * FROM ({bm25_sql(sorted(set(analyze.py_tokens(q))))})"
            for qid, q in BATCH_QUERIES),
        "term_stats": f"""
WITH toks AS ({SQL_TOKS}),
tfl AS (SELECT doc_id, unnest(tk) AS term FROM toks),
tfg AS (SELECT term, doc_id, count(*) AS tf FROM tfl GROUP BY 1, 2)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tfg GROUP BY 1
ORDER BY df DESC, term LIMIT 50""",
        "doc_lengths": f"WITH toks AS ({SQL_TOKS}) SELECT doc_id, len(tk) AS dl FROM toks",
        "boolean_and": f"""
WITH toks AS ({SQL_TOKS})
SELECT doc_id FROM toks
WHERE {' AND '.join(f"list_contains(tk, '{t}')" for t in AND_TERMS)}""",
        "total_hits": f"""
WITH toks AS ({SQL_TOKS})
SELECT count(*) AS total_hits FROM toks
WHERE len(list_intersect(tk, [{_terms_sql(terms_main)}])) > 0""",
        "suggest_prefix": f"""
WITH toks AS ({SQL_TOKS})
SELECT term, count(*) AS weight
FROM (SELECT unnest(tk) AS term FROM toks)
WHERE term LIKE '{PREFIX}%'
GROUP BY 1 ORDER BY weight DESC, term LIMIT 10""",
        "phrase_bigram": f"""
WITH toks AS ({SQL_TOKS}),
occ AS (SELECT doc_id,
               len([i for i in range(1, len(tk))
                    if tk[i] || ' ' || tk[i+1] = '{BIGRAM}']) AS n_occurrences
        FROM toks)
SELECT doc_id, n_occurrences FROM occ WHERE n_occurrences > 0""",
        "topk_per_source": """
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents) WHERE rn = 1""",
        "char_frequency": f"""
SELECT doc_id, length(text) - length(replace(text, '{CHAR}', '')) AS freq
FROM documents""",
        "events_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2""",
        "domain_quota": """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents) WHERE rn <= 40""",
        "page_histograms": """
WITH s AS (
  SELECT ([200,301,302,404,403,500,503,200,204,429])[CAST(event_id % 10 AS INT) + 1] AS status
  FROM events)
SELECT 'status' AS kind, (status // 100)::VARCHAR || 'xx' AS key,
       count(*) AS n, CAST(NULL AS BIGINT) AS total_chars
FROM s GROUP BY 2
UNION ALL
SELECT 'source', source, count(*), CAST(sum(n_chars) AS BIGINT)
FROM documents GROUP BY 2""",
        "crawl_frontier": f"""
WITH d AS (SELECT doc_id,
  CASE WHEN doc_id % 11 = 0 THEN NULL
       ELSE TIMESTAMP '2026-01-01 00:00:00' + (doc_id % 60) * INTERVAL 1 DAY
  END AS crawled
  FROM documents)
SELECT doc_id, crawled,
       (crawled IS NULL
        OR crawled < TIMESTAMP '{_NOW_TS}' - INTERVAL 30 DAY) AS due_recrawl,
       (crawled IS NULL OR crawled <= TIMESTAMP '{_SINCE_TS}') AS is_uncrawled
FROM d
WHERE (crawled IS NULL OR crawled < TIMESTAMP '{_NOW_TS}' - INTERVAL 30 DAY)
   OR (crawled IS NULL OR crawled <= TIMESTAMP '{_SINCE_TS}')""",
        "nsfw_filter": """
SELECT event_id, round((event_id % 100) / 100.0, 4) AS nsfw_score
FROM events WHERE (event_id % 100) / 100.0 < 0.3""",
        "label_max": """
WITH s AS (SELECT event_type || '|' || CAST(event_id % 5 AS VARCHAR) AS label,
                  value AS score FROM events),
ex AS (SELECT unnest(string_split(label, '|')) AS label, score FROM s)
SELECT label, round(max(score), 4) AS score FROM ex GROUP BY 1""",
        "agg_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2""",
        "revenue_by_nation": """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1""",
        "left_join_order_counts": """
SELECT c_custkey, count(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY 1""",
        "semi_anti_customers": """
SELECT 'semi' AS side, c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'anti', c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
        "window_top3_orders": """
SELECT o_custkey, o_orderkey, round(o_totalprice, 4) AS o_totalprice, rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders) WHERE rk <= 3""",
        "stats_summary": """
SELECT round(avg(l_quantity), 4) AS avg_qty,
       round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS median_qty,
       round(sum(l_quantity), 4) AS sum_qty
FROM lineitem""",
        "dedup_exact": """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1""",
        "ngram_jaccard": f"""
WITH toks AS ({SQL_TOKS}),
sh AS (SELECT doc_id,
              list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                             for i in range(1, len(tk) - 1)]) AS s
       FROM toks WHERE len(tk) >= 3),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b,
       round(c / (len(sa.s) + len(sb.s) - c), 4) AS jaccard
FROM inter
JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
WHERE c / (len(sa.s) + len(sb.s) - c) >= 0.2""",
        "token_counts": """
SELECT doc_id AS id,
       len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS bpe_tokens,
       length(text) AS chars
FROM documents""",
        "quality_scores": f"""
WITH toks AS (SELECT doc_id, text,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
  FROM documents),
feat AS (
  SELECT doc_id, len(tk) AS n_tokens,
    length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
      / greatest(length(text), 1) AS alpha_ratio,
    CASE WHEN len(tk) > 0 THEN
      len(list_filter(tk, t -> list_contains(['the','of','and','to','in','is','it','that','was','for'], t)))
        / len(tk) ELSE 0 END AS stop_ratio,
    CASE WHEN len(tk) > 0 THEN
      list_aggregate(list_transform(tk, t -> length(t)), 'sum') / len(tk)
      ELSE 0 END AS mean_len
  FROM toks)
SELECT doc_id AS id, n_tokens,
  round(alpha_ratio, 4) AS alpha_ratio,
  round(stop_ratio, 4) AS stopword_ratio,
  round(mean_len, 4) AS mean_token_len,
  round((CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 1.0
              WHEN n_tokens > 0 THEN 0.5 ELSE 0.0 END
         + alpha_ratio
         + least(stop_ratio * 3.0, 1.0)
         + CASE WHEN mean_len BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END) / 4.0,
        4) AS quality
FROM feat""",
        "language_id": f"""
WITH toks AS ({SQL_TOKS}),
langs(lang, sw) AS (VALUES
  ('de', ['der','die','und','das','ist','von','mit','den','nicht','ein']),
  ('en', ['the','of','and','to','in','is','it','that','was','for']),
  ('es', ['el','la','de','que','y','en','un','los','se','no']),
  ('fr', ['le','la','de','et','les','des','est','un','une','dans']),
  ('pt', ['o','a','de','que','e','do','da','em','um','para'])),
votes AS (
  SELECT doc_id, lang,
         len(list_filter(tk, t -> list_contains(sw, t))) AS hits
  FROM toks CROSS JOIN langs),
best AS (
  SELECT doc_id, lang, hits,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY hits DESC, lang DESC) AS rn
  FROM votes)
SELECT doc_id AS id,
       CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_pred,
       hits AS evidence
FROM best WHERE rn = 1""",
        "fingerprints": f"""
WITH toks AS ({SQL_TOKS})
SELECT doc_id AS id, md5(array_to_string(tk, ' ')) AS fingerprint FROM toks""",
        "suggest_store": _suggest_store_sql(),
        "scalar_functions": """
WITH f AS (
  SELECT doc_id, text, n_chars, source,
         list_filter(regexp_split_to_array(substring(text, 1, 61), '\\s+'),
                     t -> t <> '') AS ws,
         md5(replace(source, ' ', '_')) AS m
  FROM documents)
SELECT doc_id,
       md5(source) AS md5_hex,
       sha256(source) AS sha256_hex,
       CASE WHEN length(text) <= 60 THEN text
            ELSE array_to_string(list_slice(ws, 1, greatest(len(ws) - 1, 0)), ' ')
                 || ' ...' END AS t60,
       CASE WHEN length(text) <= 30 THEN text
            ELSE substring(text, 1, 30) || '...' END AS h30,
       format('{:,}', n_chars) AS commafied,
       'https://upload.wikimedia.org/wikipedia/commons/' || m[1] || '/'
         || m[1:2] || '/' || replace(source, ' ', '_') AS img_url,
       replace(list_aggregate(list_transform(
           regexp_split_to_array(lower(source), ' '),
           w -> upper(w[1]) || w[2:]), 'string_agg', ' '), ' ', '_') AS canon
FROM f""",
        "media_decode": _media_decode_sql(),
        "frame_sample": _frame_sample_sql(),
        "extract_pages": _extract_pages_sql(),
        "neardup_recall": f"""
WITH toks AS ({SQL_TOKS}),
sh AS (SELECT doc_id,
              list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                             for i in range(1, len(tk) - 1)]) AS s
       FROM toks WHERE len(tk) >= 3),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT 'cosine_lsh' AS method, count(*) AS n_exact, true AS recall_ok
FROM embeddings WHERE vec_id % 41 = 0
UNION ALL
SELECT 'minhash', count(*), true
FROM inter
JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
WHERE c / (len(sa.s) + len(sb.s) - c) >= 0.5
UNION ALL
SELECT 'simhash', count(*), true FROM documents WHERE doc_id % 97 = 0""",
        "wiki_item_join": _wiki_sql(WIKI_ITEM_SQL),
        "wiki_claims_join": _wiki_sql(WIKI_CLAIMS_SQL),
        "wiki_disambiguation": _wiki_sql(WIKI_DISAMBIG_SQL),
        "bang_dispatch": f"""
WITH toks AS ({SQL_TOKS}),
tfl AS (SELECT doc_id, unnest(tk) AS term FROM toks),
tfg AS (SELECT term, doc_id FROM tfl GROUP BY 1, 2),
top AS (SELECT term, count(*) AS df FROM tfg GROUP BY 1
        ORDER BY df DESC, term LIMIT 10)
SELECT '!g ' || term AS query, 'Google' AS bang_name,
       'https://encrypted.google.com/search?hl=en&q=' || term AS location,
       true AS triggered
FROM top
UNION ALL
SELECT '!w ' || term, 'Wikipedia',
       'https://en.wikipedia.org/wiki/' || upper(term[1]) || term[2:], true
FROM top
UNION ALL
SELECT term || ' plain', NULL, NULL, false FROM top""",
        "instant_answers": f"""
WITH toks AS ({SQL_TOKS}),
tfl AS (SELECT doc_id, unnest(tk) AS term FROM toks),
tfg AS (SELECT term, doc_id FROM tfl GROUP BY 1, 2),
top AS (SELECT term, count(*) AS df FROM tfg GROUP BY 1
        ORDER BY df DESC, term LIMIT 20)
SELECT 'md5 ' || term AS query, 'hash' AS answer_type,
       '{{"algo": "MD5", "original": "' || term || '", "solution": "'
         || md5(term) || '"}}' AS solution
FROM top
UNION ALL
SELECT 'reverse ' || term, 'reverse', '"' || reverse(term) || '"' FROM top
UNION ALL
SELECT 'char count ' || term, 'characters',
       '"' || CAST(length(term) AS VARCHAR) || '"' FROM top
UNION ALL
SELECT '12 * (3 + 2)', 'calculator',
       CAST(CAST(12 * (3 + 2) AS DOUBLE) AS VARCHAR)
UNION ALL
SELECT '2 ^ 5 - 1', 'calculator', CAST(CAST(xor(2, 5 - 1) AS DOUBLE) AS VARCHAR)
UNION ALL
SELECT '100 / 8', 'calculator', CAST(100 / 8 AS VARCHAR)""",
        "ann_cosine_topk": """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM embeddings e CROSS JOIN q
ORDER BY round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))), 9) DESC, e.vec_id
LIMIT 10""",
        # recall gates (q_ann_lsh_recall / q_ann_ivf_recall): the
        # exact-top-10 id checksum per probe query is SQL-verified with
        # the same (round(cos,9) desc, vec_id) tie-break; recall_ok is
        # the measured approximate-recall gate, pinned true — a recall
        # regression in the LSH/IVF kernels flips it and hash-fails.
        "ann_lsh_recall": _ANN_RECALL_SQL,
        "ann_ivf_recall": _ANN_RECALL_SQL,
        "lang_analyze": _lang_analyze_sql(),
        "cosine_near_dup": """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= 0.35""",
    }
    return sql
