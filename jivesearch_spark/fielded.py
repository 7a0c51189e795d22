"""Fielded compressed index + query — the SERP scorer served from disk.

The reference SERP query is a `multi_match cross_fields` over
domain^3 / path^2 / title^1.5 / description, plus additive bigram
shingle should-clauses on title/description, `minimum_should_match
-25%`, and a regional-tld should term
(/root/reference/search/elasticsearch.go:32-58). `bm25.bm25_fielded_topk`
is the brute-force spec; this module answers the SAME query from
compressed per-field posting lists, rank-identically (gated in
tests/test_fielded.py over the whole reference query set).

Layout: one docid space (dense url-rank ids, so docid-asc tie-break ≡
url-asc) shared by per-field sub-indexes::

    root/doc_meta/                docid ↔ url
    root/fields/<field>/          a standard index (postings/term_stats/
                                  manifest) built over that field's tokens
    root/fielded.json             field list + boosts + lang

Per-field sub-indexes reuse the whole single-field machinery (codec,
bucketing, resume manifests) — fields are just short documents. The
reference runs one ES index per language; `lang` partitions map to one
fielded root per language, built from a lang-filtered base.

Query modes — both build one block table over (field, term) keys and
call `query._topk_query`, the kernel entry every other caller uses.
`_field_meta` pins each field's rules on its entries: w = idf × boost,
the field's avgdl, boost-scaled bounds, and the cross-field MSM marks
(a unigram key's ``group`` is its base term, shingle keys have none,
the tld key is ``probe_only``: it adds score but never generates
candidates, like the reference's non-qualifying regional clause).
- ``bm25_fielded_indexed`` — one Spark job: pruned per-field scans
  union'd with a field tag, one brute kernel per shard decoding each
  (field, term) once, idf from the global df (`FieldedReader.stats_for`:
  a driver-side `index.TermFiles` read of each field's term_stats).
- ``FieldedLocalIndex.topk`` — the serving-tier flavor (open-once
  `index.TermFiles` pruned reads, no Spark job): the same up-front
  brute-or-lazy choice as `serve.LocalIndex`, df taken from the
  postings rows it reads, the same `serve.TermCache` /
  `serve.ResultCache`, whose ranked-prefix entries are keyed on the
  query's `_analyze` sets and options, not on k and offset.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import analyze, bm25
from .hashing import term_bucket
from .index import IndexParams, Manifest, TermFiles, assign_doc_ids, build_index
from .query import _POSTING_COLS, _term_block_meta, _topk_query, _topk_table
from .serve import ResultCache, TermCache
from .session import ensure_shipped

#: (field, source column, boost, shingle?) — search/elasticsearch.go:35-47
FIELD_SPECS = [
    ("domain", "domain", 3.0, False),
    ("path_parts", "path_parts", 2.0, False),
    ("title", "title", 1.5, False),
    ("description", "description", 1.0, False),
    ("title_shingle", "title", 1.0, True),
    ("description_shingle", "description", 1.0, True),
]
TLD_FIELD = "tld"
#: tlds the reference does NOT add a regional clause for
TLD_SKIP = ("us", "tv", "me", "co", "io")


def build_fielded_index(docs: DataFrame, root: str,
                        params: IndexParams | None = None,
                        lang: str | None = None, resume: bool = False,
                        log=print) -> dict:
    """``docs`` = extracted pages already filtered to ``index=true``
    (and to one language when mirroring the per-language layout).

    ``resume=True`` restarts a killed build: completed per-field
    sub-indexes (their manifests say ``done``) are skipped, the
    in-flight one resumes from its own bucket-batch lineage, and
    docids are re-derived deterministically from the staged parquet —
    field granularity on top of the per-field batch granularity."""
    params = params or IndexParams()
    spark = docs.sparkSession
    ensure_shipped(spark)
    if lang is not None:
        docs = docs.where(F.col("lang") == lang)

    staging = os.path.join(root, "docid_staging")
    if resume and os.path.exists(staging):
        from .index import enumerate_staged_docids
        docs = enumerate_staged_docids(spark, staging, key="url")
    else:
        docs = assign_doc_ids(docs, key="url", staging_dir=staging)
    docs = docs.persist()
    meta_path = os.path.join(root, "doc_meta")
    if not (resume and os.path.exists(meta_path)):
        (docs.select("docid", "url")
         .write.mode("overwrite").parquet(meta_path))

    def _sub_build(fname, toks):
        d = os.path.join(root, "fields", fname)
        if resume:
            man = Manifest.load(d)
            if man is not None and man.done:
                log(f"[fielded] resume: {fname} already complete")
                return
        sub = docs.withColumn("__toks", toks)
        build_index(sub, d, params, id_col="docid", url_col=None,
                    toks_col="__toks", resume=resume,
                    check_invariants=False, manage_cache=False, log=log)

    fielded = {"lang": lang, "fields": [], "tld_field": TLD_FIELD}
    for fname, src, boost, shingle in FIELD_SPECS:
        toks = analyze.tokens(F.col(src))
        if shingle:
            toks = analyze.bigrams(toks)
        _sub_build(fname, toks)
        fielded["fields"].append({"name": fname, "boost": boost,
                                  "shingle": shingle})

    # tld as a 1-token field (the regional should-clause is exactly a
    # BM25 term with tf=1, dl=1 — tf_norm(1,1,1)=1 ⇒ bonus = idf)
    tld_toks = F.filter(F.array(F.col("tld")),
                        lambda x: x.isNotNull() & (F.length(x) > 0))
    _sub_build(TLD_FIELD, tld_toks)

    docs.unpersist()
    with open(os.path.join(root, "fielded.json"), "w") as f:
        json.dump(fielded, f)
    return fielded


class FieldedReader:
    """Spark-side handle: per-field postings/stats frames + manifests."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        with open(os.path.join(root, "fielded.json")) as f:
            self.meta = json.load(f)
        self.fields = {f["name"]: f for f in self.meta["fields"]}
        self.man: dict[str, Manifest] = {}
        self.postings: dict[str, DataFrame] = {}
        from .index import POSTINGS_SCHEMA
        for name in list(self.fields) + [TLD_FIELD]:
            d = os.path.join(root, "fields", name)
            self.man[name] = Manifest.load(d)
            self.man[name].check_codec(d)
            # a field can legitimately index zero tokens (e.g. an
            # all-null tld column) — stage 2 then writes no postings
            # dir at all; substitute an empty frame with the schema
            p = f"{d}/postings"
            self.postings[name] = (spark.read.schema(POSTINGS_SCHEMA).parquet(p)
                                   if os.path.isdir(p)
                                   else spark.createDataFrame([], POSTINGS_SCHEMA))
        self.n_buckets = self.man[TLD_FIELD].params["n_buckets"]
        #: per-field term_stats, read on the driver (no Spark job)
        self.stats = {n: TermFiles(os.path.join(root, "fields", n, "term_stats"),
                                   self.n_buckets) for n in self.man}
        self.doc_meta = spark.read.parquet(f"{root}/doc_meta")
        self._df_cache: dict[tuple[str, str], int] = {}
        ensure_shipped(spark)

    def stats_for(self, field: str, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if (field, t) not in self._df_cache]
        if missing:
            tbl = self.stats[field].read(missing, ["term", "df"])
            found = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
            for t in missing:
                self._df_cache[(field, t)] = int(found.get(t, 0))
        return {t: self._df_cache[(field, t)] for t in terms
                if self._df_cache[(field, t)] > 0}


def _analyze(query: str) -> tuple[tuple, tuple]:
    """A query's sorted unigram and bigram sets: every token input of
    its plan (bigrams keep word order: "dylan bob" ≠ "bob dylan")."""
    toks = analyze.py_tokens(query)
    return (tuple(sorted(set(toks))),
            tuple(sorted(set(analyze.py_bigrams(toks)))))


def _weight(n_docs: int, boost: float):
    """A field's w as a callable of df: idf × boost, the oracle's
    evaluation order (bm25.bm25_fielded_topk)."""
    return lambda df: bm25.idf(n_docs, df) * boost


def _query_plan(reader, analyzed: tuple, tld_boost: str | None,
                shingles: bool):
    """Shared query prep from `_analyze` sets: one spec per field the
    query reads — its terms, boost, avgdl, shingle flag and ``w`` (see
    `_weight`) — the tld field as a ``probe_only`` spec; None when the
    query has no token. Terms are not checked against the index here:
    the serving tier takes df from the postings rows it reads, the
    Spark path pins the global df with `_pin_global_df`."""
    q_terms, q_bigrams = analyzed
    if not q_terms:
        return None
    n_docs = reader.man[TLD_FIELD].n_docs
    specs = {}
    for name, spec in reader.fields.items():
        terms = q_bigrams if spec["shingle"] else q_terms
        if terms and (shingles or not spec["shingle"]):
            specs[name] = {"terms": list(terms),
                           "w": _weight(n_docs, spec["boost"]),
                           "boost": spec["boost"],
                           "avgdl": reader.man[name].avgdl,
                           "shingle": spec["shingle"], "probe_only": False}
    if tld_boost and tld_boost not in TLD_SKIP:
        specs[TLD_FIELD] = {"terms": [tld_boost], "w": _weight(n_docs, 1.0),
                            "boost": 1.0, "avgdl": 1.0, "shingle": False,
                            "probe_only": True}
    return {"q_terms": q_terms, "specs": specs}


def _pin_global_df(reader: FieldedReader, plan) -> bool:
    """Keep only the terms each field holds, with ``w`` pinned from the
    GLOBAL df (a Spark kernel sees one shard, so the df of its rows is
    local). False when no text field holds a query term."""
    for name, spec in list(plan["specs"].items()):
        dfs = reader.stats_for(name, spec["terms"])
        if dfs:
            spec.update(terms=sorted(dfs),
                        w={t: spec["w"](d) for t, d in dfs.items()})
        else:
            del plan["specs"][name]
    return any(name != TLD_FIELD for name in plan["specs"])


def _field_meta(tbl, spec) -> dict:
    """Per-term raw block tables of ONE field's postings (Arrow table),
    scored as that field: w = idf × boost, the field's own avgdl, and
    block bounds boost-scaled to match — the stored max_score_ub (in
    each ``blk`` header) is idf × max tf-norm (codec.encode_blocks), so
    unscaled bounds would let the lazy kernel retire blocks that still
    hold top-k winners.
    The entries also carry the cross-field MSM marks every finisher
    reads (`query._group_of`): a unigram key's group is its base
    term, a shingle key has none, and the tld key is ``probe_only``."""
    boost = spec["boost"]
    tb = _term_block_meta(tbl, spec["w"])
    for term, meta in tb.items():
        meta["avgdl"] = spec["avgdl"]
        meta["ub"] = meta["ub"] * boost
        meta["group"] = None if spec["shingle"] or spec["probe_only"] else term
        meta["probe_only"] = spec["probe_only"]
    return tb


def _score_fielded(tbl, plan, k1, b, k, msm_req):
    """Kernel for one shard: ``tbl`` is an Arrow table of (field, term,
    block…) rows. Returns (docids, scores) top-k, by brute."""
    import pyarrow.compute as pc
    tb = {}
    for field, spec in plan["specs"].items():
        sub = tbl.filter(pc.equal(tbl["field"], field))
        tb.update({(field, t): m for t, m in _field_meta(sub, spec).items()})
    return _topk_query(tb, k, msm_req, k1, b, 1.0, use_wand=False)


def bm25_fielded_indexed(reader: FieldedReader, query: str, k: int = 10,
                         shingles: bool = True, tld_boost: str | None = None,
                         min_should_match: bool = True,
                         offset: int = 0) -> DataFrame:
    """Indexed SERP query → (doc_id [url], score), rank-identical to
    `bm25.bm25_fielded_topk` over the same base. ``offset`` pages past
    the first ranks (Fetch(number, offset), search/elasticsearch.go:66;
    kernels fetch top-(offset+k), the merge skips ``offset``)."""
    spark = reader.spark
    empty = spark.createDataFrame([], "doc_id string, score double")
    plan = _query_plan(reader, _analyze(query), tld_boost, shingles)
    if plan is None or not _pin_global_df(reader, plan):
        return empty
    k1 = reader.man[TLD_FIELD].params["k1"]
    b = reader.man[TLD_FIELD].params["b"]
    req = bm25.msm_required(len(plan["q_terms"])) if min_should_match else 0

    frames = []
    for name, spec in plan["specs"].items():
        terms = spec["terms"]
        bks = sorted({term_bucket(t, reader.n_buckets) for t in terms})
        frames.append(
            reader.postings[name]
            .where(F.col("bucket").isin(bks) & F.col("term").isin(terms))
            .select(F.lit(name).alias("field"), *_POSTING_COLS))
    blocks = frames[0]
    for fr in frames[1:]:
        blocks = blocks.unionByName(fr)

    kk = k + max(0, offset)

    def _kernel(tbl):
        return _topk_table(*_score_fielded(tbl, plan, k1, b, kk, req))

    per_shard = blocks.groupBy("shard").applyInArrow(
        _kernel, schema="docid long, score double")
    topk = per_shard.orderBy(F.round(F.col("score"), 9).desc(),
                             F.asc("docid"))
    if offset > 0:
        topk = topk.offset(offset)
    topk = topk.limit(k)
    # docid → url (docids are url-rank, so the docid tie-break already
    # equals the url tie-break; the join is only for display identity)
    return (topk.join(reader.doc_meta, "docid")
            .select(F.col("url").alias("doc_id"), "score")
            .orderBy(F.round(F.col("score"), 9).desc(), F.asc("doc_id")))


class FieldedLocalIndex:
    """Serving-tier fielded queries (no Spark job)."""

    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, "fielded.json")) as f:
            self.meta = json.load(f)
        self.fields = {f["name"]: f for f in self.meta["fields"]}
        names = list(self.fields) + [TLD_FIELD]
        self.man: dict[str, Manifest] = {
            n: Manifest.load(os.path.join(root, "fields", n)) for n in names}
        for n, man in self.man.items():
            man.check_codec(os.path.join(root, "fields", n))
        self.n_buckets = self.man[TLD_FIELD].params["n_buckets"]
        # a zero-posting field (all-null tld) has no files: reads empty
        self._post = {n: TermFiles(os.path.join(root, "fields", n, "postings"),
                                   self.n_buckets) for n in names}
        #: the last topk call's ``result_cache_hit`` and its pruned
        #: reads; a kernel run adds ``depth`` (the ranks computed for
        #: the result-cache entry), term-cache counters, kernel stats
        #: and ``ms`` = {read, meta, kernel}: its per-field
        #: `TermFiles.read` and block-table parse summed, and
        #: `query._topk_query`
        self.last_stats: dict = {}
        self._urls = None
        self.terms = TermCache()    # keyed by (field, term)
        self.results = ResultCache()

    def _url_of(self, docids):
        import pyarrow.dataset as ds
        if self._urls is None:
            self._urls = ds.dataset(os.path.join(self.root, "doc_meta"))
        tbl = self._urls.to_table(
            filter=ds.field("docid").isin([int(d) for d in docids]),
            columns=["docid", "url"])
        return dict(zip(tbl["docid"].to_pylist(), tbl["url"].to_pylist()))

    def topk(self, query: str, k: int = 10, shingles: bool = True,
             tld_boost: str | None = None,
             min_should_match: bool = True,
             offset: int = 0, use_wand: bool = True) -> list[tuple[str, float]]:
        """Top-k (url, score), rank-identical to `bm25_fielded_indexed`.
        The result-cache key is the query's `_analyze` sets plus every
        kernel option but k and offset, with the MSM requirement as
        the kernel reads it: pages inside a cached prefix are slices
        of one entry (`serve.ResultCache`). A requirement of 1 keys as
        0, as in `serve.LocalIndex.topk_batch`: it arises only for a
        one-term query, whose candidates all hold that term (its only
        shingle key, a repeated word, matches only docs whose field
        holds the unigram; the tld key generates none)."""
        k, offset = max(0, k), max(0, offset)
        analyzed = _analyze(query)
        req = bm25.msm_required(len(analyzed[0])) if min_should_match else 0
        key = (analyzed, shingles, tld_boost, req if req > 1 else 0, use_wand)
        hit = self.results.get(key, k, offset)
        if hit is not None:
            self.last_stats = {"result_cache_hit": True}
            return hit
        depth = self.results.depth(k, offset)
        ranks = self._topk_kernel(*key, depth)
        self.results.put(key, ranks, depth)
        return ranks[offset:offset + k]

    def _topk_kernel(self, analyzed, shingles, tld_boost, req, use_wand,
                     depth):
        """The top-``depth`` (url, score) ranks of one result-cache key."""
        # reset up front, so no early return reports the PREVIOUS
        # query's kernel stats
        self.last_stats = {"terms_read": 0, "row_groups_read": 0,
                           "result_cache_hit": False}
        plan = _query_plan(self, analyzed, tld_boost, shingles)
        if plan is None:
            return []
        k1 = self.man[TLD_FIELD].params["k1"]
        b = self.man[TLD_FIELD].params["b"]

        # per-(field, term) RAW block tables: cache hits skip the
        # pruned read; misses are fetched per field in one batched
        # read, df from the rows it returns. A term the field lacks is
        # cached as an empty entry, so its repeats skip the read and
        # the term-cache budget bounds it. Term-cache counters land in
        # last_stats on kernel runs only, as in serve.LocalIndex.
        tb, cache = {}, {}
        ms = {"read": 0.0, "meta": 0.0}
        for name, spec in plan["specs"].items():
            keys = [(name, t) for t in spec["terms"]]
            missing = self.terms.missing(keys, cache)
            if missing:
                t0 = time.perf_counter()
                tbl = self._post[name].read(
                    [t for _, t in missing], _POSTING_COLS, self.last_stats)
                t1 = time.perf_counter()
                got = _field_meta(tbl, spec)
                ms["read"] += 1e3 * (t1 - t0)
                ms["meta"] += 1e3 * (time.perf_counter() - t1)
                self.terms.put({key: got.get(key[1], {}) for key in missing})
            tb.update(self.terms.take(keys))
        live = {key: m for key, m in tb.items() if m}
        # only text keys generate candidates: no live one, no kernel
        ran = any(key[0] != TLD_FIELD for key in live)
        if ran:
            t0 = time.perf_counter()
            docids, scores = _topk_query(
                live, depth, req, k1, b, 1.0, use_wand,
                stats=self.last_stats, store=self.terms.store)
            self.last_stats["ms"] = dict(
                ms, kernel=1e3 * (time.perf_counter() - t0))
            self.last_stats["depth"] = depth
        # charge every entry this query touched, the empty and the
        # tld-only ones too, or the cache grows past its budget unseen
        self.terms.charge(tb, cache)
        if not ran:
            return []
        self.last_stats.update(cache)
        if not docids.size:
            return []
        urls = self._url_of(docids)
        return [(urls[int(d)], float(s)) for d, s in zip(docids, scores)]
