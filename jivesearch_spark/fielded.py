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

Query modes:
- ``bm25_fielded_indexed`` — one Spark job: pruned per-field scans
  union'd with a field tag, one kernel per shard decoding each
  (field, term) once, scoring = Σ boost_f · bm25_f, cross-field MSM
  (distinct base terms matched in ANY unigram field), tld bonus added
  after the MSM filter exactly like the reference's should-clause.
- ``FieldedLocalIndex.topk`` — the serving-tier flavor (open-once
  `index.TermFiles` pruned reads, no Spark job), same kernel, same
  `serve.TermCache` / `serve.ResultCache` as `serve.LocalIndex`, the
  result cache keyed on the query's `_analyze` sets.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import analyze, bm25
from .hashing import term_bucket
from .index import IndexParams, Manifest, TermFiles, assign_doc_ids, build_index
from .query import (_POSTING_COLS, _dense_arrays_from_tb, _pinned_topk,
                    _term_block_meta, _topk_blockmax_lazy, _topk_table)
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
        self.stats: dict[str, DataFrame] = {}
        from .index import POSTINGS_SCHEMA, TERM_STATS_SCHEMA
        for name in list(self.fields) + [TLD_FIELD]:
            d = os.path.join(root, "fields", name)
            self.man[name] = Manifest.load(d)
            # a field can legitimately index zero tokens (e.g. an
            # all-null tld column) — stage 2 then writes no postings
            # dir at all; substitute an empty frame with the schema
            p = f"{d}/postings"
            self.postings[name] = (spark.read.schema(POSTINGS_SCHEMA).parquet(p)
                                   if os.path.isdir(p)
                                   else spark.createDataFrame([], POSTINGS_SCHEMA))
            self.stats[name] = spark.read.schema(
                TERM_STATS_SCHEMA).parquet(f"{d}/term_stats")
        self.n_buckets = self.man[TLD_FIELD].params["n_buckets"]
        self.doc_meta = spark.read.parquet(f"{root}/doc_meta")
        self._df_cache: dict[tuple[str, str], int] = {}
        ensure_shipped(spark)

    def stats_for(self, field: str, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if (field, t) not in self._df_cache]
        if missing:
            bks = sorted({term_bucket(t, self.n_buckets) for t in missing})
            rows = (self.stats[field]
                    .where(F.col("bucket").isin(bks) & F.col("term").isin(missing))
                    .select("term", "df").collect())
            found = {r["term"]: r["df"] for r in rows}
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


def _query_plan(reader, analyzed: tuple, tld_boost: str | None):
    """Shared query prep from `_analyze` sets: per-(field,term) idf,
    boost, avgdl; returns None when no term matches anything."""
    q_terms, q_bigrams = analyzed
    if not q_terms:
        return None

    n_docs = reader.man[TLD_FIELD].n_docs
    plan = {"q_terms": q_terms, "n_docs": n_docs, "per_field": {},
            "tld": None}
    for name, spec in reader.fields.items():
        terms = q_bigrams if spec["shingle"] else q_terms
        if not terms:
            continue
        dfs = reader.stats_for(name, terms)
        if not dfs:
            continue
        idf = {t: bm25.idf(n_docs, d) for t, d in dfs.items()}
        plan["per_field"][name] = {
            "terms": sorted(dfs), "idf": idf, "boost": spec["boost"],
            "avgdl": reader.man[name].avgdl, "shingle": spec["shingle"],
        }
    if tld_boost and tld_boost not in TLD_SKIP:
        dfs = reader.stats_for(TLD_FIELD, [tld_boost])
        if tld_boost in dfs:
            plan["tld"] = {
                "terms": [tld_boost],
                "idf": {tld_boost: bm25.idf(n_docs, dfs[tld_boost])},
                "boost": 1.0, "avgdl": 1.0, "shingle": False,
            }
    return plan if plan["per_field"] else None


def _plan_specs(plan) -> dict:
    """{field: spec} of every field a plan reads, the tld field included."""
    specs = dict(plan["per_field"])
    if plan["tld"]:
        specs[TLD_FIELD] = plan["tld"]
    return specs


def _field_meta(tbl, spec) -> dict:
    """Per-term raw block tables of ONE field's postings (Arrow table),
    scored as that field: w = idf × boost (the oracle's evaluation
    order, bm25.bm25_fielded_topk), the field's own avgdl, and block
    bounds boost-scaled to match — the stored max_score_ub is
    idf × max tf-norm (codec.encode_blocks), so unscaled bounds would
    let the lazy kernel retire blocks that still hold top-k winners."""
    boost = spec["boost"]
    tb = _term_block_meta(tbl, {t: w * boost for t, w in spec["idf"].items()})
    for meta in tb.values():
        meta["avgdl"] = spec["avgdl"]
        meta["ub"] = meta["ub"] * boost
        if meta.get("iub") is not None:
            meta["iub"] = meta["iub"] * boost
    return tb


def _score_fielded(tbl, plan, k1, b, k, msm_req):
    """Kernel for one doc range (a shard, or the whole index): ``tbl``
    is an Arrow table of (field, term, block…) rows. Returns (docids,
    scores) top-k."""
    import pyarrow.compute as pc
    tb = {}
    for field, spec in _plan_specs(plan).items():
        sub = tbl.filter(pc.equal(tbl["field"], field))
        tb.update({(field, t): m for t, m in _field_meta(sub, spec).items()})
    return _score_from_arrays(_dense_arrays_from_tb(tb, k1, b, 1.0), plan,
                              k, msm_req)


def _score_from_arrays(arrays, plan, k, msm_req):
    """Score + MSM + tld bonus + top-k from decoded per-(field, term)
    arrays (scores already ×idf×boost)."""
    score_keys = [kk for kk in arrays if kk[0] != TLD_FIELD]
    if not score_keys:
        return np.empty(0, dtype=np.int64), np.empty(0)
    cand = np.unique(np.concatenate([arrays[kk]["docids"]
                                     for kk in score_keys]))
    total = np.zeros(cand.size)
    # matched base terms per candidate, unigram fields only (J2
    # cross_fields MSM); fixed accumulation order for determinism
    matched = {}
    for field, term in sorted(score_keys):
        arr = arrays[(field, term)]
        pos = np.searchsorted(arr["docids"], cand)
        pos_c = np.minimum(pos, arr["docids"].size - 1)
        hit = arr["docids"][pos_c] == cand
        total += np.where(hit, arr["scores"][pos_c], 0.0)
        if not plan["per_field"][field]["shingle"]:
            m = matched.get(term)
            matched[term] = hit if m is None else (m | hit)
    if msm_req:
        n_matched = np.zeros(cand.size, dtype=np.int32)
        for hit in matched.values():
            n_matched += hit.astype(np.int32)
        keep = n_matched >= msm_req
        cand, total = cand[keep], total[keep]
    # tld bonus joins AFTER the MSM filter (reference adds the regional
    # clause as a non-qualifying should)
    tld_key = next((kk for kk in arrays if kk[0] == TLD_FIELD), None)
    if tld_key is not None and cand.size:
        arr = arrays[tld_key]
        pos = np.searchsorted(arr["docids"], cand)
        pos_c = np.minimum(pos, arr["docids"].size - 1)
        hit = arr["docids"][pos_c] == cand
        total += np.where(hit, arr["scores"][pos_c], 0.0)
    return _pinned_topk(cand, total, k)


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
    plan = _query_plan(reader, _analyze(query), tld_boost)
    if plan is None:
        return empty
    if not shingles:
        plan["per_field"] = {n: s for n, s in plan["per_field"].items()
                             if not s["shingle"]}
        if not plan["per_field"]:
            return empty
    k1 = reader.man[TLD_FIELD].params["k1"]
    b = reader.man[TLD_FIELD].params["b"]
    req = bm25.msm_required(len(plan["q_terms"])) if min_should_match else 0

    frames = []
    for name, spec in _plan_specs(plan).items():
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
        self.n_buckets = self.man[TLD_FIELD].params["n_buckets"]
        # a zero-posting field (all-null tld) has no files: reads empty
        self._post = {n: TermFiles(os.path.join(root, "fields", n, "postings"),
                                   self.n_buckets) for n in names}
        self._stats = {n: TermFiles(os.path.join(root, "fields", n, "term_stats"),
                                    self.n_buckets) for n in names}
        #: the last topk call's ``result_cache_hit`` and, on a kernel
        #: run, its pruned reads, term-cache counters and kernel stats
        self.last_stats: dict = {}
        self._urls = None
        self._df_cache: dict[tuple[str, str], int] = {}
        self.terms = TermCache()    # keyed by (field, term)
        self.results = ResultCache()

    def stats_for(self, field: str, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if (field, t) not in self._df_cache]
        if missing:
            tbl = self._stats[field].read(missing, ["term", "df"],
                                          self.last_stats)
            found = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
            for t in missing:
                self._df_cache[(field, t)] = int(found.get(t, 0))
        return {t: self._df_cache[(field, t)] for t in terms
                if self._df_cache[(field, t)] > 0}

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
        ck = (_analyze(query), k, shingles, tld_boost, min_should_match,
              offset, use_wand)
        hit = self.results.get(ck)
        if hit is not None:
            self.last_stats = {"result_cache_hit": True}
            return hit
        res = self._topk_kernel(*ck)
        self.results.put(ck, res)
        return res

    def _topk_kernel(self, analyzed, k, shingles, tld_boost,
                     min_should_match, offset, use_wand):
        # reset up front, so no early return reports the PREVIOUS
        # query's kernel stats
        self.last_stats = {"terms_read": 0, "row_groups_read": 0,
                           "result_cache_hit": False}
        plan = _query_plan(self, analyzed, tld_boost)
        if plan is None:
            return []
        if not shingles:
            plan["per_field"] = {n: s for n, s in plan["per_field"].items()
                                 if not s["shingle"]}
            if not plan["per_field"]:
                return []
        k1 = self.man[TLD_FIELD].params["k1"]
        b = self.man[TLD_FIELD].params["b"]
        req = bm25.msm_required(len(plan["q_terms"])) if min_should_match else 0

        specs = _plan_specs(plan)
        # per-(field, term) RAW block tables: cache hits skip the
        # pruned read; misses are fetched per field in one batched
        # read. _field_meta pins w = idf×boost, boost-scaled bounds and
        # the per-field avgdl on each entry, so the lazy kernel scores
        # every field with its own stats while sweeping ONE global
        # bound table.
        tb = {}
        for name, spec in specs.items():
            keys = [(name, t) for t in spec["terms"]]
            missing = self.terms.missing(keys, self.last_stats)
            if missing:
                tbl = self._post[name].read([t for _, t in missing],
                                            _POSTING_COLS, self.last_stats)
                self.terms.put({(name, t): meta for t, meta
                                in _field_meta(tbl, spec).items()})
            tb.update(self.terms.take(keys))
        if not any(key[0] != TLD_FIELD for key in tb):
            # charge the entries this query DID load (TLD-only block
            # tables) before bailing, or the incremental accounting
            # never sees them and the cache grows past its budget
            self.terms.charge(tb, self.last_stats)
            return []

        # cross_fields MSM groups: a candidate's matched count = the
        # DISTINCT base terms hit in ANY unigram field; shingle keys
        # score but never qualify, the tld key scores but never
        # generates candidates (the reference's non-qualifying
        # regional should-clause)
        msm_group = {key: (key[1] if key[0] != TLD_FIELD
                           and not specs[key[0]]["shingle"] else None)
                     for key in tb}
        no_cand = {key for key in tb if key[0] == TLD_FIELD}

        def dense_score(dense):
            return _score_from_arrays(dense, plan, k + max(0, offset), req)

        if use_wand:
            docids, scores = _topk_blockmax_lazy(
                tb, k + max(0, offset), req, k1, b, 1.0,
                stats=self.last_stats, store=self.terms.store,
                msm_group=msm_group, no_cand=no_cand, dense_fn=dense_score)
        else:
            docids, scores = dense_score(
                _dense_arrays_from_tb(tb, k1, b, 1.0))
        self.terms.charge(tb, self.last_stats)
        docids, scores = docids[offset:], scores[offset:]
        if not docids.size:
            return []
        urls = self._url_of(docids)
        return [(urls[int(d)], float(s)) for d, s in zip(docids, scores)]
