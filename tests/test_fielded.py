"""Fielded-index gate: compressed per-field index ≡ brute-force SERP
scorer (`bm25.bm25_fielded_topk`) over the WHOLE reference query set —
same urls, same scores — in both Spark and serving modes.
"""

import pytest
from pyspark.sql import functions as F

from jivesearch_spark import bm25, codec, corpus
from jivesearch_spark.extract import extract_page
from jivesearch_spark.fielded import (FieldedLocalIndex, FieldedReader,
                                      bm25_fielded_indexed,
                                      build_fielded_index)
from jivesearch_spark.index import TERM_STATS_SCHEMA, IndexParams, TermFiles
from jivesearch_spark.queries import QUERY_SET

N_DOCS = 600
PARAMS = IndexParams(docs_per_shard=200, n_buckets=4, bucket_batch=4)


@pytest.fixture(scope="module")
def spark_docs(spark):
    rows = []
    for i in range(N_DOCS):
        url, ts, html, text, lang = corpus.gen_page(i)
        d = extract_page(url, html)
        rows.append((d.url, d.title, d.keywords, d.description, d.domain,
                     d.path_parts, d.tld, d.index and d.canonical, d.lang,
                     d.text))
    df = spark.createDataFrame(
        rows,
        "url string, title string, keywords string, description string, "
        "domain string, path_parts string, tld string, index boolean, "
        "lang string, text string",
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def roots(spark, spark_docs, tmp_path_factory):
    base = tmp_path_factory.mktemp("fielded")
    out = {}
    for lang in {q.lang for q in QUERY_SET}:
        root = str(base / (lang or "all"))
        build_fielded_index(spark_docs.where("index"), root, PARAMS,
                            lang=lang, log=lambda *a: None)
        out[lang] = root
    return out


@pytest.mark.spark
def test_fielded_indexed_matches_bruteforce_full_query_set(
        spark, spark_docs, roots):
    readers = {lang: FieldedReader(spark, root)
               for lang, root in roots.items()}
    for q in QUERY_SET:
        want = [(r.doc_id, round(r.score, 6)) for r in
                bm25.bm25_fielded_topk(
                    spark_docs, q.q, k=q.k, lang=q.lang, shingles=q.shingles,
                    tld_boost=q.region_tld, min_should_match=q.msm).collect()]
        got = [(r.doc_id, round(r.score, 6)) for r in
               bm25_fielded_indexed(
                   readers[q.lang], q.q, k=q.k, shingles=q.shingles,
                   tld_boost=q.region_tld, min_should_match=q.msm).collect()]
        assert got == want, f"q{q.query_id} {q.q!r}"


@pytest.mark.spark
def test_fielded_serve_matches_spark(spark, roots):
    for lang, root in roots.items():
        reader = FieldedReader(spark, root)
        idx = FieldedLocalIndex(root)
        for q in [qq for qq in QUERY_SET if qq.lang == lang][:4]:
            spark_rows = [(r.doc_id, round(r.score, 6)) for r in
                          bm25_fielded_indexed(
                              reader, q.q, k=q.k, shingles=q.shingles,
                              tld_boost=q.region_tld,
                              min_should_match=q.msm).collect()]
            served = [(u, round(s, 6)) for u, s in
                      idx.topk(q.q, k=q.k, shingles=q.shingles,
                               tld_boost=q.region_tld,
                               min_should_match=q.msm)]
            assert served == spark_rows, f"q{q.query_id} {q.q!r}"


@pytest.mark.spark
def test_fielded_resume_rebuilds_only_missing_field(spark, spark_docs, roots,
                                                   tmp_path):
    import shutil

    root = str(tmp_path / "resume")
    build_fielded_index(spark_docs.where("index"), root, PARAMS,
                        log=lambda *a: None)
    reader = FieldedReader(spark, root)
    q = QUERY_SET[0]
    before = [(r.doc_id, round(r.score, 6)) for r in
              bm25_fielded_indexed(reader, q.q, k=q.k).collect()]

    # simulate a kill mid-build: one field's sub-index lost
    shutil.rmtree(f"{root}/fields/title")
    skipped = []
    build_fielded_index(spark_docs.where("index"), root, PARAMS, resume=True,
                        log=lambda *a: skipped.append(" ".join(map(str, a))))
    assert any("already complete" in s for s in skipped)

    after = [(r.doc_id, round(r.score, 6)) for r in
             bm25_fielded_indexed(FieldedReader(spark, root), q.q,
                                  k=q.k).collect()]
    assert after == before


@pytest.mark.spark
def test_fielded_empty_query(spark, roots):
    reader = FieldedReader(spark, roots[None])
    assert bm25_fielded_indexed(reader, "", 10).count() == 0
    assert bm25_fielded_indexed(reader, "zzzznotaterm", 10).count() == 0


@pytest.mark.spark
def test_fielded_readers_refuse_other_codec_version(spark, roots, tmp_path):
    """One field written under another codec layout makes both fielded
    readers refuse the whole root, naming both versions."""
    import json
    import os
    import shutil
    root = str(tmp_path / "old")
    shutil.copytree(roots[None], root)
    path = os.path.join(root, "fields", "title", "manifest.json")
    with open(path) as f:
        m = json.load(f)
    m["params"]["codec_version"] = 1
    with open(path, "w") as f:
        json.dump(m, f)
    want = (f"codec version 1; this build reads codec version "
            f"{codec.CODEC_VERSION}")
    with pytest.raises(ValueError, match=want):
        FieldedReader(spark, root)
    with pytest.raises(ValueError, match=want):
        FieldedLocalIndex(root)


@pytest.mark.spark
def test_fielded_serving_bounds_carry_field_boost(roots):
    """The lazy kernel retires blocks by comparing bounds against θ
    computed from boost-scaled scores (w = idf × boost), so the cached
    block bounds must be the stored max_score_ub (idf × max tf-norm,
    codec.py:127) scaled by the SAME boost — an unboosted bound
    under-states boosted fields 1.5-3× and silently drops top-k
    winners (regression: test_wand_kernel.py
    ::test_lazy_kernel_boosted_weights_need_boosted_bounds)."""
    import numpy as np
    import pyarrow.dataset as pads

    root = roots[None]
    idx = FieldedLocalIndex(root)
    idx.topk("bob dylan guitar", k=10, use_wand=True)
    assert idx.terms.meta, "query should have populated the tb cache"
    checked = 0
    for (field, term), meta in idx.terms.meta.items():
        if not meta:    # a term the field lacks: cached empty, no bounds
            continue
        # tld key scores with boost 1.0 (fielded.py _query_plan)
        boost = idx.fields[field]["boost"] if field in idx.fields else 1.0
        dset = pads.dataset(f"{root}/fields/{field}/postings",
                            partitioning="hive")
        pdf = dset.to_table(
            filter=pads.field("term") == term,
            columns=["shard", "block_id", "blk"]).to_pandas()
        pdf["max_score_ub"] = [codec.unpack_block(b)["max_score_ub"]
                               for b in pdf["blk"]]
        stored = pdf.sort_values(["shard", "block_id"],
                                 kind="mergesort")["max_score_ub"].values
        assert np.allclose(np.sort(meta["ub"]), np.sort(stored * boost),
                           rtol=1e-12), (field, term)
        checked += 1
    assert checked >= 2


@pytest.mark.spark
def test_fielded_tld_only_bail_charges_cache(roots, tmp_path):
    """A query whose only retrievable block tables are TLD entries
    bails with [] — but the entries it parked in the term cache must be
    charged to the incremental eviction accounting, or a long-running
    tier grows the cache past terms.max_postings unseen."""
    idx = FieldedLocalIndex(roots[None])
    cands = ["com", "org", "net", "io", "de", "jp", "uk"]
    known = set(TermFiles(f"{roots[None]}/fields/tld/term_stats",
                          idx.n_buckets).read(cands, ["term"])["term"]
                .to_pylist())
    tlds = [t for t in cands if t in known]
    assert tlds, "fixture corpus should have at least one known tld"
    # postings-less text fields are a constructor-supported state
    # (zero-posting fields write no postings dir, and their reader
    # reads empty); forcing it routes the query to the tld-only
    # early return
    for name in idx.fields:
        idx._post[name] = TermFiles(str(tmp_path / "no_postings"),
                                    idx.n_buckets)
    assert idx.topk("bob dylan", k=5, tld_boost=tlds[0]) == []
    parked = [k for k in idx.terms.meta if k[0] == "tld"]
    assert parked, "tld block table should have been cached"
    assert all(k in idx.terms._cost for k in parked)
    assert idx.terms._cost_total == sum(idx.terms._cost.values())
    assert idx.terms._cost_total > 0


@pytest.mark.spark
def test_fielded_last_stats_count_pruned_reads(roots):
    """The fielded tier reports its pruned reads and term-cache counters
    like serve.LocalIndex: a cold query reads row groups and misses, the
    same terms warm read none and hit; a tiny budget evicts."""
    idx = FieldedLocalIndex(roots[None])
    idx.results.max_tuples = 0
    idx.topk("bob dylan guitar", k=10)
    cold = idx.last_stats
    assert cold["terms_read"] > 0 and cold["row_groups_read"] > 0
    assert "blocks_decoded" in cold
    assert cold["term_cache_misses"] > 0 and cold["term_cache_hits"] == 0
    assert cold["term_cache_evicted"] == 0
    # the fixture's lists sit under the lazy floor: the one kernel
    # entry picks brute and says why
    assert cold["finisher"] == "brute", cold
    assert cold["reason"]["postings"] <= cold["reason"]["lazy_floor"], cold
    idx.topk("bob dylan guitar", k=10)
    warm = idx.last_stats
    assert warm["terms_read"] == 0 and warm["row_groups_read"] == 0
    assert warm["term_cache_hits"] > 0 and warm["term_cache_misses"] == 0
    idx.terms.max_postings = 1
    idx.topk("bob dylan guitar", k=10)
    assert idx.last_stats["term_cache_evicted"] > 0


@pytest.mark.spark
def test_fielded_last_stats_time_each_stage(roots):
    """A kernel run reports ms = {read, meta, kernel}, the per-field
    reads and parses summed: cold reads take time, a warm repeat none."""
    idx = FieldedLocalIndex(roots[None])
    idx.results.max_tuples = 0
    idx.topk("bob dylan", k=10, tld_boost="uk")
    cold = idx.last_stats["ms"]
    assert set(cold) == {"read", "meta", "kernel"}, cold
    assert cold["read"] > 0 and cold["meta"] > 0 and cold["kernel"] > 0
    idx.topk("bob dylan", k=10, tld_boost="uk")
    warm = idx.last_stats["ms"]
    assert warm["read"] == 0 and warm["meta"] == 0 and warm["kernel"] > 0


@pytest.mark.spark
def test_fielded_no_match_resets_last_stats(roots):
    """A query that returns before the kernel (no token, or no term in
    any field) must not report the previous query's kernel stats."""
    idx = FieldedLocalIndex(roots[None])
    idx.results.max_tuples = 0
    for q in ["", "?!", "zzzqnotaterm"]:
        idx.topk("bob dylan guitar", k=10)
        assert "blocks_decoded" in idx.last_stats
        assert idx.topk(q, k=10) == []
        assert "blocks_decoded" not in idx.last_stats, q
        assert "term_cache_hits" not in idx.last_stats, q


@pytest.mark.spark
def test_fielded_result_cache_keys_on_analyzed_query(roots):
    """Case and spacing variants share one result-cache entry; word
    order changes the shingle clauses, so "dylan bob" gets its own.
    Every answer equals its own uncached one."""
    idx = FieldedLocalIndex(roots[None])
    ref = FieldedLocalIndex(roots[None])
    ref.results.max_tuples = 0
    a = idx.topk("Bob DYLAN", k=10)
    assert idx.last_stats["result_cache_hit"] is False
    b = idx.topk(" bob   dylan ", k=10)
    assert idx.last_stats == {"result_cache_hit": True}
    assert a and a == b == ref.topk("bob dylan", k=10)
    assert len(idx.results._entries) == 1
    c = idx.topk("dylan bob", k=10)
    assert idx.last_stats["result_cache_hit"] is False
    assert len(idx.results._entries) == 2
    assert c == ref.topk("dylan bob", k=10)


@pytest.mark.spark
def test_fielded_result_cache_pages_match_uncached_tier(spark_docs, roots):
    """Seeded random request sequences on the fielded tier (k in {0, 1,
    10, > matches}, offsets inside, beyond and past the matches,
    min_should_match, use_wand, shingles, a regional tld, three result
    budgets): every answer equals a max_tuples = 0 tier's and the
    pure-Python oracle's page."""
    import random

    from jivesearch_spark import oracle

    docs = {r.url: r.asDict() for r in spark_docs.collect()}
    for d in docs.values():
        d["index"] = bool(d["index"])
    ora = oracle.FieldedIndex(docs)
    ref = FieldedLocalIndex(roots[None])
    ref.results.max_tuples = 0
    words = ["bob", "dylan", "jimi", "hendrix", "guitar", "woodstock",
             "example", "page", "title", "the", "zzzabsent"]
    runs = []
    for seed, budget in [(1, 500_000), (2, 200), (3, 40)]:
        rng = random.Random(seed)
        idx = FieldedLocalIndex(roots[None])
        idx.results.max_tuples = budget
        intents = [" ".join(rng.sample(words, rng.randint(1, 3)))
                   for _ in range(10)]
        for _ in range(40):
            q = rng.choice(intents)
            if rng.random() < 0.5:
                q = q.title()
            opts = {"shingles": rng.random() < 0.8,
                    "tld_boost": rng.choice([None, None, "uk", "com"]),
                    "min_should_match": rng.random() < 0.5}
            n = len(ref.topk(q, 10 ** 4, use_wand=False, **opts))
            k = rng.choice([0, 1, 10, 10, 10, n + 5])
            off = rng.choice([0, 0, 10, 20, 30, n, n + 3])
            wand = rng.random() < 0.7
            got = idx.topk(q, k, offset=off, use_wand=wand, **opts)
            st = idx.last_stats
            runs.append((k + off, st.get("result_cache_hit"), st.get("depth")))
            assert got == ref.topk(q, k, offset=off, use_wand=wand, **opts), (
                seed, q, k, off, wand, opts)
            want = ora.topk(q, k + off, **opts)[off:]
            assert [u for u, _ in got] == [u for u, _ in want], (q, opts)
            assert all(abs(s - w) < 1e-6 for (_, s), (_, w)
                       in zip(got, want)), (q, opts)
        tup = sum(1 + len(v) for v in idx.results._entries.values())
        assert idx.results._tuples == tup <= budget
    assert any(hit and end > 10 for end, hit, _ in runs)
    assert any(d is not None and d > end for end, _, d in runs)
    assert any(d is not None and d == end > 0 for end, _, d in runs)


@pytest.mark.spark
def test_fielded_zipfian_replay_eviction_churn(roots, zipfian_replay):
    """The adversarial Zipfian eviction gate of test_serve, run on the
    fielded tier through the same shared caches: (field, term) keys,
    small budgets, answers equal to an unbounded no-cache tier."""
    import pyarrow.dataset as ds

    root = roots[None]
    idx = FieldedLocalIndex(root)
    idx.terms.max_postings = 300             # force eviction churn
    idx.results.max_tuples = 400             # force tuple-budget churn
    ref = FieldedLocalIndex(root)            # unbounded reference tier
    ref.results.max_tuples = 0

    df = {}
    for name, spec in idx.fields.items():
        if spec["shingle"]:
            continue
        stats = ds.dataset(f"{root}/fields/{name}/term_stats",
                           partitioning=ds.partitioning(flavor="hive")) \
            .to_table(columns=["term", "df"]).to_pydict()
        for t, d in zip(stats["term"], stats["df"]):
            df[t] = df.get(t, 0) + d
    vocab = sorted(df, key=lambda t: (-df[t], t))
    zipfian_replay(idx, ref, vocab)


@pytest.mark.spark
def test_fielded_forced_lazy_matches_spark(spark, roots, monkeypatch):
    """With the lazy floor at 0 every fielded query enters the lazy
    sweep over the grouped, probe-only-marked block table; it answers
    exactly what the Spark path's brute kernel answers, floats
    included."""
    from jivesearch_spark import query

    monkeypatch.setattr(query, "_LAZY_FLOOR", 0)
    finishers = []
    for lang, root in roots.items():
        reader = FieldedReader(spark, root)
        idx = FieldedLocalIndex(root)
        for q in [qq for qq in QUERY_SET if qq.lang == lang][:4]:
            want = [(r.doc_id, r.score) for r in
                    bm25_fielded_indexed(
                        reader, q.q, k=q.k, shingles=q.shingles,
                        tld_boost=q.region_tld,
                        min_should_match=q.msm).collect()]
            got = idx.topk(q.q, k=q.k, shingles=q.shingles,
                           tld_boost=q.region_tld, min_should_match=q.msm)
            assert got == want, f"q{q.query_id} {q.q!r}"
            st = idx.last_stats
            if "finisher" in st:
                # strictly flat bounds (one block, say) hand off to the
                # grouped brute up front; never to a TA finisher
                assert st["finisher"] == "lazy" or (
                    st["finisher"] == "brute" and st["dense_bailout"]), st
                finishers.append(st["finisher"])
    # on this fixture only a one-block query hands off
    assert finishers.count("lazy") >= len(finishers) - 1 > 0, finishers


@pytest.mark.spark
def test_fielded_absent_terms_are_budgeted(roots):
    """Terms a field lacks are cached as empty (field, term) entries
    that the term cache's budget bounds: a stream of distinct absent
    terms never grows the accounted cost past the budget."""
    idx = FieldedLocalIndex(roots[None])
    idx.terms.max_postings = 50
    for i in range(500):
        assert idx.topk(f"zzzabsent{i}", 10) == []
        assert idx.terms._cost_total <= 50, i
        assert len(idx.terms.meta) <= 50, i
    assert ("title", "zzzabsent499") in idx.terms.meta


@pytest.mark.spark
def test_fielded_one_term_msm_ranks_as_none(roots):
    """A one-term query's MSM requirement (1) ranks as no requirement,
    with shingles and a tld boost on, so the result-cache key folds it
    to 0: for every one-term QUERY_SET query, and its repeated-word
    form (whose one shingle key is "w w"), the kernel ranks the same
    at requirement 1 and 0, and min_should_match=False hits the entry
    min_should_match=True put."""
    from jivesearch_spark.fielded import _analyze
    idx = FieldedLocalIndex(roots[None])
    one_term = [q for q in QUERY_SET
                if q.lang is None and len(_analyze(q.q)[0]) == 1]
    assert len(one_term) >= 5
    matched = 0
    for q in one_term:
        tld = q.region_tld or "uk"
        for text in (q.q, f"{q.q} {q.q}"):
            analyzed = _analyze(text)
            assert bm25.msm_required(len(analyzed[0])) == 1
            for use_wand in (True, False):
                ranks = [idx._topk_kernel(analyzed, True, tld, req, use_wand,
                                          N_DOCS) for req in (1, 0)]
                assert ranks[0] == ranks[1], (text, use_wand)
            matched += bool(ranks[0])
            want = idx.topk(text, 10, tld_boost=tld, min_should_match=True)
            assert idx.last_stats["result_cache_hit"] is False
            got = idx.topk(text, 10, tld_boost=tld, min_should_match=False)
            assert idx.last_stats == {"result_cache_hit": True}
            assert got == want == ranks[0][:10]
    assert matched >= 4


@pytest.mark.spark
def test_fielded_stats_for_reads_term_stats_without_a_spark_job(spark, roots):
    """FieldedReader.stats_for reads each field's df on the driver: the
    same values a Spark scan of its term_stats gives, and no Spark job."""
    sc = spark.sparkContext
    terms = ["bob", "dylan", "guitar", "zzzzqqqqxxxx"]
    reader = FieldedReader(spark, roots[None])
    group = "fielded_stats_for_no_job"
    sc.setJobGroup(group, "FieldedReader.stats_for")
    try:
        got = {name: reader.stats_for(name, terms) for name in reader.man}
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        want = {name: {r.term: r.df for r in spark.read.schema(
                    TERM_STATS_SCHEMA).parquet(
                    f"{roots[None]}/fields/{name}/term_stats")
                    .where(F.col("term").isin(terms)).collect()}
                for name in reader.man}
        assert sc.statusTracker().getJobIdsForGroup(group)  # the scans are seen
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == want and any(got.values())
