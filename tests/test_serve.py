"""Serving path ≡ Spark path (rank identity, SURVEY.md §5 gate).

`serve.LocalIndex` must return EXACTLY what `query.bm25_topk_indexed`
returns — same docids, same scores, same order — for every fixture
query, with WAND on and off and with minimum-should-match, plus match
the pure-Python oracle. Latency sanity: a served query must be far
under the reference's 3 s handler budget.
"""

import time

import pytest

from jivesearch_spark import oracle
from jivesearch_spark.index import IndexParams, build_index
from jivesearch_spark.paging import MAX_NUMBER
from jivesearch_spark.query import IndexReader, bm25_topk_indexed
from jivesearch_spark.serve import PREFETCH_PAGES, LocalIndex, ResultCache

SF_DIR = "/root/testdata/sf0.001"
PARAMS = IndexParams(docs_per_shard=100, n_buckets=8, bucket_batch=4)

QUERIES = [
    "the fast key order", "spark group query", "customer data window",
    "merge part", "slow", "zzz-not-a-term", "table scan merge sort filter",
    "",
]


@pytest.fixture(scope="module")
def docs(spark):
    df = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
          .selectExpr("doc_id AS docid", "text"))
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def built(spark, docs, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("serve_index") / "main")
    man = build_index(docs, root, PARAMS, url_col=None, log=lambda *a: None)
    assert man.done
    return root


@pytest.mark.spark
def test_serve_matches_spark_path(spark, built):
    reader = IndexReader(spark, built)
    idx = LocalIndex(built)
    for q in QUERIES:
        for wand in (True, False):
            spark_rows = [(r.docid, round(r.score, 9)) for r in
                          bm25_topk_indexed(reader, q, 10, use_wand=wand).collect()]
            served = [(d, round(s, 9)) for d, s in
                      idx.topk(q, 10, use_wand=wand)]
            assert served == spark_rows, (q, wand)


@pytest.mark.spark
def test_serve_msm_matches_spark_path(spark, built):
    reader = IndexReader(spark, built)
    idx = LocalIndex(built)
    for q in ["table scan merge sort filter", "spark group query zzzq"]:
        spark_rows = [(r.docid, round(r.score, 9)) for r in
                      bm25_topk_indexed(reader, q, 10,
                                        min_should_match=True).collect()]
        served = [(d, round(s, 9)) for d, s in
                  idx.topk(q, 10, min_should_match=True)]
        assert served == spark_rows, q


def test_serve_k_zero_is_empty(built):
    idx = LocalIndex(built)
    for wand in (True, False):
        assert idx.topk("the fast key order", k=0, use_wand=wand) == []


def test_serve_matches_python_oracle(spark, docs, built):
    rows = {r.docid: r.text for r in docs.collect()}
    ora = oracle.SingleFieldIndex(rows)
    idx = LocalIndex(built)
    for q in QUERIES:
        want = [(d, round(s, 4)) for d, s in ora.topk(q, 10)]
        got = [(d, round(s, 4)) for d, s in idx.topk(q, 10)]
        assert got == want, q


def test_batch_matches_single(built):
    idx = LocalIndex(built)
    live = [q for q in QUERIES if q]
    batch = idx.topk_batch(live, 10)
    for q in live:
        assert batch[q] == idx.topk(q, 10), q


def test_serve_latency_budget(built):
    idx = LocalIndex(built)
    idx.topk("warm up the caches", 10)  # untimed warm-up
    t0 = time.time()
    for q in QUERIES:
        idx.topk(q, 10)
    per_query = (time.time() - t0) / len(QUERIES)
    # reference handler budget is 3 s; serving must be orders under it
    assert per_query < 0.5, per_query


def test_evict_bounds_raw_block_tables(built):
    """Eviction must charge the RAW compressed block tables, not only
    decoded postings: a skip-heavy head term decodes almost nothing
    yet parks its full compressed list in the term cache — with a
    decoded-only budget a long-running tier accumulates raw bytes
    without bound (review finding, round 3)."""
    idx = LocalIndex(built)
    idx.results.max_tuples = 0  # repeats must re-enter the kernel
    idx.terms.max_postings = 50  # tiny: force eviction every query
    qs = [q for q in QUERIES if q]
    want = {q: idx.topk(q, 10) for q in qs}
    for q in qs * 3:
        idx.topk(q, 10)
        raw = sum(m.get("nd_total", 0) for m in idx.terms.meta.values())
        # budget + one in-flight query's worth is the ceiling: charge()
        # runs after scoring and must keep at least one entry
        assert len(idx.terms.meta) <= 4, len(idx.terms.meta)
        assert raw <= 4 * 50 + max(m.get("nd_total", 0)
                                   for m in idx.terms.meta.values() or [{}])
    # correctness survives eviction: evicted terms re-read and re-score
    for q in qs:
        assert idx.topk(q, 10) == want[q], q


def _vocab(root):
    """The index's terms, most frequent first."""
    import pyarrow.dataset as ds

    stats = ds.dataset(f"{root}/term_stats",
                       partitioning=ds.partitioning(flavor="hive")) \
        .to_table(columns=["term", "df"]).to_pydict()
    return [t for _, t in sorted(zip(stats["df"], stats["term"]),
                                 reverse=True)]


def _replay_small_budgets(root, zipfian_replay):
    """conftest._zipfian_replay on a tier with small budgets, against an
    unbounded no-cache tier, over the index vocabulary by df."""
    idx = LocalIndex(root)
    idx.terms.max_postings = 1500            # force eviction churn
    idx.results.max_tuples = 400             # force tuple-budget churn
    ref = LocalIndex(root)                   # unbounded reference tier
    ref.results.max_tuples = 0
    log, _ = zipfian_replay(idx, ref, _vocab(root))
    return idx, log


def test_zipfian_replay_eviction_churn(built, zipfian_replay):
    """Adversarial serving replay (round-4 verdict ask #8) against
    SMALL budgets keeps memory bounded through eviction churn AND
    answers identical to an unbounded tier (conftest._zipfian_replay
    holds the ground-truth checks)."""
    idx, log = _replay_small_budgets(built, zipfian_replay)
    assert len(idx.terms.meta) < len({t for q, _, _ in log
                                      for t in q.split()})


@pytest.fixture(scope="module")
def built_multiblock(spark, tmp_path_factory):
    """Head terms a/b/c/d in 80/50/25/10 % of 8000 docs at tf 1-5, plus
    4-15 zipf(1.3) filler words over w1-w300: the head lists span
    tens of blocks, so a lazy sweep decodes a different share of them
    from one query to the next."""
    import numpy as np

    rng = np.random.default_rng(29)
    rows = []
    for i in range(8000):
        words = []
        for t, p in (("a", 0.8), ("b", 0.5), ("c", 0.25), ("d", 0.1)):
            if rng.random() < p:
                words += [t] * int(rng.integers(1, 6))
        words += [f"w{min(int(rng.zipf(1.3)), 300)}"
                  for _ in range(int(rng.integers(4, 16)))]
        rng.shuffle(words)
        rows.append((i, " ".join(words)))
    root = str(tmp_path_factory.mktemp("serve_index") / "multiblock")
    build_index(spark.createDataFrame(rows, "docid long, text string"), root,
                IndexParams(docs_per_shard=4096, n_buckets=4), url_col=None,
                log=lambda *a: None)
    return root


def test_zipfian_replay_recharges_resident_keys(built_multiblock,
                                                zipfian_replay, monkeypatch):
    """The same replay over multi-block lists with the lazy floor at 0:
    the sweep decodes more blocks of a resident term from one query to
    the next, so a resident key's cost changes after its first charge.
    The replay's accounted-total check then fails on a
    `TermCache.charge` that skips the keys it charged before (on the
    few-block fixture above, every sweep decodes whole lists at once
    and such a charge goes unnoticed)."""
    from jivesearch_spark import query

    monkeypatch.setattr(query, "_LAZY_FLOOR", 0)
    _replay_small_budgets(built_multiblock, zipfian_replay)


def test_result_cache_exact_and_bounded(built):
    """The result cache (reference analog: frontend/search.go:439-453)
    must be EXACT over the immutable snapshot — a hit returns the
    byte-same answer the kernel computes — and bounded LRU."""
    idx = LocalIndex(built)
    qs = [q for q in QUERIES if q]
    # kernel answers with the cache bypassed are the truth
    idx.results.max_tuples = 0
    want = {(q, off): idx.topk(q, 10, offset=off)
            for q in qs for off in (0, 3)}
    assert not idx.results._entries
    idx.results = ResultCache()
    for (q, off), w in want.items():     # miss → compute+store a prefix
        assert idx.topk(q, 10, offset=off) == w, (q, off)
    for (q, off), w in want.items():     # hit → identical
        assert idx.topk(q, 10, offset=off) == w, (q, off)
        assert idx.last_stats.get(q, {}).get("result_cache_hit"), q
    # a page sliced from a cached prefix equals the computed page
    a = idx.topk(qs[0], 5)
    b = idx.topk(qs[0], 10)
    assert a == b[:5] and len(b) >= len(a)
    # bounded: overflow evicts oldest, newest stays servable
    idx.results = ResultCache(max_tuples=4 * 11)
    for i, (q, off) in enumerate(want):
        idx.topk(q, 10, offset=off)
    tup = sum(1 + len(v) for v in idx.results._entries.values())
    assert idx.results._tuples == tup <= 4 * 11
    assert len(idx.results._entries) < len(want)
    q_last, off_last = list(want)[-1]
    assert idx.topk(q_last, 10, offset=off_last) == want[(q_last, off_last)]
    # each entry costs 1 + len(answer) tuples, so a stream of no-match
    # queries is bounded by the same budget
    idx.results = ResultCache(max_tuples=50)
    for i in range(200):
        assert idx.topk(f"zzznomatch{i}", 10) == []
    assert len(idx.results._entries) == idx.results._tuples == 50


def test_large_k_request_does_not_flush_the_result_cache(built):
    """Only a page the frontend can request (k ≤ paging.MAX_NUMBER)
    prefetches PREFETCH_PAGES pages; a larger k computes and caches
    exactly k + offset ranks, so one bulk request neither multiplies
    its kernel depth nor evicts the warm entries a prefetched entry of
    PREFETCH_PAGES · k ranks would."""
    cache = ResultCache(max_tuples=5000)
    assert cache.depth(10, 0) == PREFETCH_PAGES * 10
    assert cache.depth(10, 40) == 50
    assert cache.depth(MAX_NUMBER, 0) == PREFETCH_PAGES * MAX_NUMBER
    assert cache.depth(MAX_NUMBER + 1, 0) == MAX_NUMBER + 1
    assert cache.depth(100_000, 7) == 100_007
    for i in range(100):                 # 100 warm intents, 3100 tuples
        cache.put(("warm", i), list(range(cache.depth(10, 0))),
                  cache.depth(10, 0))
    big = cache.depth(1000, 0)
    assert big < 5000 - cache._tuples < PREFETCH_PAGES * 1000
    cache.put(("bulk",), list(range(big)), big)
    assert len(cache._entries) == 101
    assert all(cache.get(("warm", i), 10, 20) == list(range(20, 30))
               for i in range(100))
    # the tiers run the kernel at that depth
    idx = LocalIndex(built)
    idx.topk("merge part", MAX_NUMBER)
    assert idx.last_stats["merge part"]["depth"] == PREFETCH_PAGES * MAX_NUMBER
    idx.topk("slow", MAX_NUMBER + 1, offset=3)
    assert idx.last_stats["slow"]["depth"] == MAX_NUMBER + 4


#: non-ASCII terms of the row-group fixture (the standard analyzer
#: never produces them; the fixture indexes pre-tokenized docs)
NON_ASCII = ["café", "naïve", "日本語", "straße", "ünïcödé"]


@pytest.fixture(scope="module")
def built_small_rg(spark, tmp_path_factory):
    """A wide-vocabulary index written in tiny row groups, so every
    bucket file holds several and pruning by the footer's term ranges
    really skips some (the sf0.001 docs have too few terms for that)."""
    import random

    rng = random.Random(4)
    vocab = [f"t{i:04d}" for i in range(3000)]
    rows = [(d, [vocab[min(int(rng.paretovariate(1.0)) - 1, 2999)]
                 for _ in range(10)] + rng.sample(vocab, 30)
             + [NON_ASCII[d % len(NON_ASCII)]])
            for d in range(600)]
    docs = spark.createDataFrame(rows, "docid long, toks array<string>")
    root = str(tmp_path_factory.mktemp("serve_index") / "small_rg")
    params = IndexParams(docs_per_shard=100, n_buckets=8, bucket_batch=4,
                         row_group_bytes=4096)
    build_index(docs, root, params, url_col=None, toks_col="toks",
                log=lambda *a: None)
    return root


def _sorted_rows(tbl):
    return tbl.sort_by([(c, "ascending") for c in ("term", "shard", "block_id")
                        if c in tbl.column_names]).to_pylist()


def test_term_files_match_dataset_scan(built_small_rg):
    """`index.TermFiles.read` returns exactly the rows of the
    pyarrow.dataset bucket+term filter it replaced, for terms present,
    absent, spread over buckets, non-ASCII and at row-group edges."""
    import glob
    import os

    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from jivesearch_spark.hashing import term_bucket
    from jivesearch_spark.index import TermFiles
    from jivesearch_spark.query import _POSTING_COLS

    n = PARAMS.n_buckets
    for sub, cols in (("postings", _POSTING_COLS),
                      ("term_stats", ["term", "df", "cf"])):
        path = os.path.join(built_small_rg, sub)
        edges, n_groups, split = set(), 0, False
        for f in glob.glob(f"{path}/bucket=*/*.parquet"):
            md = pq.ParquetFile(f).metadata
            col = md.schema.names.index("term")
            bounds = [(md.row_group(i).column(col).statistics.min,
                       md.row_group(i).column(col).statistics.max)
                      for i in range(md.num_row_groups)]
            edges.update(t for b in bounds for t in b)
            n_groups += len(bounds)
            split |= any(a[1] == b[0] for a, b in zip(bounds, bounds[1:]))
        assert n_groups >= 3 * n, (sub, n_groups)
        if sub == "postings":
            assert split, "some term's rows should straddle two row groups"
        dset = ds.dataset(path, partitioning="hive")
        vocab = sorted(dset.to_table(columns=["term"])["term"].unique()
                       .to_pylist())
        edges = sorted(edges)
        cases = [
            [vocab[0]], [vocab[-1]], vocab[::37],
            edges, edges[::3] + ["zzz-absent", "aaa-absent"],
            NON_ASCII, NON_ASCII + ["é-absent", "日本"],
            ["zzz-absent"],
        ]
        assert len({term_bucket(t, n) for t in vocab[::37]}) > 1
        files = TermFiles(path, n)
        for terms in cases:
            stats = {}
            got = files.read(terms, cols, stats)
            flt = (ds.field("bucket").isin(sorted({term_bucket(t, n)
                                                   for t in terms}))
                   & ds.field("term").isin(terms))
            want = dset.to_table(filter=flt, columns=cols)
            assert got.schema == want.schema, (sub, terms)
            assert _sorted_rows(got) == _sorted_rows(want), (sub, terms)
            assert stats["terms_read"] == len(set(terms))
            if len(terms) == 1:   # pruning skips the bucket's other groups
                assert stats["row_groups_read"] <= 2, (sub, terms, stats)
        assert all(t in vocab for t in NON_ASCII)
        none = files.read([], cols)
        assert none.num_rows == 0 and none.schema == want.schema

    missing = TermFiles(os.path.join(built_small_rg, "no_such_dir"), n)
    empty = missing.read(["café", "spark"], ["term", "df"])
    assert empty.num_rows == 0 and empty.column_names == ["term", "df"]
    assert empty.schema.types == TermFiles(
        os.path.join(built_small_rg, "term_stats"), n).read(
            ["café"], ["term", "df"]).schema.types


@pytest.mark.spark
def test_small_row_groups_serve_matches_spark_path(spark, built_small_rg):
    """Row-group pruning changes which bytes are read, never the
    answer: over several row groups per bucket file the served top-k
    still equals the Spark path's."""
    reader = IndexReader(spark, built_small_rg)
    idx = LocalIndex(built_small_rg)
    for q in ["t0000", "t0001 t0002 t0007", "t0040 t0300 t2999", "t0013 zzz",
              "zzz"]:
        spark_rows = [(r.docid, round(r.score, 9)) for r in
                      bm25_topk_indexed(reader, q, 10).collect()]
        assert [(d, round(s, 9)) for d, s in idx.topk(q, 10)] == spark_rows, q


def test_last_stats_count_pruned_reads(built):
    """Every kernel-run query reports the batch's pruned reads and
    term-cache counters: a cold query reads row groups and misses, the
    same terms warm read none and hit; a tiny budget evicts."""
    idx = LocalIndex(built)
    idx.results.max_tuples = 0
    q = "spark group query"
    idx.topk(q, 10)
    cold = idx.last_stats[q]
    assert cold["terms_read"] > 0 and cold["row_groups_read"] > 0
    assert "blocks_decoded" in cold
    assert cold["term_cache_misses"] > 0 and cold["term_cache_hits"] == 0
    assert cold["term_cache_evicted"] == 0
    idx.topk(q, 10)
    warm = idx.last_stats[q]
    assert warm["terms_read"] == 0 and warm["row_groups_read"] == 0
    assert warm["term_cache_hits"] > 0 and warm["term_cache_misses"] == 0
    idx.terms.max_postings = 1
    idx.topk(q, 10)
    assert idx.last_stats[q]["term_cache_evicted"] > 0


def test_last_stats_time_each_stage(built):
    """Every kernel-run entry carries ms = {read, meta, kernel}: a cold
    query spends time reading, its warm repeat reads nothing."""
    idx = LocalIndex(built)
    idx.results.max_tuples = 0
    q = "spark group query"
    idx.topk(q, 10)
    cold = idx.last_stats[q]["ms"]
    assert set(cold) == {"read", "meta", "kernel"}, cold
    assert cold["read"] > 0 and cold["meta"] > 0 and cold["kernel"] > 0
    idx.topk(q, 10)
    warm = idx.last_stats[q]["ms"]
    assert warm["read"] == 0 and warm["meta"] == 0 and warm["kernel"] > 0


def test_warm_brute_repeat_reports_no_decode(built):
    """This fixture's lists sit under the lazy sweep's floor, so the
    tier answers by brute up front; a warm repeat reuses every list's
    memoized decode and reports the blocks it decoded: none."""
    idx = LocalIndex(built)
    idx.results.max_tuples = 0
    q = "spark group query"
    idx.topk(q, 10)
    cold = idx.last_stats[q]
    assert cold["finisher"] == "brute", cold
    assert cold["reason"]["postings"] <= cold["reason"]["lazy_floor"], cold
    assert cold["blocks_decoded"] == cold["blocks_total"] > 0, cold
    idx.topk(q, 10)
    warm = idx.last_stats[q]
    assert warm["finisher"] == "brute", warm
    assert warm["blocks_decoded"] == 0, warm


def _pin(rows):
    return sorted((-round(s, 9), d) for d, s in rows)


def _variants(q):
    """Surface forms of ``q`` that analyze to the same term set."""
    import random

    words = q.split()
    shuffled = list(words)
    random.Random(q).shuffle(shuffled)
    return [q.upper(), q.title(), "  " + "   ".join(words) + " ",
            " ".join(reversed(words)), " ".join(shuffled),
            " ".join(words + words[:1]), ", ".join(words) + "!",
            ";".join(w.capitalize() for w in words)]


def test_result_cache_keys_on_analyzed_terms(built):
    """Retyped forms of a warm query (case, spacing, word order, a
    repeated word, punctuation) hit the entry its canonical form put,
    and every hit equals the kernel's answer with the cache bypassed."""
    ref = LocalIndex(built)
    ref.results.max_tuples = 0
    idx = LocalIndex(built)
    for q in [q for q in QUERIES if q]:
        for wand in (True, False):
            want = _pin(ref.topk(q, 10, use_wand=wand))
            idx.topk(q, 10, use_wand=wand)
            for v in _variants(q):
                got = idx.topk(v, 10, use_wand=wand)
                assert idx.last_stats[v] == {"result_cache_hit": True}, v
                assert _pin(got) == want, (q, v, wand)


def test_result_cache_key_holds_every_kernel_input(built):
    """One kernel run ranks the first PREFETCH_PAGES pages of an intent.
    Every (k, offset) page inside that prefix, in any surface form, is
    a hit; a page beyond it misses once, and the deeper entry then
    serves every shallower page. Another use_wand, or an MSM
    requirement above one, is another entry; on a one-term query the
    requirement is one, which every candidate meets, so min_should_match
    hits the plain entry. Each answer equals its cache-bypassed one."""
    ref = LocalIndex(built)
    ref.results.max_tuples = 0
    idx = LocalIndex(built)
    q = "table scan merge sort filter"
    v = "Filter SORT merge  scan table"
    deep = PREFETCH_PAGES * 10
    # the prefix must not hold every match, or any page would hit
    assert len(ref.topk(q, 10 ** 4)) > deep + 10

    def served(query, hit, want_q=q, **args):
        got = idx.topk(query, **args)
        st = idx.last_stats[query]
        if hit:
            assert st == {"result_cache_hit": True}, (query, args)
        else:
            assert st["result_cache_hit"] is False, (query, args)
        assert got == ref.topk(want_q, **args), (query, args)
        return st

    assert served(q, False, k=10)["depth"] == deep
    for k, off in [(10, 0), (10, 10), (10, 20), (5, 25), (deep, 0), (1, 29),
                   (0, deep), (5, 3)]:
        served(v, True, k=k, offset=off)
    # beyond the prefix: one kernel run at the request's own depth
    assert served(v, False, k=10, offset=deep)["depth"] == deep + 10
    for k, off in [(10, deep), (deep + 10, 0), (10, 0), (20, 15)]:
        served(v, True, k=k, offset=off)
    for opts in ({"use_wand": False}, {"min_should_match": True}):
        served(v, False, k=10, **opts)
        served(v, True, k=10, offset=20, **opts)
    one = "merge"
    served(one, False, one, k=10)
    for off in (0, 20):
        served(one.upper(), True, one, k=10, offset=off,
               min_should_match=True)


def test_result_cache_pages_match_uncached_tier(docs, built):
    """Seeded random request sequences (k in {0, 1, 10, > matches},
    offsets inside, beyond and past the matches, min_should_match,
    use_wand, retyped forms, three result budgets) on one cached tier:
    every answer equals a max_tuples = 0 tier's and the pure-Python
    oracle's page (the brute spec, whose MSM requirement is never
    folded), ranks and scores."""
    import random

    ora = oracle.SingleFieldIndex({r.docid: r.text for r in docs.collect()})
    ref = LocalIndex(built)
    ref.results.max_tuples = 0
    vocab = _vocab(built)
    words = vocab[:12] + vocab[len(vocab) // 2:][:6] + ["zzzabsent"]
    runs = []
    for seed, budget in [(1, 500_000), (2, 200), (3, 40)]:
        rng = random.Random(seed)
        idx = LocalIndex(built)
        idx.results.max_tuples = budget
        intents = [rng.sample(words, rng.randint(1, 4)) for _ in range(12)]
        for _ in range(60):
            terms = rng.choice(intents)
            q = " ".join(rng.sample(terms, len(terms)))
            if rng.random() < 0.5:
                q = q.upper()
            n = len(ref.topk(q, 10 ** 4, use_wand=False))
            k = rng.choice([0, 1, 10, 10, 10, n + 5])
            off = rng.choice([0, 0, 10, 20, 30, n, n + 3])
            msm, wand = rng.random() < 0.5, rng.random() < 0.7
            got = idx.topk(q, k, use_wand=wand, min_should_match=msm,
                           offset=off)
            st = idx.last_stats.get(q, {})
            runs.append((k + off, st.get("result_cache_hit"), st.get("depth")))
            assert got == ref.topk(q, k, use_wand=wand, min_should_match=msm,
                                   offset=off), (seed, q, k, off, msm, wand)
            want = ora.topk(q, k + off, min_should_match=msm)[off:]
            assert [d for d, _ in got] == [d for d, _ in want], (q, k, off)
            assert all(abs(s - w) < 1e-9 for (_, s), (_, w)
                       in zip(got, want)), (q, k, off)
        tup = sum(1 + len(v) for v in idx.results._entries.values())
        assert idx.results._tuples == tup <= budget
    # the sequences reach every branch: pages served from a deeper
    # prefix, prefetching misses, and misses at the request's own depth
    assert any(hit and end > 10 for end, hit, _ in runs)
    assert any(d is not None and d > end for end, _, d in runs)
    assert any(d is not None and d == end > 0 for end, _, d in runs)


def test_cold_batch_runs_kernel_once_per_intent(built, monkeypatch):
    """Two surface variants of one intent in one cold batch share one
    kernel run and one answer."""
    from jivesearch_spark import serve

    calls = []
    real = serve._topk_query

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(serve, "_topk_query", counted)
    idx = LocalIndex(built)
    v1, v2 = "spark group query", "QUERY  Group, spark"
    out = idx.topk_batch([v1, v2], 10)
    assert len(calls) == 1
    assert out[v1] == out[v2] and out[v1]
    assert idx.last_stats[v1]["result_cache_hit"] is False
    assert idx.last_stats[v2]["result_cache_hit"] is False


def test_df_derived_from_postings_matches_term_stats(built):
    """The tier takes each term's df from the postings it reads (Σ
    n_docs over regular blocks) instead of a term_stats lookup; for
    every indexed term that equals the stored df, so the idf weight is
    the one the Spark path computes."""
    import pyarrow.dataset as ds

    from jivesearch_spark import bm25

    stats = ds.dataset(f"{built}/term_stats",
                       partitioning=ds.partitioning(flavor="hive")) \
        .to_table(columns=["term", "df"]).to_pydict()
    want = dict(zip(stats["term"], stats["df"]))
    idx = LocalIndex(built)
    idx.topk(" ".join(sorted(want)), 10)
    assert set(idx.terms.meta) == set(want)
    for t, df in want.items():
        meta = idx.terms.meta[t]
        assert int(meta["nd"].sum()) == df, t
        assert meta["w"] == bm25.idf(idx.man.n_docs, df), t


def test_absent_terms_are_budgeted(built):
    """Terms the index lacks are cached as empty entries that the term
    cache's budget bounds: a stream of distinct absent terms never
    grows the accounted cost past the budget."""
    idx = LocalIndex(built)
    idx.terms.max_postings = 50
    for i in range(500):
        assert idx.topk(f"zzzabsent{i}", 10) == []
        assert idx.terms._cost_total <= 50, i
        assert len(idx.terms.meta) <= 50, i
    assert "zzzabsent499" in idx.terms.meta
