"""Low-latency BM25 serving over the compressed index — no Spark job.

The reference serves queries from Elasticsearch at millisecond latency
(`/root/reference/search/elasticsearch.go:21-67`); the 3 s handler /
5 s server budgets (`frontend/frontend.go:92`,
`frontend/cmd/frontend.go:81-84`) assume index *lookup*, not cluster
scheduling. Spark builds the index; serving a top-k query is a pruned
read of a few posting lists. This module is that read path:

1. ``term_stats`` lookup through `index.TermFiles`, which opens each
   ``bucket=N`` file once and keeps its row groups' ``term`` min/max:
   a first-seen term reads only the row groups whose range holds it,
   with no per-query dataset planning or footer re-read — IO per
   query is O(|Q| posting lists) regardless of corpus size.
2. the same pruned read over ``postings``, handed as an Arrow table to
   `query._term_block_meta` — the block tables the Spark kernels
   build from their applyInArrow input — so only block METADATA is
   materialized eagerly (compressed bytes + per-block bounds).
   Scoring calls the SAME kernel entry as the Spark path
   (`query._topk_query`) over the whole index at once: with
   ``use_wand`` the lazy block-max kernel, so a head term's tail
   blocks are never decoded when the top-k threshold retires them
   (Lucene-style in-list skipping — the reference's ES serving
   analog, search/elasticsearch.go:66); without it the brute oracle.
   One decode path and one kernel entry ⇒ rank identity between
   serve and cluster modes is structural, and the pinned tie-break
   (round(score,9) desc, docid asc) is replicated exactly.
   Decoded blocks persist across queries in a block-granular store
   (bounded by decoded postings, LRU by term), so warm queries
   decode nothing; raw block metadata sits in its own LRU keyed by
   term.

At 10^12 docs this is how a serving tier in front of the index works:
each frontend holds the manifest + term→df cache; every query reads
only its own terms' blocks (bucket directory + row-group pruning means
the files behave like a sharded KV store keyed by term). The Spark
path (`query.bm25_topk_indexed`) remains the batch/analytics flavor.
"""

from __future__ import annotations

from . import bm25
from .index import Manifest, TermFiles
from .query import (_POSTING_COLS, _term_block_meta, _topk_query,
                    analyze_query)


_ARENAS_RETAINED = False


def _retain_malloc_arenas():
    """Keep large freed allocations in the heap instead of returning
    them to the OS (glibc mallopt): every numpy temporary above
    M_MMAP_THRESHOLD (128 KB default) is otherwise a fresh mmap that
    is unmapped on free, so each query's bulk arrays re-page-fault at
    this VM's hypervisor-amplified fault rate (~250 MB/s measured —
    the dense-merge decode spent more time faulting than decoding).
    A serving tier's RSS then sits at its bounded high-water mark
    (the eviction budgets bound peak usage), which is the right
    trade for a latency tier. No-op off glibc."""
    global _ARENAS_RETAINED
    if _ARENAS_RETAINED:
        return
    try:
        import ctypes
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 1 << 30)   # M_MMAP_THRESHOLD
        libc.mallopt(-1, 1 << 30)   # M_TRIM_THRESHOLD
        _ARENAS_RETAINED = True
    except Exception:
        return
    try:
        import os

        import numpy as np

        # pre-fault the retained arena once (the serving analog of the
        # build JVMs' -Xms pre-commit): the first query otherwise pays
        # first-touch faults on every bulk array it allocates
        mb = int(os.environ.get("JIVESEARCH_SERVE_PRETOUCH_MB", "512"))
        if mb > 0:
            scratch = np.empty(mb * (1 << 17))   # mb MiB of float64
            scratch[::512] = 0.0                 # touch every page
            del scratch
    except Exception:
        pass


class LocalIndex:
    """Driver/serving-process handle on an on-disk index."""

    def __init__(self, root: str):
        _retain_malloc_arenas()
        self.root = root
        self.man = Manifest.load(root)
        if self.man is None or not self.man.done:
            raise ValueError(f"no complete index at {root}")
        self.n_buckets = self.man.params["n_buckets"]
        self.k1 = self.man.params["k1"]
        self.b = self.man.params["b"]
        self._postings = TermFiles(f"{root}/postings", self.n_buckets)
        self._stats = TermFiles(f"{root}/term_stats", self.n_buckets)
        self._df_cache: dict[str, int] = {}
        # two-level cache (the serving analog of the reference's
        # result cache, frontend/search.go:439-453 — ours caches the
        # expensive artifacts, score-exact rather than TTL-stale):
        # _meta_cache holds RAW per-term block tables (compressed
        # bytes + bounds — cheap, skips the pruned read), _store holds
        # DECODED blocks at block granularity (what the lazy kernel
        # actually touched — skips decode). Eviction is LRU by term
        # over the decoded-postings budget; head terms dominate query
        # logs, so hot queries do no IO and no decode.
        from collections import OrderedDict
        self._meta_cache: OrderedDict[str, dict] = OrderedDict()
        self._store: dict[str, dict] = {}
        self.term_cache_max_postings = 16_000_000
        # incremental eviction accounting: per-term decoded cost +
        # running total, recharged only for terms a query touched —
        # per-query eviction overhead is O(|Q|), not O(cached terms)
        self._cost: dict[str, int] = {}
        self._cost_total = 0
        #: per-query kernel stats of the LAST topk/topk_batch call:
        #: {query: {"blocks_decoded", "blocks_total", ..., and the
        #: batch's pruned reads "terms_read", "row_groups_read"}}
        self.last_stats: dict[str, dict] = {}
        # EXACT result cache — the serving analog of the reference's
        # frontend result cache (frontend/search.go:439-453, 1 h TTL
        # keyed on the full request). Ours needs no TTL: a LocalIndex
        # holds one immutable published snapshot (manifest swap ⇒ new
        # LocalIndex), so a (query, k, offset, msm, kernel) key maps
        # to exactly one answer and a hit is provably identical to a
        # recompute (pytest gate). Bounded LRU, budgeted by TOTAL
        # cached result tuples: a (docid, score) tuple costs ~120 B of
        # Python object overhead, so an entry-count cap alone would
        # let a deep-paging / large-k caller grow memory by k× per
        # entry. Entry-count cap stays as a secondary bound.
        self._result_cache: OrderedDict[tuple, list] = OrderedDict()
        self.result_cache_max = 50_000
        self.result_cache_max_tuples = 500_000
        self._result_cache_tuples = 0
        #: set False to force every query through the kernel (bench
        #: uses this so published latencies measure scoring, not memo)
        self.result_cache_enabled = True

    # -- lookups ----------------------------------------------------------
    def stats_for(self, terms: list[str],
                  stats: dict | None = None) -> dict[str, int]:
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            tbl = self._stats.read(missing, ["term", "df"], stats)
            found = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
            for t in missing:
                self._df_cache[t] = int(found.get(t, 0))
        return {t: self._df_cache[t] for t in terms if self._df_cache[t] > 0}

    # -- query ------------------------------------------------------------
    def topk(self, query: str, k: int = 10, use_wand: bool = True,
             min_should_match: bool = False,
             offset: int = 0) -> list[tuple[int, float]]:
        """Top-k (docid, score); rank-identical to the Spark path.
        ``offset`` skips the first ranks (Fetch(number, offset) —
        search/elasticsearch.go:29,66)."""
        return self.topk_batch([query], k, use_wand, min_should_match,
                               offset)[query]

    def topk_batch(self, queries: list[str], k: int = 10,
                   use_wand: bool = True,
                   min_should_match: bool = False,
                   offset: int = 0):
        """Serve many queries with ONE pruned postings read (shared
        scan for the union of terms), then per-query kernels — the
        shape of a batched serving tier."""
        out = {}
        misses = queries
        if self.result_cache_enabled:
            misses = []
            for q in queries:
                key = (q, k, use_wand, min_should_match, offset)
                hit = self._result_cache.get(key)
                if hit is not None:
                    self._result_cache.move_to_end(key)
                    out[q] = list(hit)
                else:
                    misses.append(q)
            if not misses:
                self.last_stats = {q: {"result_cache_hit": True}
                                   for q in queries}
                return out
        computed = self._topk_batch_kernel(misses, k, use_wand,
                                           min_should_match, offset)
        if self.result_cache_enabled:
            for q, res in computed.items():
                key = (q, k, use_wand, min_should_match, offset)
                old = self._result_cache.pop(key, None)
                if old is not None:
                    self._result_cache_tuples -= len(old)
                self._result_cache[key] = list(res)
                self._result_cache_tuples += len(res)
            while self._result_cache and (
                    len(self._result_cache) > self.result_cache_max
                    or self._result_cache_tuples
                    > self.result_cache_max_tuples):
                _, old = self._result_cache.popitem(last=False)
                self._result_cache_tuples -= len(old)
            for q in queries:
                if q in out:
                    self.last_stats.setdefault(
                        q, {"result_cache_hit": True})
        out.update(computed)
        return out

    def _topk_batch_kernel(self, queries: list[str], k: int,
                           use_wand: bool, min_should_match: bool,
                           offset: int):
        # reset up front so the early returns below don't leave the
        # PREVIOUS call's per-query stats for topk_batch to merge
        # cache-hit markers into
        self.last_stats = {}
        analyzed = {q: sorted(set(analyze_query(self.man, q)))
                    for q in queries}
        all_terms = sorted({t for ts in analyzed.values() for t in ts})
        if not all_terms:
            return {q: [] for q in queries}
        reads = {"terms_read": 0, "row_groups_read": 0}  # df + postings
        dfs = self.stats_for(all_terms, reads)
        live = [t for t in all_terms if t in dfs]
        n_docs, avgdl = self.man.n_docs, self.man.avgdl

        # fetch RAW block tables once for the whole batch and the
        # whole index (shard ranges partition the docid space, so each
        # term's block ordinals are globally docid-ordered) — decode
        # happens lazily inside the kernel, block by block, only when
        # a block's bound can still beat the global θ. Cache hits skip
        # the pruned read; the persistent segment store skips decode.
        missing = [t for t in live if t not in self._meta_cache]
        if missing:
            idf_m = {t: bm25.idf(n_docs, dfs[t]) for t in missing}
            self._meta_cache.update(_term_block_meta(
                self._postings.read(missing, _POSTING_COLS, reads), idf_m))
        tb_all = {}
        for t in live:
            meta = self._meta_cache.get(t)
            if meta is not None:
                self._meta_cache.move_to_end(t)
                tb_all[t] = meta
        if not tb_all:
            return {q: [] for q in queries}

        out = {}
        for q in queries:
            q_terms = analyzed[q]
            present = [t for t in q_terms if t in tb_all]
            if not present:
                out[q] = []
                continue
            req = bm25.msm_required(len(q_terms)) if min_should_match else 0
            tb = {t: tb_all[t] for t in present}
            qstats = dict(reads)
            d, s = _topk_query(tb, k + max(0, offset), req, self.k1, self.b,
                               avgdl, use_wand, stats=qstats, store=self._store)
            self.last_stats[q] = qstats
            out[q] = [(int(di), float(si))
                      for di, si in zip(d[offset:], s[offset:])]
        self._evict(touched=live)
        return out

    def _decoded_cost(self, t: str) -> int:
        """Posting-equivalent memory cost of one cached term — the
        quantity _evict budgets. Derived from the ACTUAL live arrays
        (not a counter that could drift), which is also what lets the
        adversarial-replay pytest verify the accounted total against
        ground truth."""
        st = self._store.get(t, {})
        n = st.get("np", 0)
        ist = st.get("istream")
        if ist is not None:
            # memoized TA stream + docid lookup: 2 extra
            # (docid, score) copies of every folded posting
            n += 2 * int(ist["d"].size)
        meta = self._meta_cache.get(t)
        if meta is not None:
            if meta.get("dense") is not None:
                n += int(meta["dense"][0].size)
            order = meta.get("impact_order")
            if order is not None:
                n += int(order.size)
            n += meta.get("nd_total", 0) // 4
        return n

    def _evict(self, touched=()):
        """LRU-evict terms until decoded postings fit the budget.
        Decoded cost per term = lazily-decoded segment postings (docid
        AND impact-prefix chunks — both land in ``np``), a memoized
        dense decode if the kernel bailed out, the memoized TA impact
        permutation (int64 per posting — the same order of magnitude
        as a decoded stream), and the raw compressed table at ~1/4
        posting-equivalent (varint bytes vs 16 B decoded) — otherwise
        a skip-heavy head term parks its FULL compressed list in
        _meta_cache at zero cost and a long-running tier grows without
        bound. Only ``touched`` terms are recharged (their artifacts
        are the only ones a query can change), so the per-query cost
        is O(|Q| + evictions), not O(cached terms)."""
        for t in touched:
            new = self._decoded_cost(t) if t in self._meta_cache else 0
            self._cost_total += new - self._cost.get(t, 0)
            if new:
                self._cost[t] = new
            else:
                self._cost.pop(t, None)
        while (self._cost_total > self.term_cache_max_postings
               and len(self._meta_cache) > 1):
            t = next(iter(self._meta_cache))
            self._cost_total -= self._cost.pop(t, 0)
            self._meta_cache.pop(t)
            self._store.pop(t, None)
