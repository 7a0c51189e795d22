"""Low-latency BM25 serving over the compressed index — no Spark job.

The reference serves queries from Elasticsearch at millisecond latency
(`/root/reference/search/elasticsearch.go:21-67`); the 3 s handler /
5 s server budgets (`frontend/frontend.go:92`,
`frontend/cmd/frontend.go:81-84`) assume index *lookup*, not cluster
scheduling. Spark builds the index; serving a top-k query is a pruned
read of a few posting lists. This module is that read path:

1. a pruned ``postings`` read through `index.TermFiles`, which opens
   each ``bucket=N`` file once and keeps its row groups' ``term``
   min/max: a first-seen term reads only the row groups whose range
   holds it, with no per-query dataset planning or footer re-read —
   IO per query is O(|Q| posting lists) regardless of corpus size. A
   postings row is (term, shard, block_id, blk): ``blk`` packs the
   block's bounds and its three varint streams into one value
   (`codec.BLK_HEADER`), so the read decodes 4 column chunks per row
   group.
2. the read goes as an Arrow table to `query._term_block_meta` (the
   Spark kernels' block tables; a term's df is the Σ n_docs of its
   blocks, so no ``term_stats`` lookup), which parses every
   ``blk`` header in one numpy pass and leaves the block bytes in the
   Arrow values buffer: only block METADATA — per-block bounds and
   stream offsets — is materialized eagerly. Scoring calls the SAME
   kernel entry as the Spark path
   (`query._topk_query`) over the whole index at once. With
   ``use_wand`` it picks the finisher once from the query's posting
   count: brute while the lists hold at most n_lists ×
   `query._LAZY_FLOOR` postings (one bulk pass beats the sweep's
   per-wave bookkeeping there), else the lazy block-max kernel, which
   never decodes the tail blocks the top-k threshold retires (the
   reference's ES in-list skipping, search/elasticsearch.go:66).
   Without it, always the brute oracle. Each query's ``last_stats``
   entry names its ``finisher`` and the ``reason`` figures. One kernel
   entry ⇒ serve ≡ cluster rank identity, pinned tie-break included
   (the Spark path decides per shard; every finisher answers like the
   oracle, so the ranks agree). Both serving tiers keep block tables
   in one `TermCache`, each table carrying the memo its finishers
   decode into (`query._decode_blocks`: warm queries do no IO and no
   decode), and ranked prefixes in one `ResultCache`,
   keyed on the ANALYZED request without its page: a miss ranks the
   first `PREFETCH_PAGES` pages, so a retyped form of a warm query
   (other case, spacing or word order) and its pages 2-3 are slices
   of one entry, not kernel runs.

At 10^12 docs this is how a serving tier in front of the index works:
each frontend holds the manifest + term cache; every query reads
only its own terms' blocks (bucket directory + row-group pruning means
the files behave like a sharded KV store keyed by term). The Spark
path (`query.bm25_topk_indexed`) remains the batch/analytics flavor.
"""

from __future__ import annotations

import time
from collections import OrderedDict

from . import bm25
from .index import Manifest, TermFiles
from .paging import MAX_NUMBER
from .query import (_POSTING_COLS, _memo_postings, _term_block_meta,
                    _topk_query, analyze_query)


_ARENAS_RETAINED = False


def _retain_malloc_arenas():
    """Keep large freed allocations in the heap instead of returning
    them to the OS (glibc mallopt): every numpy temporary above
    M_MMAP_THRESHOLD (128 KB default) is otherwise a fresh mmap that
    is unmapped on free, so each query's bulk arrays re-page-fault at
    this VM's hypervisor-amplified fault rate (~250 MB/s measured —
    a bulk decode of millions of postings spent more time faulting
    than decoding).
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


class TermCache:
    """The serving tiers' per-term cache: ``meta`` holds RAW block
    tables (compressed bytes + bounds — skips the pruned read) in LRU
    order, each with the decoded-postings memo both finishers fill
    block by block (`query._decode_blocks` — skips decode). Keys are
    opaque (a term, or a (field, term) pair). Eviction is LRU by key
    over a posting-equivalent budget (`query._memo_postings`); head
    terms dominate query logs, so hot queries do no IO and no decode.
    Hit/miss/eviction counts land in the caller's ``stats`` dict, next
    to `index.TermFiles.read`'s."""

    def __init__(self, max_postings: int = 16_000_000):
        self.max_postings = max_postings
        self.meta: OrderedDict = OrderedDict()
        # incremental eviction accounting: per-key cost + running
        # total, recharged only for keys a query touched — per-query
        # eviction overhead is O(|Q|), not O(cached keys)
        self._cost: dict = {}
        self._cost_total = 0

    def missing(self, keys, stats: dict) -> list:
        """The keys with no cached block table, in ``keys`` order."""
        miss = [k for k in keys if k not in self.meta]
        stats["term_cache_misses"] = (stats.get("term_cache_misses", 0)
                                      + len(miss))
        stats["term_cache_hits"] = (stats.get("term_cache_hits", 0)
                                    + len(keys) - len(miss))
        return miss

    def put(self, entries: dict):
        self.meta.update(entries)

    def take(self, keys) -> dict:
        """{key: block table} of the cached ``keys``, each touched."""
        out = {}
        for k in keys:
            meta = self.meta.get(k)
            if meta is not None:
                self.meta.move_to_end(k)
                out[k] = meta
        return out

    def charge(self, touched, stats: dict):
        """Recharge the ``touched`` cached keys (their memos are the
        only ones a query can change), then LRU-evict until the budget
        holds, keeping at least one entry."""
        for k in touched:
            new = _memo_postings(self.meta[k])
            self._cost_total += new - self._cost.get(k, 0)
            self._cost[k] = new
        evicted = 0
        while self._cost_total > self.max_postings and len(self.meta) > 1:
            k, _ = self.meta.popitem(last=False)
            self._cost_total -= self._cost.pop(k, 0)
            evicted += 1
        stats["term_cache_evicted"] = evicted


#: pages a result-cache miss computes, in units of the request's k: a
#: miss of page 1 also ranks pages 2-3, so the deeper pages and the
#: other surface forms of a warm intent are slices of one entry, not
#: kernel runs (prefetching result pages: Fagni et al., TOIS 2006).
#: Only a page the frontend can request prefetches (k ≤
#: `paging.MAX_NUMBER`, so an entry holds at most 2 · MAX_NUMBER
#: extra ranks); a larger k computes exactly k + offset.
#:
#: Why three pages: a published page-depth distribution. Silverstein,
#: Henzinger, Marais and Moricz, "Analysis of a very large web search
#: engine query log" (SIGIR Forum 33(1), 1999; ~1 billion AltaVista
#: requests, screens of 10 results) report 85.2 % of queries viewing
#: one screen, 7.5 % two, 3.0 % three and 4.3 % more: three pages
#: hold every page that 95.7 % of queries view, and 71 % of the
#: queries that page on at all stop by page 3. `perfbench`'s 10 % / 5 %
#: page-2 / page-3 shares are of that order.
#:
#: The cost, paid on every miss, also on traffic that never pages:
#: `query._pinned_topk` thresholds before it sorts, so on the brute
#: path a top-30 costs what a top-10 costs. The lazy sweep at scale:
#: kernel-only `query._topk_query` ms, min of 27 runs (3 processes × 9)
#: on a 4-core VM, the 200k-doc corpus of `query._LAZY_FLOOR`; cold =
#: fresh block tables with nothing decoded, warm = the same call again.
#: A single head term runs lazy at k = 10 and hands off to brute at k = 30
#: (`no_separation`); every multi-term row hands off at both depths:
#:
#:   query (postings)             k=10 cold/warm        k=30 cold/warm
#:   bob (110k)                    9.07 / 6.56 lazy      4.18 / 1.60 brute
#:   dylan (70k)                   4.58 / 3.22 lazy      3.95 / 1.83 brute
#:   w1 (193k)                     1.27 / 0.76 lazy      9.11 / 3.59 brute
#:   bob dylan (180k)              8.12 / 2.94 brute     8.07 / 2.96 brute
#:   guitar live (80k)             4.35 / 2.09 brute     4.23 / 2.09 brute
#:   w1 w2 (355k)                 14.75 / 3.64 brute    14.93 / 3.66 brute
#:   bob dylan guitar (230k)      11.17 / 4.45 brute    11.03 / 4.49 brute
#:   dylan w3 w7 (268k)           12.06 / 4.80 brute    12.43 / 4.84 brute
#:   5 head terms (276k)          14.61 / 6.14 brute    14.36 / 6.17 brute
#:   sum of the nine              80.0 / 34.6           82.3 / 31.2
#:
#: so a top-30 miss costs 0.24× (`bob` warm) to 7.2× (`w1` cold: at
#: k = 10 the sweep decodes 24 of its 1,508 blocks, at k = 30 it hands
#: off and brute decodes them all) a top-10 one, 1.03× cold and 0.90×
#: warm summed.
PREFETCH_PAGES = 3


class _Prefix(list):
    """The top-``depth`` ranks of one result-cache key: fewer than
    ``depth`` ranks means they are every match."""
    __slots__ = ("depth",)


class ResultCache:
    """EXACT result cache — the serving analog of the reference's
    frontend result cache (frontend/search.go:439-453, 1 h TTL keyed on
    the full request, page included). An entry here holds a RANKED
    PREFIX, not one page: the tiers key it on the ANALYZED request (the
    sorted term set — plus, fielded, the sorted bigram set — with
    every other option the kernel reads except k and offset), so
    surface variants of one query and every page inside the prefix
    share an entry. The pinned (-round(score, 9), docid) order is
    total, so every top-k is a prefix of every deeper top-N and a page
    sliced from a prefix equals the page the kernel computes.

    A miss computes `depth` ranks (the first `PREFETCH_PAGES` pages
    for k ≤ `paging.MAX_NUMBER`, else exactly k + offset);
    `get` answers ranks [offset, offset + k) from an entry at least
    k + offset deep, or from an exhaustive one (fewer ranks than its
    depth: it holds every match); a deeper miss recomputes and
    replaces the entry. No TTL needed: a serving tier holds one
    immutable published snapshot (manifest swap ⇒ new tier), so a
    key maps to exactly one ranking (pytest gate). LRU, budgeted by
    TOTAL cached tuples at 1 + len(ranks) per entry: a result tuple
    costs ~120 B of Python objects, so an entry-count cap would let a
    large-k caller grow memory k× per entry, and the +1 bounds empty
    answers. ``max_tuples = 0`` caches nothing (a miss then computes
    exactly k + offset ranks); a lowered budget applies from the next
    put."""

    def __init__(self, max_tuples: int = 500_000):
        self.max_tuples = max_tuples
        self._entries: OrderedDict = OrderedDict()   # key → _Prefix
        self._tuples = 0

    def depth(self, k: int, offset: int) -> int:
        """Ranks a miss of page [offset, offset + k) computes: the
        first `PREFETCH_PAGES` pages too, when k is a page the frontend
        can request (k ≤ `paging.MAX_NUMBER`) and that entry fits the
        budget; else exactly k + offset."""
        deep = max(k + offset, PREFETCH_PAGES * k)
        return (deep if k <= MAX_NUMBER and deep < self.max_tuples
                else k + offset)

    def get(self, key, k: int, offset: int):
        """Ranks [offset, offset + k) of the entry under ``key``; None
        when there is none or it is too shallow to answer."""
        ranks = self._entries.get(key)
        if ranks is None or (k + offset > ranks.depth
                             and len(ranks) >= ranks.depth):
            return None
        self._entries.move_to_end(key)
        return ranks[offset:offset + k]

    def put(self, key, ranks: list, depth: int):
        """Store the top-``depth`` ``ranks`` under ``key``."""
        old = self._entries.pop(key, None)
        if old is not None:
            self._tuples -= 1 + len(old)
        entry = self._entries[key] = _Prefix(ranks)
        entry.depth = depth
        self._tuples += 1 + len(entry)
        while self._tuples > self.max_tuples:
            _, old = self._entries.popitem(last=False)
            self._tuples -= 1 + len(old)


class LocalIndex:
    """Driver/serving-process handle on an on-disk index."""

    def __init__(self, root: str):
        _retain_malloc_arenas()
        self.root = root
        self.man = Manifest.load(root)
        if self.man is None or not self.man.done:
            raise ValueError(f"no complete index at {root}")
        self.man.check_codec(root)
        self.n_buckets = self.man.params["n_buckets"]
        self.k1 = self.man.params["k1"]
        self.b = self.man.params["b"]
        self._postings = TermFiles(f"{root}/postings", self.n_buckets)
        self.terms = TermCache()
        #: ``results.max_tuples = 0`` forces every query through the
        #: kernel (bench uses this so latencies measure scoring)
        self.results = ResultCache()
        #: per-query stats of the LAST topk/topk_batch call: every entry
        #: carries ``result_cache_hit``; kernel runs add ``depth`` (the
        #: ranks computed for the result-cache entry), the batch's
        #: pruned reads, ``term_cache_*`` counters, kernel stats and
        #: ``ms`` = {read, meta, kernel}: the batch's `TermFiles.read`
        #: and block-table parse, and this query's `query._topk_query`
        self.last_stats: dict[str, dict] = {}

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
        scan for the union of terms), then one kernel per distinct
        result-cache key that misses: (sorted analyzed terms,
        ``use_wand``, effective MSM requirement). Surface variants of
        one intent (case, spacing, word order, repeats) and every page
        inside a cached prefix share one entry and one kernel run. The
        requirement folds to 0 when it is ≤ 1: every single-field list
        is its own MSM group, so any candidate meets a requirement of
        one. A batch whose requests all hit skips the kernel and its
        term-cache bookkeeping."""
        k, offset = max(0, k), max(0, offset)
        keys = {}
        for q in queries:
            terms = tuple(sorted(set(analyze_query(self.man, q))))
            req = bm25.msm_required(len(terms)) if min_should_match else 0
            keys[q] = (terms, use_wand, req if req > 1 else 0)
        answers = {key: self.results.get(key, k, offset)
                   for key in dict.fromkeys(keys.values())}
        missed = [key for key, hit in answers.items() if hit is None]
        stats = {key: {"result_cache_hit": True}
                 for key, hit in answers.items() if hit is not None}
        if missed:
            depth = self.results.depth(k, offset)
            computed, kstats = self._topk_batch_kernel(missed, depth)
            for key, ranks in computed.items():
                self.results.put(key, ranks, depth)
                answers[key] = ranks[offset:offset + k]
            stats.update(kstats)
        self.last_stats = {q: stats[key] for q, key in keys.items()
                           if key in stats}
        return {q: list(answers[key]) for q, key in keys.items()}

    def _topk_batch_kernel(self, keys: list[tuple], depth: int):
        """({key: top-``depth`` ranks}, {key: stats}) for result-cache
        keys (terms, use_wand, msm requirement); stats only for kernel
        runs."""
        out, stats = {}, {}
        all_terms = sorted({t for ts, _, _ in keys for t in ts})
        reads = {"terms_read": 0, "row_groups_read": 0}
        n_docs, avgdl = self.man.n_docs, self.man.avgdl

        # fetch RAW block tables once for the whole batch and the
        # whole index (shard ranges partition the docid space, so each
        # term's block ordinals are globally docid-ordered) — decode
        # happens lazily inside the kernel, block by block, only when
        # a block's bound can still beat the global θ. A term's df is
        # the Σ n_docs of the blocks this read returns; a term
        # the index lacks is cached as an empty entry, so its repeats
        # skip the read and the term-cache budget bounds it.
        ms = {"read": 0.0, "meta": 0.0}
        missing = self.terms.missing(all_terms, reads)
        if missing:
            t0 = time.perf_counter()
            tbl = self._postings.read(missing, _POSTING_COLS, reads)
            t1 = time.perf_counter()
            tb = _term_block_meta(tbl, lambda df: bm25.idf(n_docs, df))
            ms["read"] = 1e3 * (t1 - t0)
            ms["meta"] = 1e3 * (time.perf_counter() - t1)
            self.terms.put({t: tb.get(t, {}) for t in missing})
        tb_all = self.terms.take(all_terms)

        for key in keys:
            terms, use_wand, req = key
            tb = {t: tb_all[t] for t in terms if tb_all[t]}
            if not tb:
                out[key] = []
                continue
            qstats = stats[key] = dict(reads, result_cache_hit=False,
                                       depth=depth)
            t0 = time.perf_counter()
            d, s = _topk_query(tb, depth, req, self.k1, self.b, avgdl,
                               use_wand, stats=qstats)
            qstats["ms"] = dict(ms, kernel=1e3 * (time.perf_counter() - t0))
            out[key] = [(int(di), float(si)) for di, si in zip(d, s)]
        self.terms.charge(tb_all, reads)
        for qstats in stats.values():
            qstats["term_cache_evicted"] = reads["term_cache_evicted"]
        return out, stats
