"""Top-k BM25 query engine over the compressed inverted index.

Query plan (SURVEY.md §3.1 stages 6-7, re-expressed for Spark):

1. term_stats lookup for the analyzed query terms — a driver-side
   `index.TermFiles` read (bucket file + row-group term ranges), no
   Spark job; |Q| rows → idf.
2. postings scan filtered to ``bucket IN buckets(Q) AND term IN Q`` —
   Catalyst pushes both into the parquet scan (directory pruning +
   row-group min/max on term), so IO is proportional to the query's
   posting lists, never the corpus.
3. per-shard score kernel (applyInArrow over shard groups — every
   query term's postings for a doc range are co-located by
   construction): the shard's Arrow table goes straight to
   ``_term_block_meta`` (the same block tables the serving tier
   builds from its pruned read) and then to ``_topk_query``, the one
   top-k entry every caller shares. With ``use_wand`` that is the
   lazy block-max kernel: a block is decoded only while its bound can
   still beat the running top-k threshold, so skipped docs provably
   cannot enter the top-k and WAND on/off is rank-identical (gate in
   tests). Without it every block decodes and ``_topk_brute`` scores
   every candidate exactly — the oracle.
4. global top-k: union of per-shard top-ks → TakeOrderedAndProject
   (no global sort).

The per-query latency path touches only: 1 driver lookup (|Q| rows),
1 pruned postings scan, S kernel tasks, 1 tiny merge.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import analyze, bm25, codec
from .index import Manifest, TermFiles
from .session import ensure_shipped

#: postings columns every top-k reader selects (Spark scan or pyarrow read)
_POSTING_COLS = ["term", "shard", "block_id", "blk"]


def analyze_query(man: Manifest, query: str) -> list[str]:
    """Tokenize a query with the SAME chain the index was built with
    (manifest-pinned analyzer — rank identity requires one spec)."""
    an = man.params.get("analyzer", "standard")
    if an == "standard":
        return analyze.py_tokens(query)
    from . import analyze_lang
    # an index built under a different pinned lang profile would be
    # silently unsearchable (doc tokens ≠ query tokens) — fail loudly.
    # "" (a pre-versioning manifest) is ALSO a mismatch: every lang
    # index built before profile recording used the v1 ASCII tokenizer
    # this chain replaced, so accepting it silently would reproduce
    # exactly the failure mode this guard exists to prevent.
    prof = man.params.get("analyzer_profile", "")
    if prof != analyze_lang.LANG_PROFILE:
        raise ValueError(
            f"index was built with analyzer profile "
            f"{prof or '(pre-versioning, lang-v1)'!r}; this build "
            f"analyzes queries with {analyze_lang.LANG_PROFILE!r} — "
            "rebuild the index or pin the matching version")
    return analyze_lang.py_tokens_lang(query, an)


class IndexReader:
    """Handle on an on-disk index (paths + manifest + cached stats)."""

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        self.man = Manifest.load(root)
        if self.man is None or not self.man.done:
            raise ValueError(f"no complete index at {root}")
        self.man.check_codec(root)
        self.n_buckets = self.man.params["n_buckets"]
        self.postings = spark.read.parquet(f"{root}/postings")
        self.term_stats = spark.read.parquet(f"{root}/term_stats")
        self._stats_files = TermFiles(f"{root}/term_stats", self.n_buckets)
        self._df_cache: dict[str, int] = {}
        ensure_shipped(spark)

    def buckets_of(self, terms: list[str]) -> list[int]:
        # driver-side Spark-compatible murmur3 — no job per query
        from .hashing import term_bucket
        return sorted({term_bucket(t, self.n_buckets) for t in terms})

    def stats_for(self, terms: list[str]) -> dict[str, int]:
        # per-term df memoized; a miss is one driver-side pruned read
        # of term_stats, no Spark job
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            tbl = self._stats_files.read(missing, ["term", "df"])
            found = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
            for t in missing:
                self._df_cache[t] = int(found.get(t, 0))
        return {t: self._df_cache[t] for t in terms if self._df_cache[t] > 0}


def bm25_topk_indexed(reader: IndexReader, query: str, k: int = 10,
                      use_wand: bool = True,
                      min_should_match: bool = False,
                      offset: int = 0) -> DataFrame:
    """Top-k over the compressed index; returns (docid, score).

    ``offset`` pages past the first ``offset`` ranks (the reference's
    Fetch(number, offset) — search/elasticsearch.go:29,66; page math in
    paging.offset_for): kernels fetch top-(offset+k) per shard, the
    global merge then skips ``offset`` rows — no rescan per page.
    """
    q_terms = sorted(set(analyze_query(reader.man, query)))
    spark = reader.spark
    empty = spark.createDataFrame([], "docid long, score double")
    if not q_terms:
        return empty

    dfs = reader.stats_for(q_terms)
    present = [t for t in q_terms if t in dfs]
    if not present:
        return empty
    n_docs, avgdl = reader.man.n_docs, reader.man.avgdl
    k1, b = reader.man.params["k1"], reader.man.params["b"]
    idf = {t: bm25.idf(n_docs, dfs[t]) for t in present}
    req = bm25.msm_required(len(q_terms)) if min_should_match else 0

    bks = reader.buckets_of(present)
    blocks = (reader.postings
              .where(F.col("bucket").isin(bks) & F.col("term").isin(present))
              .select(*_POSTING_COLS))

    kk = k + max(0, offset)   # ranks ≤ offset+k live in per-shard top-(offset+k)

    def _score_shard(tbl):
        return _topk_table(*_score_shard_np(tbl, idf, k1, b, avgdl, kk,
                                            req, use_wand))

    per_shard = blocks.groupBy("shard").applyInArrow(
        _score_shard, schema="docid long, score double")

    out = per_shard.orderBy(F.round(F.col("score"), 9).desc(), F.asc("docid"))
    if offset > 0:
        out = out.offset(offset)
    return out.limit(k)


def _topk_table(docids, scores):
    """(docid, score) Arrow table — the Spark kernels' output batch."""
    import pyarrow as pa
    return pa.table({"docid": pa.array(docids, pa.int64()),
                     "score": pa.array(scores, pa.float64())})


def _score_shard_np(tbl, idf: dict, k1: float, b: float, avgdl: float,
                    k: int, msm_req: int, use_wand: bool,
                    stats: dict | None = None):
    """Per-shard kernel: one shard's postings (an Arrow table, as
    applyInArrow hands it over) → (docids, scores) of the local top-k.

    Builds the raw block tables with ``_term_block_meta`` and runs
    ``_topk_query`` on them, so the Spark path, the batch path and the
    serving tier share one decode path and one kernel entry and so
    choose the same finisher for the same lists. ``use_wand=False``
    always runs ``_topk_brute`` — the oracle the rank-identity gates
    compare against.
    """
    return _topk_query(_term_block_meta(tbl, idf), k, msm_req, k1, b,
                       avgdl, use_wand, stats=stats)


def _term_block_meta(tbl, idf) -> dict:
    """Group a postings Arrow table (``_POSTING_COLS``; ``shard`` may
    be absent) into per-term RAW block tables — no decode. ``idf`` is a
    {term: weight} dict, or a callable of the term's df = Σ n_docs of
    its regular blocks. The same code serves one shard (the Spark
    kernels' applyInArrow input, which arrives unsorted) or the whole
    index (the serving tiers' pruned read).

    One numpy pass: the term column is dictionary-encoded, one
    ``lexsort`` over (term, prefix flag, shard, block order) orders
    the rows, and ``codec.parse_blk`` reads every row's ``blk`` header
    in one gather. So each term's regular block ordinals are
    docid-ordered and disjoint (shard ranges partition the docid space
    in shard order). Every entry's arrays are slices of the read's
    arrays; its block bytes stay in the Arrow values buffer (``buf``)
    with per-block stream offsets (``so``, see ``codec.parse_blk``),
    so blocks that are never decoded are never copied.

    Impact-ordered prefix rows (block_id < 0, written by the build when
    a (term, shard) list exceeds ``impact_min`` — index.IndexParams)
    are split into separate per-term arrays (``iub``/``ind``/``ishard``
    /``iso``, sorted (shard, rank) so within a shard chunk k holds
    impact ranks [k·B, (k+1)·B)); the regular docid-block arrays never
    see them, so every existing consumer decodes each posting once."""
    n = tbl.num_rows
    if not n:   # an empty read or shard has no runs to group
        return {}
    import pyarrow.compute as pc
    enc = pc.dictionary_encode(tbl.column("term")).combine_chunks()
    names = enc.dictionary.to_pylist()
    by_name = sorted(range(len(names)), key=names.__getitem__)
    rank = np.empty(len(names), dtype=np.int64)
    rank[by_name] = np.arange(len(names))
    code = rank[enc.indices.to_numpy()]
    names = [names[i] for i in by_name]
    bid = tbl.column("block_id").to_numpy()
    shard = (tbl.column("shard").to_numpy() if "shard" in tbl.column_names
             else np.zeros(n, dtype=np.int64))
    neg = bid < 0
    # regular rows ascending block_id (docid order); impact rows by
    # rank = -block_id - 1 ascending
    order = np.lexsort((np.where(neg, -bid - 1, bid), shard, neg, code))
    code, neg, shard = code[order], neg[order], shard[order].astype(np.int64)
    buf, offsets = codec.blk_buffers(tbl.column("blk"))
    hdr, so = codec.parse_blk(buf, offsets[:-1][order], offsets[1:][order])
    first = hdr["first_docid"].astype(np.int64)
    last = hdr["last_docid"].astype(np.int64)
    nd = hdr["n_docs"].astype(np.int64)
    ub = hdr["max_score_ub"].astype(np.float64)
    starts = np.flatnonzero(np.concatenate(
        [[True], (code[1:] != code[:-1]) | (neg[1:] != neg[:-1])]))
    ends = np.append(starts[1:], n)
    dfs = np.add.reduceat(nd, starts).tolist()

    out = {}
    for si, ei, df in zip(starts.tolist(), ends.tolist(), dfs):
        term = names[code[si]]
        if not neg[si]:
            out[term] = {
                "first": first[si:ei], "last": last[si:ei],
                "nd": nd[si:ei], "ub": ub[si:ei],
                # shard of each regular block — the prefix TA needs it
                # to tell short lists (full blocks generate candidates)
                # from prefix-covered ones (only their top-P chunks do)
                "bshard": shard[si:ei],
                "buf": buf, "so": so[si:ei],
                "w": idf(df) if callable(idf) else idf[term],
                # total postings across blocks — _memo_postings charges
                # the RAW compressed table against the term-cache
                # budget with this (≈2-4 B/posting varint vs 16
                # B/posting decoded)
                "nd_total": df,
            }
            continue
        d = out.get(term)
        if d is None:   # prefix rows imply regular rows; be safe
            continue
        d["iub"], d["ind"] = ub[si:ei], nd[si:ei]
        d["ishard"], d["iso"] = shard[si:ei], so[si:ei]
        d["nd_total"] += df
    return out


def _memo_postings(meta: dict, st: dict) -> int:
    """Posting-equivalent memory of one term's block table ``meta`` and
    decoded-store entry ``st`` (the cost `serve.TermCache` budgets),
    summed from the LIVE arrays: decoded blocks and prefix chunks
    (``np``), the memoized prefix-TA stream (2 copies per folded
    posting), a bulk ``dense`` decode, and the raw compressed table at
    ~1/4 posting-equivalent — otherwise a skip-heavy head term parks
    its FULL compressed list at zero cost and a long-running tier
    grows without bound. The +1 per entry bounds the empty entries of
    terms the index lacks."""
    n = st.get("np", 0)
    ist = st.get("istream")
    if ist is not None:
        n += 2 * int(ist["d"].size)
    if meta.get("dense") is not None:
        n += int(meta["dense"][0].size)
    return 1 + n + meta.get("nd_total", 0) // 4


def _bm25_scores(d: dict, tf: np.ndarray, dl: np.ndarray,
                 k1: float, b: float, avgdl: float) -> np.ndarray:
    """BM25 contributions for one term's decoded postings (w = idf or
    idf×boost pinned on the tb entry; per-key avgdl override honored)."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    ad = d.get("avgdl", avgdl)
    return d["w"] * tf * (k1 + 1.0) / (
        tf + k1 * (1.0 - b + b * dl / max(ad, 1e-9)))


def _ensure_blocks(d: dict, st: dict, ords, k1: float, b: float,
                   avgdl: float) -> int:
    """Decode the given regular-block ordinals of one term into its
    block-granular store entry (segment map). Returns the number of
    NEWLY decoded blocks. Deliberately does NOT maintain a global
    concatenation of everything decoded: rebuilding one after every
    probe batch is O(total decoded) per call — quadratic over a cold
    TA sweep (measured: a 3.4M-doc cold head-2 query spent most of
    its 1.07 s re-concatenating ~900k decoded postings hundreds of
    times). Readers build lookups over exactly the blocks they touch
    (_seg_lookup)."""
    seg = st["seg"]
    new = [int(o) for o in np.unique(ords) if int(o) not in seg]
    if not new:
        return 0
    na = np.asarray(new, dtype=np.int64)
    dd, tf, dl = codec.decode_blocks_concat(d["buf"], d["so"][na],
                                            d["nd"][na])
    sc = _bm25_scores(d, tf, dl, k1, b, avgdl)
    offs = np.concatenate([[0], np.cumsum(d["nd"][na])])
    for i, o in enumerate(new):
        seg[o] = (dd[offs[i]:offs[i + 1]], sc[offs[i]:offs[i + 1]])
    st["np"] += int(d["nd"][na].sum())
    return len(new)


def _seg_lookup(st: dict, ords: np.ndarray):
    """(docids, scores) concatenated over the given DECODED block
    ordinals — ordinal order == docid order (disjoint ranges), so the
    result is docid-sorted. O(blocks touched), not O(blocks decoded)."""
    seg = st["seg"]
    parts = [seg[int(o)] for o in np.unique(ords)]
    if not parts:
        return (np.empty(0, dtype=np.int64), np.empty(0))
    if len(parts) == 1:
        return parts[0]
    return (np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]))


def _probe_term(d: dict, st: dict, cand: np.ndarray, k1: float, b: float,
                avgdl: float):
    """Exact contributions of one term for sorted unique ``cand``,
    decoding only the covering blocks and searching only those.
    Returns (contrib, hit, n_new)."""
    if not d["first"].size:
        return np.zeros(cand.size), np.zeros(cand.size, dtype=bool), 0
    j = np.searchsorted(d["first"], cand, side="right") - 1
    jc = np.clip(j, 0, d["first"].size - 1)
    covered = (j >= 0) & (cand <= d["last"][jc])
    if not covered.any():
        return np.zeros(cand.size), np.zeros(cand.size, dtype=bool), 0
    n_new = _ensure_blocks(d, st, jc[covered], k1, b, avgdl)
    cd, cs = _seg_lookup(st, jc[covered])
    pos = np.searchsorted(cd, cand)
    pos_c = np.minimum(pos, cd.size - 1)
    hit = cd[pos_c] == cand
    return np.where(hit, cs[pos_c], 0.0), hit, n_new


# rounding slack: the final rank uses round(score, 9), so an interval is
# only provably useless when its bound is below θ by more than the
# rounding quantum — keeps pruning rank-identical even at round() ties.
_WAND_SLACK = 1e-9


def _pinned_topk(cand: np.ndarray, total: np.ndarray, k: int):
    """Top-k under the pinned (-round(score, 9), docid) rule.

    Thresholds on the rounded scores first (exact: the pool keeps
    every row at/above the k-th rounded score, ties included), so the
    lexsort runs over ~k rows instead of every scored candidate — the
    brute oracle at millions of candidates was one full-array sort.
    Every selection tail ends here; k ≤ 0 answers empty."""
    if k <= 0:
        return np.empty(0, dtype=np.int64), np.empty(0)
    kloc = min(k, cand.size)
    r = np.round(total, 9)
    if cand.size > 4 * k:
        thr = np.partition(r, cand.size - kloc)[cand.size - kloc]
        pool = np.flatnonzero(r >= thr)
        cand, total, r = cand[pool], total[pool], r[pool]
    idx = np.lexsort((cand, -r))[:kloc]
    return cand[idx].astype(np.int64), total[idx]


def _scored_pool(got_s: list, got_m: list, msm_req: int) -> np.ndarray:
    """Exact totals of the msm-eligible docs a sweep has scored so far
    (the pool its running k-th-best θ is taken from)."""
    alls = np.concatenate(got_s)
    return alls[np.concatenate(got_m) >= msm_req] if msm_req else alls


def _pools_topk(got_d: list, got_s: list, got_m: list, k: int,
                msm_req: int):
    """Pinned top-k over the candidate batches a sweep scored, keeping
    only rows that meet ``msm_req`` — the tail every sweep shares."""
    if not got_d:
        return np.empty(0, dtype=np.int64), np.empty(0)
    cand, total = np.concatenate(got_d), np.concatenate(got_s)
    if msm_req:
        okm = np.concatenate(got_m) >= msm_req
        cand, total = cand[okm], total[okm]
    return _pinned_topk(cand, total, k)


def _range_max_table(vals: np.ndarray) -> list:
    """Sparse table for O(1) range-max queries: levels[k][i] =
    max(vals[i : i + 2^k]). Built per wave over a term's live block
    bounds (O(B log B), all numpy)."""
    levels = [vals]
    k = 1
    while (1 << k) <= vals.size:
        prev = levels[-1]
        half = 1 << (k - 1)
        levels.append(np.maximum(prev[:-half], prev[half:]))
        k += 1
    return levels


def _range_max(levels: list, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Vectorized max(vals[lo:hi]) per element pair; 0 where empty
    (a non-negative-score context: BM25 contributions are > 0)."""
    out = np.zeros(lo.size)
    n = hi - lo
    nz = n > 0
    if not nz.any():
        return out
    k = np.zeros(lo.size, dtype=np.int64)
    k[nz] = np.floor(np.log2(n[nz])).astype(np.int64)
    for kk in np.unique(k[nz]):
        m = nz & (k == kk)
        lev = levels[kk]
        out[m] = np.maximum(lev[lo[m]], lev[hi[m] - (1 << kk)])
    return out


def _scores_bulk(d: dict, tf: np.ndarray, dl: np.ndarray,
                 k1: float, b: float, avgdl: float) -> np.ndarray:
    """BM25 contributions for a BULK decode (identical values to
    _bm25_scores): when (tf, dl) pack into 32 bits, factorize the
    pairs and evaluate the formula once per DISTINCT pair, then
    gather — tf-norm has few distinct values (tf and dl are small
    ints), so millions of float64 formula passes collapse to a
    lookup. Float results are bit-identical: the same expression runs
    on the same float64 inputs, just once per distinct pair."""
    if tf.size > (1 << 16) and tf.dtype.itemsize <= 2 \
            and (dl.size == 0 or int(dl.max()) < (1 << 16)):
        import pandas as pd
        key = tf.astype(np.uint32) << np.uint32(16)
        key |= dl.astype(np.uint32)
        inv, uniq = pd.factorize(key)
        utf = (uniq >> np.uint32(16)).astype(np.float64)
        udl = (uniq & np.uint32(0xFFFF)).astype(np.float64)
        ad = d.get("avgdl", avgdl)
        g = d["w"] * utf * (k1 + 1.0) / (
            utf + k1 * (1.0 - b + b * udl / max(ad, 1e-9)))
        return g[inv]
    return _bm25_scores(d, tf, dl, k1, b, avgdl)


def _group_of(key, entry: dict):
    """The MSM group a tb entry (or its decoded arrays) counts toward:
    its ``group`` mark, else the key itself — one group per list, the
    single-field rule. A None group scores but never qualifies (fielded
    shingle keys), and so does a ``probe_only`` entry, which adds score
    to candidates but never generates them (the fielded tld key)."""
    return None if entry.get("probe_only") else entry.get("group", key)


def _dense_arrays_from_tb(tb: dict, k1: float, b: float, avgdl: float,
                          keys=None) -> dict:
    """Decode EVERY block of the given tb entries into brute-kernel
    arrays ({docids, scores} plus the entry's MSM marks), memoizing
    the decode on the tb entry (``dense``) so callers holding tb (e.g.
    a serving-tier block cache) pay the bulk decode once. The entries
    without a memo are decoded together, one
    ``codec.decode_blocks_concat`` call per values buffer they live in
    (one for a query whose terms came from one read), and scored per
    entry with its own ``w`` and ``avgdl``. Compact decode (minimal
    dtypes) + per-distinct-(tf, dl) score evaluation keep this pass
    memory-bandwidth-lean — it is the brute finisher's main cost at
    millions of postings."""
    keys = sorted(tb) if keys is None else keys
    todo: dict = {}
    for t in keys:
        if tb[t].get("dense") is None:
            todo.setdefault(id(tb[t]["buf"]), []).append(t)
    for ts in todo.values():
        parts = [tb[t] for t in ts]
        dd, tf, dl = codec.decode_blocks_concat(
            parts[0]["buf"], np.concatenate([d["so"] for d in parts]),
            np.concatenate([d["nd"] for d in parts]), compact=True)
        o = 0
        for d in parts:
            sl = slice(o, o + int(d["nd"].sum()))
            o = sl.stop
            # a lone entry keeps the decode; shared ones copy their
            # slice, so evicting one term frees its postings
            d["dense"] = (dd[sl] if len(parts) == 1 else dd[sl].copy(),
                          _scores_bulk(d, tf[sl], dl[sl], k1, b, avgdl))
    dense = {}
    for t in keys:
        d = tb[t]
        arrs = dense[t] = {"docids": d["dense"][0], "scores": d["dense"][1]}
        for m in ("group", "probe_only"):   # read by `_group_of`
            if m in d:
                arrs[m] = d[m]
    return dense


def _topk_blockmax_lazy(tb: dict, k: int, msm_req: int,
                        k1: float, b: float, avgdl: float,
                        stats: dict | None = None,
                        store: dict | None = None):
    """Lazy block-max top-k (score-neutral, rank-identical to brute).

    Vectorized equivalent of DAAT block-max WAND's in-list skipping
    (Ding & Suel, "Faster top-k document retrieval using block-max
    indexes", SIGIR'11), reshaped for batch numpy instead of pointer
    chasing:

    * every unscored doc d in block B of term t obeys
      ``score(d) ≤ ub(B) + Σ_{t'≠t, t' not exhausted} max_ub(t')``
      (an *exhausted* term — all blocks decoded, all docs scored —
      cannot contribute to a doc that is still unscored);
    * blocks are visited in descending order of that bound, in growing
      batches; only visited blocks *generate candidates*, and
      candidates are scored exactly by probing every term with
      decode-on-demand of just the covering blocks;
    * the running k-th best θ retires every remaining block whose
      bound falls below it — those blocks are never decoded.

    Small lists exhaust in the first waves (their blocks carry the
    highest own-ub), which collapses the bound for head-term blocks;
    a head term's tail blocks are then retired wholesale without
    decode — the cost is sublinear in head-term df whenever θ
    separates from the head term's block maxima.

    Hand-offs: a flat corpus (every block bound ≈ θ) cannot skip
    anything, so the sweep hands off — UPFRONT for ≤2-term queries
    whose bounds are strictly flat (``handoff = {"why":
    "flat_bounds"}``), else mid-sweep as soon as θ exists and retires
    < 25 % of the remaining blocks with no list close to exhaustion
    (``{"why": "no_separation", "skippable", "remaining"}``, in
    blocks). It hands off to ``_topk_impact_prefix`` when some list
    carries prefix chunks and no key carries MSM marks, else to the
    brute exit ``_topk_query`` uses (``_topk_brute_exit``) — the only
    path for an index built with ``impact_prefix = 0``. Flat-bound
    queries thus pay at most one wave of bookkeeping.

    Generalizations for the serving tiers and the fielded tb:

    * ``store``: a persistent dict {key -> {"seg", "np"}} that
      outlives the call — decoded blocks accumulate across queries
      (the serving tier's block-granular cache), so warm queries
      decode nothing. The caller owns eviction.
    * MSM counts the DISTINCT groups hit (`_group_of`): every key is
      its own group unless its tb entry carries a ``group`` mark (the
      fielded cross_fields rule); a ``probe_only`` entry contributes
      score and bound but never generates candidates (the reference's
      non-qualifying tld should-clause). A sweep over such marks
      hands off to the grouped ``_topk_brute``, since the prefix TA
      counts every key toward MSM and generates candidates from
      every list.
    * per-key ``avgdl`` in a tb entry overrides the global (fielded
      sub-indexes each carry their own).
    """
    zero = (np.empty(0, dtype=np.int64), np.empty(0))
    if stats is not None:
        stats["finisher"] = "lazy"   # a hand-off below overwrites it
    grp_of = {t: _group_of(t, m) for t, m in tb.items()}
    terms = sorted(t for t in tb if not tb[t].get("probe_only"))
    extras = sorted(t for t in tb if tb[t].get("probe_only"))
    keys_all = terms + extras
    if not terms or k <= 0:     # θ is the k-th best: nothing to sweep for
        return zero
    grouped = any(g != t for t, g in grp_of.items())
    nt = len(terms)
    n_keys = len(keys_all)
    dfs_of = np.array([int(tb[t]["nd"].sum()) for t in terms])
    blocks_of = np.array([tb[t]["ub"].size for t in terms])
    offsets = np.concatenate([[0], np.cumsum(blocks_of)])
    blocks_all = int(blocks_of.sum()) + sum(tb[t]["ub"].size for t in extras)

    # ---- flat block table across candidate-generating terms ----
    b_term = np.repeat(np.arange(nt), blocks_of)
    b_ord = np.concatenate([np.arange(n) for n in blocks_of])
    b_ub = np.concatenate([tb[t]["ub"] for t in terms])
    remaining = np.ones(b_term.size, dtype=bool)   # not yet visited/retired
    n_left = blocks_of.copy()                      # unvisited blocks per term
    exhausted = np.zeros(nt, dtype=bool)

    # docid-ALIGNED bound machinery (true block-max WAND, Ding & Suel
    # §4: the other-term contribution to a block's bound is the max ub
    # over that term's blocks OVERLAPPING the block's docid range, not
    # the term's global max — the difference between skipping nothing
    # and skipping almost everything when two head terms rarely
    # co-occur at high tf). ub_live zeroes a block once visited: every
    # doc of a visited block is scored, so an unscored doc's covering
    # block in any key is necessarily unvisited.
    firsts_k = [np.asarray(tb[t]["first"], dtype=np.int64) for t in keys_all]
    lasts_k = [np.asarray(tb[t]["last"], dtype=np.int64) for t in keys_all]
    ub_live = [np.asarray(tb[t]["ub"], dtype=np.float64).copy()
               for t in keys_all]

    # Memoized bound bookkeeping: between waves only the VISITED keys'
    # ub_live changes (visiting zeroes a block's bound; retirement
    # leaves it — retired blocks' unscored docs still back other
    # terms' bounds). So the sparse tables and the per-(ti, kj)
    # overlap-max arrays are cached and rebuilt only for keys marked
    # dirty — per-wave bookkeeping is O(keys visited this wave), not
    # O(all keys × all blocks) (round-3 review finding: the full
    # rebuild dominated exactly the long sweeps skipping is for).
    _tables = [None] * n_keys
    _dirty = [True] * n_keys
    _lohi: dict = {}
    _adds = [[None] * n_keys for _ in range(nt)]

    def compute_prio():
        changed = {kj for kj in range(n_keys) if _dirty[kj]}
        for kj in changed:
            _tables[kj] = (_range_max_table(ub_live[kj])
                           if ub_live[kj].size else None)
            _dirty[kj] = False
        prio = b_ub.copy()
        for ti in range(nt):
            fa, la = firsts_k[ti], lasts_k[ti]
            add = np.zeros(fa.size)
            for kj in range(n_keys):
                if kj == ti:
                    continue
                if _adds[ti][kj] is None or kj in changed:
                    if _tables[kj] is None:
                        _adds[ti][kj] = None   # permanently-empty key
                    else:
                        lh = _lohi.get((ti, kj))
                        if lh is None:   # block ranges are static
                            lo = np.searchsorted(lasts_k[kj], fa,
                                                 side="left")
                            hi = np.searchsorted(firsts_k[kj], la,
                                                 side="right")
                            lh = _lohi[(ti, kj)] = (lo, hi)
                        _adds[ti][kj] = _range_max(_tables[kj], *lh)
                if _adds[ti][kj] is not None:
                    add += _adds[ti][kj]
            prio[offsets[ti]:offsets[ti + 1]] += add
        return prio

    n_decoded = 0

    def go_dense(handoff: dict):
        # the prefix TA's cold cost is O(prefix + candidates), never
        # O(df); without prefix chunks, or with MSM marks, the brute exit
        nonlocal store
        if stats is not None:
            stats["handoff"] = handoff
        if not grouped and any(
                tb[t].get("iub") is not None and tb[t]["iub"].size
                for t in keys_all):
            if store is None:
                store = {}
            for t in keys_all:
                store.setdefault(t, {"seg": {}, "np": 0})
            return _topk_impact_prefix(tb, k, msm_req, k1, b, avgdl,
                                       store, stats=stats,
                                       n_base=n_decoded,
                                       blocks_total=blocks_all)
        return _topk_brute_exit(tb, k, msm_req, k1, b, avgdl, stats,
                                n_base=n_decoded)

    # upfront strictly-flat bailout (≤2 terms): when EVERY block bound
    # is identical (uniform corpora — same tf/dl everywhere), any θ
    # either retires all blocks or none, so the sweep provably cannot
    # separate; go dense before any wave bookkeeping. Spread corpora
    # proceed lazily — the in-loop check (with a REAL θ and aligned
    # bounds) handles the merely-flat-ish regime after one cheap wave.
    if nt <= 2:
        prio0 = compute_prio()
        if prio0.max() - prio0.min() <= _WAND_SLACK:
            return go_dense({"why": "flat_bounds"})

    # ---- lazy decoded-block store (caller-persistent when given) ----
    if store is None:
        store = {}
    for t in keys_all:
        store.setdefault(t, {"seg": {}, "np": 0})

    def ensure(ki, ords):
        nonlocal n_decoded
        n_decoded += _ensure_blocks(tb[keys_all[ki]], store[keys_all[ki]],
                                    ords, k1, b, avgdl)

    def probe(ki, cand):
        """Exact per-key contributions for sorted unique ``cand``,
        decoding only the blocks that cover a candidate."""
        nonlocal n_decoded
        contrib, hit, n_new = _probe_term(tb[keys_all[ki]],
                                          store[keys_all[ki]], cand,
                                          k1, b, avgdl)
        n_decoded += n_new
        return contrib, hit

    # ---- descending-bound wave sweep ----
    got_d, got_s, got_m = [], [], []
    scored = np.empty(0, dtype=np.int64)   # sorted docids scored so far
    n_ok = 0                               # msm-eligible scored so far
    theta = -np.inf
    batch = 8
    while remaining.any():
        if msm_req:
            alive = {grp_of[terms[ti]] for ti in range(nt)
                     if not exhausted[ti]}
            alive.discard(None)
            if len(alive) < msm_req:
                break   # docs outside every exhausted list can't reach msm
        prio = compute_prio()
        live = remaining & (prio >= theta - _WAND_SLACK)
        if not live.any():
            break
        # hand-off: θ exists yet retires almost nothing, and no list is
        # close enough to exhaustion for the bounds to collapse soon
        if np.isfinite(theta):
            n_rem = int(remaining.sum())
            skippable = n_rem - int(live.sum())
            imminent = bool(((n_left > 0) & (n_left <= 2 * batch)
                             & ~exhausted).any())
            if skippable < 0.25 * n_rem and not imminent:
                return go_dense({"why": "no_separation",
                                 "skippable": skippable, "remaining": n_rem})
        # cheap-exhaust: fully visiting a nearly-done list zeroes its
        # mu, collapsing every other term's bound — the lever that
        # lets a rare strong term stop poisoning head-block bounds
        cheap = [ti for ti in np.argsort(n_left, kind="stable")
                 if 0 < n_left[ti] <= batch]
        take_mask = np.zeros(b_term.size, dtype=bool)
        tot = 0
        for ti in cheap:
            if tot and tot + n_left[ti] > 2 * batch:
                break
            take_mask |= remaining & (b_term == ti)
            tot += int(n_left[ti])
        if tot == 0:
            # priority fill: bound desc, small-df terms first on ties
            idxs = np.flatnonzero(live)
            key = np.lexsort((b_ord[idxs], b_term[idxs],
                              dfs_of[b_term[idxs]], -prio[idxs]))
            take_mask[idxs[key[:batch]]] = True
        take = np.flatnonzero(take_mask)
        remaining[take] = False
        cands = []
        for ti in np.unique(b_term[take]):
            ords = b_ord[take[b_term[take] == ti]]
            ensure(ti, ords)
            t = terms[ti]
            cands.extend(store[t]["seg"][int(o)][0] for o in ords)
            ub_live[ti][ords] = 0.0   # visited: all docs scored
            _dirty[ti] = True         # bound tables stale for this key
            n_left[ti] -= ords.size
            if n_left[ti] == 0:
                exhausted[ti] = True
        cand = _drop_scored(np.unique(np.concatenate(cands)), scored)
        batch = min(batch * 2, 512)
        if cand.size == 0:
            continue
        total = np.zeros(cand.size)
        gm: dict = {}
        for ki in range(len(keys_all)):   # fixed accumulation order
            contrib, hit = probe(ki, cand)
            total += contrib
            g = grp_of[keys_all[ki]]
            if g is not None:
                m = gm.get(g)
                gm[g] = hit if m is None else (m | hit)
        matched = np.zeros(cand.size, dtype=np.int32)
        for m in gm.values():
            matched += m.astype(np.int32)
        got_d.append(cand)
        got_s.append(total)
        got_m.append(matched)
        scored = np.union1d(scored, cand)
        n_ok += int((matched >= msm_req).sum()) if msm_req else cand.size
        if n_ok >= k:
            theta = np.partition(_scored_pool(got_s, got_m, msm_req), -k)[-k]

    if stats is not None:
        stats["blocks_decoded"] = n_decoded
        stats["blocks_total"] = blocks_all

    return _pools_topk(got_d, got_s, got_m, k, msm_req)


#: stop margin of the prefix TA and pool margin of brute's span branch:
#: with θ − T > 2·0.5e-9, round(θ, 9) is STRICTLY greater than
#: round(T, 9), so no unseen doc can displace a result even on a
#: rounded-score tie + docid tie-break.
_TA_SLACK = 2e-9


#: candidate-flood threshold that sends the prefix-TA sweep to the
#: brute exit (``_topk_brute_exit``): a sweep that has consumed this
#: many candidates without terminating is in the regime where the NRA
#: bound cannot separate (≥3 independent dense terms — an unseen doc
#: holding every term is always possible until the lists exhaust), so
#: one exhaustive bulk pass is strictly cheaper than continuing to
#: probe per candidate batch.
_TA_FLOOD_CANDS = 49152
#: probe-flood leg of the same detector: go to the brute exit once
#: random-access probing has decoded this share of all blocks (plus an
#: absolute floor so small indexes never flip) — the flood is
#: decode-everything in disguise, paid with per-round overhead on top
_TA_FLOOD_BLOCK_FRAC = 0.2
_TA_FLOOD_MIN_BLOCKS = 1500


def _topk_impact_prefix(tb: dict, k: int, msm_req: int,
                        k1: float, b: float, avgdl: float,
                        store: dict, stats: dict | None = None,
                        n_base: int = 0, blocks_total: int | None = None):
    """Flat-bound-regime finisher over an index with impact-ordered
    prefixes (index.IndexParams.impact_prefix): a TA/NRA sweep (Fagin
    et al., "Optimal aggregation algorithms for middleware", PODS'01)
    over the build-time impact-ordered prefix chunks — Lucene's
    impact-sorted postings analog (public Lucene 8 ImpactsEnum design)
    — so a cold flat-bound query costs O(prefix), not O(df):

    * candidate units per term = its prefix chunks (top-P postings of
      each long (term, shard) list, score-descending across chunks)
      plus the FULL docid blocks of lists short enough to carry no
      prefix (≤ impact_min postings — already O(prefix)-cheap);
    * decoded units feed a per-term score-descending POSTING stream;
      candidates are drawn a few postings at a time (batch doubling),
      so the number of exact-scored candidates — and with it the
      random-access probe cost — grows with what θ actually needs,
      not with the 128-posting chunk granularity;
    * candidates are scored EXACTLY by probing every term with
      decode-on-demand of just the covering docid blocks (shared
      block store — warm queries decode nothing);
    * unseen docs are bounded by T = Σ_t max(stream head, next
      unvisited unit's ub, tail floor), where the tail floor for a
      prefix-exhausted shard is the min score of its deepest chunk
      (every posting beyond the prefix scores ≤ the P-th impact by
      construction) — tightened from that chunk's ub once it decodes;
    * stop when the k-th best exact score beats T by _TA_SLACK: an
      unseen doc is dropped only when round(θ, 9) > round(T, 9), so
      the answer is rank-identical to brute.

    Cold cost: O(prefix-chunks touched + candidates·|Q|) decoded
    blocks, independent of head-term df. Degenerate corpora whose
    prefixes never separate (uniform scores; ``handoff = {"why":
    "ta_stalled"}``), and ≥3-term sweeps that flood (``_TA_FLOOD_*``;
    ``{"why": "ta_flood"}``), go to the brute exit
    (``_topk_brute_exit``) — one decode of everything.
    """
    zero = (np.empty(0, dtype=np.int64), np.empty(0))
    terms = sorted(tb)
    if not terms:
        return zero
    n_pref = 0
    n_reg = n_base

    units = {}
    for t in terms:
        d = tb[t]
        st = store[t]
        st.setdefault("iseg", {})
        # CUMULATIVE per-term TA state, memoized across calls on the
        # persistent block store (the serving tier's warm-query lever:
        # a repeat query re-consumes the memoized score-desc stream
        # with a fresh pointer — zero decodes, zero merges):
        #   d/s  — all folded units' postings, (score desc, docid asc)
        #   ld/ls — same postings docid-sorted (the NRA exact lookup)
        #   n    — units folded so far (folding follows the static
        #          desc-ub unit order, so n IS the resume pointer)
        #   floors — per-shard tail floor once its deepest chunk folds
        ist = st.setdefault("istream", {
            "d": np.empty(0, dtype=np.int64), "s": np.empty(0),
            "ld": np.empty(0, dtype=np.int64), "ls": np.empty(0),
            "n": 0, "floors": {}, "ld_np": 0})
        # refresh the exact-lookup with EVERYTHING decoded so far
        # (folded chunks + probe/sweep-decoded blocks): a warm repeat
        # then resolves every candidate from ld — zero random access.
        # Duplicate postings (a chunk's posting also in its covering
        # block) are harmless: identical (docid, score), and
        # searchsorted only needs one. Bound validity is unaffected —
        # more founds only replace a ≤-bound with the exact value.
        if ist["ld_np"] != st["np"] and (st["iseg"] or st["seg"]):
            parts = ([st["iseg"][c] for c in sorted(st["iseg"])]
                     + [st["seg"][o] for o in sorted(st["seg"])])
            ld = np.concatenate([p[0] for p in parts])
            ls = np.concatenate([p[1] for p in parts])
            dk = np.argsort(ld, kind="stable")
            ist["ld"], ist["ls"] = ld[dk], ls[dk]
            ist["ld_np"] = st["np"]
        # snapshot of regular blocks whose postings are ALL in ld (the
        # pre-call decode set): a candidate covered by such a block and
        # NOT found in ld is provably absent from this term — no probe.
        # Blocks decoded later in THIS call are deliberately excluded
        # (their postings enter ld only at the next call's resync).
        segmask = np.zeros(d["ub"].size, dtype=bool)
        if st["seg"]:
            segmask[np.fromiter(st["seg"].keys(), dtype=np.int64,
                                count=len(st["seg"]))] = True
        iub = d.get("iub")
        if iub is None:
            iub = np.empty(0)
        ish = d.get("ishard", np.empty(0, dtype=np.int64))
        ind = d.get("ind", np.empty(0, dtype=np.int64))
        ps = np.unique(ish)
        short_ords = np.flatnonzero(~np.isin(d["bshard"], ps))
        u_ub = np.concatenate([iub, d["ub"][short_ords]])
        u_pref = np.concatenate([np.ones(iub.size, dtype=bool),
                                 np.zeros(short_ords.size, dtype=bool)])
        u_ref = np.concatenate([np.arange(iub.size, dtype=np.int64),
                                short_ords.astype(np.int64)])
        order = np.argsort(-u_ub, kind="stable")
        # per prefix shard: deepest chunk + whether a tail exists
        # beyond the prefix (chunks are (shard, rank)-sorted, so the
        # last chunk index of a shard is its deepest)
        tails = {}
        for s in ps.tolist():
            sm = ish == s
            covered = int(ind[sm].sum())
            total_s = int(d["nd"][d["bshard"] == s].sum())
            deepest = int(np.flatnonzero(sm)[-1])
            open_ = covered < total_s
            ub0 = ist["floors"].get(int(s), float(iub[deepest])) if open_ \
                else 0.0
            tails[s] = {"deepest": deepest, "open": open_, "ub": ub0}
        # two-layer stream: "sd"/"ss" is the BASE (the memoized ist
        # arrays, sorted score desc / docid asc) consumed from "qb";
        # "d2"/"s2" is a small sorted DELTA holding postings folded
        # THIS call, consumed from "q2". Folds merge into the delta
        # only (one small lexsort); the delta compacts into the base
        # when it reaches a quarter of it, so the full-stream resort
        # the old per-flush merge paid on every round is amortized
        # geometric — O(n log n) total instead of O(rounds · n log n)
        # (the profiled quadratic-at-flush-granularity cost). The
        # docid-lookup arrays layer identically ("ld"+"ld2").
        units[t] = {"ub": u_ub, "pref": u_pref, "ref": u_ref,
                    "order": order, "p": int(ist["n"]), "tails": tails,
                    "ist": ist, "segmask": segmask,
                    "sd": ist["d"], "ss": ist["s"], "qb": 0,
                    "d2": np.empty(0, dtype=np.int64), "s2": np.empty(0),
                    "q2": 0,
                    "ld": ist["ld"], "ls": ist["ls"],
                    "ld2": np.empty(0, dtype=np.int64),
                    "ls2": np.empty(0),
                    "pending": [], "pend_np": 0, "pend_max": -np.inf}

    def _ta_probe(t, nf):
        """Exact contributions for the not-found-in-ld candidates of
        one term: candidates whose covering block was already decoded
        BEFORE this call are provably absent (ld is authoritative for
        the snapshot) — only the rest pay random access."""
        nonlocal n_reg
        d = tb[t]
        contrib = np.zeros(nf.size)
        hit = np.zeros(nf.size, dtype=bool)
        if not d["first"].size:
            return contrib, hit
        j = np.searchsorted(d["first"], nf, side="right") - 1
        jc = np.clip(j, 0, d["first"].size - 1)
        covered = (j >= 0) & (nf <= d["last"][jc])
        need = covered & ~units[t]["segmask"][jc]
        if need.any():
            st = store[t]
            n_reg += _ensure_blocks(d, st, jc[need], k1, b, avgdl)
            cd, cs = _seg_lookup(st, jc[need])
            pos = np.searchsorted(cd, nf[need])
            pos_c = np.minimum(pos, cd.size - 1)
            h = cd[pos_c] == nf[need]
            contrib[need] = np.where(h, cs[pos_c], 0.0)
            hit[need] = h
        return contrib, hit

    def _decode_unit(t: str, ui: int):
        """Fold unit ``ui`` of term t into the pending batch (merged
        into the delta layer at the round's flush). The delta pointer
        resets to 0 on merge: already-consumed docids regenerate as
        candidates and are dropped by ``scored`` dedup, and a stream
        head that points at a consumed posting only OVERestimates the
        unseen bound — conservative, never wrong."""
        nonlocal n_pref, n_reg
        u = units[t]
        d = tb[t]
        st = store[t]
        ist = u["ist"]
        if u["pref"][ui]:
            ci = int(u["ref"][ui])
            got = st["iseg"].get(ci)
            if got is None:
                dd, tf, dl = codec.decode_blocks_concat(
                    d["buf"], d["iso"][ci:ci + 1], d["ind"][ci:ci + 1])
                got = st["iseg"][ci] = (dd, _bm25_scores(d, tf, dl,
                                                         k1, b, avgdl))
                st["np"] += int(d["ind"][ci])
                n_pref += 1
            sh = int(d["ishard"][ci])
            tl = u["tails"].get(sh)
            if tl is not None and tl["deepest"] == ci and tl["open"]:
                # the P-th impact bounds everything beyond the prefix
                floor = float(got[1].min())
                tl["ub"] = min(tl["ub"], floor)
                ist["floors"][sh] = min(ist["floors"].get(sh, floor), floor)
        else:
            o = int(u["ref"][ui])
            n_reg += _ensure_blocks(d, st, np.asarray([o]), k1, b, avgdl)
            got = st["seg"][o]
        # defer the stream merge to _fold_flush: re-sorting the whole
        # accumulated stream per 128-posting chunk is quadratic over a
        # cold sweep; one resort per term per round is not
        u["pending"].append(got)
        u["pend_np"] += int(got[0].size)
        if got[1].size:
            u["pend_max"] = max(u["pend_max"], float(got[1].max()))
        ist["ld_np"] = -1   # probes may also have decoded: resync next call
        ist["n"] += 1

    def _fold_flush(t: str):
        """Merge every unit folded since the last flush into the
        DELTA layer (small lexsort + small docid resort), compacting
        delta into base geometrically. Consumed delta postings are
        kept and re-offered after a merge (q2 resets; ``scored``
        dedup drops them — the same semantics the old full-stream
        q=0 reset had), so the stream always contains every folded
        posting and the head bounds stay valid."""
        u = units[t]
        if not u["pending"]:
            return
        pd_ = np.concatenate([u["d2"]] + [g[0] for g in u["pending"]])
        ps_ = np.concatenate([u["s2"]] + [g[1] for g in u["pending"]])
        key = np.lexsort((pd_, -ps_))
        u["d2"], u["s2"], u["q2"] = pd_[key], ps_[key], 0
        ld = np.concatenate([u["ld2"]] + [g[0] for g in u["pending"]])
        ls = np.concatenate([u["ls2"]] + [g[1] for g in u["pending"]])
        dk = np.argsort(ld, kind="stable")
        u["ld2"], u["ls2"] = ld[dk], ls[dk]
        u["pending"], u["pend_np"], u["pend_max"] = [], 0, -np.inf
        if u["s2"].size > max(4096, u["ss"].size // 4):
            _compact(t)

    def _compact(t: str):
        """Fold the delta layers into the base (and into the memoized
        ist, which must hold ALL folded postings at call boundaries —
        the warm path re-consumes it with a fresh pointer)."""
        u = units[t]
        if not u["s2"].size:
            return
        ist = u["ist"]
        nd = np.concatenate([u["sd"], u["d2"]])
        ns = np.concatenate([u["ss"], u["s2"]])
        key = np.lexsort((nd, -ns))
        ist["d"], ist["s"] = nd[key], ns[key]
        u["sd"], u["ss"], u["qb"] = ist["d"], ist["s"], 0
        u["d2"], u["s2"], u["q2"] = np.empty(0, dtype=np.int64), \
            np.empty(0), 0
        ld = np.concatenate([u["ld"], u["ld2"]])
        ls = np.concatenate([u["ls"], u["ls2"]])
        dk = np.argsort(ld, kind="stable")
        # u-local only: ist["ld"] is rebuilt from the segment stores
        # at the next call's entry resync (ld_np bookkeeping)
        u["ld"], u["ls"] = ld[dk], ls[dk]
        u["ld2"], u["ls2"] = np.empty(0, dtype=np.int64), np.empty(0)

    def _finalize():
        """Call-exit invariant: ist holds every folded posting in one
        sorted run (ist["n"] is the fold resume pointer — a stream
        missing folded postings would underbound the term on the next
        call)."""
        for t in terms:
            u = units.get(t)
            if u is None:
                continue
            if u["pending"]:
                _fold_flush(t)
            _compact(t)

    def bound(t: str) -> float:
        u = units[t]
        head = float(u["ss"][u["qb"]]) if u["qb"] < u["ss"].size else 0.0
        if u["q2"] < u["s2"].size:
            head = max(head, float(u["s2"][u["q2"]]))
        if u["pending"]:    # postings folded but not yet flushed
            head = max(head, u["pend_max"])
        nxt = float(u["ub"][u["order"][u["p"]]]) if u["p"] < u["order"].size \
            else 0.0
        tail = max((x["ub"] for x in u["tails"].values()), default=0.0)
        return max(head, nxt, tail)

    got_d, got_s, got_m = [], [], []
    scored = np.empty(0, dtype=np.int64)
    n_ok, theta, batch = 0, -np.inf, 8
    # θ = max over two RUNNING k-best pools of per-doc lower bounds:
    # exact totals of probed docs, and PARTIAL sums (found-term
    # contributions) of candidates — actual ≥ partial, each doc
    # appears at most once per pool (candidates enter the partial
    # pool once; probes enter the exact pool once), and the k-th best
    # of either pool alone is a valid bar, so their max is too. In
    # the saturated regime the true winners sit in BOTH terms'
    # prefixes, so their partials push θ to near-final BEFORE any
    # random access — this is what keeps the probe flood bounded.
    pool_ex = np.empty(0)
    pool_pt = np.empty(0)

    def _add_pool(pool, vals):
        nonlocal theta
        if vals.size:
            pool = np.concatenate([pool, vals])
            if pool.size > k:
                pool = np.partition(pool, -k)[-k:]
        if pool.size >= k:
            theta = max(theta, float(pool.min()))
        return pool

    n_chunks = int(sum(tb[t]["iub"].size for t in terms
                       if tb[t].get("iub") is not None))

    def _brute_finish(why: str):
        """Hand off to the brute exit: flush the memoized streams
        (call-exit invariant), then decode and score everything.
        Rank-identical to continuing the sweep: brute computes complete
        exact totals for every doc, superseding the partial got_*
        pools. ``n_reg`` (the blocks decoded so far) is its base."""
        _finalize()
        if stats is not None:
            stats.update(prefix_ta=True, prefix_chunks_decoded=n_pref,
                         prefix_chunks_total=n_chunks,
                         cands_consumed=int(scored.size),
                         handoff={"why": why})
        return _topk_brute_exit(tb, k, msm_req, k1, b, avgdl, stats,
                                n_base=n_reg)

    while True:
        T = float(np.sum([bound(t) for t in terms]))
        if n_ok >= k and theta - T > _TA_SLACK:
            break
        # all-dense regime detector (≥3 terms): the NRA bound is not
        # separating — an unseen doc holding every term stays possible
        # until the lists exhaust — when EITHER the candidate flood
        # outgrows the threshold, OR the probe phase has already been
        # forced to decode a material share of all blocks (the probe
        # flood IS decode-everything, paid one candidate batch at a
        # time with per-round overhead on top). Both measured one
        # one-sided way: terminating query shapes on the 6.63M-doc
        # smoke stay under 37k candidates / 12% probe-decoded blocks;
        # flood shapes blow through both. The brute exit is then
        # strictly cheaper AND bounded: O(total postings), not
        # O(rounds · flood).
        if len(terms) >= 3 and (
                scored.size > _TA_FLOOD_CANDS
                or (blocks_total is not None
                    and n_reg - n_base > max(_TA_FLOOD_MIN_BLOCKS,
                                             int(blocks_total
                                                 * _TA_FLOOD_BLOCK_FRAC)))):
            return _brute_finish("ta_flood")
        cands = []
        progressed = False
        for t in terms:
            u = units[t]
            # keep the stream ahead of the unvisited units so
            # consumption approximates global impact order (the bound
            # stays valid either way; this only speeds convergence).
            # avail counts UNCONSUMED postings across base, delta and
            # pending; head is the max over the three layer heads.
            while u["p"] < u["order"].size:
                avail = (u["ss"].size - u["qb"]) \
                    + (u["s2"].size - u["q2"]) + u["pend_np"]
                head = -np.inf
                if u["qb"] < u["ss"].size:
                    head = float(u["ss"][u["qb"]])
                if u["q2"] < u["s2"].size:
                    head = max(head, float(u["s2"][u["q2"]]))
                if u["pending"]:
                    head = max(head, u["pend_max"])
                has_head = np.isfinite(head)
                if not (avail < batch
                        or (has_head
                            and u["ub"][u["order"][u["p"]]] >= head)):
                    break
                _decode_unit(t, int(u["order"][u["p"]]))
                u["p"] += 1
            _fold_flush(t)
            # take up to ``batch`` candidates from EACH layer head —
            # candidates are an unordered, scored-deduped set, so
            # over-offering across layers only speeds θ convergence;
            # the NRA prune drops the hopeless before any probe
            take = min(batch, u["ss"].size - u["qb"])
            if take > 0:
                cands.append(u["sd"][u["qb"]:u["qb"] + take])
                u["qb"] += take
                progressed = True
            t2 = min(batch, u["s2"].size - u["q2"])
            if t2 > 0:
                cands.append(u["d2"][u["q2"]:u["q2"] + t2])
                u["q2"] += t2
                progressed = True
        if not progressed:
            if T <= 0.0:
                break
            # prefixes exhausted without separation (degenerate
            # uniform corpus): decode-all is unavoidable here, so
            # finish with the brute exit
            return _brute_finish("ta_stalled")
        batch = min(batch * 2, 4096)
        if not cands:
            continue
        cand = _drop_scored(np.unique(np.concatenate(cands)), scored)
        if cand.size == 0:
            continue
        # NRA prune before any random access (Fagin's NRA upper
        # bounds): exact contributions are FREE for postings already
        # decoded (ld lookup); a term where the candidate was not
        # found can contribute at most max(next unvisited unit ub,
        # tail floor). Candidates whose optimistic total provably
        # cannot reach θ are dropped without touching the docid
        # blocks — in the tf-saturated regime (scores nearly flat)
        # this is almost every single-term candidate, which is what
        # keeps the probe cost O(contenders), not O(consumed).
        exact_c = {}
        found_c = {}
        opt = np.zeros(cand.size)
        partial = np.zeros(cand.size)
        matched_f = np.zeros(cand.size, dtype=np.int32)
        for t in terms:
            u = units[t]
            hit = np.zeros(cand.size, dtype=bool)
            ex = np.zeros(cand.size)
            for la, ls_ in ((u["ld"], u["ls"]), (u["ld2"], u["ls2"])):
                if not la.size:
                    continue
                pos = np.searchsorted(la, cand)
                pos_c = np.minimum(pos, la.size - 1)
                h = la[pos_c] == cand
                ex = np.where(h, ls_[pos_c], ex)
                hit |= h
            exact_c[t], found_c[t] = ex, hit
            partial += ex
            matched_f += hit.astype(np.int32)
            nxt = float(u["ub"][u["order"][u["p"]]]) \
                if u["p"] < u["order"].size else 0.0
            tail = max((x["ub"] for x in u["tails"].values()), default=0.0)
            bnf = max(nxt, tail)
            opt += np.where(hit, ex, bnf)
        scored = np.union1d(scored, cand)   # pruned stay pruned: θ only grows

        # partials of THIS round's candidates immediately tighten θ.
        # msm: a candidate's found-term count UNDERcounts its true
        # matches, so found-qualified ⇒ qualified (monotone).
        pool_pt = _add_pool(pool_pt, partial[matched_f >= msm_req]
                            if msm_req else partial)

        # probe contenders in DESCENDING optimistic-bound order, in
        # small chunks with θ refreshed between chunks: the strongest
        # contenders (co-occurring docs) establish θ after ~k probes,
        # after which one fully-pruned chunk ends the round — probe
        # cost tracks the number of true contenders, not consumption
        pos_order = np.lexsort((cand, -opt))
        chunkp = max(k, 16)
        i = 0
        while i < pos_order.size:
            idxs = pos_order[i:i + chunkp]
            i += chunkp
            chunkp = min(chunkp * 2, 2048)
            if np.isfinite(theta):
                live_i = idxs[theta - opt[idxs] <= _TA_SLACK]
                if live_i.size == 0:
                    break   # opt-desc order: everything after is pruned too
                idxs = live_i
            idxs = idxs[np.argsort(cand[idxs])]   # probe wants docid order
            keep = cand[idxs]
            total = np.zeros(keep.size)
            matched = np.zeros(keep.size, dtype=np.int32)
            for t in terms:   # sorted accumulation order — determinism rule
                f = found_c[t][idxs]
                contrib = np.where(f, exact_c[t][idxs], 0.0)
                hit = f.copy()
                nf = keep[~f]
                if nf.size:
                    # random access only for the not-found terms of
                    # surviving contenders — decode just the covering
                    # blocks; found terms already carry exact scores
                    c2, h2 = _ta_probe(t, nf)
                    contrib[~f] = c2
                    hit[~f] = h2
                total += contrib
                matched += hit.astype(np.int32)
            got_d.append(keep)
            got_s.append(total)
            got_m.append(matched)
            n_ok += int((matched >= msm_req).sum()) if msm_req else keep.size
            pool_ex = _add_pool(pool_ex, total[matched >= msm_req]
                                if msm_req else total)

    _finalize()
    if stats is not None:
        stats["cands_consumed"] = int(scored.size)
        stats["prefix_ta"] = True
        stats["finisher"] = "prefix_ta"
        stats["prefix_chunks_decoded"] = n_pref
        stats["prefix_chunks_total"] = n_chunks
        stats["blocks_decoded"] = n_reg
        if blocks_total is not None:
            stats["blocks_total"] = blocks_total
        stats["dense_bailout"] = False

    return _pools_topk(got_d, got_s, got_m, k, msm_req)


def _drop_scored(cand: np.ndarray, scored: np.ndarray) -> np.ndarray:
    """Remove already-scored docids (both arrays sorted unique)."""
    if not scored.size or not cand.size:
        return cand
    p = np.searchsorted(scored, cand)
    pc = np.minimum(p, scored.size - 1)
    return cand[scored[pc] != cand]


def _topk_brute(terms: dict, k: int, msm_req: int):
    """Exhaustive top-k over fully decoded term arrays ({docids,
    scores} per term, plus any MSM marks): every candidate gets its
    exact Σ per-list contributions and the MSM groups it hits
    (`_group_of`) — the oracle every pruning finisher must match.
    Lists are summed in sorted-term order, probe-only lists last (the
    determinism rule: float addition is not associative); a
    probe-only list adds score only to docs a generating list holds.

    Two accumulations, one answer. When the generating lists' docid
    span is at most 4 × their postings, every list is scatter-added
    into a span-sized array: a docid occurs once per list, so the
    scatter is exact placement, and a doc's totals see the same
    additions in the same order as below (an absent list adds
    nothing; adding 0.0 is an IEEE identity), so scores are
    float-bit-identical. MSM groups are counted the same way, and the
    k-th largest total is taken on the span array BEFORE candidates
    are extracted: only docs within ``_TA_SLACK`` of it reach
    ``_pinned_topk`` (threshold-first selection, *Cache-Efficient
    Top-k Aggregation*, VLDB'23). A sparser span (rare terms over a
    large docid range) takes its candidates from ``np.unique`` and
    looks each list up with ``searchsorted``."""
    names = sorted(t for t in terms if not terms[t].get("probe_only"))
    probes = sorted(t for t in terms if terms[t].get("probe_only"))
    gen = [terms[t]["docids"] for t in names if terms[t]["docids"].size]
    if not gen or k <= 0:
        return np.empty(0, dtype=np.int64), np.empty(0)
    lo = min(int(d[0]) for d in gen)
    span = max(int(d[-1]) for d in gen) - lo + 1
    if span <= 4 * sum(d.size for d in gen):
        tot = np.zeros(span)
        for t in names:
            tot[terms[t]["docids"] - lo] += terms[t]["scores"]
        held = tot > 0.0 if probes else None   # BM25 scores are > 0
        for t in probes:
            d, s = terms[t]["docids"], terms[t]["scores"]
            i, j = np.searchsorted(d, (lo, lo + span))
            d, s = d[i:j] - lo, s[i:j]
            m = held[d]
            tot[d[m]] += s[m]
        if msm_req:
            groups: dict = {}
            for t in names:
                g = _group_of(t, terms[t])
                if g is not None:
                    groups.setdefault(g, []).append(terms[t]["docids"])
            cnt = np.zeros(span, dtype=np.int32)
            for ds in groups.values():
                cnt[(ds[0] if len(ds) == 1
                     else np.unique(np.concatenate(ds))) - lo] += 1
            tot[cnt < msm_req] = 0.0
        # the k-th largest total, with a _TA_SLACK margin, bounds every
        # doc that can still win a rounded-score tie; at or below the
        # slack (fewer than k eligible docs) every eligible doc is kept
        kq = min(k, span)
        thr = float(np.partition(tot, span - kq)[span - kq])
        live = np.flatnonzero(tot >= thr - _TA_SLACK if thr > _TA_SLACK
                              else tot > 0.0)
        return _pinned_topk(live + lo, tot[live], k)
    cand = np.unique(np.concatenate(gen))
    names += probes
    total = np.zeros(cand.size)
    hits: dict = {}
    for t in names:
        td = terms[t]
        pos = np.minimum(np.searchsorted(td["docids"], cand),
                         td["docids"].size - 1)
        hit = td["docids"][pos] == cand
        total += np.where(hit, td["scores"][pos], 0.0)
        g = _group_of(t, td)
        if g is not None:
            hits[g] = hits[g] | hit if g in hits else hit
    if msm_req:
        matched = sum(hits.values(), np.zeros(cand.size, dtype=np.int32))
        ok = matched >= msm_req
        cand, total = cand[ok], total[ok]
    return _pinned_topk(cand, total, k)


#: the lazy sweep's per-list floor, in postings. With ``use_wand``, a
#: query whose lists hold at most n_lists × _LAZY_FLOOR postings (Σ df
#: over regular blocks) is answered by brute: below it one bulk decode
#: and score pass costs less than the sweep's per-wave bound
#: bookkeeping (``compute_prio``, range-max tables, per-key probes).
#: Kernel-only ``_topk_query`` ms, k=10, min of 9 interleaved runs on a
#: 4-core VM, over a 200k-doc saturated corpus (5 head terms at doc
#: rates .55/.35/.25/.15/.08 with tf 1-3, 8-40 zipf(1.2) filler words
#: per doc over 5k words, default IndexParams); cold = fresh block
#: tables, warm = the same call repeated:
#:
#:   lists  postings   lazy cold/warm   brute cold/warm
#:     1       6,075     1.23 / 0.53      0.79 / 0.29
#:     1      10,939     1.13 / 0.76      1.02 / 0.50
#:     1      12,436     1.40 / 0.65      1.08 / 0.52
#:     1      14,588     1.24 / 0.67      1.34 / 0.68
#:     1      15,600     1.31 / 0.65      1.29 / 0.65
#:     1      16,277     1.04 / 0.48      1.39 / 0.73
#:     1      20,010     1.36 / 0.71      1.64 / 0.94
#:     1      30,402     1.32 / 0.69      2.36 / 1.39
#:     1      42,547     1.38 / 0.73      3.50 / 2.05
#:     2      13,834    15.88 / 4.05      2.27 / 1.20
#:     2      31,739    24.21 / 5.19      4.51 / 2.72
#:     2      48,322    18.34 / 4.54      7.75 / 4.93
#:     2      72,949    13.21 / 3.36      8.71 / 6.26
#:
#: Single terms cross at ~15-16k postings; two-term queries cross
#: later (warm ~45k), so the single-term crossover is the floor.
_LAZY_FLOOR = 16384


def _topk_query(tb: dict, k: int, msm_req: int, k1: float, b: float,
                avgdl: float, use_wand: bool, stats: dict | None = None,
                store: dict | None = None):
    """THE top-k entry: every Spark kernel and both serving tiers,
    fielded included, call it, so ``use_wand`` means one thing
    everywhere. The fielded rules ride on the tb entries, not on
    parameters: ``w``, ``avgdl`` and boosted bounds per key, and the
    cross-field MSM ``group`` / ``probe_only`` marks (`_group_of`)
    that every finisher reads.

    The finisher is chosen once, up front, from what the input shows:
    brute (``_topk_brute_exit``) when the lists hold at most
    ``len(tb) × _LAZY_FLOOR`` postings, else the lazy block-max kernel
    (decoded blocks land in ``store`` when given), which may still
    hand off (``stats["handoff"]`` says why). Without ``use_wand`` it
    is always brute — the oracle. ``stats`` gets ``reason`` (the two
    figures the choice compared) and ``finisher``, the path that
    produced the answer: ``brute`` (also when the sweep or the prefix
    TA handed off to the brute exit), ``lazy`` (the sweep ran to the
    end) or ``prefix_ta`` (the sweep handed off to
    ``_topk_impact_prefix``, which ran to its stop)."""
    postings = sum(int(m["nd"].sum()) for m in tb.values())
    lazy_floor = len(tb) * _LAZY_FLOOR
    if stats is not None:
        stats["reason"] = {"postings": postings, "lazy_floor": lazy_floor}
    if use_wand and postings > lazy_floor:
        return _topk_blockmax_lazy(tb, k, msm_req, k1, b, avgdl,
                                   stats=stats, store=store)
    return _topk_brute_exit(tb, k, msm_req, k1, b, avgdl, stats)


def _topk_brute_exit(tb: dict, k: int, msm_req: int, k1: float, b: float,
                     avgdl: float, stats: dict | None, n_base: int = 0):
    """The brute finisher over raw block tables: decode every block
    (memoized on the tb entries as ``dense``) and score exhaustively
    with ``_topk_brute``. ``blocks_decoded`` counts the blocks without
    a resident ``dense`` memo plus ``n_base``, the blocks a lazy sweep
    (and a prefix TA after it) decoded before handing off here."""
    if stats is not None:
        cold = sum(m["ub"].size for m in tb.values() if m.get("dense") is None)
        stats.update(blocks_decoded=n_base + cold,
                     blocks_total=sum(m["ub"].size for m in tb.values()),
                     dense_bailout=True, finisher="brute")
    return _topk_brute(_dense_arrays_from_tb(tb, k1, b, avgdl), k, msm_req)


def bm25_topk_batch(reader: IndexReader, queries: list[tuple[str, str]],
                    k: int = 10, use_wand: bool = True,
                    min_should_match: bool = False,
                    offset: int = 0) -> DataFrame:
    """Answer MANY queries in ONE Spark job → (qid, docid, score).

    The analytics flavor of the query engine (replay a whole query log
    against a snapshot): one pruned postings scan for the UNION of all
    query terms, each shard's block tables built ONCE and every block
    decoded at most once for all its queries (one shared store), then
    a per-qid window rank for the global top-k. At 10^12-doc scale this is the right shape —
    per-query jobs would re-pay scan+schedule costs N times. Each
    query runs ``_topk_query`` — the same kernel, with the same
    ``use_wand`` meaning, as ``bm25_topk_indexed`` and the serving tier.
    """
    spark = reader.spark
    out_schema = "qid string, docid long, score double"
    if len({qid for qid, _ in queries}) != len(queries):
        raise ValueError("duplicate qids in batch")
    analyzed = {qid: sorted(set(analyze_query(reader.man, q)))
                for qid, q in queries}
    all_terms = sorted({t for ts in analyzed.values() for t in ts})
    empty = spark.createDataFrame([], out_schema)
    if not all_terms:
        return empty
    dfs = reader.stats_for(all_terms)
    live = sorted(t for t in all_terms if t in dfs)
    if not live:
        return empty
    n_docs, avgdl = reader.man.n_docs, reader.man.avgdl
    k1, b = reader.man.params["k1"], reader.man.params["b"]
    idf = {t: bm25.idf(n_docs, dfs[t]) for t in live}
    reqs = {qid: (bm25.msm_required(len(ts)) if min_should_match else 0)
            for qid, ts in analyzed.items()}

    bks = reader.buckets_of(live)
    blocks = (reader.postings
              .where(F.col("bucket").isin(bks) & F.col("term").isin(live))
              .select(*_POSTING_COLS))

    kk = k + max(0, offset)

    def _score_shard_batch(tbl):
        import pyarrow as pa
        # one block table and one decoded-block store per shard task:
        # every query of the log reads the same blocks, so a block any
        # query decodes is decoded once for the whole batch
        tb, store = _term_block_meta(tbl, idf), {}
        qids, docs_out, scores_out = [], [], []
        for qid, ts in analyzed.items():
            sub = {t: tb[t] for t in ts if t in tb}
            if not sub:
                continue
            d, s = _topk_query(sub, kk, reqs[qid], k1, b, avgdl, use_wand,
                               store=store)
            qids.extend([qid] * d.size)
            docs_out.append(d)
            scores_out.append(s)
        res = _topk_table(np.concatenate(docs_out or [np.empty(0, np.int64)]),
                          np.concatenate(scores_out or [np.empty(0)]))
        return res.add_column(0, "qid", pa.array(qids, pa.string()))

    per_shard = blocks.groupBy("shard").applyInArrow(
        _score_shard_batch, schema=out_schema)

    w = Window.partitionBy("qid").orderBy(
        F.round(F.col("score"), 9).desc(), F.asc("docid"))
    return (per_shard.withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") > offset) & (F.col("__rn") <= offset + k))
            .drop("__rn"))
