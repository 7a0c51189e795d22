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
        self._df_memo: dict[str, int] = {}
        ensure_shipped(spark)

    def buckets_of(self, terms: list[str]) -> list[int]:
        # driver-side Spark-compatible murmur3 — no job per query
        from .hashing import term_bucket
        return sorted({term_bucket(t, self.n_buckets) for t in terms})

    def stats_for(self, terms: list[str]) -> dict[str, int]:
        return _memo_dfs(self._stats_files, self._df_memo, terms)


def _memo_dfs(files: TermFiles, memo: dict, terms: list[str]) -> dict[str, int]:
    """{term: df} of the ``terms`` a ``term_stats`` table holds, each
    df memoized in ``memo``: a miss is one driver-side pruned read
    (`index.TermFiles`), no Spark job; an absent term memoizes 0."""
    missing = [t for t in terms if t not in memo]
    if missing:
        tbl = files.read(missing, ["term", "df"])
        found = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
        for t in missing:
            memo[t] = int(found.get(t, 0))
    return {t: memo[t] for t in terms if memo[t] > 0}


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
    serving tier share one decode path (`_decode_blocks`, into a memo
    on each block table) and one kernel entry and so choose the same
    finisher for the same lists. ``use_wand=False``
    always runs ``_topk_brute`` — the oracle the rank-identity gates
    compare against.
    """
    return _topk_query(_term_block_meta(tbl, idf), k, msm_req, k1, b,
                       avgdl, use_wand, stats=stats)


def _term_block_meta(tbl, idf) -> dict:
    """Group a postings Arrow table (``_POSTING_COLS``; ``shard`` may
    be absent) into per-term RAW block tables — no decode. ``idf`` is a
    {term: weight} dict, or a callable of the term's df = Σ n_docs of
    its blocks. The same code serves one shard (the Spark kernels'
    applyInArrow input, which arrives unsorted) or the whole index (the
    serving tiers' pruned read).

    One numpy pass: the term column is dictionary-encoded, one
    ``lexsort`` over (term, shard, block_id) orders the rows, and
    ``codec.parse_blk`` reads every row's ``blk`` header in one
    gather. So each term's block ordinals are docid-ordered and
    disjoint (shard ranges partition the docid space in shard order).
    Every entry's arrays are slices of the read's arrays; its block
    bytes stay in the Arrow values buffer (``buf``) with per-block
    stream offsets (``so``, see ``codec.parse_blk``), so blocks that
    are never decoded are never copied."""
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
    keys = [tbl.column("block_id").to_numpy()]
    if "shard" in tbl.column_names:
        keys.append(tbl.column("shard").to_numpy())
    order = np.lexsort((*keys, code))
    code = code[order]
    buf, offsets = codec.blk_buffers(tbl.column("blk"))
    hdr, so = codec.parse_blk(buf, offsets[:-1][order], offsets[1:][order])
    first = hdr["first_docid"].astype(np.int64)
    last = hdr["last_docid"].astype(np.int64)
    nd = hdr["n_docs"].astype(np.int64)
    ub = hdr["max_score_ub"].astype(np.float64)
    starts = np.flatnonzero(np.concatenate([[True], code[1:] != code[:-1]]))
    ends = np.append(starts[1:], n)
    dfs = np.add.reduceat(nd, starts).tolist()

    out = {}
    for si, ei, df in zip(starts.tolist(), ends.tolist(), dfs):
        term = names[code[si]]
        out[term] = {
            "first": first[si:ei], "last": last[si:ei],
            "nd": nd[si:ei], "ub": ub[si:ei],
            "buf": buf, "so": so[si:ei],
            "w": idf(df) if callable(idf) else idf[term],
            # total postings across blocks — _memo_postings charges the
            # RAW compressed table against the term-cache budget with
            # this (≈2-4 B/posting varint vs 16 B/posting decoded)
            "nd_total": df,
        }
    return out


def _memo_postings(meta: dict) -> int:
    """Posting-equivalent memory of one term's block table ``meta``
    (the cost `serve.TermCache` budgets), summed from the LIVE arrays:
    the decoded memo's allocated postings (`_decode_blocks`) and the
    raw compressed table at ~1/4 posting-equivalent — otherwise a
    skip-heavy head term parks its FULL compressed list at zero cost
    and a long-running tier grows without bound. The +1 per entry
    bounds the empty entries of terms the index lacks."""
    n = meta["docids"].size if "docids" in meta else 0
    return 1 + n + meta.get("nd_total", 0) // 4


def _scores_bulk(d: dict, tf: np.ndarray, dl: np.ndarray,
                 k1: float, b: float, avgdl: float) -> np.ndarray:
    """BM25 contributions for one term's decoded postings (w = idf or
    idf×boost pinned on the tb entry; per-key avgdl override honored).
    When a large decode's (tf, dl) pack into 32 bits, factorize the
    pairs and evaluate the formula once per DISTINCT pair, then gather
    — tf-norm has few distinct values (tf and dl are small ints), so
    millions of float64 formula passes collapse to a lookup. Float
    results are bit-identical either way: the same expression runs on
    the same float64 inputs, just once per distinct pair."""
    ad = max(d.get("avgdl", avgdl), 1e-9)
    if tf.size > (1 << 16) and tf.dtype.itemsize <= 2 \
            and (dl.size == 0 or int(dl.max()) < (1 << 16)):
        import pandas as pd
        key = tf.astype(np.uint32) << np.uint32(16)
        key |= dl.astype(np.uint32)
        inv, uniq = pd.factorize(key)
        utf = (uniq >> np.uint32(16)).astype(np.float64)
        udl = (uniq & np.uint32(0xFFFF)).astype(np.float64)
        return (d["w"] * utf * (k1 + 1.0) / (
            utf + k1 * (1.0 - b + b * udl / ad)))[inv]
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return d["w"] * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / ad))


def _decode_blocks(pairs, k1: float, b: float, avgdl: float) -> int:
    """Decode into each tb entry's memo the blocks of (entry, block
    ordinals) ``pairs`` that are not decoded yet (ordinals None: every
    block). THE decode path of both finishers: the lazy sweep asks for
    the blocks it visits or probes, brute (`_dense_arrays_from_tb`)
    for the rest. Returns the number of blocks newly decoded.

    The memo is df-length ``docids`` / ``scores`` arrays placed by
    block (block ``b`` starts at ``off[b]`` = Σ n_docs of the blocks
    before it) plus a per-block ``done`` mark, so a block is decoded
    at most once whichever finisher asks, and a fully decoded memo is
    the docid-sorted list brute reads. The blocks to decode go through
    one ``codec.decode_blocks_concat`` call per values buffer they
    live in (one for a query whose terms came from one read), compact
    dtypes, scored per entry with its own ``w`` and ``avgdl`` (one
    `_scores_bulk`). An entry decoded whole in one call keeps the
    decode output (a lone entry without a copy; entries sharing the
    call copy their slice, so evicting one term frees its postings).
    Otherwise the new blocks are written into arrays of the whole
    list's length."""
    todo: dict = {}
    for d, ords in pairs:
        done, kept = d.get("done"), None
        if ords is None:
            ords = (np.arange(d["nd"].size) if done is None
                    else np.flatnonzero(~done))
        else:
            ords = np.unique(ords)
            if done is not None:
                ords = ords[~done[ords]]
        if not ords.size:
            continue
        if done is not None and 4 * ords.size > done.size:
            # filling most of a partly decoded list (a hand-off's brute
            # exit): set its decoded rows aside and free its arrays
            # before the decode, whose temporaries then reuse that
            # memory instead of faulting in fresh pages (on the table
            # of test_lazy_kernel_flat_bounds_bail_to_dense, default
            # malloc settings, lazy → brute ran 0.86-1.15× of brute
            # alone over 16 processes, 0.95-1.40× without)
            keep = np.repeat(done, d["nd"])
            kept = (keep, d.pop("docids")[keep], d.pop("scores")[keep])
        todo.setdefault(id(d["buf"]), []).append((d, ords, kept))
    n_new = 0
    for parts in todo.values():
        dd, tf, dl = codec.decode_blocks_concat(
            parts[0][0]["buf"],
            np.concatenate([d["so"][o] for d, o, _ in parts]),
            np.concatenate([d["nd"][o] for d, o, _ in parts]), compact=True)
        pos = 0
        for d, ords, kept in parts:
            nd = d["nd"]
            sl = slice(pos, pos + int(nd[ords].sum()))
            pos = sl.stop
            sc = _scores_bulk(d, tf[sl], dl[sl], k1, b, avgdl)
            whole = "done" not in d and ords.size == nd.size
            if "done" not in d:
                d["off"] = np.cumsum(nd) - nd
                d["done"] = np.zeros(nd.size, dtype=bool)
            if whole:   # decoded whole in this call: keep the output
                d["docids"] = dd[sl] if len(parts) == 1 else dd[sl].copy()
                d["scores"] = sc
            else:
                if "docids" not in d:   # first partial decode, or set aside
                    d["docids"] = np.empty(d["nd_total"], dtype=np.int64)
                    d["scores"] = np.empty(d["nd_total"])
                    if kept is not None:
                        d["docids"][kept[0]] = kept[1]
                        d["scores"][kept[0]] = kept[2]
                rows = _block_rows(d, ords)
                d["docids"][rows] = dd[sl]
                d["scores"][rows] = sc
            d["done"][ords] = True
            n_new += ords.size
    return n_new


def _block_rows(d: dict, ords: np.ndarray) -> np.ndarray:
    """Index into ``d``'s memo arrays of the postings of the sorted
    unique block ordinals ``ords``, in docid order (block ordinal
    order is docid order: disjoint ranges). A row mask when ``ords``
    holds over a quarter of the blocks — a masked copy is ~5× cheaper
    per row than an integer gather or scatter, and the mask costs one
    byte per posting of the list — else row positions."""
    nd = d["nd"]
    if 4 * ords.size > nd.size:
        sel = np.zeros(nd.size, dtype=bool)
        sel[ords] = True
        return np.repeat(sel, nd)
    n = nd[ords]
    return (np.repeat(d["off"][ords] - (np.cumsum(n) - n), n)
            + np.arange(int(n.sum())))


def _covering(d: dict, cand: np.ndarray) -> np.ndarray:
    """Sorted unique block ordinals of one key that cover a docid of
    sorted ``cand``."""
    j = np.searchsorted(d["first"], cand, side="right") - 1
    jc = np.clip(j, 0, d["first"].size - 1)
    return np.unique(jc[(j >= 0) & (cand <= d["last"][jc])])


def _probe_term(d: dict, ords: np.ndarray, cand: np.ndarray):
    """Exact contributions of one key for sorted unique ``cand``,
    searching only its DECODED covering blocks ``ords`` (`_covering`).
    Returns (contrib, hit)."""
    if not ords.size:
        return np.zeros(cand.size), np.zeros(cand.size, dtype=bool)
    rows = _block_rows(d, ords)
    cd, cs = d["docids"][rows], d["scores"][rows]
    pos = np.minimum(np.searchsorted(cd, cand), cd.size - 1)
    hit = cd[pos] == cand
    return np.where(hit, cs[pos], 0.0), hit


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


def _group_of(key, entry: dict):
    """The MSM group a tb entry (or its decoded arrays) counts toward:
    its ``group`` mark, else the key itself — one group per list, the
    single-field rule. A None group scores but never qualifies (fielded
    shingle keys), and so does a ``probe_only`` entry, which adds score
    to candidates but never generates them (the fielded tld key)."""
    return None if entry.get("probe_only") else entry.get("group", key)


def _dense_arrays_from_tb(tb: dict, k1: float, b: float,
                          avgdl: float) -> dict:
    """Brute's input: decode every block the tb entries' memos still
    lack (`_decode_blocks`) and return ``tb``, each entry then holding
    its whole list as docid-sorted ``docids`` / ``scores`` beside its
    MSM marks — the shape `_topk_brute` reads. A lazy sweep's hand-off
    so decodes only the blocks the sweep did not, and a resident memo
    (a serving-tier term cache, the batch path's per-shard tables)
    decodes nothing. Compact decode + per-distinct-(tf, dl) scoring
    keep this pass memory-bandwidth-lean — it is the brute finisher's
    main cost at millions of postings."""
    _decode_blocks([(m, None) for m in tb.values()], k1, b, avgdl)
    return tb


def _topk_blockmax_lazy(tb: dict, k: int, msm_req: int,
                        k1: float, b: float, avgdl: float,
                        stats: dict | None = None):
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
    blocks). Either hand-off goes to the brute exit ``_topk_query``
    uses (``_topk_brute_exit``), which decodes only the blocks the
    sweep did not. Flat-bound queries thus pay at most one wave of
    bookkeeping.

    Generalizations for the serving tiers and the fielded tb:

    * decoded blocks land in the tb entries' memos (`_decode_blocks`),
      so a caller that keeps tb across queries (the serving tiers'
      term cache, the batch path's per-shard tables) decodes each
      block once: warm queries decode nothing. The caller owns
      eviction.
    * MSM counts the DISTINCT groups hit (`_group_of`): every key is
      its own group unless its tb entry carries a ``group`` mark (the
      fielded cross_fields rule); a ``probe_only`` entry contributes
      score and bound but never generates candidates (the reference's
      non-qualifying tld should-clause); ``_topk_brute`` reads the
      same marks, so a hand-off keeps the rule.
    * per-key ``avgdl`` in a tb entry overrides the global (fielded
      sub-indexes each carry their own).
    """
    zero = (np.empty(0, dtype=np.int64), np.empty(0))
    if stats is not None:   # a hand-off below overwrites them
        stats.update(finisher="lazy", blocks_decoded=0,
                     blocks_total=sum(m["ub"].size for m in tb.values()))
    grp_of = {t: _group_of(t, m) for t, m in tb.items()}
    terms = sorted(t for t in tb if not tb[t].get("probe_only"))
    extras = sorted(t for t in tb if tb[t].get("probe_only"))
    keys_all = terms + extras
    if not terms or k <= 0:     # θ is the k-th best: nothing to sweep for
        return zero
    nt = len(terms)
    n_keys = len(keys_all)
    dfs_of = np.array([int(tb[t]["nd"].sum()) for t in terms])
    blocks_of = np.array([tb[t]["ub"].size for t in terms])
    offsets = np.concatenate([[0], np.cumsum(blocks_of)])

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
        out = _topk_brute_exit(tb, k, msm_req, k1, b, avgdl, stats)
        if stats is not None:
            stats["handoff"] = handoff
            stats["blocks_decoded"] += n_decoded
        return out

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
        visit = [(ti, b_ord[take[b_term[take] == ti]])
                 for ti in np.unique(b_term[take])]
        n_decoded += _decode_blocks([(tb[terms[ti]], ords)
                                     for ti, ords in visit], k1, b, avgdl)
        cands = []
        for ti, ords in visit:
            d = tb[terms[ti]]
            cands.append(d["docids"][_block_rows(d, ords)])
            ub_live[ti][ords] = 0.0   # visited: all docs scored
            _dirty[ti] = True         # bound tables stale for this key
            n_left[ti] -= ords.size
            if n_left[ti] == 0:
                exhausted[ti] = True
        cand = _drop_scored(np.unique(np.concatenate(cands)), scored)
        batch = min(batch * 2, 512)
        if cand.size == 0:
            continue
        # exact scores: decode every key's blocks that cover a
        # candidate, then search only those
        cover = [(tb[t], _covering(tb[t], cand)) for t in keys_all]
        n_decoded += _decode_blocks(cover, k1, b, avgdl)
        total = np.zeros(cand.size)
        gm: dict = {}
        for t, (d, ords) in zip(keys_all, cover):   # fixed sum order
            contrib, hit = _probe_term(d, ords, cand)
            total += contrib
            g = grp_of[t]
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

    return _pools_topk(got_d, got_s, got_m, k, msm_req)


#: pool margin of brute's span branch: a doc whose total T is below the
#: k-th largest θ by more than 2·0.5e-9 has round(T, 9) STRICTLY below
#: round(θ, 9), so it cannot enter the top-k even on a rounded-score
#: tie + docid tie-break, and is left out of the pool.
_TA_SLACK = 2e-9


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
#: query whose lists hold at most n_lists × _LAZY_FLOOR postings (Σ df)
#: is answered by brute: below it one bulk decode and score pass costs
#: less than the sweep's per-wave bound bookkeeping (``compute_prio``,
#: range-max tables, per-key probes).
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
                avgdl: float, use_wand: bool, stats: dict | None = None):
    """THE top-k entry: every Spark kernel and both serving tiers,
    fielded included, call it, so ``use_wand`` means one thing
    everywhere. The fielded rules ride on the tb entries, not on
    parameters: ``w``, ``avgdl`` and boosted bounds per key, and the
    cross-field MSM ``group`` / ``probe_only`` marks (`_group_of`)
    that every finisher reads.

    The finisher is chosen once, up front, from what the input shows:
    brute (``_topk_brute_exit``) when the lists hold at most
    ``len(tb) × _LAZY_FLOOR`` postings, else the lazy block-max kernel,
    which may still hand off to the brute exit (``stats["handoff"]`` says why).
    Without ``use_wand`` it is always brute — the oracle. ``stats``
    gets ``reason`` (the two figures the choice compared) and
    ``finisher``, the path that produced the answer: ``brute`` (also
    when the sweep handed off) or ``lazy`` (the sweep ran to the
    end)."""
    postings = sum(int(m["nd"].sum()) for m in tb.values())
    lazy_floor = len(tb) * _LAZY_FLOOR
    if stats is not None:
        stats["reason"] = {"postings": postings, "lazy_floor": lazy_floor}
    if use_wand and postings > lazy_floor:
        return _topk_blockmax_lazy(tb, k, msm_req, k1, b, avgdl, stats)
    return _topk_brute_exit(tb, k, msm_req, k1, b, avgdl, stats)


def _topk_brute_exit(tb: dict, k: int, msm_req: int, k1: float, b: float,
                     avgdl: float, stats: dict | None):
    """The brute finisher over raw block tables: decode every block
    the tb entries' memos lack (`_dense_arrays_from_tb`) and score
    exhaustively with ``_topk_brute``. ``blocks_decoded`` counts the
    blocks this call decodes."""
    if stats is not None:
        total = sum(m["ub"].size for m in tb.values())
        done = sum(int(m["done"].sum()) for m in tb.values() if "done" in m)
        stats.update(blocks_decoded=total - done, blocks_total=total,
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
    decoded at most once for all its queries (the tables' decoded
    memos), then a per-qid window rank for the global top-k. At
    10^12-doc scale this is the right shape —
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
        # one block table per shard task: every query of the log reads
        # the same entries, so a block any query decodes is decoded
        # once for the whole batch (`_decode_blocks`)
        tb = _term_block_meta(tbl, idf)
        qids, docs_out, scores_out = [], [], []
        for qid, ts in analyzed.items():
            sub = {t: tb[t] for t in ts if t in tb}
            if not sub:
                continue
            d, s = _topk_query(sub, kk, reqs[qid], k1, b, avgdl, use_wand)
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
