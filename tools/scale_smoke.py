#!/usr/bin/env python
"""Cold/warm serving-latency scale smoke at millions of docs.

Reproducible protocol for the BENCH/BASELINE.md scale tables (rounds
3-5 ran it ad-hoc): materialize an N-page corpus, build the serving
index (docid blocks + term-sorted bucket layout — bench's exact
build_pipeline), then probe a fixed query set cold (fresh LocalIndex
per rep — pays dataset discovery + footer + block-table read) and warm
(same instance, result cache disabled so the kernel runs), 5-rep
median, with the bench interference monitor stamping the window.

Rank identity is gated on the same index before any timing: the served
path (use_wand=True, whichever finisher `query._topk_query` picks) must
equal the brute decode-all path (use_wand=False) per query. Each timed
query prints the cold run's ``finisher`` (the path that answered) and
``reason`` (the posting count and lazy floor the choice compared) from
``last_stats``.

    python tools/scale_smoke.py [n_pages] [--reps K]
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import bench  # noqa: E402

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() \
    else 8_000_000
REPS = int(sys.argv[sys.argv.index("--reps") + 1]) \
    if "--reps" in sys.argv else 5
WORK = bench.WORK
PAGES = f"{WORK}/pages_{N_PAGES}"
IDX = f"{WORK}/smoke_idx_{N_PAGES}"

#: the pinned probe set (BENCH/BASELINE.md scale tables): saturated
#: head-2, single head, skip-heavy 3-term, tail, and the 5-term
#: all-dense stress that measures the decode-bound ceiling
QUERIES = [
    ("head1", "bob"),
    ("head2", "bob dylan"),
    ("jhw3", "jimi hendrix woodstock"),
    ("tail", "telecaster"),      # anchor pinned at Zipf rank 25000
    ("stress5", "bob dylan jimi hendrix woodstock"),
]


def main():
    from jivesearch_spark.index import Manifest
    from jivesearch_spark.serve import LocalIndex

    if not os.path.exists(os.path.join(PAGES, "_SUCCESS")):
        print(f"[smoke] materializing {N_PAGES} pages …", flush=True)
        spark = bench.make_session(32)
        from jivesearch_spark import corpus
        corpus.write_pages(spark, PAGES, N_PAGES, partitions=128)
        spark.stop()

    man = Manifest.load(IDX)
    if man is None or not man.done:
        shutil.rmtree(IDX, ignore_errors=True)
        print(f"[smoke] building index at {IDX} …", flush=True)
        spark = bench.make_session(32)
        t0 = time.time()
        man, _ = bench.build_pipeline(spark, PAGES, IDX)
        dt = time.time() - t0
        print(f"[smoke] built {man.n_docs} docs in {dt:.1f}s "
              f"({man.n_docs / dt:.0f} docs/s)", flush=True)
        spark.stop()
    else:
        print(f"[smoke] reusing index: {man.n_docs} docs", flush=True)

    # ---- rank identity gate (served == brute decode-all) ----
    li = LocalIndex(IDX)
    li.results.max_tuples = 0
    for name, q in QUERIES:
        lazy = li.topk(q, k=10, use_wand=True)
        brute = li.topk(q, k=10, use_wand=False)
        assert [(d, round(s, 9)) for d, s in lazy] == \
            [(d, round(s, 9)) for d, s in brute], (name, lazy, brute)
    print("[smoke] rank identity OK (served == brute, all queries)",
          flush=True)
    del li

    mon = bench.InterferenceMonitor()
    out = {"n_pages": N_PAGES, "n_docs": man.n_docs, "reps": REPS}
    for name, q in QUERIES:
        colds, warms = [], []
        stats0 = {}
        for _ in range(REPS):
            li = LocalIndex(IDX)        # fresh: pays discovery + read
            li.results.max_tuples = 0
            t0 = time.time()
            li.topk(q, k=10)
            colds.append((time.time() - t0) * 1000)
            stats0 = dict(next(iter(li.last_stats.values()), {}))
            t0 = time.time()
            li.topk(q, k=10)
            warms.append((time.time() - t0) * 1000)
            del li
        out[f"{name}_cold_ms"] = round(statistics.median(colds), 1)
        out[f"{name}_warm_ms"] = round(statistics.median(warms), 1)
        out[f"{name}_blocks"] = int(stats0.get("blocks_decoded", -1))
        out[f"{name}_finisher"] = stats0.get("finisher")
        out[f"{name}_reason"] = stats0.get("reason")
        print(f"[smoke] {name:8s} ({q!r}): cold "
              f"{out[f'{name}_cold_ms']} ms  warm "
              f"{out[f'{name}_warm_ms']} ms  blocks "
              f"{out[f'{name}_blocks']}  finisher "
              f"{out[f'{name}_finisher']}  reason {out[f'{name}_reason']}",
              flush=True)
    m = mon.stop()
    out["window_interference"] = [m["steal_frac_a"], m["steal_frac_b"],
                                  m["steal_frac_sustained"],
                                  m["foreign_mean"], m["foreign_sustained"]]
    out["window_clean"] = bench.interference_clean(m)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
