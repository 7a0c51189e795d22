#!/usr/bin/env python3
"""Crawl-to-index-to-serve benchmark for ``jivesearch_spark``.

One run of one workload, from the repository root::

    python3 perfbench/run.py --workload serve-zipf --seed 1 --seconds 12 --trace 0

A run starts a local Spark session, writes Common-Crawl-layout WARC
segments from ``corpus.pages_df(pages, seed)``, builds an index from them
(``read_warc`` -> ``extract_pages_df`` -> ``build_index``), queries it
through the Spark path (one ``bm25_topk_batch`` replay and a series of
single ``bm25_topk_indexed`` calls), stops Spark, and serves the
workload's query stream from one default ``serve.LocalIndex`` in an open
loop at three fixed Poisson rates. Correctness checks run outside the
timed regions. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
Everything the run writes stays under ``.bench_work/`` in the checkout.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(REPO))

KEPT = "valid AND index AND canonical"
RATE_NAMES = ("low", "mid", "high")
DRIVER_MEMORY = "3g"
K = 10
#: pages of the crawl every workload builds, written as WARC_FILES segments
PAGES = 3000
WARC_FILES = 8
#: queries of the batch replay and single Spark-path queries
REPLAY_QUERIES = 200
SPARK_SINGLES = 3
#: rounds of one block per rate in the serving window
RATE_CYCLES = 6
#: seeded samples the correctness checks compare
GOLDEN_SAMPLE = 200
REPLAY_CHECK = 30
SERVED_CHECK_PER_RATE = 10


def parse_args(argv):
    cfg = json.loads((HERE / "config.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(cfg))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the timed serving stream (three rates)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    return args, cfg[args.workload]


def isolate(work: Path) -> None:
    """Keep every scratch file of Python, Spark and the JVM under ``work``."""
    for sub in ("tmp", "spark-local", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM the launcher starts: no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile
    tempfile.tempdir = None


def start_spark(work: Path, n_cpu: int, traced: bool):
    from jivesearch_spark.session import get_spark
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": (work / "events").as_uri(),
                     "spark.sql.pyspark.udf.profiler": "perf"})
    spark = get_spark(master=f"local[{n_cpu}]", app_name="perfbench",
                      shuffle_partitions=2 * n_cpu, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started (its Python workers included)."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    from tracing import alive, descendants
    kids = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Py4JError:   # the JVM side may already be gone
            pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in kids:
        while alive(pid) and time.time() < deadline:
            time.sleep(0.05)
        if alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def pinned(res):
    """A top-k answer under the pinned tie-break, as comparable tuples."""
    return sorted(((int(d), round(float(s), 9)) for d, s in res),
                  key=lambda x: (-x[1], x[0]))


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def udf_python_s(spark) -> float:
    """Python time the UDF profiler recorded since the last call
    (then cleared)."""
    res = spark._profiler_collector._perf_profile_results
    total = sum(st.total_tt for st in res.values())
    spark.profile.clear()
    return float(total)


class Run:
    def __init__(self, args, wl):
        from summary import p50, tail
        from tracing import GcTimer, Stamp, Tracer, nproc
        self.args, self.wl = args, wl
        self.traced = bool(args.trace)
        self.tr = Tracer(self.traced)
        self.stamp = Stamp()
        self.n_cpu = nproc()
        self.p50, self.tail, self.GcTimer = p50, tail, GcTimer
        self.work = (REPO / ".bench_work"
                     / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.notes: list[str] = []
        self.absent: list[str] = []

    # -- accounting ---------------------------------------------------------
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 20:
                self.notes.append(f"MISMATCH {what}")

    def put(self, table, name, value, unit):
        table[name] = (float(value), unit)

    # -- phases -------------------------------------------------------------
    def run(self):
        from tracing import tree_peak_rss_mb
        isolate(self.work)
        from gen import query_log
        self.log = query_log(self.wl["stream"], self.args.seed)
        marks = [("start", time.perf_counter())]

        def mark(name):
            marks.append((name, time.perf_counter()))
        with self.tr.span("setup.session", rid="setup"):
            self.spark = start_spark(self.work, self.n_cpu, self.traced)
        mark("session")
        try:
            # written by a Spark job: it also warms the JVM and the Python
            # workers, which the build would otherwise pay for (measured: a
            # cold-JVM build of 3k pages took 43 s against 25-27 s warm)
            with self.tr.span("setup.inputs", rid="setup"):
                self.write_inputs()
            mark("inputs")
            self.build()
            mark("build")
            self.spark_queries()
            mark("spark_queries")
            self.check_build()
            mark("check_build")
            self.spark_rss = tree_peak_rss_mb()
        finally:
            stop_spark(self.spark)
        mark("spark_stop")
        if self.traced:
            self.spark_layer_counts()
        setup_s = marks[2][1] - marks[0][1]   # session and inputs
        self.serve(setup_s)
        mark("serve")
        self.check_answers()
        mark("check_answers")
        own = tree_peak_rss_mb()
        self.put(self.e2e, "peak_rss_mb",
                 max(sum(self.spark_rss.values()), sum(own.values())), "MB")
        self.notes.append("peak rss MB: " + ", ".join(
            f"{k} {v:.0f}" for k, v in sorted(self.spark_rss.items())))
        self.notes.append("wall s: " + ", ".join(
            f"{b[0]} {b[1] - a[1]:.2f}" for a, b in zip(marks, marks[1:])))

    def write_inputs(self):
        from jivesearch_spark import corpus, warc
        self.spark.sparkContext.setJobGroup("setup.inputs", "write WARC segments")
        self.warc_dir = self.work / "warc"
        summary = warc.write_warc_segments(
            corpus.pages_df(self.spark, PAGES, self.args.seed),
            str(self.warc_dir), n_files=WARC_FILES).collect()
        self.n_pages = sum(r["n_pages"] for r in summary)

    def build(self):
        from jivesearch_spark import extract, index, warc
        spark, sc = self.spark, self.spark.sparkContext
        self.idx_dir = self.work / "index"
        quiet = lambda *a, **k: None  # noqa: E731
        t0 = time.perf_counter()
        if not self.traced:
            sc.setJobGroup("build", "read_warc -> extract -> build_index")
            pages = warc.read_warc(spark, str(self.warc_dir))
            docs = extract.extract_pages_df(pages).where(KEPT)
            self.man = index.build_index(docs, str(self.idx_dir), log=quiet)
            self.ext = None
        else:
            # each layer's output is materialized before the next call,
            # so each call is timed alone
            from pyspark import StorageLevel
            lvl = StorageLevel.MEMORY_AND_DISK
            udf_python_s(spark)
            with self.tr.span("warc.read", rid="build"):
                sc.setJobGroup("warc", "read_warc")
                pages = warc.read_warc(spark, str(self.warc_dir)).persist(lvl)
                n_read = pages.count()
            self.put(self.layer, "warc.udf_python_s", udf_python_s(spark), "s")
            with self.tr.span("extract", rid="build"):
                sc.setJobGroup("extract", "extract_pages_df")
                self.ext = extract.extract_pages_df(pages).persist(lvl)
                self.ext.count()
            self.put(self.layer, "extract.udf_python_s", udf_python_s(spark), "s")
            docs = self.ext.where(KEPT)
            sc.setJobGroup("extract.count", "kept count")
            n_kept = docs.count()
            with self.tr.span("index.build", rid="build"):
                sc.setJobGroup("index", "build_index")
                self.man = index.build_index(docs, str(self.idx_dir), log=quiet)
            self.put(self.layer, "index.udf_python_s", udf_python_s(spark), "s")
            pages.unpersist()
            st = self.tr.self_times()
            warc_s = st["warc.read"]["total_s"]
            self.put(self.layer, "warc.read_s", warc_s, "s")
            self.put(self.layer, "warc.pages_per_s", n_read / warc_s, "pages/s")
            self.put(self.layer, "extract.s", st["extract"]["total_s"], "s")
            self.put(self.layer, "extract.kept_frac", n_kept / max(1, n_read), "frac")
            self.put(self.layer, "index.build_s", st["index.build"]["total_s"], "s")
        build_s = time.perf_counter() - t0
        man = self.man
        batches = man.completed_batches.values()
        postings = sum(b["postings"] for b in batches)
        blocks = sum(b["blocks"] for b in batches)
        terms = sum(b["terms"] for b in batches)
        enc_bytes = sum(b["bytes"] for b in batches)
        self.put(self.e2e, "build_docs_per_s", man.n_docs / build_s, "docs/s")
        self.put(self.e2e, "index_bytes_per_doc",
                 dir_bytes(self.idx_dir) / max(1, man.n_docs), "B/doc")
        self.put(self.layer, "index.encode_s", sum(b["seconds"] for b in batches), "s")
        self.put(self.layer, "index.postings", postings, "count")
        self.put(self.layer, "index.blocks", blocks, "count")
        self.put(self.layer, "index.terms", terms, "count")
        self.put(self.layer, "index.bytes_per_posting", enc_bytes / max(1, postings), "B")
        self.notes.append(f"build: {self.n_pages} pages -> {man.n_docs} docs "
                          f"in {build_s:.2f} s; {postings} postings")

    def spark_queries(self):
        from jivesearch_spark import query
        spark, sc = self.spark, self.spark.sparkContext
        reader = query.IndexReader(spark, str(self.idx_dir))
        replay = self.log.stream("replay", REPLAY_QUERIES)
        self.replay_q = {f"q{i}": r.q for i, r in enumerate(replay)}
        t = time.perf_counter()
        with self.tr.span("query.replay", rid="replay"):
            sc.setJobGroup("query.replay", "bm25_topk_batch")
            rows = query.bm25_topk_batch(reader, list(self.replay_q.items()),
                                         k=K).collect()
        replay_s = time.perf_counter() - t
        self.replay_rows: dict[str, list] = {q: [] for q in self.replay_q}
        for r in rows:
            self.replay_rows[r["qid"]].append((r["docid"], r["score"]))
        self.attempted += len(replay)
        self.put(self.layer, "replay_queries_per_s", len(replay) / replay_s, "q/s")
        self.notes.append(f"replay_queries_per_s = {len(replay) / replay_s:.4g} q/s")
        self.put(self.layer, "query.replay_s", replay_s, "s")

        # single queries run against a reader whose term dictionary
        # already holds their terms (one untimed stats_for), so each one
        # times one top-k job, as on a long-lived reader
        singles = self.log.stream("single", SPARK_SINGLES)
        terms = sorted({t for r in singles for t in query.analyze_query(reader.man, r.q)})
        t = time.perf_counter()
        with self.tr.span("query.df_lookup", rid="single"):
            sc.setJobGroup("query.df_lookup", "stats_for")
            reader.stats_for(terms)
        lookup_s = time.perf_counter() - t
        lat = []
        for i, r in enumerate(singles):
            t = time.perf_counter()
            with self.tr.span("query.topk_job", rid=f"single{i}"):
                sc.setJobGroup("query.topk_job", "bm25_topk_indexed")
                query.bm25_topk_indexed(
                    reader, r.q, k=K, min_should_match=r.min_should_match,
                    offset=r.offset).collect()
            lat.append(time.perf_counter() - t)
        self.attempted += len(lat)
        self.n_singles = len(lat)
        self.put(self.layer, "spark_query_p50_ms", 1e3 * self.p50(lat), "ms")
        self.notes.append(f"spark_query_p50_ms = {1e3 * self.p50(lat):.4g} ms "
                          f"(n={len(lat)}, max {1e3 * max(lat):.1f} ms)")
        self.put(self.layer, "query.df_lookup_ms", 1e3 * lookup_s / len(lat), "ms")
        self.put(self.layer, "query.topk_job_ms", 1e3 * sum(lat) / len(lat), "ms")

    def check_build(self):
        """Outside the timed region: the manifest is complete, n_docs is
        the number of distinct kept urls, and a seeded sample of pages
        extracts to the generator's golden text byte for byte."""
        from pyspark.sql import functions as F

        from gen import sample_indices
        from jivesearch_spark import corpus, extract, gourl, warc
        self.spark.sparkContext.setJobGroup("check", "build checks")
        with self.tr.span("check.build", rid="build"):
            golden: dict[str, str] = {}
            for i in sample_indices(self.args.seed, "golden", PAGES, GOLDEN_SAMPLE):
                url, _ts, _html, text, _lang = corpus.gen_page(i, self.args.seed)
                golden[gourl.validate_url(url).string()] = text
            ext = self.ext
            if ext is None:
                ext = extract.extract_pages_df(warc.read_warc(self.spark,
                                                              str(self.warc_dir)))
            row = ext.agg(
                F.countDistinct(F.when(F.expr(KEPT), F.col("url"))).alias("kept"),
                F.collect_list(F.when(F.col("url").isin(list(golden)),
                                      F.struct("url", "text"))).alias("s"),
            ).first()
            self.check(self.man.done, "manifest not done")
            self.check(self.man.n_docs == row["kept"],
                       f"n_docs {self.man.n_docs} != kept urls {row['kept']}")
            got: dict[str, list] = {}
            for s in row["s"]:
                got.setdefault(s["url"], []).append(s["text"])
            for key, text in golden.items():
                self.check(text in got.get(key, []), f"extracted text of {key}")
            if self.ext is not None:
                self.ext.unpersist()

    # -- serving ------------------------------------------------------------
    def serve(self, setup_before_open_s: float):
        """Open one default LocalIndex and serve the stream: an untimed
        warm-up, then one open loop over the fixed rates."""
        from jivesearch_spark import query, serve
        from tracing import rss_mb
        t = time.perf_counter()
        with self.tr.span("serve.open", rid="setup"):
            self.li = serve.LocalIndex(str(self.idx_dir))
        open_s = time.perf_counter() - t
        self.put(self.e2e, "setup_s", setup_before_open_s + open_s, "s")
        self.put(self.layer, "serve.open_s", open_s, "s")

        self.q_records: list[dict] = []
        # caches fill and lazy set-up finishes untimed, a batch at a time
        warm = self.log.warm_up()
        for i in range(0, len(warm), 50):
            self.li.topk_batch(warm[i:i + 50], K)
        self.seen_terms = {t for q in warm for t in query.analyze_query(self.li.man, q)}
        rss0 = rss_mb()
        self.served: list[tuple] = []
        rates = self.wl["rates_qps"]
        limit = self.wl["tail_limit_ms"]
        best = 0.0
        from gen import interleaved_arrivals, sample_indices
        arrivals, active = interleaved_arrivals(self.args.seed, self.args.workload, rates,
                                                self.args.seconds, RATE_CYCLES)
        timeline = []
        for ri, (name, due) in enumerate(zip(RATE_NAMES, arrivals)):
            reqs = self.log.stream(f"serve-{name}", len(due))
            keep = set(sample_indices(self.args.seed, f"served/{name}", len(due),
                                      SERVED_CHECK_PER_RATE))
            timeline += [(d, ri, r, j in keep) for j, (r, d) in enumerate(zip(reqs, due))]
        timeline.sort(key=lambda x: x[0])
        # the benchmark's own garbage (Spark driver objects, generated
        # streams) must not make the served program's collections slower
        gc.collect()
        gc.freeze()
        with self.GcTimer() as gct:
            done, drain = self.open_loop(timeline, len(rates))
        gc.unfreeze()
        for ri, (name, rate) in enumerate(zip(RATE_NAMES, rates)):
            ph = {k: [x for x, r in zip(v, done["rate"]) if r == ri]
                  for k, v in done.items() if k != "rate"}
            lat_ms = [1e3 * x for x in ph["lat"]]
            v, pct, cnt = self.tail(lat_ms)
            p50 = self.p50(lat_ms)
            self.put(self.layer, f"serve_p50_ms.{name}", p50, "ms")
            self.put(self.layer, f"serve_tail_ms.{name}", v, "ms")
            last = sorted(lat_ms[-max(1, cnt // 10):])
            growing = last[len(last) // 2] > limit
            ok = v <= limit and not growing and not any(ph["failed"])
            # completed requests over the rate's active seconds plus the
            # time its backlogs took to drain after its blocks ended
            achieved = cnt / (active[ri] + drain[ri])
            self.notes.append(
                f"rate {name}={rate} q/s: achieved {achieved:.1f} q/s, "
                f"serve_p50_ms.{name} = {p50:.3f} ms, "
                f"serve_tail_ms.{name} (p{pct:.1f} of n={cnt}) = {v:.2f} ms, "
                f"backlog {'growing' if growing else 'bounded'} "
                f"(drained {1e3 * drain[ri]:.1f} ms after its blocks), "
                f"{'meets' if ok else 'misses'} the {limit} ms limit")
            if ok:
                best = achieved
            self.phase_layer(name, ph)
        self.put(self.e2e, "serve_max_qps", best, "q/s")
        # CPU time, not wall time: on a shared virtual machine the host takes
        # CPU away (steal), which doubled wall-clock service times on some
        # runs and not others; the process CPU time of a call leaves that out
        cpu = [x for x, f in zip(done["cpu"], done["failed"]) if not f]
        self.put(self.e2e, "serve_cpu_ms_per_query", 1e3 * sum(cpu) / len(cpu), "ms")
        self.put(self.layer, "serve.rss_growth_mb", rss_mb() - rss0, "MB")
        self.put(self.layer, "py.gc_ms", 1e3 * gct.total_s, "ms")
        if self.traced:
            self.request_layer()

    def call(self, r, rid):
        """One served request; in the traced run also its analysis time,
        read bytes and kernel stats."""
        if not self.traced:
            return self.li.topk_batch([r.q], K,
                                      min_should_match=r.min_should_match,
                                      offset=r.offset)[r.q]
        from jivesearch_spark import query
        from tracing import read_rchar
        tr = self.tr
        with tr.span("serve.request", rid=rid):
            with tr.span("query.analyze"):
                t = time.perf_counter()
                terms = sorted(set(query.analyze_query(self.li.man, r.q)))
                an = time.perf_counter() - t
            rc0, own = read_rchar()
            with tr.span("serve.topk_batch"):
                res = self.li.topk_batch([r.q], K,
                                         min_should_match=r.min_should_match,
                                         offset=r.offset)[r.q]
            rc1, _ = read_rchar()
            self.q_records.append({
                "analyze_s": an, "read": rc1 - rc0 - own,
                "seen": all(t in self.seen_terms for t in terms),
                "stats": dict(self.li.last_stats.get(r.q, {}))})
            self.seen_terms.update(terms)
        return res

    def open_loop(self, timeline, n_rates):
        """Serve ``(due, rate, request, keep)`` entries from one thread in
        due order; each request is timed from its due time (seconds after
        the stream start), so a stall also counts against the requests
        queued behind it. A block of one rate starts only once the previous
        block's backlog has drained: the rest of the timeline shifts by the
        drain time, which is charged to the rate that left the backlog, so
        no rate's figures include queueing another rate caused. Returns
        per-request columns (flat lists keep the collector's work out of
        the timed loop) and the drain seconds per rate."""
        n = len(timeline)
        cols = {k: [0.0] * n for k in ("lat", "queue", "service", "cpu", "late")}
        failed = [False] * n
        lat, queue, service, cpu, late = (
            cols[k] for k in ("lat", "queue", "service", "cpu", "late"))
        drain = [0.0] * n_rates
        clock, sleep, cpu_clock = time.perf_counter, time.sleep, time.process_time
        t0 = clock() + 0.01
        prev_end = t0
        prev_ri = timeline[0][1]
        for i, (d, ri, r, keep) in enumerate(timeline):
            if ri != prev_ri:
                # every earlier request is done: a backlog ran past this due time
                behind = clock() - (t0 + d)
                if behind > 0:
                    t0 += behind
                    drain[prev_ri] += behind
                prev_ri = ri
            at = t0 + d
            now = clock()
            if now < at:
                if at - now > 0.002:
                    sleep(at - now - 0.001)
                while clock() < at:
                    pass
            start, c0 = clock(), cpu_clock()
            try:
                res = self.call(r, i)
            except Exception as e:   # a failed request counts, the loop goes on
                failed[i] = True
                self.notes.append(f"request failed: {r.q!r}: {e!r}")
            cpu[i] = cpu_clock() - c0
            end = clock()
            lat[i], queue[i], service[i] = end - at, start - at, end - start
            # generator lateness: only when the server was idle at the due time
            late[i] = start - at if prev_end <= at else -1.0
            prev_end = end
            if keep and not failed[i]:
                self.served.append((r, res))
        # the backlog of the last block
        drain[prev_ri] += max(0.0, prev_end - (t0 + self.args.seconds))
        cols["failed"] = failed
        cols["rate"] = [x[1] for x in timeline]
        self.attempted += n
        self.failed += sum(failed)
        return cols, drain

    def phase_layer(self, name, ph):
        svc = [1e3 * x for x in ph["service"]]
        que = [1e3 * x for x in ph["queue"]]
        self.put(self.layer, f"serve.service_ms.p50.{name}", self.p50(svc), "ms")
        self.put(self.layer, f"serve.service_ms.tail.{name}", self.tail(svc)[0], "ms")
        self.put(self.layer, f"serve.queue_ms.p50.{name}", self.p50(que), "ms")
        self.put(self.layer, f"serve.queue_ms.tail.{name}", self.tail(que)[0], "ms")
        late = [1e3 * x for x in ph["late"] if x >= 0] or [0.0]
        self.put(self.layer, f"serve.generator_late_ms.{name}", max(late), "ms")

    def request_layer(self):
        """Per-request counters of the traced stream (warm-up excluded)."""
        recs = self.q_records
        n = max(1, len(recs))
        self.put(self.layer, "query.analyze_ms",
                 1e3 * self.p50([r["analyze_s"] for r in recs]), "ms")
        hits = sum(1 for r in recs if r["stats"].get("result_cache_hit"))
        self.put(self.layer, "serve.result_cache_hit_frac", hits / n, "frac")
        reads = [r["read"] for r in recs]
        self.put(self.layer, "serve.postings_read_frac",
                 sum(1 for b in reads if b > 0) / n, "frac")
        self.put(self.layer, "serve.read_bytes_per_query", sum(reads) / n, "B")
        seen = [b for r, b in zip(recs, reads) if r["seen"]]
        self.put(self.layer, "serve.reread_frac",
                 sum(1 for b in seen if b > 0) / max(1, len(seen)), "frac")
        kern = [r["stats"] for r in recs
                if r["stats"] and not r["stats"].get("result_cache_hit")]
        for key in ("blocks_decoded", "blocks_total", "prefix_chunks_decoded",
                    "prefix_chunks_total", "cands_consumed", "prefix_ta",
                    "dense_merge", "dense_bailout", "result_cache_hit"):
            if not any(key in r["stats"] for r in recs):
                self.absent.append(f"last_stats[{key!r}]")

        def frac(num, den):
            d = sum(s.get(den, 0) for s in kern if num in s)
            return sum(s.get(num, 0) for s in kern if num in s) / d if d else 0.0
        self.put(self.layer, "query.blocks_decoded_frac",
                 frac("blocks_decoded", "blocks_total"), "frac")
        self.put(self.layer, "query.prefix_chunks_decoded_frac",
                 frac("prefix_chunks_decoded", "prefix_chunks_total"), "frac")
        cc = [s["cands_consumed"] for s in kern if "cands_consumed" in s]
        self.put(self.layer, "query.cands_consumed",
                 sum(cc) / len(cc) if cc else 0.0, "count")
        paths = {"lazy": 0, "prefix_ta": 0, "dense_merge": 0, "dense_bailout": 0}
        for s in kern:
            if s.get("dense_merge"):
                paths["dense_merge"] += 1
            elif s.get("prefix_ta"):
                paths["prefix_ta"] += 1
            elif s.get("dense_bailout"):
                paths["dense_bailout"] += 1
            else:
                paths["lazy"] += 1
        for p, c in paths.items():
            self.put(self.layer, f"query.path_share.{p}", c / max(1, len(kern)), "frac")

    # -- checks -------------------------------------------------------------
    def check_answers(self):
        """Outside the timed region, on a second default LocalIndex: the
        replay equals ``LocalIndex.topk``, and the sampled served answers
        equal the brute path (``use_wand=False``), both under the pinned
        ``(-round(score, 9), docid)`` order."""
        from jivesearch_spark import serve
        with self.tr.span("check.answers", rid="check"):
            ref = serve.LocalIndex(str(self.idx_dir))
            from gen import sample_indices
            qids = list(self.replay_q)
            for j in sample_indices(self.args.seed, "replay-check", len(qids), REPLAY_CHECK):
                q = self.replay_q[qids[j]]
                self.check(pinned(self.replay_rows[qids[j]]) == pinned(ref.topk(q, K)),
                           f"replay {q!r}")
            for r, res in self.served:
                want = ref.topk(r.q, K, use_wand=False,
                                min_should_match=r.min_should_match,
                                offset=r.offset)
                self.check(pinned(res) == pinned(want), f"served {r!r}")

    # -- report -------------------------------------------------------------
    def spark_layer_counts(self):
        from tracing import spark_counts
        spans = {"warc": "warc.read", "extract": "extract",
                 "index": "index.build", "query.replay": "query.replay"}
        windows = {g: w for g, name in spans.items()
                   if (w := self.tr.window(name))}
        counts = spark_counts(self.work / "events", windows)
        for g in ("extract", "index", "query.replay"):
            c = counts.get(g, {})
            for key, unit in (("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
                              ("gc_s", "s"), ("cpu_frac", "frac"),
                              ("task_skew", "ratio")):
                if key in c:
                    self.put(self.layer, f"{g}.{key}", c[key], unit)
                else:
                    self.absent.append(f"{g}.{key}")
        rp = counts.get("query.replay", {})
        self.put(self.layer, "query.replay_input_bytes", rp.get("input_bytes", 0), "B")
        jobs = counts.get("query.topk_job", {}).get("jobs", 0)
        self.put(self.layer, "query.jobs_per_query", jobs / max(1, self.n_singles),
                 "count")

    def result(self):
        if self.traced:
            st = self.tr.self_times()
            for name, row in sorted(st.items()):
                if not name.startswith("check."):
                    self.put(self.layer, f"span.{name}.self_s", row["self_s"], "s")
            req = st.get("serve.request", {"total_s": 0.0, "calls": 0})
            inner = st.get("serve.topk_batch", {"total_s": 0.0})
            calls = max(1, req["calls"])
            self.put(self.layer, "trace.overhead_ms_per_request",
                     1e3 * (req["total_s"] - inner["total_s"]) / calls, "ms")
            self.put(self.layer, "trace.recorder_s", self.tr.cost_s, "s")
        return self.e2e if not self.traced else self.layer


def main(argv=None) -> int:
    args, wl = parse_args(argv)
    if not (REPO / "jivesearch_spark" / "__init__.py").is_file():
        print("perfbench: the jivesearch_spark package is not in this tree",
              file=sys.stderr)
        return 2
    run = Run(args, wl)
    try:
        run.run()
        metrics = run.result()
        stamp = run.stamp.finish(REPO)
        out_dir = REPO / ".bench_work" / "results"
        out_dir.mkdir(parents=True, exist_ok=True)
        tag = f"{args.workload}-s{args.seed}"
        if run.traced:
            run.tr.dump(out_dir / f"{tag}-spans.json")
            other = out_dir / f"{tag}-t0.json"
            if other.exists():
                base = json.loads(other.read_text())["all"]
                mine = {**run.layer, **run.e2e}
                for name in sorted(set(base) & set(mine)):
                    v, unit = mine[name]
                    print(f"trace overhead {name}: {v - base[name]:+.4g} {unit}"
                          f" (traced {v:.4g} vs untraced {base[name]:.4g})")
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    for line in run.notes:
        print(line)
    if run.absent:
        print("absent: " + ", ".join(sorted(set(run.absent))))
    print("stamp: " + json.dumps(stamp, sort_keys=True))
    for name, (v, unit) in sorted(metrics.items()):
        print(f"{name} = {v:.6g} {unit}")
    if run.traced:
        for name, (v, unit) in sorted(run.e2e.items()):
            print(f"(traced) {name} = {v:.6g} {unit}")
    res = {"correct": run.failed == 0, "attempted": run.attempted,
           "failed": run.failed,
           "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}}
    every = {n: v for n, (v, _u) in {**run.layer, **run.e2e}.items()}
    (out_dir / f"{tag}-t{args.trace}.json").write_text(json.dumps({**res, "all": every}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
