"""Unit tests of the benchmark's own helpers (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

import json
import sys
import time
from dataclasses import asdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
from run import Run  # noqa: E402
from summary import tail  # noqa: E402
from tracing import Tracer, spark_counts  # noqa: E402
from jivesearch_spark import analyze  # noqa: E402


def stream_bytes(reqs):
    return json.dumps([asdict(r) for r in reqs], sort_keys=True).encode()


def _streams(seed):
    z = gen.ZipfLog(seed)
    c = gen.ColdLog(seed)
    return (stream_bytes(z.stream("a", 500)) + stream_bytes(z.stream("b", 50))
            + stream_bytes(c.stream("a", 500)) + stream_bytes(c.stream("b", 50))
            + json.dumps(gen.interleaved_arrivals(seed, "x", (50, 100, 150), 9.0, 3)[0]).encode())


def test_same_seed_gives_byte_identical_streams():
    assert _streams(7) == _streams(7)
    assert _streams(7) != _streams(8)


def test_cold_stream_never_repeats_an_analyzed_query():
    c = gen.ColdLog(3)
    reqs = c.stream("a", 2000) + c.stream("b", 2000)
    keys = [tuple(sorted(set(analyze.py_tokens(r.q)))) for r in reqs]
    assert len(set(keys)) == len(keys)
    assert all(1 <= len(k) <= 5 for k in keys)


def test_zipf_variants_keep_the_analyzed_terms():
    z = gen.ZipfLog(5)
    intents = {tuple(sorted(t)) for t in z.intents}
    reqs = z.stream("a", 1000)
    for r in reqs:
        assert tuple(sorted(set(analyze.py_tokens(r.q)))) in intents
    assert len({r.q for r in reqs}) < len(reqs)          # the head repeats
    assert gen.ZipfLog(6).intents == z.intents           # for every seed


def test_shared_shares_of_msm_and_paging():
    reqs = gen.ColdLog(1).stream("a", 5000)
    msm = sum(r.min_should_match for r in reqs) / len(reqs)
    offsets = {r.offset for r in reqs}
    assert abs(msm - gen.MSM_SHARE) < 0.02
    assert offsets == {0, 10, 20}


def test_interleaved_arrivals_keep_each_rate_in_its_own_blocks():
    rates, seconds, cycles = (100.0, 200.0, 300.0), 300.0, 5
    streams, active = gen.interleaved_arrivals(1, "x", rates, seconds, cycles)
    assert abs(sum(active) - seconds) < 1e-9
    cycle = seconds / cycles
    bounds = [0.0]
    for a in active:
        bounds.append(bounds[-1] + a / cycles)
    for i, (rate, due) in enumerate(zip(rates, streams)):
        assert all(b > a for a, b in zip(due, due[1:]))
        assert all(bounds[i] <= d % cycle < bounds[i + 1] for d in due)
        assert len(due) == round(rate * active[i])
    # blocks inversely proportional to the rate: equal counts
    assert max(map(len, streams)) - min(map(len, streams)) <= 1


def test_open_loop_drains_a_backlog_before_the_next_block():
    run = Run.__new__(Run)
    run.args = type("Args", (), {"seconds": 0.2})()
    run.notes, run.served, run.attempted, run.failed = [], [], 0, 0
    run.call = lambda r, rid: time.sleep(0.03)
    # rate 0 leaves about 0.04 s of backlog past rate 1's first due time
    timeline = [(0.0, 0, None, False), (0.001, 0, None, False),
                (0.002, 0, None, False), (0.05, 1, None, False),
                (0.06, 1, None, False)]
    cols, drain = run.open_loop(timeline, 2)
    assert 0.03 < drain[0] < 0.06 and drain[1] == 0.0
    assert cols["queue"][3] < 0.01          # not queued behind rate 0
    assert cols["lat"][2] > 0.08            # rate 0 keeps its own queueing
    assert run.attempted == 5 and run.failed == 0


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))                 # 1..100, shuffled order is fine
    v, pct, n = tail(reversed(xs))
    assert (v, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > v) == 10
    v, pct, n = tail(range(1000))
    assert sum(1 for x in range(1000) if x > v) == 10 and pct == 99.0
    v, pct, n = tail(range(21))
    assert v == 10 and sum(1 for x in range(21) if x > v) == 10
    v, pct, n = tail(range(10))
    assert v != v and n == 10                 # nan: too few samples


def test_span_self_time():
    tr = Tracer(True)
    with tr.span("outer", rid=1):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    st = tr.self_times()
    assert st["inner"]["calls"] == 2
    outer = tr.spans[0]
    inner = sum(s[2] - s[1] for s in tr.spans[1:])
    assert abs(st["outer"]["self_s"] - (outer[2] - outer[1] - inner)) < 1e-12
    assert all(s[4] == 1 for s in tr.spans)   # request id inherited
    assert Tracer(False).span("x") is Tracer(False).span("y")   # no-op


def test_spark_counts_groups_stages_by_job_group(tmp_path):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "extract"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {}},
    ]
    for sid, run in ((0, 100), (0, 100), (0, 100), (0, 400), (1, 50), (2, 10)):
        evs.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                    "Task Metrics": {"Executor Run Time": run,
                                     "Executor CPU Time": run * 500_000,
                                     "JVM GC Time": 10, "Memory Bytes Spilled": 0,
                                     "Disk Bytes Spilled": 0,
                                     "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                                     "Input Metrics": {"Bytes Read": 3}}})
    d = tmp_path / "events"
    d.mkdir()
    (d / "app").write_text("\n".join(json.dumps(e) for e in evs) + "\n")
    c = spark_counts(d, {"index": (4.0, 6.0)})
    assert c["extract"]["jobs"] == 1 and c["extract"]["tasks"] == 5
    assert c["extract"]["shuffle_write_bytes"] == 35
    assert abs(c["extract"]["cpu_frac"] - 0.5) < 1e-9
    assert c["extract"]["task_skew"] == 4.0
    assert c["index"]["jobs"] == 1 and c["index"]["input_bytes"] == 3
