import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("jivesearch-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def _zipfian_replay(idx, ref, vocab, n=240, seed=20260821):
    """Adversarial serving replay against one tier's shared caches
    (`serve.TermCache` / `serve.ResultCache`): a Zipfian query log over
    ``vocab`` (most frequent first) — mixed 1-3 term queries,
    occasional deep paging and large k (the result-cache tuple-budget
    attack) — replayed on ``idx``, whose budgets the caller set small.
    Every 40 queries it checks, against ground truth rather than a
    counter: the accounted term-cache total equals the total re-summed
    from the live arrays by `query._memo_postings`; that total stays
    within budget up to one oversized resident entry; the result-cache
    tuple total is re-summed and within budget; and the answer equals
    the unbounded no-cache tier ``ref``. Returns the log and every key
    the term cache ever held."""
    import random

    from jivesearch_spark.query import _memo_postings

    tc, rc = idx.terms, idx.results

    def cost(key):
        return _memo_postings(tc.meta[key])

    rng = random.Random(seed)

    def zipf_term():
        r = min(int(rng.paretovariate(1.1)) - 1, len(vocab) - 1)
        return vocab[r]

    log = []
    for _ in range(n):
        q = " ".join(zipf_term() for _ in range(rng.randint(1, 3)))
        k = rng.choice([10, 10, 10, 100, 500])      # large-k attack
        off = rng.choice([0, 0, 0, 40])             # deep-paging attack
        log.append((q, k, off))

    single_max, seen = 0, set()
    for i, (q, k, off) in enumerate(log):
        got = idx.topk(q, k, offset=off)
        seen.update(tc.meta)
        single_max = max(single_max, max(map(cost, tc.meta), default=0))
        if i % 40 == 39:
            true_total = sum(map(cost, tc.meta))
            assert tc._cost_total == true_total, (i, tc._cost_total,
                                                  true_total)
            assert true_total <= tc.max_postings + single_max, i
            tup = sum(1 + len(v) for v in rc._entries.values())
            assert rc._tuples == tup
            assert tup <= rc.max_tuples
            # correctness through churn: evicted terms re-read, cache
            # hits byte-identical to an unbounded no-cache tier
            assert got == ref.topk(q, k, offset=off), (q, k, off)
    # churn actually happened (the replay would be vacuous otherwise)
    assert len(tc.meta) < len(seen)
    return log, seen


@pytest.fixture
def zipfian_replay():
    return _zipfian_replay
