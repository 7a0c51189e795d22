"""Seeded input generators for the benchmark workloads.

Every stream is a pure function of ``(seed, its arguments)``: each one
draws from its own ``random.Random`` keyed by a string that names the
stream, so adding a draw to one stream never shifts another. The
vocabulary and its Zipf weights are the corpus generator's own
(``corpus.VOCAB``), so query terms follow the same skew as page text.
"""

from __future__ import annotations

import bisect
import itertools
import random
from dataclasses import dataclass

from jivesearch_spark import corpus, paging

#: vocabulary ranks treated as the head and torso of the query log
HEAD_TORSO_RANKS = 3000
#: distinct intents in the warm (zipf) log and their popularity skew
N_INTENTS = 400
INTENT_ZIPF_S = 1.0
#: the intents are the same for every seed (see ``ZipfLog``)
INTENT_SEED = 0
#: share of warm-log requests typed in their intent's canonical form
CANONICAL_SHARE = 0.4
#: untimed warm-up queries of the cold log
COLD_WARM_UP = 100
#: shares both serve streams carry
MSM_SHARE = 0.10
PAGE_SHARES = ((2, 0.10), (3, 0.05))   # (page, share); the rest is page 1
RESULTS_PER_PAGE = 10


@dataclass(frozen=True)
class Request:
    q: str
    min_should_match: bool
    offset: int


def _rng(seed: int, name: str) -> random.Random:
    return random.Random(f"{seed}/{name}")


def zipf_rank(rng: random.Random, max_rank: int = corpus.VOCAB_SIZE) -> int:
    """A vocabulary rank < ``max_rank`` drawn with the corpus's Zipf
    weights (the corpus CDF truncated at ``max_rank``)."""
    x = rng.random() * corpus._CDF[max_rank - 1]
    return min(bisect.bisect_left(corpus._CDF, x), max_rank - 1)


def draw_terms(rng: random.Random, max_rank: int) -> list[str]:
    """1-5 distinct vocabulary words, Zipf-weighted below ``max_rank``."""
    n = rng.randint(1, 5)
    ranks: list[int] = []
    while len(ranks) < n:
        r = zipf_rank(rng, max_rank)
        if r not in ranks:
            ranks.append(r)
    return [corpus.VOCAB[r] for r in ranks]


def _paging(rng: random.Random) -> tuple[bool, int]:
    msm = rng.random() < MSM_SHARE
    x, page = rng.random(), 1
    for p, share in PAGE_SHARES:
        if x < share:
            page = p
            break
        x -= share
    return msm, paging.offset_for(page, RESULTS_PER_PAGE)


def render_variant(rng: random.Random, terms: list[str]) -> str:
    """A surface form of an intent as users type it: word order, case
    and spacing vary; the analyzed terms do not. The space of forms is
    large, so a variant seldom repeats exactly."""
    words = list(terms)
    rng.shuffle(words)
    words = [rng.choice((w, w.capitalize(), w.upper())) for w in words]
    out = " " * rng.randint(0, 1)
    for i, w in enumerate(words):
        out += (" " * rng.randint(1, 3) if i else "") + w
    return out + " " * rng.randint(0, 1)


class ZipfLog:
    """The warm head of a query log: ``N_INTENTS`` intents of head and
    torso terms with Zipf popularity. A request types its intent in the
    canonical form with probability ``CANONICAL_SHARE`` (these repeat,
    so the result cache can answer them) and otherwise as a fresh
    surface variant (same analyzed terms, different string). The result
    cache's hit share therefore levels off near ``CANONICAL_SHARE``
    instead of growing with the length of the stream.

    The intents themselves are drawn from ``INTENT_SEED``, not from the
    run's seed: the few most popular intents carry most of the traffic,
    so which ones they are decides most of the serving cost (with
    intents drawn per seed, the median service time differed up to 3x
    between seeds on one index). The seed draws the requests, their
    surface forms, paging and arrival times, and the crawl."""

    def __init__(self, seed: int):
        rng = _rng(INTENT_SEED, "zipf-intents")
        self.intents: list[list[str]] = []
        seen = set()
        while len(self.intents) < N_INTENTS:
            terms = draw_terms(rng, HEAD_TORSO_RANKS)
            key = tuple(sorted(terms))
            if key not in seen:
                seen.add(key)
                self.intents.append(terms)
        weights = [1.0 / (i + 1) ** INTENT_ZIPF_S for i in range(N_INTENTS)]
        self._cum = list(itertools.accumulate(weights))
        self.seed = seed

    def warm_up(self) -> list[str]:
        """Every intent once, in canonical form: the whole hot set enters
        the term cache before timing starts."""
        return [" ".join(terms) for terms in self.intents]

    def stream(self, name: str, n: int) -> list[Request]:
        rng = _rng(self.seed, f"zipf-stream/{name}")
        out = []
        for _ in range(n):
            i = bisect.bisect_left(self._cum, rng.random() * self._cum[-1])
            terms = self.intents[min(i, N_INTENTS - 1)]
            if rng.random() < CANONICAL_SHARE:
                q = " ".join(terms)
            else:
                q = render_variant(rng, terms)
            msm, offset = _paging(rng)
            out.append(Request(q, msm, offset))
        return out


class ColdLog:
    """The long tail of a query log: 1-5 terms drawn Zipf-wise over the
    whole vocabulary and no analyzed term set ever repeats, across
    every stream drawn from one ``ColdLog``."""

    def __init__(self, seed: int):
        self.seed = seed
        self._seen: set[tuple[str, ...]] = set()

    def warm_up(self) -> list[str]:
        """``COLD_WARM_UP`` queries of the stream's own kind (none repeats
        later): lazy set-up finishes, the term cache stays cold."""
        return [r.q for r in self.stream("warm", COLD_WARM_UP)]

    def stream(self, name: str, n: int) -> list[Request]:
        rng = _rng(self.seed, f"cold-stream/{name}")
        out = []
        while len(out) < n:
            terms = draw_terms(rng, corpus.VOCAB_SIZE)
            key = tuple(sorted(terms))
            if key in self._seen:
                continue
            self._seen.add(key)
            msm, offset = _paging(rng)
            out.append(Request(" ".join(terms), msm, offset))
        return out


def query_log(kind: str, seed: int):
    if kind == "zipf":
        return ZipfLog(seed)
    if kind == "cold":
        return ColdLog(seed)
    raise ValueError(f"unknown stream kind {kind!r}")


def interleaved_arrivals(seed: int, name: str, rates, seconds: float,
                         cycles: int) -> tuple[list[list[float]], list[float]]:
    """Due times (seconds from the stream start) of one Poisson stream per
    rate, sharing one timeline of ``seconds``. The timeline is cut into
    ``cycles`` rounds with one block per rate, and stream ``i`` arrives
    only in its own blocks. A block's length is inversely proportional to
    its rate, so every rate gets the same number of requests:
    ``round(rate * active)``, placed as a Poisson process conditioned on
    that count (sorted uniform times). Interleaving spreads every rate over
    the whole window, so a slow spell of the machine falls on all rates
    alike. Returns the due times per rate and each rate's active
    seconds."""
    inv = [1.0 / r for r in rates]
    active = [seconds * w / sum(inv) for w in inv]
    cycle = seconds / cycles
    starts = [sum(active[:i]) / cycles for i in range(len(rates))]
    out = []
    for i, rate in enumerate(rates):
        rng = _rng(seed, f"arrivals/{name}/{i}")
        block = active[i] / cycles
        virtual = sorted(rng.random() * active[i] for _ in range(round(rate * active[i])))
        out.append([(v // block) * cycle + starts[i] + v % block for v in virtual])
    return out, active


def sample_indices(seed: int, name: str, population: int, k: int) -> list[int]:
    rng = _rng(seed, f"sample/{name}")
    return sorted(rng.sample(range(population), min(k, population)))
