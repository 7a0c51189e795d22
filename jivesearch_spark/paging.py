"""SERP pagination semantics (reference: ``frontend/search.go``).

The reference's frontend derives (number, offset) from the request and
passes them straight to the search tier:

- ``page``: unparseable or < 1 → 1 (frontend/search.go:223-227);
- ``n`` (results per page): unparseable or > 100 → 25
  (frontend/search.go:230-234) — note 0 and negative values parse and
  are kept, faithfully mirrored here;
- ``offset = page*number - number`` (frontend/search.go:455);
- the query tier applies From(offset).Size(number)
  (search/elasticsearch.go:29,66).

These helpers are driver-side control plane; the ``offset`` parameter
they feed is honored by ``query.bm25_topk_indexed``,
``query.bm25_topk_batch``, ``serve.LocalIndex.topk``,
``fielded.bm25_fielded_indexed`` and ``fielded.FieldedLocalIndex.topk``
(kernels fetch top-(offset+k) internally, so page N costs one slightly
deeper top-k, never a rescan; a negative offset is page 1). The serving
tiers' ``serve.ResultCache`` is not keyed on ``offset``: a miss ranks
the first ``serve.PREFETCH_PAGES`` pages, and every page inside a
cached prefix is a slice of it.
"""

from __future__ import annotations

DEFAULT_NUMBER = 25
MAX_NUMBER = 100


def clamp_number(raw) -> int:
    """frontend/search.go:230-234 — strconv.Atoi(strings.TrimSpace(n));
    parse error or n > 100 ⇒ 25."""
    try:
        n = int(str(raw).strip())
    except (TypeError, ValueError):
        return DEFAULT_NUMBER
    return DEFAULT_NUMBER if n > MAX_NUMBER else n


def clamp_page(raw) -> int:
    """frontend/search.go:223-227 — parse error or page < 1 ⇒ 1."""
    try:
        p = int(str(raw).strip())
    except (TypeError, ValueError):
        return 1
    return p if p >= 1 else 1


def offset_for(page, number) -> int:
    """frontend/search.go:455 — offset := page*number - number."""
    p, n = clamp_page(page), clamp_number(number)
    return p * n - n


def is_lucky(q: str) -> bool:
    """First-result redirect ("I'm feeling lucky") detection
    (frontend/search.go:283-286): ``! example``, ``example !`` or
    ``\\example`` request a 302 to the top result — but NOT
    ``example ! now`` (the marker must be the first or last field).
    A bare-``!`` query never reaches this branch in the reference
    (autocomplete handles it); empty queries are not lucky."""
    fields = q.split()
    if not fields:
        return False
    return (fields[0] == "!" or fields[-1] == "!"
            or fields[0].startswith("\\"))


def lucky_target(docs: list) -> str | None:
    """frontend/search.go:287-295 — redirect location = the first
    result's doc ID (its URL); None when the result set is empty
    (the reference's loop simply never returns and the SERP renders).
    ``docs`` is any sequence whose items expose ``.url`` or are
    (url, ...) tuples / plain strings."""
    for d in docs:
        u = getattr(d, "url", None) or (d[0] if isinstance(d, (tuple, list))
                                        else d if isinstance(d, str) else None)
        if u:
            return u
    return None
