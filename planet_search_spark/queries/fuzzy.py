"""Sound dictionary blocking for fuzzy (edit-distance) term expansion —
SURVEY.md §7 hard-part 5's "dictionary blocking" made concrete.

Pigeonhole segment filter (the PassJoin family of similarity-join filters):
split the query term into ``ed + 1`` contiguous segments; any candidate
within edit distance ``ed`` leaves at least one segment untouched by every
edit, and an untouched segment survives verbatim —

* first segment untouched  -> all edits sit strictly after it, so the
  candidate STARTS WITH it;
* last segment untouched   -> all edits sit strictly before it, so the
  candidate ENDS WITH it;
* a middle segment untouched -> it appears as a contiguous substring
  (position shifted by at most ``ed``; we use the weaker-but-sound
  ``contains``).

So ``startswith(s_0) OR contains(s_mid...) OR endswith(s_last)`` can never
drop a true match, while pruning the dictionary scan by roughly the
alphabet size per segment (~20-50x on natural-language vocabularies).
Combined with the +/- ed length band this replaces round 2's full
term-dictionary Levenshtein scan (ADVICE/VERDICT item 6: at ~10^9 planet-
scale vocab terms a per-query full scan is the wrong shape even when
distributed).

The predicate is one vectorized Arrow mask, :func:`block_mask`, which the
dictionary expansion shared by the engine and the serving reader applies
before any edit distance is computed.
"""
from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc


def auto_fuzz(term: str) -> int:
    """ES ``fuzziness: AUTO`` bands (points_search.json:94-104)."""
    n = len(term)
    return 0 if n <= 2 else (1 if n <= 5 else 2)


def pigeonhole_segments(term: str, ed: int) -> list[str]:
    """Split ``term`` into ``ed + 1`` contiguous, as-even-as-possible
    segments (longer ones first, like PassJoin's even partition)."""
    k = ed + 1
    n = len(term)
    base, extra = divmod(n, k)
    segs, i = [], 0
    for j in range(k):
        ln = base + (1 if j < extra else 0)
        segs.append(term[i:i + ln])
        i += ln
    return [s for s in segs if s]


def block_mask(terms: pa.ChunkedArray, term: str, ed: int):
    """Arrow boolean mask over ``terms``: the candidates that may lie
    within ``ed`` edits of ``term`` — the +/- ``ed`` length band, and the
    pigeonhole segment filter when ``term`` has at least ``ed + 1``
    characters (a shorter term has no sound segment prune)."""
    n = len(term)
    ln = pc.utf8_length(terms)
    mask = pc.and_(pc.greater_equal(ln, n - ed), pc.less_equal(ln, n + ed))
    segs = pigeonhole_segments(term, ed)
    if len(segs) == ed + 1:
        block = pc.or_(pc.starts_with(terms, pattern=segs[0]),
                       pc.ends_with(terms, pattern=segs[-1]))
        for s in segs[1:-1]:
            block = pc.or_(block, pc.match_substring(terms, pattern=s))
        mask = pc.and_(mask, block)
    return mask


def lev_leq(a: str, b: str, ed: int) -> bool:
    """Banded Levenshtein <= ed (early-exit row minimum)."""
    if abs(len(a) - len(b)) > ed:
        return False
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        if min(cur) > ed:
            return False
        prev = cur
    return prev[-1] <= ed
