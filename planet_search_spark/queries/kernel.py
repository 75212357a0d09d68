"""Columnar block kernel shared by the Spark engine and the serving reader.

One implementation of the per-term block algorithms of the read path: the
engine's ``mapInArrow`` decode UDF and its driver-side θ call it inside
Spark, and :class:`~planet_search_spark.queries.serve.LocalSearcher` calls
it directly. It imports numpy and the codec only — no pyspark — so the same
code runs in a Python UDF worker and in the shard daemon. The BM25 formula
itself is :func:`planet_search_spark.scoring.bm25`.

* :func:`decode_blocks` — a term's block payloads -> (doc_ids, tfs, dls);
* :func:`theta_blocks` / :func:`kth_score` — the θ-witness blocks of a term
  and its θ_t (block-max WAND, exactness argument in ``engine.py``);
* :class:`DocSpace` / :func:`accumulate` — per-doc accumulation, dense
  (doc-indexed arrays) or sparse (sorted union of the query's doc ids);
* :func:`topk` — the exact (score desc, doc_id asc) top-k cut;
* :func:`in_sorted` — binary-search membership in a sorted id set.
"""
from __future__ import annotations

import numpy as np

from ..indexing import codec


def decode_blocks(n_docs, docs_bins, tfs_bins, dls_bins) -> tuple:
    """(doc_ids, tfs, dls) of one term's blocks, in the given block order.

    Vectorized per TERM, not per block: each stream's block payloads are
    byte-concatenated and decoded in ONE varbyte pass (varbyte is
    self-delimiting). Absolute doc_ids come from
    :func:`codec.decode_positions`'s segmented cumsum with the per-block
    doc counts ``n_docs`` as segment lengths — the delta chain restarts with
    an absolute id at every block start by construction. tfs and dls come
    back as float64, the dtype scoring needs. ``docs_bins=None`` skips the
    doc ids (θ needs only tf and dl).
    """
    ids = None
    if docs_bins is not None:
        ids = codec.decode_positions(b"".join(docs_bins),
                                     np.asarray(n_docs, dtype=np.int64))
    return (ids,
            codec.varbyte_decode(b"".join(tfs_bins)).astype(np.float64),
            codec.varbyte_decode(b"".join(dls_bins)).astype(np.float64))


def theta_blocks(max_score, n_docs, k: int):
    """Indices of a term's θ-witness blocks: its best blocks by descending
    stored per-block MAX REAL score (stable order) that together cover ≥ k
    postings; None when the term has fewer than k postings among them.

    Any subset of a term's postings yields a valid θ_t (adding postings
    only raises the k-th largest), and the max_score order provably finds
    the best real postings; pairing-bound orders picked near-arbitrary
    blocks on uniform corpora and left θ loose."""
    order = np.argsort(-np.asarray(max_score, dtype=np.float64),
                       kind="stable")
    n = np.asarray(n_docs, dtype=np.int64)[order]
    take = int(np.searchsorted(np.cumsum(n), k) + 1)
    if int(n[:take].sum()) < k:
        return None
    return order[:take]


def kth_score(scores: np.ndarray, k: int) -> float:
    """θ_t: the k-th largest of a term's decoded scores (0.0 below k)."""
    if not 0 < k <= scores.size:
        return 0.0
    return float(np.partition(scores, scores.size - k)[scores.size - k])


class DocSpace:
    """Accumulator slots for the doc ids one query touches.

    Dense when ``dense=(base, n)`` is given — doc ids are gap-free from
    ``base``, slot = id - base, n slots: O(N) zeroing that beats sort-merges
    once the candidate set approaches the corpus. Sparse otherwise — slot =
    rank in the sorted union of ``id_lists``, O(mass·log mass).
    """

    def __init__(self, id_lists: list, dense: tuple | None = None):
        if dense is not None:
            self.base, self.size = dense
            self.uniq = None
        else:
            self.uniq = np.unique(np.concatenate(id_lists))
            self.size = self.uniq.size

    def slots(self, ids: np.ndarray) -> np.ndarray:
        if self.uniq is None:
            return ids - self.base
        return np.searchsorted(self.uniq, ids)

    def ids(self, slots: np.ndarray) -> np.ndarray:
        return slots + self.base if self.uniq is None else self.uniq[slots]

    def member(self, sorted_ids: np.ndarray) -> np.ndarray:
        """Per-slot mask: is the slot's doc id in ascending ``sorted_ids``
        (ids of this space's doc range)."""
        if self.uniq is not None:
            return in_sorted(self.uniq, sorted_ids)
        m = np.zeros(self.size, dtype=bool)
        m[sorted_ids - self.base] = True
        return m


def accumulate(space: DocSpace, lists) -> tuple:
    """(per-slot score sum, per-slot match count) over ``(ids, scores)``
    lists, added in list order. Ids are unique within a list (one posting
    per doc per term), so plain fancy indexing needs no ``np.add.at``."""
    total = np.zeros(space.size)
    count = np.zeros(space.size, dtype=np.int32)
    for ids, s in lists:
        ix = space.slots(ids)
        total[ix] += s
        count[ix] += 1
    return total, count


def topk(ids: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Positions of the top-k by (score desc, id asc).

    argpartition makes the cut, WIDENED to every candidate tied with the
    boundary score before the exact lexsort — argpartition alone resolves
    boundary ties arbitrarily, which would break parity with the engine's
    ``orderBy(score desc, doc_id asc).limit(k)``."""
    kk = min(k, scores.size)
    if kk < scores.size:
        part = np.argpartition(-scores, kk - 1)
        sel = np.flatnonzero(scores >= scores[part[kk - 1]])
    else:
        sel = np.arange(scores.size)
    return sel[np.lexsort((ids[sel], -scores[sel]))][:kk]


def in_sorted(values: np.ndarray, sorted_arr: np.ndarray) -> np.ndarray:
    """Membership mask of ``values`` in ascending ``sorted_arr`` by binary
    search — O(n log m) with no allocation-heavy merge, vs ``np.isin``'s
    concat-and-sort of BOTH arrays (measurable on the multi-million-key
    position sets of stopword phrases)."""
    if sorted_arr.size == 0:
        return np.zeros(values.shape, dtype=bool)
    ix = np.searchsorted(sorted_arr, values)
    ix[ix == sorted_arr.size] = 0
    return sorted_arr[ix] == values
