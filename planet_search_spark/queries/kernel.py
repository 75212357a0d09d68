"""Columnar block kernel shared by the Spark engine and the serving reader.

One implementation of the read path's algorithms: the engine's per-shard
``mapInArrow`` task and
:class:`~planet_search_spark.queries.serve.LocalSearcher` both prune, rank,
chain phrases and apply function_score through the routines below. It
imports numpy and the codec only — no pyspark — so the same code runs in a
Python UDF worker and in the shard daemon. Callers pass BM25 in as a
``score`` callable (:func:`planet_search_spark.scoring.bm25` under global
stats) and the search-template config as a dict
(:func:`..search_config.load_config`).

* :func:`score_blocks` — the one pruning routine: the AND doc-range skip,
  witness-block θ, block-max WAND block skipping, decode and score;
* the two combinators over its ``{(field_id, term): (ids, scores)}``
  lists: :func:`rank` — accumulate, the AND filter, dis_max over boosted
  fields and the exact top-k (``bm25_topk``, ``dismax_topk``) — and
  :func:`should_sum` — dis_max over each original term's expansions, the
  boosted should-sum over fields and terms and the matched-term count
  (the BM25 part of ``search``);
* :func:`function_score` — ``search``'s phrase tiers, saturation, static
  prior, exact bonus and recency over its candidates' doc values;
* :func:`phrase_docs` — the positional phrase chain over packed
  (doc_id, pos) keys (:data:`POS_SHIFT`);
* :func:`decode_blocks` — a term's block payloads -> (doc_ids, tfs, dls);
* :func:`theta_blocks` / :func:`kth_score` — the θ-witness blocks of a term
  and its θ_t;
* :class:`DocSpace` / :func:`range_space` / :func:`accumulate` — per-doc
  accumulation, dense (doc-indexed arrays) or sparse (sorted union of the
  query's doc ids);
* :func:`topk` — the exact (score desc, doc_id asc) top-k cut;
* :func:`in_sorted` — binary-search membership in a sorted id set.

Block-max WAND, and why it is exact
-----------------------------------
A block source holds, for each query (field f, term t), blocks with stored
metadata: doc count, the (max_tf, min_dl) pair whose BM25 ``ub`` bounds
every posting of the block, the stored max REAL score, and the doc range
[first_doc, last_doc]. Both readers get theirs from one two-phase
pyarrow block reader (:func:`engine.block_source`: block metadata first,
payloads only for the blocks kept). The engine's source is one doc-range
shard [lo, hi), read inside its shard task: every block of the query
terms that overlaps the range. The reader's source is its whole index
(lo, hi unbounded), over the postings tables it keeps open.

* θ_ft is the k-th largest REAL score among the postings of t's witness
  blocks (:func:`theta_blocks`: best stored max score first, until ≥ k
  postings). Any subset of t's postings gives a valid θ_ft — adding
  postings only raises the k-th largest — and those k docs' dis_max scores
  are ≥ boost_f·θ_ft. So θ = max_ft boost_f·θ_ft lower-bounds the GLOBAL
  k-th best score, whichever shard's blocks the witnesses came from.
* Blocks of one (f, t) are doc-disjoint (one posting per doc per term;
  segments hold disjoint doc ranges). A doc of the shard has every block
  that contains it in the shard's input, since that block overlaps the
  range. So for a doc of the shard, ``mx_f(t)`` (the max block ub of
  (f, t) in the source) bounds its t-contribution, and a block (f, t, b)
  is pruned iff ``max(boost_f·(ub_f(t,b) + other_f(t)), cross_f) < θ``
  with ``other_f(t) = Σ_{t'≠t} mx_f(t')`` and
  ``cross_f = max_{f'≠f} boost_f'·Σ_t mx_f'(t)`` — the bound of a doc in
  that block, whichever field wins its dis_max. With one field at boost
  1.0 this is ``ub + other < θ``.
* A doc whose true score is ≥ θ therefore keeps all its blocks and is
  scored exactly. Every global top-k doc scores ≥ the global k-th score ≥
  θ, so it keeps its blocks and lands in its shard's top-k: the docs of
  the shard ranked above it are exact too (a doc that lost a block scores
  < θ) and also rank above it globally. The (score desc, doc_id asc)
  merge of the shards' top-k is the exact global top-k.
* θ lower-bounds the k-th best DISJUNCTIVE score only, so θ-pruning is off
  for conjunctive queries. Those get the exact AND doc-range skip instead:
  every AND doc has a posting of the rarest term, so it lies in one of
  that term's block ranges, and a block of another term containing it
  overlaps that range. Blocks overlapping none drop; every surviving doc
  keeps all its blocks.
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


def range_space(id_lists: list, lo: int) -> DocSpace:
    """Slots for ids ≥ ``lo``: dense over [lo, max id] once the posting
    mass reaches 1/8 of that span (O(span) zeroing beats the sparse
    union's sort), sparse otherwise."""
    span = max((int(a.max()) for a in id_lists if a.size),
               default=lo - 1) + 1 - lo
    if 0 < span <= 8 * sum(a.size for a in id_lists):
        return DocSpace(id_lists, (lo, span))
    return DocSpace(id_lists)


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


def _overlaps(first, last, r_first, r_last) -> np.ndarray:
    """Per block [first, last]: does it overlap any range [r_first,
    r_last]? Ranges sorted by start, a running max of their ends, one
    binary search per block."""
    o = np.argsort(r_first, kind="stable")
    starts, ends = r_first[o], np.maximum.accumulate(r_last[o])
    j = np.searchsorted(starts, last, side="right") - 1
    return (j >= 0) & (ends[np.maximum(j, 0)] >= first)


def score_blocks(meta: dict, fetch, score, boosts: dict, k: int, *,
                 prune: bool = False, and_skip: bool = False,
                 doc_range: tuple | None = None) -> tuple:
    """Prune, decode and score one block source (exactness argument in the
    module docstring).

    ``meta`` maps each (field_id, term) that has blocks in the source to
    numpy per-block arrays: ``n`` (doc count), ``max_tf`` / ``min_dl``
    (the ub pair), ``ms`` (stored max real score) and, for ``and_skip``,
    ``first`` / ``last`` (doc range). ``fetch({key: block indices})``
    returns ``{key: (docs_bins, tfs_bins, dls_bins)}`` of those blocks, and
    ``score(key, tfs, dls)`` is the key's BM25. ``prune`` runs witness θ
    and block-max WAND skipping; ``and_skip`` the AND doc-range skip.
    Decoded postings outside ``doc_range = (lo, hi)`` are dropped.

    Returns ``({(field_id, term): (doc_ids, scores)} in sorted key order,
    {"theta", "blocks_total", "blocks_kept"})``."""
    keys = sorted(meta)
    keep = {key: np.ones(meta[key]["n"].size, dtype=bool) for key in keys}
    theta = 0.0
    if and_skip and keys:
        rare = min(keys, key=lambda key: int(meta[key]["n"].sum()))
        for key in keys:
            if key != rare:
                keep[key] = _overlaps(meta[key]["first"], meta[key]["last"],
                                      meta[rare]["first"], meta[rare]["last"])
    if prune and keys:
        ubs = {key: score(key, meta[key]["max_tf"], meta[key]["min_dl"])
               for key in keys}
        mx = {key: float(u.max()) for key, u in ubs.items()}
        total: dict = {}
        for (fid, _t), v in mx.items():
            total[fid] = total.get(fid, 0.0) + v
        sels = {key: theta_blocks(meta[key]["ms"], meta[key]["n"], k)
                for key in keys}
        sels = {key: sel for key, sel in sels.items() if sel is not None}
        for key, (_d, tbins, lbins) in (fetch(sels) if sels else {}).items():
            _ids, tfs, dls = decode_blocks(None, None, tbins, lbins)
            theta = max(theta,
                        boosts[key[0]] * kth_score(score(key, tfs, dls), k))
        for key in keys:
            fid = key[0]
            cross = max((boosts[f] * total[f] for f in total if f != fid),
                        default=0.0)
            if cross < theta - 1e-12:
                other = total[fid] - mx[key]
                keep[key] &= boosts[fid] * (ubs[key] + other) >= theta - 1e-12
    sel = {key: np.flatnonzero(keep[key]) for key in keys if keep[key].any()}
    out: dict = {}
    for key, bins in (fetch(sel) if sel else {}).items():
        ids, tfs, dls = decode_blocks(meta[key]["n"][sel[key]], *bins)
        if doc_range is not None:
            m = (ids >= doc_range[0]) & (ids < doc_range[1])
            ids, tfs, dls = ids[m], tfs[m], dls[m]
        out[key] = (ids, score(key, tfs, dls))
    return out, {"theta": theta,
                 "blocks_total": sum(v.size for v in keep.values()),
                 "blocks_kept": sum(int(v.sum()) for v in keep.values())}


def rank(scored: dict, boosts: dict, k: int | None, *, need: int = 1,
         space: DocSpace | None = None) -> tuple:
    """(doc_ids, scores, nmatch) of the docs matching ≥ ``need`` postings,
    the top ``k`` in (score desc, doc_id asc) order (all, unordered, when
    ``k`` is None).

    ``scored`` is :func:`score_blocks`' ``{(field_id, term): (ids,
    scores)}``. Per field the scores are summed in sorted term order, so
    every reader gets bit-identical sums; a doc's score is the dis_max
    ``max_f boost_f·s_f`` over the fields, which with one field at boost
    1.0 is the plain BM25 sum; nmatch counts its postings. ``space``
    defaults to the sparse union of the ids."""
    if not scored:
        return (np.empty(0, dtype=np.int64), np.empty(0),
                np.empty(0, dtype=np.int32))
    if space is None:
        space = DocSpace([ids for ids, _s in scored.values()])
    fields: dict = {}
    for key in sorted(scored):
        fields.setdefault(key[0], []).append(scored[key])
    best, nmatch = None, np.zeros(space.size, dtype=np.int32)
    for fid, ls in fields.items():
        s_f, count = accumulate(space, ls)
        nmatch += count
        best = boosts[fid] * s_f if best is None \
            else np.maximum(best, boosts[fid] * s_f)
    cand = np.flatnonzero(nmatch >= need)
    ids, scores, nmatch = space.ids(cand), best[cand], nmatch[cand]
    if k is not None:
        o = topk(ids, scores, k)
        ids, scores, nmatch = ids[o], scores[o], nmatch[o]
    return ids, scores, nmatch


def should_sum(scored: dict, boosts: dict, origs: dict, *, need: int = 1,
               space: DocSpace | None = None) -> tuple:
    """(doc_ids, bm25, nmatch) of every doc matching ≥ ``need`` original
    query terms, in slot order — the bool ``should`` of ``search``.

    ``scored`` is :func:`score_blocks`' ``{(field_id, term): (ids,
    scores)}`` and ``origs`` maps each original query term to the set of
    its expansions (itself for a plain term). Per (field, original term) a
    doc takes the max over the expansions (dis_max, tie_breaker 0.0), and
    ``bm25`` sums ``boost_f`` × that max over original terms in ``origs``
    order, fields ascending; nmatch counts the original terms matched in
    any field. ``space`` defaults to the sparse union of the ids."""
    lists = [ids for ids, _s in scored.values() if ids.size]
    if not lists:
        return (np.empty(0, dtype=np.int64), np.empty(0),
                np.empty(0, dtype=np.int32))
    if space is None:
        space = DocSpace(lists)
    bm = np.zeros(space.size)
    # int32, not int8: ≥128 distinct original terms would overflow
    nmatch = np.zeros(space.size, dtype=np.int32)
    m_buf = np.empty(space.size, dtype=bool)
    # Several expansions dis_max straight into slot-indexed scratch:
    # gather/np.maximum/scatter per list is O(total postings), and the
    # scratch reset walks only the touched slots.
    sm = t_buf = None
    for o, exps in origs.items():
        m_buf[:] = False
        for fid in sorted(boosts):
            arrs = [scored[(fid, e)] for e in sorted(exps)
                    if (fid, e) in scored and scored[(fid, e)][0].size]
            if not arrs:
                continue
            if len(arrs) == 1:
                # posting ids are unique within a list: plain fancy indexing
                ix = space.slots(arrs[0][0])
                bm[ix] += boosts[fid] * arrs[0][1]
                m_buf[ix] = True
                continue
            if sm is None:
                sm = np.zeros(space.size)
                t_buf = np.zeros(space.size, dtype=bool)
            for ids, s in arrs:
                ix = space.slots(ids)
                sm[ix] = np.maximum(sm[ix], s)
                t_buf[ix] = True
            touched = np.flatnonzero(t_buf)
            bm[touched] += boosts[fid] * sm[touched]
            m_buf[touched] = True
            sm[touched] = 0.0
            t_buf[touched] = False
        nmatch += m_buf
    cand = np.flatnonzero(nmatch >= need)
    return space.ids(cand), bm[cand], nmatch[cand]


def function_score(bm: np.ndarray, is_exact: np.ndarray, prior: np.ndarray,
                   ts: np.ndarray, cfg: dict, *,
                   in_phrase: np.ndarray | None = None,
                   now: float | None = None) -> np.ndarray:
    """``search``'s final score per candidate (points_search.json:108-159):
    ``bm`` is :func:`should_sum`'s bool score, ``prior`` / ``ts`` the doc
    values, ``cfg`` the search-template config. ``in_phrase`` adds the
    constant phrase tiers to the bool score before the saturation; then
    the exact bonus, the weighted prior and, with ``now``, the gaussian
    recency. One expression order, so every caller's scores agree bit for
    bit."""
    if in_phrase is not None:
        bm = bm + cfg["tier_exact"] * is_exact
        bm = bm + cfg["tier_phrase"] * in_phrase
    score = (cfg["w_text"] * bm / (bm + cfg["k_text"])
             + cfg["w_exact"] * is_exact)
    score = score + cfg["w_prior"] * prior
    if now is not None:
        x = np.maximum(0.0, now - ts - cfg["rec_offset"])
        score = score + cfg["w_rec"] * np.exp(
            -0.5 * (x / cfg["rec_scale"]) ** 2)
    return score


# (doc_id, pos) pairs are packed into one int64 key for the flat phrase
# chain: doc_id * 2^22 + pos. 2^22 positions per turn is far above any
# real dl, and 10^12 docs * 2^22 still fits int64.
POS_SHIFT = 1 << 22


def phrase_docs(steps: list) -> np.ndarray:
    """Sorted doc ids where a phrase occurs: ``steps[i]`` holds the sorted
    packed (doc_id, pos) keys of the phrase's i-th term (for a phrase
    prefix, the last step is every expansion's keys merged). A key
    c = doc·POS_SHIFT + p of ``steps[0]`` survives step i iff c + i is in
    ``steps[i]``; the pack keeps doc boundaries intact because positions
    never reach the shift."""
    cand = steps[0]
    for i, keys in enumerate(steps[1:], start=1):
        if cand.size == 0:
            break
        cand = cand[in_sorted(cand + i, keys)]
    return np.unique(cand // POS_SHIFT)
