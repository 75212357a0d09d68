"""The engine's read path without Spark: postings encoded by the build's
own encoder and written with pyarrow, read back by the two-phase block
reader (:func:`engine.block_source`) over 1 and 3 doc ranges, scored by
:func:`kernel.score_blocks` and ranked by :func:`kernel.rank`. The merged
top-k must equal brute-force BM25 bit for bit, pruned and unpruned.
These tests start no JVM."""
from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from planet_search_spark import scoring as S
from planet_search_spark.indexing.build import _encoder_core, bucket_of
from planet_search_spark.queries import engine as E
from planet_search_spark.queries import kernel as K

N_DOCS, N_BUCKETS, BLOCK, K_TOP = 900, 4, 16, 10
# (term, share of docs holding it): one stopword, mid terms, rare terms
VOCAB = [("the", 0.9), ("data", 0.4), ("error", 0.25), ("spark", 0.1),
         ("timeout", 0.05), ("kitten", 0.01)]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """(segment dir, {term: (doc_ids, tfs)}, dls): one field, the
    postings of each bucket in ``postings/group=0/bucket=<b>``, written in
    several row groups."""
    rng = np.random.default_rng(11)
    dls = rng.integers(4, 80, N_DOCS).astype(np.int64)
    posts = {}
    for t, share in VOCAB:
        ids = np.flatnonzero(rng.random(N_DOCS) < share).astype(np.int64)
        # low ids get high tf: block bounds separate, so θ drops blocks
        tfs = np.maximum(1, rng.integers(1, 4, ids.size)
                         + (ids < N_DOCS // 10) * 4).astype(np.int64)
        posts[t] = (ids, tfs)
    avgdl = float(dls.sum()) / N_DOCS
    term_stats, blocks, _tb = _encoder_core({0: (N_DOCS, avgdl)}, BLOCK, 2,
                                            64)
    seg = str(tmp_path_factory.mktemp("seg"))
    by_bucket: dict = {}
    for t in sorted(posts):
        by_bucket.setdefault(bucket_of(t, N_BUCKETS), []).append(t)
    for b, ts in by_bucket.items():
        ids = np.concatenate([posts[t][0] for t in ts])
        p = {"field": np.zeros(ids.size, dtype=np.int64), "doc_id": ids,
             "dl": dls[ids],
             "tf": np.concatenate([posts[t][1] for t in ts]),
             "term": pa.array([t for t in ts for _ in posts[t][0]])}
        starts = np.cumsum([0] + [posts[t][0].size for t in ts[:-1]])
        df = term_stats(p, starts)["df"]
        d = os.path.join(seg, "postings", "group=0", f"bucket={b}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_batches([blocks(p, starts, df)]),
                       os.path.join(d, "part-0.parquet"), row_group_size=8)
    return seg, posts, dls


def _brute(posts, dls, terms, k):
    avgdl = float(dls.sum()) / N_DOCS
    total = np.zeros(N_DOCS)
    hit = np.zeros(N_DOCS, dtype=bool)
    for t in sorted(terms):
        ids, tfs = posts[t]
        total[ids] += S.bm25(tfs.astype(np.float64),
                             dls[ids].astype(np.float64), float(ids.size),
                             float(N_DOCS), avgdl)
        hit[ids] = True
    ids = np.flatnonzero(hit)
    o = np.lexsort((ids, -total[ids]))[:k]
    return ids[o].tolist(), total[ids][o].tolist()


def _engine(seg, posts, dls, terms, k, n_ranges, prune, buckets):
    """Each doc range is one shard task's read, score and rank; the
    merge is the coordinator's (score desc, doc_id asc) cut."""
    avgdl = float(dls.sum()) / N_DOCS
    postings = E.datasets([seg], "postings", buckets)
    boosts = {0: 1.0}

    def score(key, tfs, dls_):
        return S.bm25(tfs, dls_, float(posts[key[1]][0].size),
                      float(N_DOCS), avgdl)
    width = math.ceil(N_DOCS / n_ranges)
    got_ids, got_scores, stats = [], [], []
    for s in range(n_ranges):
        lo = s * width
        hi = lo + width if s < n_ranges - 1 else np.iinfo(np.int64).max
        meta, fetch = E.block_source(postings, N_BUCKETS, terms, [0],
                                     (lo, hi))
        scored, st = K.score_blocks(meta, fetch, score, boosts, k,
                                    prune=prune, doc_range=(lo, hi))
        lists = [ids for ids, _s in scored.values()]
        ids, scores, _n = K.rank(
            scored, boosts, k,
            space=K.range_space(lists, lo) if lists else None)
        assert ids.size <= k and ((ids >= lo) & (ids < hi)).all()
        got_ids += ids.tolist()
        got_scores += scores.tolist()
        stats.append(st)
    o = K.topk(np.array(got_ids, dtype=np.int64), np.array(got_scores), k)
    return ([got_ids[i] for i in o], [got_scores[i] for i in o], stats)


@pytest.mark.parametrize("terms", [["the", "data", "error"],
                                   ["spark", "timeout", "kitten"],
                                   ["the"], ["error", "absent"]])
@pytest.mark.parametrize("n_ranges", [1, 3])
@pytest.mark.parametrize("prune", [False, True])
def test_block_read_matches_brute_force(corpus, terms, n_ranges, prune):
    seg, posts, dls = corpus
    want = _brute(posts, dls, [t for t in terms if t in posts], K_TOP)
    for buckets in (None, [bucket_of(t, N_BUCKETS) for t in terms]):
        ids, scores, _st = _engine(seg, posts, dls, terms, K_TOP, n_ranges,
                                   prune, buckets)
        assert (ids, scores) == want and ids


def test_pruning_drops_blocks(corpus):
    """θ runs in every range and drops blocks of the stopword query, whose
    high-tf blocks sit in the lowest doc ids."""
    seg, posts, dls = corpus
    for n_ranges in (1, 3):
        _i, _s, stats = _engine(seg, posts, dls, ["the"], K_TOP, n_ranges,
                                True, None)
        assert sum(st["blocks_kept"] for st in stats) < \
            sum(st["blocks_total"] for st in stats), stats


def test_block_meta_keeps_only_overlapping_blocks(corpus):
    """A doc range reads the metadata of exactly the blocks that overlap
    it, and the payload read returns exactly the requested addresses."""
    seg, _posts, _dls = corpus
    postings = E.datasets([seg], "postings")
    full = E.block_meta(postings, N_BUCKETS, ["the", "data"], 0)
    lo, hi = 300, 600
    part = E.block_meta(postings, N_BUCKETS, ["the", "data"], 0, (lo, hi))
    for t, a in full.items():
        m = (a["last"] >= lo) & (a["first"] < hi)
        assert [x for x, keep in zip(a["addr"], m) if keep] == \
            part[t]["addr"]
    want = {(si, "the", bid) for si, bid in part["the"]["addr"][::2]}
    got = E.fetch_payloads(postings, N_BUCKETS, want, 0, (lo, hi))
    assert set(got) == want
