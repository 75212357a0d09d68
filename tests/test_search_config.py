"""update-templates-only analogue (MainClass.java:50-63): push query-side
template tunables to a LIVE index without a reindex; absent config ==
code defaults (so every existing index and oracle query is unchanged)."""
import json
import os

import pytest

from planet_search_spark.indexing.build import build_index
from planet_search_spark.queries.params import SearchParams
from planet_search_spark.queries.search_config import (DEFAULTS,
                                                       load_config,
                                                       update_templates)
from planet_search_spark.queries.serve import LocalSearcher
from planet_search_spark.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):  # noqa: F811
    out = str(tmp_path_factory.mktemp("cfg") / "idx")
    build_index(spark, synthesize_transcripts(spark, n_convs=20, seed=5),
                out, n_buckets=8, block_size=32, n_groups=1)
    return out


def test_absent_config_is_code_defaults(idx):
    assert load_config(idx) == DEFAULTS
    assert not os.path.exists(os.path.join(idx, "search_config.json"))


def test_update_templates_changes_live_ranking_without_reindex(idx):
    params = SearchParams(query="merge window", recency=True)
    seg_root = os.path.join(idx, "segments")
    mtimes = {s: os.path.getmtime(os.path.join(seg_root, s))
              for s in os.listdir(seg_root)}
    before = LocalSearcher(idx).search(params)
    assert before, "query must match on the synthetic corpus"

    # crank the static-prior weight: every matching doc's score must rise
    # by (new_w - old_w) * prior >= (100 - 0.3) * PRIOR_FLOOR on a FRESH
    # reader open (prior has a 0.05 floor, so the bump is guaranteed)
    update_templates(idx, {"w_prior": 100.0})
    after = LocalSearcher(idx).search(params)
    b = {r["doc_id"]: r["score"] for r in before}
    common = [r for r in after if r["doc_id"] in b]
    assert common, "top-k sets must overlap on this corpus"
    assert all(r["score"] > b[r["doc_id"]] + 1.0 for r in common), \
        "a 100x prior weight must move every candidate's score"

    # no segment was touched: the push is metadata-only
    assert mtimes == {s: os.path.getmtime(os.path.join(seg_root, s))
                      for s in os.listdir(seg_root)}

    # defaults push restores the original scores bit-for-bit
    update_templates(idx, {})
    restored = LocalSearcher(idx).search(params)
    assert [(r["doc_id"], r["score"]) for r in restored] == \
        [(r["doc_id"], r["score"]) for r in before]


def test_update_templates_field_boosts_reach_dismax(idx):
    # the meta field indexes role+tool tokens (build.py meta_field_col),
    # so 'assistant search' is guaranteed to match meta on this corpus —
    # a 100x meta boost must then raise the dis_max winner
    q = "assistant search"
    d_before = LocalSearcher(idx).dismax_topk(q, k=5)
    assert d_before, "query must match on the synthetic corpus"
    update_templates(idx, {"field_boosts": {"text": 5.0, "meta": 300.0}})
    try:
        d_after = LocalSearcher(idx).dismax_topk(q, k=5)
        assert max(r["score"] for r in d_after) > \
            max(r["score"] for r in d_before)
    finally:
        os.remove(os.path.join(idx, "search_config.json"))


def test_engine_ranks_with_pushed_config_like_reader(spark, idx):
    """The engine reads ``search_config.json`` wherever the reader does:
    after a push of non-default weights, tiers, recency scale and field
    boosts, engine ``search`` (also its exact path) and default-boost
    ``dismax_topk`` return the reader's (doc_id, score) lists, in order
    and bit for bit — and those differ from the default-config ranking."""
    from planet_search_spark.queries import engine as E
    text = synthesize_transcripts(spark, n_convs=20, seed=5).first()["text"]
    cases = [SearchParams(query="merge window", recency=True),
             SearchParams(query="merge window", multifield=True,
                          phrase_tiers=True, recency=True),
             SearchParams(query="assistant search", multifield=True),
             SearchParams(query=text, exact=True)]

    def engine():
        out = [[(r.doc_id, r.score) for r in
                E.search(spark, idx, p).collect()] for p in cases]
        return out + [[(r.doc_id, r.score) for r in E.dismax_topk(
            spark, idx, "assistant search", k=10).collect()]]

    def reader():
        srv = LocalSearcher(idx)
        out = [[(r["doc_id"], r["score"]) for r in srv.search(p)]
               for p in cases]
        return out + [[(r["doc_id"], r["score"]) for r in
                       srv.dismax_topk("assistant search", k=10)]]

    before = engine()
    update_templates(idx, {"w_prior": 100.0, "tier_exact": 20.0,
                           "tier_phrase": 30.0, "rec_scale": 86400.0,
                           "field_boosts": {"text": 1.0, "meta": 50.0}})
    try:
        got, want = engine(), reader()
    finally:
        os.remove(os.path.join(idx, "search_config.json"))
    for case, g, w, b in zip(cases + ["dismax_topk"], got, want, before):
        assert g == w and w, case
        assert g != b, case
    assert {s for _d, s in got[3]} == {20.0}


def test_unknown_key_rejected(idx, tmp_path):
    with pytest.raises(ValueError, match="unknown search_config"):
        update_templates(idx, {"boost_typo": 2.0})
    with pytest.raises(ValueError, match="unknown fields"):
        update_templates(idx, {"field_boosts": {"nope": 1.0}})
    # a hand-edited file with a typo'd key fails loudly at load, not
    # silently no-ops
    p = os.path.join(idx, "search_config.json")
    with open(p, "w") as f:
        json.dump({"tier_exat": 15.0}, f)
    try:
        with pytest.raises(ValueError, match="unknown search_config"):
            LocalSearcher(idx)
    finally:
        os.remove(p)
