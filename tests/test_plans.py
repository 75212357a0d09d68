"""Physical-plan guards: the scale properties must be visible in the plan —
partition pruning on bucket directories, term predicate pushdown to the
parquet scan, broadcast joins for small dimensions. These are the
`.explain("formatted")` checks the 100 TB design depends on."""
from __future__ import annotations

import pytest

from planet_search_spark.queries import engine as E
from planet_search_spark.indexing.build import build_index
from planet_search_spark.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("planidx"))
    build_index(spark, synthesize_transcripts(spark, n_convs=20), out,
                n_buckets=8, n_groups=1)
    return out


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_scan_prunes_buckets_and_pushes_terms(spark, small_index):
    idx = E.open_index(small_index)
    blocks = E._load_blocks(spark, idx, ["error", "timeout"])
    plan = _plan(blocks)
    assert "PartitionFilters" in plan
    # bucket partition filter is present and non-trivial
    assert "bucket" in plan.split("PartitionFilters", 1)[1][:200]
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "In(term" in pushed
    assert "EqualTo(field" in pushed or "field" in pushed  # field pushdown


def test_bm25_scores_plan_is_join_free(spark, small_index):
    """Per-term df ships in the scoring UDF's closure (collected once, one
    row per query term), so the scoring plan has NO join at all — stricter
    than the round-1 broadcast-join assertion."""
    df = E.bm25_scores(spark, small_index, "error timeout")
    plan = _plan(df)
    assert "Join" not in plan, "scoring must be a pure projection"
    assert "SortMergeJoin" not in plan
    # decode + BM25 run in one Arrow UDF over the blocks (no pandas hop)
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan


def test_topk_is_take_ordered(spark, small_index):
    df = E.bm25_topk(spark, small_index, "error timeout", k=5,
                     prune=False, hydrate=False)
    assert "TakeOrderedAndProject" in _plan(df)


def test_topk_plan_is_one_exchange_by_shard(spark, small_index,
                                           monkeypatch):
    """Each doc-range shard is ranked inside one Arrow task: the un-hydrated
    top-k plan moves blocks through ONE Exchange, keyed by shard (a single
    partition for a one-shard query), and has no per-doc aggregation in
    the JVM."""
    def plan():
        return _plan(E.bm25_topk(spark, small_index, "error timeout", k=5,
                                 hydrate=False))
    one = plan()
    monkeypatch.setattr(E, "_SHARD_POSTINGS", 1)
    many = plan()
    assert "Exchange SinglePartition" in one
    assert "Exchange hashpartitioning(shard" in many
    for p in (one, many):
        assert p.count("Exchange") == 1, p
        assert "HashAggregate" not in p
        assert "MapInArrow" in p


def _subtree(plan: str, marker: str) -> list[str]:
    """The lines of the first plan node containing ``marker`` and of its
    children (the lines below it that are indented deeper)."""
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines) if marker in ln)

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))
    out = [lines[at]]
    for ln in lines[at + 1:]:
        if depth(ln) <= depth(lines[at]):
            break
        out.append(ln)
    return out


def test_search_plan_is_one_shard_task(spark, small_index, monkeypatch):
    """``search`` ranks inside the same per-shard Arrow task as the bare
    BM25 paths, phrase tiers included: one ``MapInArrow`` over ONE block
    Exchange keyed by shard (a single partition for a one-shard query), no
    JVM aggregation, no driver-side Python-list relation of expansion
    pairs, and no join but the hydration broadcast."""
    from planet_search_spark.queries.params import SearchParams

    def plan(tiers):
        return _plan(E.search(spark, small_index, SearchParams(
            query="error time", multifield=True, prefix=True,
            phrase_tiers=tiers, recency=tiers, k=5)))
    one = [plan(False), plan(True)]
    monkeypatch.setattr(E, "_SHARD_POSTINGS", 1)
    many = [plan(False), plan(True)]
    for p, key in ([(p, "Exchange SinglePartition") for p in one]
                   + [(p, "Exchange hashpartitioning(shard") for p in many]):
        assert p.count("MapInArrow") == 1, p
        assert "HashAggregate" not in p and "ExistingRDD" not in p, p
        exchanges = [ln for ln in _subtree(p, "MapInArrow")
                     if "Exchange" in ln]
        assert len(exchanges) == 1 and key in exchanges[0], p
        joins = [ln for ln in p.splitlines() if "Join" in ln]
        assert len(joins) == 1 and "BroadcastHashJoin" in joins[0], p


def test_hydrated_plans_have_no_range_shuffle(spark, small_index):
    """Hydration joins ≤ k already-ordered rows: its final order is one
    single-partition sort, never a range-partition Exchange (which costs a
    bounds-sampling job per query)."""
    from planet_search_spark.queries.params import SearchParams
    for df in (E.bm25_topk(spark, small_index, "error timeout", k=5),
               E.dismax_topk(spark, small_index, "error timeout", k=5),
               E.search(spark, small_index, SearchParams(
                   query="error timeout", multifield=True,
                   phrase_tiers=True, recency=True, k=5))):
        p = _plan(df)
        assert "BroadcastHashJoin" in p and "rangepartitioning" not in p, p


def test_logical_bm25_pushes_term_filter_to_scan(spark):
    """The inline path must push the isin(term) filter below the tf agg."""
    from planet_search_spark.queries.logical import QUERIES
    fn, _ = QUERIES["bm25_or"]
    plan = _plan(fn(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters" in plan


def test_exact_path_pushes_kw_hash_to_scan(spark, small_index):
    """Exact-match search must push the kw_hash equality into the parquet
    scan (doc_store is written sorted by kw_hash, so row-group min/max
    stats make this a point read, not a full scan)."""
    from planet_search_spark.queries.params import SearchParams
    df = E.search(spark, small_index, SearchParams(query="error", exact=True))
    plan = _plan(df)
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "kw_hash" in pushed


def test_phrase_plan_is_jvm_only(spark, small_index):
    """Round-3 guard: the positional phrase chain must compile to pure JVM
    joins — no Python evaluation stage anywhere in the plan (round 2's
    per-doc itertuples loop was the banned row-at-a-time pattern)."""
    df = E.phrase_match(spark, small_index, "out of memory")
    plan = _plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    assert "Join LeftSemi" in plan or "LeftSemi" in plan
    # positions scan pushes term + field filters down
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "term" in pushed


def test_phrase_prefix_plan_is_jvm_only(spark, small_index):
    df = E.phrase_prefix_match(spark, small_index, "out of mem")
    plan = _plan(df)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_dismax_multifield_plan_shape(spark, small_index):
    """Multi-field dis_max: field+term filters pushed to the scan; the only
    join in the scoring plan is the final k-row hydration."""
    df = E.dismax_topk(spark, small_index, "error timeout", k=5,
                       hydrate=False)
    plan = _plan(df)
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "In(term" in pushed
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_search_plan_hydrates_strings_above_topk_only(spark, small_index):
    """Round-3 VERDICT #1 done-criterion: below the top-k, the full
    search() plan must touch NO stored string column — the shard tasks
    read their doc values, filter sets and phrase positions themselves and
    emit ≤ k (doc_id, score, nmatch) rows; conv_id/role/tool hydrate only
    the k winners via a broadcast join ABOVE the TakeOrderedAndProject."""
    from planet_search_spark.queries.params import SearchParams
    df = E.search(spark, small_index,
                  SearchParams(query="error timeout", multifield=True,
                               phrase_tiers=True, recency=True, k=5))
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    head, below = plan.split("TakeOrderedAndProject", 1)
    # subtree below the top-k heap: the block scan and the shard tasks
    assert "conv_id" not in below
    # winners hydrate via a broadcast join above the heap
    assert "conv_id" in head
    assert "BroadcastHashJoin" in head or "BroadcastNestedLoopJoin" in head
