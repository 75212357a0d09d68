"""Physical-plan guards: the scale properties must be visible in the plan —
partition pruning on bucket directories, term predicate pushdown to the
parquet scan, the engine's one-task-per-shard ranking plan. These are the
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
    """The shard task's two-phase block reader opens only the query terms'
    bucket directories and finds exactly the blocks a Spark read with the
    same bucket, field and term filter finds; its payload read returns
    the requested block addresses and nothing else, with the bytes Spark
    reads for them."""
    from pyspark.sql import functions as F
    from planet_search_spark.indexing.build import bucket_of
    from planet_search_spark.indexing.layout import read_segments
    idx = E.open_index(small_index)
    terms = ["error", "timeout"]
    buckets = sorted({bucket_of(t, idx.n_buckets) for t in terms})
    postings = E.datasets(idx.seg_dirs, "postings", buckets)
    assert {int(b) for d in postings for f in d.files
            for b in [f.split("bucket=")[1].split("/")[0]]} == set(buckets)
    meta = E.block_meta(postings, idx.n_buckets, terms, 0)
    got = {(t, bid): (int(a["n"][i]), int(a["first"][i]), int(a["last"][i]))
           for t, a in meta.items() for i, (_si, bid) in enumerate(a["addr"])}
    rows = (read_segments(spark, idx.seg_dirs, "postings")
            .where(F.col("bucket").isin(buckets)).where(F.col("field") == 0)
            .where(F.col("term").isin(terms))
            .select("term", "block_id", "n_docs", "first_doc", "last_doc",
                    "docs_bin").collect())
    assert got == {(r.term, r.block_id): (r.n_docs, r.first_doc, r.last_doc)
                   for r in rows} and got
    want = {(0, t, bid) for t, a in meta.items()
            for _si, bid in a["addr"][::2]}
    pay = E.fetch_payloads(postings, idx.n_buckets, want, 0)
    assert set(pay) == want
    spark_bins = {(r.term, r.block_id): bytes(r.docs_bin) for r in rows}
    assert all(bytes(db) == spark_bins[(t, bid)]
               for (_si, t, bid), (db, _tb, _lb) in pay.items())


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


def _one_job_shape(plan: str) -> None:
    """The engine's ranking plan: one ``MapInArrow`` over ``Range`` (the
    shard ids), which reads its own blocks — no Exchange, no Join, no
    JVM file scan, no JVM aggregation — under one TakeOrderedAndProject."""
    assert plan.count("MapInArrow") == 1 and "Range (0, " in plan, plan
    for marker in ("Exchange", "Join", "FileScan", "HashAggregate"):
        assert marker not in plan, (marker, plan)
    assert "TakeOrderedAndProject" in plan, plan


def test_topk_plan_is_one_task_per_shard(spark, small_index, monkeypatch):
    """Each doc-range shard is read, ranked and hydrated inside one Arrow
    task over ``spark.range`` of the shard ids: one partition per shard,
    nothing exchanged, one top-k merge — hydrated or not, one shard or
    several."""
    def plans():
        return [_plan(E.bm25_topk(spark, small_index, "error timeout", k=5,
                                  hydrate=h)) for h in (False, True)]
    one = plans()
    monkeypatch.setattr(E, "_SHARD_POSTINGS", 1)
    many = plans()
    for p in one + many:
        _one_job_shape(p)
    assert all("splits=1)" in p for p in one)
    assert all("splits=1)" not in p for p in many)


def test_search_plan_is_one_shard_task(spark, small_index, monkeypatch):
    """``search`` ranks and hydrates inside the same per-shard Arrow task
    as the bare BM25 paths, phrase tiers included: one ``MapInArrow`` over
    ``Range``, with no Exchange, no Join, no JVM file scan, no JVM
    aggregation and no driver-side Python-list relation of expansion
    pairs."""
    from planet_search_spark.queries.params import SearchParams

    def plan(tiers):
        return _plan(E.search(spark, small_index, SearchParams(
            query="error time", multifield=True, prefix=True,
            phrase_tiers=tiers, recency=tiers, k=5)))
    one = [plan(False), plan(True)]
    monkeypatch.setattr(E, "_SHARD_POSTINGS", 1)
    many = [plan(False), plan(True)]
    for p in one + many:
        _one_job_shape(p)
        assert "ExistingRDD" not in p, p


def test_hydrated_plans_have_no_range_shuffle(spark, small_index):
    """Hydration is a point read inside each shard task, so a hydrated
    plan has the one-task shape: no broadcast join, no single-partition
    sort and no range-partition Exchange (which costs a bounds-sampling
    job per query)."""
    from planet_search_spark.queries.params import SearchParams
    for df in (E.bm25_topk(spark, small_index, "error timeout", k=5),
               E.dismax_topk(spark, small_index, "error timeout", k=5),
               E.search(spark, small_index, SearchParams(
                   query="error timeout", multifield=True,
                   phrase_tiers=True, recency=True, k=5))):
        p = _plan(df)
        _one_job_shape(p)
        assert "rangepartitioning" not in p and "Sort " not in p, p
        assert "conv_id" in p


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


def _phrase_shape(spark, small_index, monkeypatch, run) -> None:
    """An engine phrase plan, at one shard and at several: one
    ``MapInArrow`` over ``Range`` (the shard ids) and nothing else — no
    Exchange, no Join, no JVM file scan."""
    one = _plan(run())
    monkeypatch.setattr(E, "_SHARD_POSTINGS", 1)
    many = _plan(run())
    assert "splits=1)" in one and "splits=1)" not in many, (one, many)
    for plan in (one, many):
        assert plan.count("MapInArrow") == 1 and "Range (0, " in plan, plan
        for marker in ("Exchange", "Join", "FileScan"):
            assert marker not in plan, (marker, plan)


def test_phrase_plan_is_one_shard_task(spark, small_index, monkeypatch):
    """Engine phrase queries run the one ranking plan. The task body is
    :func:`engine.pos_keys` and :func:`kernel.phrase_docs` in numpy over
    the shard's doc range: the positional chain stays vectorized, never a
    per-doc Python loop."""
    _phrase_shape(spark, small_index, monkeypatch, lambda: E.phrase_match(
        spark, small_index, "out of memory"))


def test_phrase_prefix_plan_is_one_shard_task(spark, small_index,
                                              monkeypatch):
    _phrase_shape(spark, small_index, monkeypatch,
                  lambda: E.phrase_prefix_match(spark, small_index,
                                                "out of mem"))


def test_dismax_multifield_plan_shape(spark, small_index):
    """Multi-field dis_max runs the one-task plan, hydrated or not: both
    fields' blocks are read inside the shard task."""
    for hydrate in (False, True):
        _one_job_shape(_plan(E.dismax_topk(spark, small_index,
                                           "error timeout", k=5,
                                           hydrate=hydrate)))


def test_search_plan_hydrates_strings_above_topk_only(spark, small_index,
                                                      monkeypatch):
    """Round-3 VERDICT #1 done-criterion: no stored string column is read
    for any non-winner. Each shard task reads its doc values, filter sets
    and phrase positions itself and emits at most k rows — its own top-k,
    hydrated — plus one stats row, so the merge sees ≤ k strings per
    shard."""
    from pyspark.sql import functions as F
    from planet_search_spark.queries.params import SearchParams
    ranked = []
    top = E._top
    monkeypatch.setattr(E, "_top", lambda r, k, *a: (ranked.append(r),
                                                     top(r, k, *a))[1])
    for n in (None, 1):
        if n:
            monkeypatch.setattr(E, "_SHARD_POSTINGS", n)
        E.search(spark, small_index,
                 SearchParams(query="error timeout", multifield=True,
                              phrase_tiers=True, recency=True, k=5))
    for r in ranked:
        per_shard = (r.groupBy(F.spark_partition_id().alias("shard"))
                     .agg(F.count("doc_id").alias("hits"),
                          F.count("conv_id").alias("strings"),
                          F.count(F.lit(1)).alias("rows")).collect())
        assert per_shard and all(
            s.strings == s.hits <= 5 and s.rows == s.hits + 1
            for s in per_shard), per_shard
    assert len(ranked) == 2 and len(per_shard) >= 3
