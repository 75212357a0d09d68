"""Multi-segment + streaming incremental indexing: appended segments must
give EXACTLY the same BM25 results as one single-shot build over the full
corpus (df/N/sum_dl additivity), and the Structured-Streaming path must
land every turn exactly once."""
from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from planet_search_spark.indexing.build import build_index, incremental_update
from planet_search_spark.queries import engine as E
from planet_search_spark.queries.params import SearchParams
from planet_search_spark.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def corpora(spark):
    a = synthesize_transcripts(spark, n_convs=30, seed=21)
    b = synthesize_transcripts(spark, n_convs=20, seed=22) \
        .withColumn("conv_id", F.concat(F.lit("b_"), "conv_id"))
    c = synthesize_transcripts(spark, n_convs=10, seed=23) \
        .withColumn("conv_id", F.concat(F.lit("c_"), "conv_id"))
    return a, b, c


KW = dict(n_buckets=8, block_size=32, salt_target=256, n_groups=1)


def _top(spark, out, query, k=10**6, **kw):
    # doc_id spaces differ between incremental and single-shot builds, so
    # equal-score ties are re-broken by the stable (conv_id, turn_idx) key;
    # with k >= corpus size the comparison covers the complete result set
    # (at a k-cutoff, equal-score ties may legitimately pick different docs)
    df = E.bm25_topk(spark, out, query, k=k, hydrate=True, **kw)
    rows = [(r.conv_id, r.turn_idx, round(r.score, 9)) for r in df.collect()]
    return sorted(rows, key=lambda x: (-x[2], x[0], x[1]))


def test_incremental_equals_single_shot(spark, corpora, tmp_path):
    a, b, c = corpora
    inc = str(tmp_path / "inc")
    build_index(spark, a, inc, **KW)
    incremental_update(spark, inc, b, **KW)
    incremental_update(spark, inc, c, **KW)
    with open(os.path.join(inc, "live.json")) as f:
        assert json.load(f)["segments"] == ["seg_1", "seg_2", "seg_3"]

    full = str(tmp_path / "full")
    build_index(spark, a.unionByName(b).unionByName(c), full, **KW)

    for q in ["error timeout retry", "spark", "the data", "kitten sitting"]:
        assert _top(spark, inc, q) == _top(spark, full, q), q
    # WAND across segments stays exact too
    assert _top(spark, inc, "error timeout", prune=True) == \
           _top(spark, inc, "error timeout", prune=False)


def test_full_search_across_segments(spark, corpora, tmp_path):
    a, b, _ = corpora
    inc = str(tmp_path / "inc2")
    build_index(spark, a, inc, **KW)
    incremental_update(spark, inc, b, **KW)
    p = SearchParams(query="error timeout", recency=True)
    rows = E.search(spark, inc, p).collect()
    assert len(rows) > 0
    convs = {r.conv_id for r in rows}
    # results can come from both segments
    assert any(c.startswith("b_") for c in convs) or len(rows) == p.k


def test_streaming_ingest(spark, corpora, tmp_path):
    from planet_search_spark.streaming.incremental import run_incremental
    a, b, c = corpora
    in_dir = str(tmp_path / "in")
    # two files arriving
    b.coalesce(1).write.mode("overwrite").parquet(in_dir + "/batch1")
    c.coalesce(1).write.mode("overwrite").parquet(in_dir + "/batch2")
    # flatten: stream source reads a directory of parquet files
    import shutil
    os.makedirs(in_dir + "/stream", exist_ok=True)
    i = 0
    for sub in ["batch1", "batch2"]:
        for fn in os.listdir(f"{in_dir}/{sub}"):
            if fn.endswith(".parquet"):
                shutil.copy(f"{in_dir}/{sub}/{fn}", f"{in_dir}/stream/f{i}.parquet")
                i += 1
    out = str(tmp_path / "sidx")
    build_index(spark, a, out, **KW)
    q = run_incremental(spark, in_dir + "/stream", out,
                        str(tmp_path / "ckpt"), build_kw=KW)
    q.awaitTermination(120)
    n_expected = a.count() + b.count() + c.count()
    idx = E.open_index(out)
    total = E.doc_store(spark, idx).count()
    # every non-empty turn landed exactly once
    from planet_search_spark.queries.logical import tokenized_docs
    want = tokenized_docs(a.unionByName(b).unionByName(c)).count()
    assert total == want
    # and search sees streamed docs
    res = E.bm25_topk(spark, out, "error timeout", k=10).collect()
    assert len(res) == 10


def test_streaming_ingest_with_inline_compaction(spark, corpora, tmp_path):
    """max_segments>0: the stream itself triggers tiered compaction + GC,
    keeping live segments bounded while every doc still lands exactly once."""
    from planet_search_spark.streaming.incremental import run_incremental
    a, b, c = corpora
    in_dir = str(tmp_path / "in3")
    os.makedirs(in_dir + "/stream", exist_ok=True)
    import shutil
    i = 0
    for sub, df in [("b1", b), ("b2", c)]:
        df.coalesce(1).write.mode("overwrite").parquet(f"{in_dir}/{sub}")
        for fn in os.listdir(f"{in_dir}/{sub}"):
            if fn.endswith(".parquet"):
                shutil.copy(f"{in_dir}/{sub}/{fn}",
                            f"{in_dir}/stream/f{i}.parquet")
                i += 1
    out = str(tmp_path / "scidx")
    build_index(spark, a, out, **KW)
    q = run_incremental(spark, in_dir + "/stream", out,
                        str(tmp_path / "ckpt3"), build_kw=dict(KW),
                        max_segments=2, gc_grace_sec=0.0)
    q.awaitTermination(180)
    with open(os.path.join(out, "live.json")) as f:
        live = json.load(f)["segments"]
    assert len(live) <= 2, live
    from planet_search_spark.queries.logical import tokenized_docs
    want = tokenized_docs(a.unionByName(b).unionByName(c)).count()
    assert E.doc_store(spark, E.open_index(out)).count() == want
    # on-disk dirs are bounded too (GC swept retired inputs)
    assert set(os.listdir(os.path.join(out, "segments"))) == set(live)


def test_compaction_identical_and_composable(spark, tmp_path):
    """compact_index merges all live segments into one whose answers are
    bit-identical to the multi-segment reader, atomically replaces the
    inputs in live.json, and further incremental appends keep working."""
    import json
    import os

    from planet_search_spark.indexing.build import (build_index,
                                                    compact_index,
                                                    incremental_update)
    from planet_search_spark.queries import engine as E
    from planet_search_spark.transcripts import synthesize_transcripts

    out = str(tmp_path / "cidx")
    a = synthesize_transcripts(spark, n_convs=25, seed=61)
    b = synthesize_transcripts(spark, n_convs=10, seed=62) \
        .selectExpr("concat('zz_', conv_id) AS conv_id", "turn_idx", "role",
                    "text", "tool", "ts")
    build_index(spark, a, out, n_buckets=4, block_size=16, n_groups=1)
    incremental_update(spark, out, b, n_groups=1)

    queries = ["error timeout retry", "the data", "kitten sitting"]
    before = {q: E.bm25_topk(spark, out, q, k=12, hydrate=False).toPandas()
              for q in queries}
    before_dm = E.dismax_topk(spark, out, "error tool", k=8,
                              hydrate=False).toPandas()
    before_ph = sorted(r.doc_id for r in
                       E.phrase_match(spark, out, "out of memory").collect())

    m = compact_index(spark, out, n_groups=1)
    with open(os.path.join(out, "live.json")) as f:
        segs = json.load(f)["segments"]
    assert segs == [m["segment"]] and len(m["merged_segments"]) == 2

    for q in queries:
        after = E.bm25_topk(spark, out, q, k=12, hydrate=False).toPandas()
        assert list(after.doc_id) == list(before[q].doc_id), q
        assert (after.score - before[q].score).abs().max() < 1e-12, q
    after_dm = E.dismax_topk(spark, out, "error tool", k=8,
                             hydrate=False).toPandas()
    assert list(after_dm.doc_id) == list(before_dm.doc_id)
    assert (after_dm.score - before_dm.score).abs().max() < 1e-12
    after_ph = sorted(r.doc_id for r in
                      E.phrase_match(spark, out, "out of memory").collect())
    assert after_ph == before_ph and len(after_ph) > 0

    # compacting a single-segment index is a no-op
    assert compact_index(spark, out).get("skipped") is True

    # the LSM keeps working: append after compaction, doc ids stay disjoint
    c = synthesize_transcripts(spark, n_convs=5, seed=63) \
        .selectExpr("concat('post_', conv_id) AS conv_id", "turn_idx",
                    "role", "text", "tool", "ts")
    incremental_update(spark, out, c, n_groups=1)
    store = E.doc_store(spark, E.open_index(out))
    assert store.count() == store.select("doc_id").distinct().count()


def test_segment_names_never_reused_after_compaction(spark, tmp_path):
    """Round-2 ADVICE (medium): appends after compaction must NOT rebuild
    into a retained pre-compaction segment directory — names come from a
    monotonic counter persisted in live.json."""
    from planet_search_spark.indexing.build import compact_index

    out = str(tmp_path / "nameidx")
    kw = dict(n_buckets=4, block_size=16, n_groups=1)
    a = synthesize_transcripts(spark, n_convs=8, seed=71)
    b = synthesize_transcripts(spark, n_convs=4, seed=72) \
        .selectExpr("concat('b_', conv_id) AS conv_id", "turn_idx", "role",
                    "text", "tool", "ts")
    c = synthesize_transcripts(spark, n_convs=4, seed=73) \
        .selectExpr("concat('c_', conv_id) AS conv_id", "turn_idx", "role",
                    "text", "tool", "ts")
    build_index(spark, a, out, **kw)                    # seg_1
    incremental_update(spark, out, b, **kw)             # seg_2
    compact_index(spark, out, n_groups=1)               # merged_3
    # pre-compaction inputs are retained on disk for old readers
    on_disk = set(os.listdir(os.path.join(out, "segments")))
    assert {"seg_1", "seg_2"} <= on_disk
    incremental_update(spark, out, c, **kw)             # must be seg_4
    with open(os.path.join(out, "live.json")) as f:
        live = json.load(f)
    assert live["segments"] == ["merged_3", "seg_4"]
    # retained seg_2 was not touched
    assert "seg_2" in set(os.listdir(os.path.join(out, "segments")))


def test_gc_and_auto_compaction_bound_segments_and_disk(spark, tmp_path):
    """VERDICT item 7 done-criterion: K ingest batches with maybe_compact
    keep reader results identical while live-segment count and disk usage
    stay bounded; gc_segments removes only non-live dirs past the grace."""
    from planet_search_spark.indexing.build import gc_segments, maybe_compact

    out = str(tmp_path / "gcidx")
    kw = dict(n_buckets=4, block_size=16, n_groups=1)
    batches = [synthesize_transcripts(spark, n_convs=6, seed=80 + i)
               .selectExpr(f"concat('b{i}_', conv_id) AS conv_id",
                           "turn_idx", "role", "text", "tool", "ts")
               for i in range(5)]
    build_index(spark, batches[0], out, **kw)
    expected = batches[0]
    for i, b in enumerate(batches[1:], start=1):
        incremental_update(spark, out, b, **kw)
        expected = expected.unionByName(b)
        before = E.bm25_topk(spark, out, "error timeout", k=10**6,
                             hydrate=True).toPandas()
        m = maybe_compact(spark, out, max_segments=3, n_groups=1)
        after = E.bm25_topk(spark, out, "error timeout", k=10**6,
                            hydrate=True).toPandas()
        key = lambda df: sorted(  # noqa: E731
            (r.conv_id, r.turn_idx, round(r.score, 9))
            for r in df.itertuples())
        assert key(after) == key(before), f"batch {i}: {m}"
        with open(os.path.join(out, "live.json")) as f:
            assert len(json.load(f)["segments"]) <= 3
    # GC removed the retired inputs (grace 0), live segments survive
    with open(os.path.join(out, "live.json")) as f:
        live = set(json.load(f)["segments"])
    on_disk = set(os.listdir(os.path.join(out, "segments")))
    assert on_disk == live, (on_disk, live)
    # a fresh grace period protects nothing here (all non-live already gone)
    assert gc_segments(out, grace_sec=3600.0) == []
    # and the compacted index answers exactly like a single-shot build
    full = str(tmp_path / "gcfull")
    build_index(spark, expected, full, **kw)
    assert _top(spark, out, "error timeout") == _top(spark, full,
                                                     "error timeout")


def test_gc_grace_runs_from_retirement_under_live_reader(spark, tmp_path):
    """Round-3 ADVICE (medium): the GC grace period must run from the
    moment a segment LEFT live.json (the publish-time tombstone), not the
    directory mtime — a compacted-away segment's dir is almost always
    older than any grace window at retirement. Soak shape (VERDICT r3
    item 8): an open searcher survives compact+GC-with-grace unchanged, a
    fresh searcher sees the merged segment, and once the grace elapses the
    sweep removes the inputs and prunes their tombstones."""
    import time as _time

    from planet_search_spark.indexing.build import compact_index, gc_segments
    from planet_search_spark.queries.serve import LocalSearcher

    out = str(tmp_path / "graceidx")
    kw = dict(n_buckets=4, block_size=16, n_groups=1)
    a = synthesize_transcripts(spark, n_convs=8, seed=91)
    b = synthesize_transcripts(spark, n_convs=4, seed=92) \
        .selectExpr("concat('g_', conv_id) AS conv_id", "turn_idx", "role",
                    "text", "tool", "ts")
    build_index(spark, a, out, **kw)            # seg_1
    incremental_update(spark, out, b, **kw)     # seg_2
    old = LocalSearcher(out)                    # holds the old pointer
    key = lambda rows: [(r["doc_id"], round(r["score"], 10))  # noqa: E731
                        for r in rows]
    before = key(old.bm25_topk("error timeout", k=10, hydrate=False))
    # age the segment dirs a day: with mtime-based grace ANY nonzero grace
    # would (wrongly) let GC delete them immediately after compaction
    day_ago = _time.time() - 86400
    for s in os.listdir(os.path.join(out, "segments")):
        os.utime(os.path.join(out, "segments", s), (day_ago, day_ago))
    compact_index(spark, out, n_groups=1)       # retires seg_1 + seg_2
    with open(os.path.join(out, "live.json")) as f:
        live_doc = json.load(f)
    assert set(live_doc["retired"]) == {"seg_1", "seg_2"}
    # inside the grace: retired inputs survive (retirement was moments ago)
    assert gc_segments(out, grace_sec=3600.0) == []
    on_disk = set(os.listdir(os.path.join(out, "segments")))
    assert {"seg_1", "seg_2"} <= on_disk
    # the open searcher still answers identically over the retained files
    old._term_cache.clear()
    old._doc_cache.clear()
    assert key(old.bm25_topk("error timeout", k=10, hydrate=False)) == before
    # a fresh searcher reads the merged segment, same answers
    assert key(LocalSearcher(out).bm25_topk(
        "error timeout", k=10, hydrate=False)) == before
    # grace elapsed (rewind the tombstones): sweep removes inputs only,
    # prunes their tombstones, disk is bounded to the live set
    live_doc["retired"] = {s: t - 7200 for s, t in live_doc["retired"].items()}
    tmp = os.path.join(out, ".live.json.tmp")
    with open(tmp, "w") as f:
        json.dump(live_doc, f)
    os.replace(tmp, os.path.join(out, "live.json"))
    assert set(gc_segments(out, grace_sec=3600.0)) == {"seg_1", "seg_2"}
    with open(os.path.join(out, "live.json")) as f:
        after_doc = json.load(f)
    assert after_doc.get("retired") == {}
    assert set(os.listdir(os.path.join(out, "segments"))) == \
        set(after_doc["segments"])


def test_gc_never_collects_inflight_building_segment(spark, tmp_path):
    """Round-5 ADVICE (medium): a fully-built-but-not-yet-published (or
    crashed-resumable) segment carries a .building marker and must survive
    GC at grace 0 via the mtime fallback; publish clears the marker under
    the live.json writer lock, and a STALE marker past building_grace_sec
    is reclaimed."""
    import time as _time

    from planet_search_spark.indexing.build import gc_segments

    out = str(tmp_path / "bldidx")
    kw = dict(n_buckets=4, block_size=16, n_groups=1)
    build_index(spark, synthesize_transcripts(spark, n_convs=4, seed=71),
                out, **kw)                       # seg_1, published
    seg_root = os.path.join(out, "segments")
    assert not os.path.exists(
        os.path.join(seg_root, "seg_1", ".building"))
    # simulate a mid-build segment: dir exists, marker present, not live
    mid = os.path.join(seg_root, "seg_9")
    os.makedirs(os.path.join(mid, "_ckpt"))
    with open(os.path.join(mid, ".building"), "w") as f:
        f.write("seg_9")
    assert gc_segments(out, grace_sec=0.0) == []
    assert os.path.isdir(mid)
    # a stale marker (crashed build past its own grace) IS reclaimed
    day_ago = _time.time() - 86400
    os.utime(os.path.join(mid, ".building"), (day_ago, day_ago))
    os.utime(mid, (day_ago, day_ago))
    assert gc_segments(out, grace_sec=0.0,
                       building_grace_sec=3600.0) == ["seg_9"]
    assert not os.path.exists(mid)


def test_select_merge_tier_policy():
    """Unit cases for the size-tiered selection: overflowing tier wins,
    smallest-first; no-overflow picks the smallest >=2 tier; all-singleton
    tiers force-merge the two smallest (the caller's count bound relies on
    a merge of >=2 whenever triggered)."""
    from planet_search_spark.indexing.build import _select_merge_tier

    # an overflowing small tier is picked over the big segment
    sizes = {"big": 1000, "s1": 10, "s2": 12, "s3": 11, "s4": 9}
    pick = _select_merge_tier(sizes, max_segments=4)
    assert sorted(pick) == ["s1", "s2", "s3", "s4"]
    # no tier overflows: smallest tier with >= 2 members merges whole
    sizes = {"big": 1000, "mid": 200, "s1": 10, "s2": 12}
    assert sorted(_select_merge_tier(sizes, max_segments=4)) == ["s1", "s2"]
    # exponential ladder (every segment its own tier): two smallest merge
    sizes = {"a": 5, "b": 40, "c": 300, "d": 2500}
    assert sorted(_select_merge_tier(sizes, max_segments=4)) == ["a", "b"]
    # tier membership is relative to the tier's smallest member (x4)
    sizes = {"a": 10, "b": 39, "c": 41}
    assert sorted(_select_merge_tier(sizes, max_segments=2)) == ["a", "b"]


def test_tiered_compaction_merges_only_the_small_tier(spark, tmp_path):
    """Round-6 VERDICT item 1 done-criterion: maybe_compact merges only a
    size tier — the big segment is NOT rewritten — while reader results
    stay bit-identical and the live count stays bounded. Also covers
    VERDICT item 7: the merged inputs have different avgdl, and block-max
    WAND on the mixed index still equals the unpruned path (the blocks'
    bound columns and max_score stay correct across tiered merges)."""
    from planet_search_spark.indexing.build import maybe_compact

    out = str(tmp_path / "tieridx")
    kw = dict(n_buckets=4, block_size=16, n_groups=1)
    # big base segment; then three SMALL appends with much longer turns
    # (different avgdl) so the small tier is well separated in size
    big = synthesize_transcripts(spark, n_convs=40, seed=90)
    build_index(spark, big, out, **kw)
    for i in range(3):
        small = (synthesize_transcripts(spark, n_convs=3, seed=91 + i)
                 .selectExpr(f"concat('t{i}_', conv_id) AS conv_id",
                             "turn_idx", "role",
                             "concat(text, ' ', text, ' ', text) AS text",
                             "tool", "ts"))
        incremental_update(spark, out, small, **kw)
    with open(os.path.join(out, "live.json")) as f:
        live_before = json.load(f)["segments"]
    assert len(live_before) == 4
    big_seg = live_before[0]

    before = E.bm25_topk(spark, out, "error timeout", k=10**6,
                         hydrate=False).toPandas()
    m = maybe_compact(spark, out, max_segments=4, n_groups=1,
                      gc_grace_sec=3600.0)
    assert sorted(m["merged_segments"]) == sorted(live_before[1:]), m
    with open(os.path.join(out, "live.json")) as f:
        live_after = json.load(f)["segments"]
    # the big segment survives untouched; small tier collapsed to one
    assert big_seg in live_after and len(live_after) == 2
    after = E.bm25_topk(spark, out, "error timeout", k=10**6,
                        hydrate=False).toPandas()
    assert list(after.doc_id) == list(before.doc_id)
    assert (after.score - before.score).abs().max() < 1e-12
    # VERDICT item 7: WAND on the mixed-avgdl tiered index is exact
    pruned = E.bm25_topk(spark, out, "error timeout", k=12,
                         prune=True, hydrate=False).toPandas()
    plain = E.bm25_topk(spark, out, "error timeout", k=12,
                        prune=False, hydrate=False).toPandas()
    assert list(pruned.doc_id) == list(plain.doc_id)
    assert (pruned.score - plain.score).abs().max() < 1e-12


def test_observed_corpus_stats_match_doc_store_rescan(spark, corpora,
                                                      tmp_path):
    """corpus_stats.json rides the doc_store write as observed metrics
    (round-7: the per-segment stats re-scan job was deleted); the stored
    stats must equal a direct re-aggregation of the written doc_store."""
    a, _, _ = corpora
    out = str(tmp_path / "obs_idx")
    build_index(spark, a, out, **KW)
    seg = os.path.join(out, "segments", "seg_1")
    with open(os.path.join(seg, "corpus_stats.json")) as f:
        cs = json.load(f)
    chk = (spark.read.parquet(os.path.join(seg, "doc_store"))
           .agg(F.count("*").alias("n"), F.sum("dl").alias("s"),
                F.count(F.when(F.col("mdl") > 0, 1)).alias("mn"),
                F.sum("mdl").alias("ms")).collect()[0])
    assert cs["n_docs"] == chk["n"]
    assert cs["sum_dl"] == chk["s"]
    assert cs["avgdl"] == chk["s"] / chk["n"]
    assert cs["fields"]["text"] == {"n_docs": chk["n"], "sum_dl": chk["s"]}
    assert cs["fields"]["meta"] == {"n_docs": chk["mn"],
                                    "sum_dl": chk["ms"]}
