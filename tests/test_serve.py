"""The low-latency serving reader must return EXACTLY the Spark engine's
results (same segments, same math, same tie-break) — and fast."""
from __future__ import annotations

import time

import pytest

from planet_search_spark.indexing.build import build_index, incremental_update
from planet_search_spark.queries import engine as E
from planet_search_spark.queries.serve import LocalSearcher
from planet_search_spark.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("srvidx"))
    a = synthesize_transcripts(spark, n_convs=40, seed=31)
    b = synthesize_transcripts(spark, n_convs=15, seed=32) \
        .withColumnRenamed("conv_id", "cid") \
        .selectExpr("concat('z_', cid) as conv_id", "turn_idx", "role",
                    "text", "tool", "ts")
    build_index(spark, a, out, n_buckets=8, block_size=16, salt_target=64,
                n_groups=1)
    incremental_update(spark, out, b, n_groups=1)  # multi-segment serving
    return out


QUERIES = ["error timeout retry", "spark", "kitten sitting", "the data",
           "שָׁלוֹם café", "zzznothing", "error zzznothing"]


@pytest.mark.parametrize("query", QUERIES)
@pytest.mark.parametrize("require_all", [False, True])
def test_serve_matches_engine(spark, index_dir, query, require_all):
    srv = LocalSearcher(index_dir)
    got = srv.bm25_topk(query, k=15, require_all=require_all, hydrate=False)
    want = [r.asDict() for r in
            E.bm25_topk(spark, index_dir, query, k=15, hydrate=False,
                        require_all=require_all, prune=False).collect()]
    assert [(g["doc_id"], round(g["score"], 10)) for g in got] == \
           [(w["doc_id"], round(w["score"], 10)) for w in want], query


@pytest.mark.parametrize("method", ["bm25_topk", "dismax_topk"])
def test_serve_scores_independent_of_term_cache(index_dir, method):
    """Term contributions are summed in sorted query-term order, never in
    term-cache order: a searcher that already holds the query's last term
    returns bit-identical scores in the identical order to a cold one."""
    query = "the error timeout"
    cold = getattr(LocalSearcher(index_dir), method)(query, k=50,
                                                      hydrate=False)
    warm = LocalSearcher(index_dir)
    getattr(warm, method)("timeout", k=5, hydrate=False)
    got = getattr(warm, method)(query, k=50, hydrate=False)
    assert [(r["doc_id"], r["score"]) for r in got] == \
           [(r["doc_id"], r["score"]) for r in cold]


@pytest.mark.parametrize("prune", [False, True])
def test_engine_and_reader_rank_bit_identical(spark, index_dir, prune):
    """The engine's shard task and the reader rank through the same kernel
    routine and sum in sorted query-term order: scores are bit-identical
    and in the same order, pruned and unpruned."""
    srv = LocalSearcher(index_dir)
    for q in ["the error timeout", "spark user data"]:
        got = srv.bm25_topk(q, k=15, hydrate=False, prune=prune)
        want = E.bm25_topk(spark, index_dir, q, k=15, hydrate=False,
                           prune=prune).collect()
        assert [(g["doc_id"], g["score"], g["nmatch"]) for g in got] == \
               [(w.doc_id, w.score, w.nmatch) for w in want] != [], q
        got = srv.dismax_topk(q, k=12, hydrate=False, prune=prune)
        want = E.dismax_topk(spark, index_dir, q, k=12,
                             hydrate=False).collect()
        assert [(g["doc_id"], g["score"]) for g in got] == \
               [(w.doc_id, w.score) for w in want] != [], q


def test_serve_boundary_ties_break_by_doc_id(spark, tmp_path):
    """Many docs tie exactly at the k-boundary score: the serving reader
    must cut by (score desc, doc_id asc) like the engine, not by whatever
    argpartition left at position k."""
    from pyspark.sql import functions as F
    rows = [("c", t, "user", "tiebreak zz", None, 1_767_225_600 + t)
            for t in range(30)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, epoch bigint") \
        .withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
    out = str(tmp_path / "tieidx")
    build_index(spark, tx, out, n_buckets=2, block_size=8, n_groups=1)
    srv = LocalSearcher(out)
    got = srv.bm25_topk("tiebreak", k=10, hydrate=False)
    assert [g["doc_id"] for g in got] == list(range(10))
    want = [r.asDict() for r in
            E.bm25_topk(spark, out, "tiebreak", k=10, hydrate=False,
                        prune=False).collect()]
    assert [g["doc_id"] for g in got] == [w["doc_id"] for w in want]


@pytest.mark.parametrize("query", ["error search tool", "assistant code",
                                   "spark user", "the data"])
def test_serve_dismax_matches_engine(spark, index_dir, query):
    srv = LocalSearcher(index_dir)
    got = srv.dismax_topk(query, k=12, hydrate=False)
    want = [r.asDict() for r in
            E.dismax_topk(spark, index_dir, query, k=12,
                          hydrate=False).collect()]
    assert [(g["doc_id"], round(g["score"], 10)) for g in got] == \
           [(w["doc_id"], round(w["score"], 10)) for w in want], query


@pytest.mark.parametrize("phrase", ["null pointer exception",
                                    "out of memory", "the the"])
def test_serve_phrase_matches_engine(spark, index_dir, phrase):
    srv = LocalSearcher(index_dir)
    got = [r["doc_id"] for r in srv.phrase_match(phrase)]
    want = sorted(r.doc_id for r in
                  E.phrase_match(spark, index_dir, phrase).collect())
    assert got == want, phrase


@pytest.mark.parametrize("phrase", ["out of me", "null pointer exc",
                                    "the da", "pre", "stack trace fo"])
def test_serve_phrase_prefix_matches_engine(spark, index_dir, phrase):
    srv = LocalSearcher(index_dir)
    got = [r["doc_id"] for r in srv.phrase_prefix_match(phrase)]
    want = sorted(r.doc_id for r in
                  E.phrase_prefix_match(spark, index_dir, phrase).collect())
    assert got == want, phrase
    # warm cache path returns the identical set
    assert [r["doc_id"] for r in srv.phrase_prefix_match(phrase)] == got


@pytest.mark.parametrize("query", ["error timeout retry", "the data",
                                   "spark", "the", "kitten sitting"])
def test_serve_wand_matches_unpruned(index_dir, query):
    """Serving-side block-max WAND must be EXACT: pruned == unpruned,
    doc-for-doc and score-for-score, on a multi-segment index."""
    srv = LocalSearcher(index_dir)
    stats: dict = {}
    got = srv.bm25_topk(query, k=10, hydrate=False, prune=True,
                        prune_stats=stats)
    want = srv.bm25_topk(query, k=10, hydrate=False)
    assert [(g["doc_id"], round(g["score"], 10), g["nmatch"]) for g in got] \
        == [(w["doc_id"], round(w["score"], 10), w["nmatch"])
            for w in want], query
    assert stats["blocks_kept"] <= stats["blocks_total"]


def test_serve_wand_prunes_on_clustered_corpus(spark, tmp_path):
    """On a clustered corpus (hot prefix fills whole blocks) the serving
    reader must actually DROP most blocks while staying exact."""
    from planet_search_spark.transcripts import clustered_corpus
    out = str(tmp_path / "cluidx")
    tx = clustered_corpus(spark, 20_000, hot_docs=1024, parallelism=8)
    build_index(spark, tx, out, n_buckets=4, block_size=64, salt_target=4096,
                n_groups=1, with_positions=False)
    srv = LocalSearcher(out)
    stats: dict = {}
    got = srv.bm25_topk("hotterm", k=20, hydrate=False, prune=True,
                        prune_stats=stats)
    want = srv.bm25_topk("hotterm", k=20, hydrate=False)
    assert [(g["doc_id"], round(g["score"], 10), g["nmatch"]) for g in got] \
        == [(w["doc_id"], round(w["score"], 10), w["nmatch"]) for w in want]
    assert stats["blocks_kept"] < stats["blocks_total"] / 2, stats
    # the winners are the hot-prefix docs
    assert all(g["doc_id"] < 1024 for g in got)


# -- full points_search composition parity (round-3: the serving path must
#    cover the WHOLE template surface, not just the bare BM25 core) ----------

from planet_search_spark.queries.params import SearchParams  # noqa: E402

SEARCH_BRANCHES = [
    SearchParams(query="error timeout retry"),
    SearchParams(query="error timeout", operator="and"),
    SearchParams(query="spark merg", prefix=True),
    SearchParams(query="pre", prefix=True),
    SearchParams(query="spak", fuzzy=True),
    SearchParams(query="errr timout", fuzzy=True, operator="and"),
    SearchParams(query="error timeout", filter_role="user"),
    SearchParams(query="error timeout", filter_tool="search"),
    SearchParams(query="the data", filter_role="tool", filter_tool="search"),
    SearchParams(query="error timeout", recency=True),
    SearchParams(query="error search", multifield=True),
    SearchParams(query="assistant", multifield=True),
    SearchParams(query="null pointer exception", phrase_tiers=True),
    SearchParams(query="out of memory", phrase_tiers=True, multifield=True,
                 recency=True),
    SearchParams(query="assistnt", fuzzy=True, multifield=True),
    SearchParams(query="error pre", prefix=True, recency=True,
                 filter_role="user"),
    SearchParams(query="שָׁלוֹם café", recency=True),
    SearchParams(query="zzznothing"),
]


def _ranked(rows):
    """(doc_id, score) in result order: engine and reader rank through the
    same code, so scores match bit for bit and in order."""
    return [(int(r["doc_id"]), r["score"]) for r in rows]


@pytest.mark.parametrize("p", SEARCH_BRANCHES,
                         ids=[f"{i}:{p.query[:16]}" for i, p in
                              enumerate(SEARCH_BRANCHES)])
def test_serve_full_search_matches_engine(spark, index_dir, p):
    srv = LocalSearcher(index_dir)
    got = srv.search(p)
    want = [r.asDict() for r in E.search(spark, index_dir, p).collect()]
    assert _ranked(got) == _ranked(want), p


def test_serve_exact_path_matches_engine(spark, tmp_path):
    """points_search_exact analogue: keyword equality, constant score 12,
    prior tiebreak — serve must rank identically to the engine."""
    from pyspark.sql import functions as F
    rows = [("c", t, ["user", "assistant"][t % 2], "exact phrase here",
             "search" if t % 3 == 0 else None, 1_767_225_600 + t)
            for t in range(12)] + \
           [("c", 99, "user", "something else", None, 1_767_225_700)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, epoch bigint") \
        .withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
    out = str(tmp_path / "exactidx")
    build_index(spark, tx, out, n_buckets=2, block_size=8, n_groups=1)
    srv = LocalSearcher(out)
    for p in [SearchParams(query="Exact PHRASE here", exact=True, k=5),
              SearchParams(query="exact phrase here", exact=True, k=5,
                           filter_role="assistant"),
              SearchParams(query="no such keyword", exact=True)]:
        got = srv.search(p)
        want = [r.asDict() for r in E.search(spark, out, p).collect()]
        assert _ranked(got) == _ranked(want), p


def test_serve_hydration_is_bounded(index_dir):
    """The round-2 scale-killer (full doc_store materialization) must stay
    dead: hydrating k winners may cache at most the LRU cap, and the cache
    starts empty."""
    srv = LocalSearcher(index_dir)
    assert len(srv._doc_cache) == 0
    rows = srv.bm25_topk("error timeout retry", k=5)
    assert rows and all("conv_id" in r for r in rows)
    assert len(srv._doc_cache) <= srv._doc_cache.cap
    assert len(srv._doc_cache) < srv.n_docs  # never the whole store


def test_serve_fuzzy_blocking_matches_unblocked(index_dir):
    """The pigeonhole block filter must be lossless on the real vocabulary."""
    from planet_search_spark.queries import fuzzy as FZ
    srv = LocalSearcher(index_dir)
    vocab = set(E._dict_terms(srv._term_dicts, (0,)).to_pylist())
    for term in ["spak", "merg", "excutor", "timout", "kiten"]:
        ed = FZ.auto_fuzz(term)
        blocked = srv.expand_fuzzy(term, ed)
        want = sorted(t for t in vocab if FZ.lev_leq(t, term, ed))[:200] \
            or [term]
        assert blocked == want, term


def test_serve_hydrates(index_dir):
    srv = LocalSearcher(index_dir)
    rows = srv.bm25_topk("error timeout", k=5)
    assert rows and all("conv_id" in r and "role" in r for r in rows)


def test_serve_latency(index_dir):
    srv = LocalSearcher(index_dir)
    srv.bm25_topk("error", k=10)  # warm the datasets
    t0 = time.time()
    n = 20
    for _ in range(n):
        srv.bm25_topk("error timeout retry", k=20)
    per = (time.time() - t0) / n
    # serving must be orders of magnitude below the Spark job floor
    assert per < 0.5, f"{per:.3f}s per query"


# -- sharded serving fan-out (round 3): doc shards + coordinator merge -------

def test_sharded_matches_unsharded(spark, index_dir):
    """Per-shard top-k heaps with GLOBAL stats merge into exactly the
    unsharded ranking — on the 2-segment index each shard holds one
    segment, so this exercises a real doc split."""
    from planet_search_spark.queries.serve import ShardedSearcher
    from planet_search_spark.queries.params import SearchParams
    single = LocalSearcher(index_dir)
    shard = ShardedSearcher(index_dir, n_shards=2)
    assert len(shard.shards) == 2
    assert all(len(s.seg_dirs) == 1 for s in shard.shards)
    for q in ["error timeout retry", "the data", "spark", "zzznothing"]:
        got = shard.bm25_topk(q, k=12, hydrate=False)
        want = single.bm25_topk(q, k=12, hydrate=False)
        assert [(g["doc_id"], round(g["score"], 10)) for g in got] == \
               [(w["doc_id"], round(w["score"], 10)) for w in want], q
    p = SearchParams(query="error timeout", multifield=True,
                     phrase_tiers=True, recency=True, k=10)
    got = shard.search(p)
    want = single.search(p)
    assert [(g["doc_id"], round(g["score"], 10)) for g in got] == \
           [(w["doc_id"], round(w["score"], 10)) for w in want]
    assert [r["doc_id"] for r in shard.phrase_match("out of memory")] == \
           [r["doc_id"] for r in single.phrase_match("out of memory")]


def test_shard_global_stats(spark, index_dir):
    """A one-segment shard still scores with the WHOLE index's corpus
    stats (n_docs/avgdl/df base) — the invariant the exact merge needs."""
    from planet_search_spark.queries.serve import LocalSearcher as LS
    import json as _json, os as _os
    with open(_os.path.join(index_dir, "live.json")) as f:
        live = _json.load(f)["segments"]
    full = LS(index_dir)
    part = LS(index_dir, segments=live[:1])
    assert part.n_docs == full.n_docs
    assert part.fields == full.fields
    with pytest.raises(ValueError, match="not live"):
        LS(index_dir, segments=["seg_999"])


def test_serve_caches_bounded_lru_and_late_hot_terms_cached(index_dir):
    """Round-3 VERDICT findings #1/#2: every serving cache must stay under
    its cap across a soak of more-than-cap distinct queries/terms, AND a
    hot term arriving AFTER the cap is reached must still get cached (an
    admission cap pins the first working set forever; an LRU admits it)."""
    srv = LocalSearcher(index_dir)
    cap = 16
    srv._term_cache.cap = cap
    srv._pos_cache.cap = cap
    srv._filter_cache.cap = cap
    srv._doc_cache.cap = cap
    # soak: > cap distinct query strings (each inserts a ('kw', hash)
    # filter entry via the exact-tier path is skipped here, so hit the
    # caches directly through the public query surface)
    for i in range(3 * cap):
        srv.bm25_topk(f"zzq{i} spark", k=3, hydrate=True)
        srv._kw_ids(f"{i:032x}")                 # per-query filter entries
        srv.phrase_match(f"zzp{i} data")          # pos-cache entries
    assert len(srv._term_cache) <= cap
    assert len(srv._pos_cache) <= cap
    assert len(srv._filter_cache) <= cap
    assert len(srv._doc_cache) <= cap
    # late hot term: first call populates the cache (LRU admits), second
    # call must hit it (no parquet re-scan -> the entry is present before
    # and after)
    srv.bm25_topk("error timeout", k=5, hydrate=False)
    assert (0, "error") in srv._term_cache
    assert (0, "timeout") in srv._term_cache
    before = srv._term_cache.get((0, "error"))
    srv.bm25_topk("error timeout", k=5, hydrate=False)
    assert srv._term_cache.get((0, "error")) is before  # same cached arrays
    # LRU recency: the just-used hot term outlives a flood of new keys
    for i in range(cap - 1):
        srv._postings_arrays([f"zzflood{i}"])
    assert (0, "error") in srv._term_cache or (0, "timeout") in srv._term_cache


@pytest.mark.parametrize("query", ["error search tool", "assistant code",
                                   "spark user", "the data",
                                   "error timeout retry"])
def test_serve_dismax_wand_matches_unpruned(index_dir, query):
    """dis_max with serving-side WAND must be result-identical to the
    unpruned dis_max path (round-3 VERDICT item 7)."""
    srv = LocalSearcher(index_dir)
    got = srv.dismax_topk(query, k=12, hydrate=False, prune=True)
    want = srv.dismax_topk(query, k=12, hydrate=False)
    assert [(g["doc_id"], round(g["score"], 10)) for g in got] == \
           [(w["doc_id"], round(w["score"], 10)) for w in want], query


def test_serve_dismax_wand_prunes_on_clustered_corpus(spark, tmp_path):
    """On a clustered corpus with a query that misses the meta vocabulary
    (cross-field bound = 0), dis_max WAND must actually DROP blocks and
    stay exact."""
    from planet_search_spark.transcripts import clustered_corpus
    out = str(tmp_path / "dmclu")
    tx = clustered_corpus(spark, 20_000, hot_docs=1024, parallelism=8)
    build_index(spark, tx, out, n_buckets=4, block_size=64,
                salt_target=4096, n_groups=1, with_positions=False)
    srv = LocalSearcher(out)
    st: dict = {}
    got = srv.dismax_topk("hotterm", k=20, hydrate=False, prune=True,
                          prune_stats=st)
    want = srv.dismax_topk("hotterm", k=20, hydrate=False)
    assert st["blocks_kept"] < st["blocks_total"], st
    assert [(g["doc_id"], round(g["score"], 10)) for g in got] == \
           [(w["doc_id"], round(w["score"], 10)) for w in want]


def test_sharded_full_surface_parity(spark, index_dir):
    """Every serving method is on the sharded surface (round-3 VERDICT
    item 3) — including dis_max WAND and phrase-prefix — and the
    concurrent fan-out merges to exactly the unsharded answers."""
    from planet_search_spark.queries.serve import ShardedSearcher
    from planet_search_spark.queries.params import SearchParams
    single = LocalSearcher(index_dir)
    shard = ShardedSearcher(index_dir, n_shards=2)
    assert shard._pool is not None          # concurrent fan-out is on
    for q in ["error search tool", "the data", "spark user"]:
        got = shard.dismax_topk(q, k=10, hydrate=False, prune=True)
        want = single.dismax_topk(q, k=10, hydrate=False)
        assert [(g["doc_id"], round(g["score"], 10)) for g in got] == \
               [(w["doc_id"], round(w["score"], 10)) for w in want], q
    assert [r["doc_id"] for r in shard.phrase_prefix_match("out of mem")] \
        == [r["doc_id"] for r in single.phrase_prefix_match("out of mem")]
    p = SearchParams(query="error tim", prefix=True, multifield=True, k=8)
    got = shard.search(p)
    want = single.search(p)
    assert [(g["doc_id"], round(g["score"], 10)) for g in got] == \
           [(w["doc_id"], round(w["score"], 10)) for w in want]


def test_serve_dense_accumulation_matches_engine(spark, tmp_path):
    """Round-4 dense scoring path: on a gap-free-id corpus (no empty
    docs) a hot query crosses the mass gate and scores through the dense
    doc-indexed accumulator — results must be EXACTLY the engine's (and
    the sparse path's)."""
    from pyspark.sql import functions as F
    from planet_search_spark.queries.params import SearchParams
    rows = [(f"c{i % 7}", i // 7, "user",
             f"alpha beta {'gamma' if i % 3 else 'delta'} t{i % 11}",
             "search" if i % 5 == 0 else None, 1_767_225_600 + i)
            for i in range(400)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, epoch bigint") \
        .withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
    out = str(tmp_path / "denseidx")
    build_index(spark, tx, out, n_buckets=4, block_size=16, n_groups=1)
    srv = LocalSearcher(out)
    p = SearchParams(query="alpha gamma", multifield=True,
                     phrase_tiers=True, recency=True, k=15)
    got = srv.search(p)
    # the dense branch is reachable: ids are gap-free and the query mass
    # covers the corpus
    assert srv._dv_dense is True
    want = [r.asDict() for r in E.search(spark, out, p).collect()]
    assert [(g["doc_id"], round(g["score"], 10)) for g in got] == \
           [(w["doc_id"], round(w["score"], 10)) for w in want]
    # AND + filters exercise the dense mask composition
    p2 = SearchParams(query="alpha beta", operator="and", multifield=True,
                      filter_tool="search", recency=True, k=10)
    got2 = srv.search(p2)
    want2 = [r.asDict() for r in E.search(spark, out, p2).collect()]
    assert [(g["doc_id"], round(g["score"], 10)) for g in got2] == \
           [(w["doc_id"], round(w["score"], 10)) for w in want2]


def test_serve_concurrent_queries_thread_safe(index_dir):
    """One LocalSearcher serves CONCURRENT queries in production
    (ThreadingHTTPServer handler threads / the sharded pool). With tiny
    cache caps forcing constant eviction, 8 threads x mixed query types
    must neither raise (the unlocked move_to_end/popitem race) nor ever
    return anything but the serial answers."""
    from concurrent.futures import ThreadPoolExecutor
    from planet_search_spark.queries.params import SearchParams
    srv = LocalSearcher(index_dir)
    srv._term_cache.cap = 4
    srv._pos_cache.cap = 4
    srv._filter_cache.cap = 4
    srv._doc_cache.cap = 8
    srv._phrase_cache.cap = 2
    queries = ["error timeout retry", "the data", "spark", "kitten sitting",
               "zzznothing", "error zzznothing"]
    p_full = SearchParams(query="error timeout", multifield=True,
                          phrase_tiers=True, recency=True, k=10)
    key = lambda rows: [(r["doc_id"], round(r["score"], 10))  # noqa: E731
                        for r in rows]
    serial = {q: key(srv.bm25_topk(q, k=10, hydrate=False))
              for q in queries}
    serial_full = key(srv.search(p_full))
    serial_ph = [r["doc_id"] for r in srv.phrase_match("out of memory")]

    def worker(i):
        for j in range(12):
            q = queries[(i + j) % len(queries)]
            assert key(srv.bm25_topk(q, k=10, hydrate=False)) == serial[q]
            if j % 3 == 0:
                assert key(srv.search(p_full)) == serial_full
            if j % 4 == 0:
                assert [r["doc_id"] for r in
                        srv.phrase_match("out of memory")] == serial_ph
            if j % 5 == 0:
                srv.bm25_topk(q, k=3, hydrate=True)   # doc-cache churn
        return True

    with ThreadPoolExecutor(max_workers=8) as pool:
        assert all(pool.map(worker, range(8)))
