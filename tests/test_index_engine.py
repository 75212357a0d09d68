"""Physical segment engine vs. the logical (raw-table) definition:
rank-identical BM25, identical phrase semantics, WAND == unpruned,
and crash-resume == single-shot build (the double-build E2E analogue,
``E2ETest.java:77-78``)."""
from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from planet_search_spark import analysis as A
from planet_search_spark import scoring as S
from planet_search_spark.indexing.build import build_index
from planet_search_spark.queries import engine as E
from planet_search_spark.queries.logical import (_bm25_scores, tokenized_docs)
from planet_search_spark.transcripts import synthesize_transcripts


@pytest.fixture(scope="module")
def corpus(spark):
    return synthesize_transcripts(spark, n_convs=60, seed=7)


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    # tiny salt_target + small blocks to exercise salting & multi-block
    # terms; impact_order=False: this fixture is the DOC-ORDERED control
    # the impact-layout tests compare against (impact is the build default)
    m = build_index(spark, corpus, out, n_buckets=8, block_size=16,
                    salt_target=64, n_groups=3, impact_order=False)
    assert m["n_docs"] > 0 and m["n_terms"] > 0
    return out


def _logical_scores(spark, corpus, terms, require_all=False):
    return _bm25_scores(corpus, terms, require_all=require_all) \
        .select("conv_id", "turn_idx",
                S.quantize(F.col("score")).alias("score_q"),
                F.col("nmatch").cast("long").alias("nmatch"))


def _engine_scores(spark, index_dir, query, require_all=False):
    idx = E.open_index(index_dir)
    store = spark.read.parquet(os.path.join(idx.seg_dir, "doc_store"))
    return (E.bm25_scores(spark, index_dir, query, require_all=require_all)
            .join(store.select("doc_id", "conv_id", "turn_idx"), "doc_id")
            .select("conv_id", "turn_idx",
                    S.quantize(F.col("score")).alias("score_q"),
                    F.col("nmatch").cast("long").alias("nmatch")))


QUERIES = ["error timeout retry", "spark", "kitten sitting",
           "שָׁלוֹם café", "prefix prepare", "the data"]


@pytest.mark.parametrize("query", QUERIES)
def test_segment_matches_logical_or(spark, corpus, index_dir, query):
    terms = sorted(set(A.py_tokens(query)))
    a = _logical_scores(spark, corpus, terms).toPandas()
    b = _engine_scores(spark, index_dir, query).toPandas()
    cols = ["conv_id", "turn_idx", "score_q", "nmatch"]
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_segment_matches_logical_and(spark, corpus, index_dir):
    terms = ["error", "timeout"]
    a = _logical_scores(spark, corpus, terms, True).toPandas()
    b = _engine_scores(spark, index_dir, "error timeout", True).toPandas()
    assert len(a) == len(b) and len(a) > 0
    cols = ["conv_id", "turn_idx", "score_q"]
    import pandas as pd
    pd.testing.assert_frame_equal(
        a[cols].sort_values(cols).reset_index(drop=True),
        b[cols].sort_values(cols).reset_index(drop=True), check_dtype=False)


@pytest.mark.parametrize("query", ["error timeout retry", "the data spark"])
def test_wand_equals_unpruned(spark, index_dir, query):
    pruned = E.bm25_topk(spark, index_dir, query, k=10, prune="force",
                         hydrate=False).toPandas()
    full = E.bm25_topk(spark, index_dir, query, k=10, prune=False,
                       hydrate=False).toPandas()
    assert list(pruned.doc_id) == list(full.doc_id)
    assert (pruned.score - full.score).abs().max() < 1e-12


@pytest.fixture(scope="module")
def skewed_corpus(spark):
    """Engineered tf/dl variance so block bounds provably separate: 20 short
    docs 'the the the zz' (high per-block lower bound) followed by 20 long
    docs with a single 'the' among filler (low upper bound). Doc ids follow
    (conv_id, turn_idx), so with block_size=16 the short docs fill the first
    block and θ(k=5) exceeds the long blocks' upper bounds."""
    rows = []
    for t in range(20):
        rows.append(("conv_a", t, "user", "the the the zz", None, 1_767_225_600 + t))
    filler = " ".join(f"w{i}" for i in range(29))
    for t in range(20):
        rows.append(("conv_b", t, "user", f"the zz {filler}", None, 1_767_225_700 + t))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, epoch bigint")
    return df.withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")


@pytest.fixture(scope="module")
def skewed_index(spark, skewed_corpus, tmp_path_factory):
    """TWO segments of the skewed corpus (incremental append), so pruning is
    exercised where round 1's (term, block_id) join fanned out duplicate
    block ids across segments."""
    from planet_search_spark.indexing.build import incremental_update
    out = str(tmp_path_factory.mktemp("skewidx"))
    build_index(spark, skewed_corpus, out, n_buckets=4, block_size=16,
                n_groups=1)
    incremental_update(spark, out, skewed_corpus.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("_s2"))), n_groups=1)
    return out


def test_wand_actually_prunes_multisegment(spark, skewed_index):
    """Pruning must DROP blocks (not just run) and stay rank/score-identical
    to the unpruned path on a multi-segment index."""
    stats: dict = {}
    pruned = E.bm25_topk(spark, skewed_index, "the", k=5, prune=True,
                         hydrate=False, prune_stats=stats).toPandas()
    full = E.bm25_topk(spark, skewed_index, "the", k=5, prune=False,
                       hydrate=False).toPandas()
    assert not stats["gated"] and stats["theta"] > 0.0
    assert stats["blocks_kept"] < stats["blocks_total"], \
        f"no block pruned: {stats}"
    assert list(pruned.doc_id) == list(full.doc_id)
    assert (pruned.score - full.score).abs().max() < 1e-12


def test_prune_disabled_under_require_all(spark, skewed_index):
    """θ lower-bounds the k-th DISJUNCTIVE score, so θ-pruning must be off
    for conjunctive queries: a 'the zz' AND-match in a θ-pruned 'the'
    block would lose that term's postings and vanish. Conjunctive queries
    instead get SOUND doc-range pruning, but its selectivity gate must
    not fire here ('the' and 'zz' share every doc — equal dfs), so kept
    == total. k=40 reaches into the long docs whose blocks disjunctive
    pruning provably drops (test above)."""
    stats: dict = {}
    pruned = E.bm25_topk(spark, skewed_index, "the zz", k=40,
                         require_all=True, prune=True, hydrate=False,
                         prune_stats=stats).toPandas()
    full = E.bm25_topk(spark, skewed_index, "the zz", k=40,
                       require_all=True, prune=False, hydrate=False).toPandas()
    assert stats["gated"] is True          # the θ path never ran
    assert stats["blocks_kept"] == stats["blocks_total"]
    assert len(full) == 40 and list(pruned.doc_id) == list(full.doc_id)
    assert (pruned.score - full.score).abs().max() < 1e-12


def test_and_range_prune_drops_blocks_exactly(spark, tmp_path):
    """Conjunctive doc-range pruning: a genuinely rare AND term confines
    results to its blocks' doc ranges, so the hot term's non-overlapping
    blocks drop — doc-for-doc and score-for-score identical to unpruned."""
    rows = [("c", t, "user",
             "the rare here" if t < 8 else "the just filler words",
             None, 1_767_225_600 + t) for t in range(400)]
    tx = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, epoch bigint") \
        .withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
    out = str(tmp_path / "andidx")
    build_index(spark, tx, out, n_buckets=2, block_size=16, n_groups=1,
                with_positions=False)
    stats: dict = {}
    pruned = E.bm25_topk(spark, out, "the rare", k=5, require_all=True,
                         prune=True, hydrate=False,
                         prune_stats=stats).toPandas()
    full = E.bm25_topk(spark, out, "the rare", k=5, require_all=True,
                       prune=False, hydrate=False).toPandas()
    assert stats["gated"] is True                      # θ never ran
    assert stats["blocks_kept"] < stats["blocks_total"], stats
    assert list(pruned.doc_id) == list(full.doc_id) != []
    assert (pruned.score - full.score).abs().max() < 1e-12


def test_wand_gate_skips_uniform_queries(spark, index_dir):
    """Similar-bound hot-term OR queries fail the 2·M > total selectivity
    gate (needs ≥3 similar terms) — pruning is skipped entirely (round 1
    regression: unconditional pruning was a net loss on exactly these)."""
    idx = E.open_index(index_dir)
    terms = sorted(set(A.py_tokens("the data error")))
    stats_rows = E._collect_term_stats(spark, idx, terms)
    mx = [float(r["max_score_ub"]) for r in stats_rows]
    assert 2.0 * max(mx) <= sum(mx) + 1e-12, \
        "fixture terms must have similar upper bounds for this test"
    stats: dict = {}
    E.bm25_topk(spark, index_dir, "the data error", k=10, prune=True,
                hydrate=False, prune_stats=stats).toPandas()
    assert stats["gated"] and stats["blocks_kept"] == stats["blocks_total"]


@pytest.mark.parametrize("query", ["error search tool", "assistant code",
                                   "spark user"])
def test_dismax_fields_segment_matches_logical(spark, corpus, index_dir, query):
    """Multi-field dis_max (B8+B15): the segment engine's per-field BM25 +
    boosted max must equal the logical raw-table definition — including
    terms that only exist in the meta (role/tool) field."""
    from planet_search_spark.indexing.build import FIELD_BOOSTS
    from planet_search_spark.queries.logical import _field_scores
    terms = sorted(set(A.py_tokens(query)))
    boost = F.create_map(
        *[x for f, b in FIELD_BOOSTS.items()
          for x in (F.lit(f), F.lit(float(b)))])[F.col("field")]
    want = (_field_scores(corpus, terms)
            .groupBy("conv_id", "turn_idx")
            .agg(S.quantize(F.max(boost * F.col("score"))).alias("score_q"))
            .toPandas())
    assert len(want) > 0
    got = (E.dismax_topk(spark, index_dir, query, k=100000)
           .select("conv_id", "turn_idx",
                   S.quantize(F.col("score")).alias("score_q")).toPandas())
    cols = ["conv_id", "turn_idx", "score_q"]
    import pandas as pd
    pd.testing.assert_frame_equal(
        want[cols].sort_values(cols).reset_index(drop=True),
        got[cols].sort_values(cols).reset_index(drop=True), check_dtype=False)


def test_field_scores_empty_terms(spark, corpus):
    """An empty term list scores nothing: an empty frame with the normal
    schema, not an error."""
    from planet_search_spark.queries.logical import _field_scores
    empty = _field_scores(corpus, [])
    assert empty.dtypes == _field_scores(corpus, ["error"]).dtypes
    assert empty.count() == 0


def test_meta_field_only_terms_rank(spark, index_dir):
    """A term that never occurs in any text body (the role 'system') must
    still be retrievable through the meta field."""
    got = E.dismax_topk(spark, index_dir, "system", k=5).toPandas()
    assert len(got) == 5 and (got.role == "system").all()


def test_phrase_positional_matches_keyword(spark, corpus, index_dir):
    phrase = "null pointer exception"
    idx = E.open_index(index_dir)
    store = spark.read.parquet(os.path.join(idx.seg_dir, "doc_store"))
    got = (E.phrase_match(spark, index_dir, phrase)
           .join(store.select("doc_id", "conv_id", "turn_idx"), "doc_id")
           .select("conv_id", "turn_idx").toPandas())
    docs = tokenized_docs(corpus)
    pad = F.concat(F.lit(" "), F.col("kw"), F.lit(" "))
    want = docs.where(pad.contains(" null pointer exception ")) \
               .select("conv_id", "turn_idx").toPandas()
    assert len(want) > 0, "fixture must contain the phrase"
    key = ["conv_id", "turn_idx"]
    assert sorted(map(tuple, got[key].values.tolist())) == \
           sorted(map(tuple, want[key].values.tolist()))


@pytest.mark.parametrize("phrase,prefix_last", [
    ("null pointer exc", True),      # fixture phrase "null pointer exception"
    ("out of mem", True),            # "out of memory"
    ("connection reset by pee", True),
])
def test_phrase_prefix_positional_engine(spark, corpus, index_dir, phrase,
                                         prefix_last):
    """Engine positional phrase-prefix == raw-table positional definition
    (first terms adjacent, last term by prefix)."""
    idx = E.open_index(index_dir)
    store = spark.read.parquet(os.path.join(idx.seg_dir, "doc_store"))
    got = (E.phrase_prefix_match(spark, index_dir, phrase)
           .join(store.select("doc_id", "conv_id", "turn_idx"), "doc_id")
           .select("conv_id", "turn_idx").toPandas())
    docs = tokenized_docs(corpus)
    pad = F.concat(F.lit(" "), F.col("kw"), F.lit(" "))
    want = docs.where(pad.contains(f" {phrase}")) \
               .select("conv_id", "turn_idx").toPandas()
    assert len(want) > 0, "fixture must contain the phrase"
    key = ["conv_id", "turn_idx"]
    assert sorted(map(tuple, got[key].values.tolist())) == \
           sorted(map(tuple, want[key].values.tolist()))


def test_phrase_prefix_single_term(spark, corpus, index_dir):
    """One-term phrase-prefix degenerates to prefix search (any doc with
    any dictionary expansion of the prefix)."""
    idx = E.open_index(index_dir)
    store = spark.read.parquet(os.path.join(idx.seg_dir, "doc_store"))
    got = (E.phrase_prefix_match(spark, index_dir, "prefe")
           .join(store.select("doc_id", "conv_id", "turn_idx"), "doc_id")
           .select("conv_id", "turn_idx").toPandas())
    docs = tokenized_docs(corpus)
    want = (docs.where(F.exists("toks", lambda t: t.startswith("prefe")))
            .select("conv_id", "turn_idx").toPandas())
    assert len(want) > 0
    key = ["conv_id", "turn_idx"]
    assert sorted(map(tuple, got[key].values.tolist())) == \
           sorted(map(tuple, want[key].values.tolist()))


def test_doc_ids_stable_and_dense(spark, corpus):
    from planet_search_spark.indexing.build import assign_doc_ids
    a = assign_doc_ids(corpus).select("conv_id", "turn_idx", "doc_id").toPandas()
    b = assign_doc_ids(corpus).select("conv_id", "turn_idx", "doc_id").toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    b = b.sort_values("doc_id").reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(a, b)
    assert list(a.doc_id) == list(range(len(a)))
    # dense ids follow (conv_id, turn_idx) order
    assert a.sort_values(["conv_id", "turn_idx"]).doc_id.is_monotonic_increasing


# the build settings the crash/resume and tiny-chunk tests share: tiny
# salt_target + small blocks, so the hottest terms span several salt groups
BUILD_KW = dict(n_buckets=8, block_size=16, salt_target=64, n_groups=3)
# below both salt_target and the largest term's posting count: every bucket
# streams in many chunks and the hottest terms take the big-term path
TINY_CHUNK_ROWS = 5


@pytest.fixture(scope="module")
def single_shot_dir(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("single"))
    build_index(spark, corpus, out, **BUILD_KW)
    return out


def _assert_artifacts_identical(spark, dir_a, dir_b):
    """postings and term_dict equal as row multisets on every column
    (bucket and group ride the hive directories)."""
    seg_a = glob.glob(os.path.join(dir_a, "segments", "*"))[0]
    seg_b = glob.glob(os.path.join(dir_b, "segments", "*"))[0]
    for sub in ("postings", "term_dict"):
        a = spark.read.parquet(os.path.join(seg_a, sub))
        b = spark.read.parquet(os.path.join(seg_b, sub))
        assert sorted(a.columns) == sorted(b.columns), sub
        b = b.select(a.columns)
        assert a.count() > 0, sub
        assert a.exceptAll(b).count() == 0, sub
        assert b.exceptAll(a).count() == 0, sub


@pytest.mark.parametrize("chunk_rows", [None, TINY_CHUNK_ROWS],
                         ids=["default_chunks", "tiny_chunks"])
def test_resume_after_crash_identical(spark, corpus, index_dir,
                                      single_shot_dir, tmp_path,
                                      monkeypatch, chunk_rows):
    import planet_search_spark.indexing.build as B
    if chunk_rows:           # every bucket encodes in many chunks
        monkeypatch.setattr(B, "_CHUNK_ROWS", chunk_rows)
    out2 = str(tmp_path / "idx2")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, corpus, out2, fail_after_group=1, **BUILD_KW)
    assert not os.path.exists(os.path.join(out2, "live.json")), \
        "crashed build must not publish"
    # a bucket task killed mid-write leaves a partial file behind in a
    # group the crash did not finish
    stale = os.path.join(out2, "segments", "seg_1", "postings", "group=1",
                         "bucket=1")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "part-0.parquet.tmp"), "wb") as f:
        f.write(b"partial")
    m = build_index(spark, corpus, out2, resume=True, **BUILD_KW)
    assert m["groups_built"] == 2  # only the missing groups were rebuilt
    _assert_artifacts_identical(spark, single_shot_dir, out2)
    # resumed index answers identically to the single-shot one
    for q in ["error timeout retry", "spark merge"]:
        a = E.bm25_topk(spark, index_dir, q, k=10, hydrate=False).toPandas()
        b = E.bm25_topk(spark, out2, q, k=10, hydrate=False).toPandas()
        assert list(a.doc_id) == list(b.doc_id)
        assert (a.score - b.score).abs().max() < 1e-12


@pytest.mark.parametrize("with_positions", [True, False],
                         ids=["pos_partial", "tf_partial"])
def test_tiny_chunks_artifact_identical(spark, corpus, single_shot_dir,
                                        tmp_path, monkeypatch,
                                        with_positions):
    """The encoder's memory bound is a chunk of postings, and the chunk
    size must not show in the index. With _CHUNK_ROWS below both the
    largest term's posting count and salt_target, every bucket streams in
    many chunks and the hottest terms are folded, then re-read and encoded
    a salt group per chunk (one term split across chunks). The result
    must be artifact-identical to a default build, from either source
    (sorted pos_partial, or sorted tf_partial without positions), and
    answer identically."""
    import planet_search_spark.indexing.build as B
    kw = dict(BUILD_KW, with_positions=with_positions)
    if with_positions:
        out_a = single_shot_dir
    else:
        out_a = str(tmp_path / "default")
        build_index(spark, corpus, out_a, **kw)
    monkeypatch.setattr(B, "_CHUNK_ROWS", TINY_CHUNK_ROWS)
    out_b = str(tmp_path / "tiny")
    m = build_index(spark, corpus, out_b, **kw)
    seg_a = glob.glob(os.path.join(out_a, "segments", "*"))[0]
    max_df = (spark.read.parquet(os.path.join(seg_a, "term_dict"))
              .agg(F.max("df")).first()[0])
    assert max_df > kw["salt_target"] > TINY_CHUNK_ROWS, max_df
    import pandas as pd
    default_chunks = pd.read_parquet(
        os.path.join(seg_a, "metrics.parquet")).encode_chunks.iloc[0]
    assert default_chunks == kw["n_buckets"]   # one chunk per bucket
    assert m["encode_chunks"] > 10 * default_chunks, m
    _assert_artifacts_identical(spark, out_a, out_b)
    for q in ["error timeout retry", "spark merge", "the data",
              "null pointer exception"]:
        a = E.bm25_topk(spark, out_a, q, k=15, hydrate=False).toPandas()
        b = E.bm25_topk(spark, out_b, q, k=15, hydrate=False).toPandas()
        assert list(a.doc_id) == list(b.doc_id), q
        assert list(a.score) == list(b.score), q
    if with_positions:
        pa_ = sorted(r.doc_id for r in
                     E.phrase_match(spark, out_a, "out of memory").collect())
        pb_ = sorted(r.doc_id for r in
                     E.phrase_match(spark, out_b, "out of memory").collect())
        assert pa_ == pb_ and len(pa_) > 0


def test_metrics_and_lineage_written(index_dir):
    seg = glob.glob(os.path.join(index_dir, "segments", "*"))[0]
    import pandas as pd
    m = pd.read_parquet(os.path.join(seg, "metrics.parquet"))
    assert m.turns_per_sec.iloc[0] > 0
    assert m.skew_ratio.iloc[0] >= 1.0
    lin = pd.read_parquet(os.path.join(seg, "lineage.parquet"))
    assert len(lin) == 3
    # encode observability: chunks summed, peak task RSS maxed over buckets
    assert m.encode_chunks.iloc[0] >= 8        # >= one chunk per bucket
    if os.path.exists("/proc/self/status"):
        assert m.encode_peak_rss_bytes.iloc[0] > 0


# -- impact-ordered block layout (round 3): WAND prunes on UNIFORM corpora ---

@pytest.fixture(scope="module")
def impact_index_dir(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("impidx"))
    m = build_index(spark, corpus, out, n_buckets=8, block_size=16,
                    salt_target=64, n_groups=1, impact_order=True)
    assert m["n_docs"] > 0
    return out


@pytest.mark.parametrize("query", QUERIES)
def test_impact_layout_rank_identical(spark, index_dir, impact_index_dir,
                                      query):
    """Impact ordering is a physical layout choice only: pruned results on
    the impact index == unpruned results on the doc-ordered index."""
    want = [(r.doc_id, round(r.score, 9)) for r in
            E.bm25_topk(spark, index_dir, query, k=15, prune=False,
                        hydrate=False).collect()]
    got = [(r.doc_id, round(r.score, 9)) for r in
           E.bm25_topk(spark, impact_index_dir, query, k=15, prune=True,
                       hydrate=False).collect()]
    assert got == want, query


def test_impact_layout_prunes_on_uniform_corpus(spark, index_dir,
                                                impact_index_dir):
    """The point of the layout: on the SAME uniform corpus where the
    doc-ordered index cannot prune a stopword query (homogeneous block
    bounds), the impact-ordered index drops blocks."""
    st_imp: dict = {}
    E.bm25_topk(spark, impact_index_dir, "the", k=5, prune=True,
                hydrate=False, prune_stats=st_imp).collect()
    assert st_imp["blocks_kept"] < st_imp["blocks_total"], st_imp
    st_doc: dict = {}
    E.bm25_topk(spark, index_dir, "the", k=5, prune=True,
                hydrate=False, prune_stats=st_doc).collect()
    # strictly better pruning than the doc-ordered layout on this corpus
    assert (st_imp["blocks_kept"] / st_imp["blocks_total"]
            < st_doc["blocks_kept"] / st_doc["blocks_total"])


def test_impact_layout_serve_parity_and_phrase(spark, impact_index_dir):
    """The serving reader and the phrase path are layout-agnostic."""
    from planet_search_spark.queries.serve import LocalSearcher
    srv = LocalSearcher(impact_index_dir)
    for prune in (False, True):
        got = srv.bm25_topk("error timeout retry", k=10, hydrate=False,
                            prune=prune)
        want = [r.asDict() for r in
                E.bm25_topk(spark, impact_index_dir, "error timeout retry",
                            k=10, prune=False, hydrate=False).collect()]
        assert [(g["doc_id"], round(g["score"], 9)) for g in got] == \
               [(w["doc_id"], round(w["score"], 9)) for w in want]
    assert E.phrase_match(spark, impact_index_dir,
                          "out of memory").count() > 0


def test_impact_layout_inherited_by_incremental(spark, tmp_path):
    import json as _json
    from planet_search_spark.indexing.build import incremental_update
    out = str(tmp_path / "impinc")
    a = synthesize_transcripts(spark, n_convs=8, seed=91)
    b = synthesize_transcripts(spark, n_convs=4, seed=92) \
        .selectExpr("concat('b_', conv_id) AS conv_id", "turn_idx", "role",
                    "text", "tool", "ts")
    build_index(spark, a, out, n_buckets=4, block_size=16, n_groups=1,
                impact_order=True)
    incremental_update(spark, out, b, n_groups=1)
    with open(os.path.join(out, "segments", "seg_2",
                           "corpus_stats.json")) as f:
        assert _json.load(f)["impact_order"] is True


def test_benefit_gate_skips_theta_on_homogeneous_blocks(spark, tmp_path):
    """Identical docs -> identical block bounds -> the benefit gate must
    prove pruning can't drop >=10% of blocks and skip the θ jobs; on a
    skewed corpus it must NOT gate (and must actually prune). Gating is a
    performance decision only — results stay identical either way."""
    from pyspark.sql import functions as F
    uni = spark.createDataFrame(
        [("c", t, "user", "same text every turn here", None,
          1_767_225_600 + t) for t in range(600)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, epoch bigint") \
        .withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")
    out_u = str(tmp_path / "uni")
    build_index(spark, uni, out_u, n_buckets=2, block_size=16, n_groups=1,
                with_positions=False)
    st: dict = {}
    got = E.bm25_topk(spark, out_u, "same", k=5, prune=True, hydrate=False,
                      prune_stats=st).collect()
    want = E.bm25_topk(spark, out_u, "same", k=5, prune=False,
                       hydrate=False).collect()
    assert st["gated"] is True, st
    assert [(r.doc_id, r.score) for r in got] == \
           [(r.doc_id, r.score) for r in want]

    from planet_search_spark.transcripts import clustered_corpus
    out_s = str(tmp_path / "skew")
    tx = clustered_corpus(spark, 20_000, hot_docs=1024, parallelism=8)
    build_index(spark, tx, out_s, n_buckets=4, block_size=64,
                salt_target=4096, n_groups=1, with_positions=False)
    st2: dict = {}
    E.bm25_topk(spark, out_s, "hotterm", k=20, prune=True, hydrate=False,
                prune_stats=st2).collect()
    assert st2["gated"] is False, st2
    assert st2["blocks_kept"] < st2["blocks_total"], st2
