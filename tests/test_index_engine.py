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
    pruned = E.bm25_topk(spark, index_dir, query, k=10, prune=True,
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
    assert stats["theta"] > 0.0
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
    assert stats["theta"] == 0.0           # the θ path never ran
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
    assert stats["theta"] == 0.0                       # θ never ran
    assert stats["blocks_kept"] < stats["blocks_total"], stats
    assert list(pruned.doc_id) == list(full.doc_id) != []
    assert (pruned.score - full.score).abs().max() < 1e-12


def test_wand_exact_on_similar_bound_terms(spark, index_dir):
    """Three hot terms with similar upper bounds, where θ can seldom
    drop a block: θ runs anyway, and the pruned top-k is the unpruned
    one, doc for doc with bit-identical scores."""
    stats: dict = {}
    pruned = E.bm25_topk(spark, index_dir, "the data error", k=10,
                         prune=True, hydrate=False,
                         prune_stats=stats).collect()
    full = E.bm25_topk(spark, index_dir, "the data error", k=10,
                       prune=False, hydrate=False).collect()
    assert stats["theta"] > 0.0, stats
    assert len(full) == 10
    assert [(r.doc_id, r.score) for r in pruned] == \
           [(r.doc_id, r.score) for r in full]


def _jobs(spark, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted under a fresh job group."""
    import uuid
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pruned_topk_runs_no_extra_jobs(spark, skewed_index):
    """θ is computed inside the shard tasks, so a query whose blocks
    provably drop runs no more Spark jobs pruned than unpruned."""
    def run(prune):
        return lambda: E.bm25_topk(spark, skewed_index, "the", k=5,
                                   prune=prune, hydrate=False).collect()
    _jobs(spark, run(False))          # first-run costs out of the count
    assert _jobs(spark, run(True)) <= _jobs(spark, run(False))


def test_engine_query_job_floor(spark, skewed_index):
    """A query runs only the jobs its own plan needs: every table is read
    with its declared schema (no inference job), the global df and the
    prefix / fuzzy expansions are pyarrow lookups outside Spark, and each
    shard task reads its own blocks and hydrates its own winners. So a
    ``bm25_topk`` (hydrated or not), a hydrated ``dismax_topk`` and a
    hydrated ``search`` (multi-field with phrase tiers and recency, prefix
    or fuzzy) run exactly 1 job; ``phrase_prefix_match`` (JVM chain) at
    most 4; an expansion and reading a table's schema none."""
    from planet_search_spark.queries.params import SearchParams

    def topk(hydrate):
        return lambda: E.bm25_topk(spark, skewed_index, "the zz", k=5,
                                   hydrate=hydrate).collect()

    def search(**kw):
        return lambda: E.search(spark, skewed_index,
                                SearchParams(k=5, **kw)).collect()
    for name, run, want in (
            ("hydrated", topk(True), 1), ("bare", topk(False), 1),
            ("dismax", lambda: E.dismax_topk(spark, skewed_index, "the zz",
                                             k=5).collect(), 1),
            ("tiers", search(query="the zz", multifield=True,
                             phrase_tiers=True, recency=True), 1),
            ("prefix", search(query="the w1", prefix=True), 1),
            ("fuzzy", search(query="thx w10", fuzzy=True), 1)):
        _jobs(spark, run)             # first-run costs out of the count
        assert _jobs(spark, run) == want, name
    def phrase_prefix():
        E.phrase_prefix_match(spark, skewed_index, "the z").collect()
    _jobs(spark, phrase_prefix)
    assert _jobs(spark, phrase_prefix) <= 4
    idx = E.open_index(skewed_index)
    term_dicts = E.datasets(idx.seg_dirs, "term_dict")
    assert _jobs(spark, lambda: E.expand_prefix(term_dicts, "w1")) == 0
    assert _jobs(spark, lambda: E.expand_fuzzy(term_dicts, "w10", 1)) == 0
    for table in ("postings", "term_dict", "doc_store", "pos_partial"):
        assert _jobs(spark, lambda: E._union_read(spark, idx, table).schema
                     ) == 0, table


def _shards(df) -> int:
    """Shard count of an engine ranking plan: the splits of its
    ``Range`` of shard ids."""
    import re
    plan = df._jdf.queryExecution().executedPlan().toString()
    return int(re.search(r"Range \(0, (\d+), step=1, splits=\1\)",
                         plan).group(1))


_TIERS = {"multifield": True, "phrase_tiers": True, "recency": True}
MULTI_SHARD_CASES = {
    "skewed_index": [("bm25_topk", "the", {"k": 5, "prune": True}),
                     ("bm25_topk", "the zz", {"k": 30, "prune": False}),
                     ("bm25_topk", "the zz", {"k": 40, "require_all": True}),
                     ("dismax_topk", "the zz", {"k": 10}),
                     ("search", "the zz", _TIERS),
                     ("search", "the w1", {"prefix": True}),
                     ("search", "thx w10", {"fuzzy": True}),
                     ("search", "zz the", {"operator": "and", "k": 40})],
    "impact_index_dir": [
        ("bm25_topk", "error timeout retry", {"k": 10, "prune": True}),
        ("bm25_topk", "error timeout retry", {"k": 10, "prune": False}),
        ("bm25_topk", "error timeout", {"k": 10, "require_all": True}),
        ("dismax_topk", "error search tool", {"k": 10}),
        ("search", "out of memory", _TIERS),
        ("search", "spark merg", {"prefix": True}),
        ("search", "spak timout", {"fuzzy": True}),
        ("search", "error timeout", {"operator": "and"}),
        ("search", "error timeout", {"filter_role": "user",
                                     "phrase_tiers": True})],
}


@pytest.mark.parametrize("which", sorted(MULTI_SHARD_CASES))
def test_multi_shard_matches_one_shard(spark, request, monkeypatch, which):
    """Doc-range shards merge exactly: with the shard size forced down so
    ≥3 shards run, every query returns the one-shard doc ids and
    bit-identical scores — also pruned, where each shard takes its own θ
    and blocks straddling shards are ranked in both, and for ``search``,
    whose shard tasks rank by function_score over their own doc values
    and phrase positions."""
    from planet_search_spark.queries.params import SearchParams
    out = request.getfixturevalue(which)

    def run():
        res = []
        for fn, q, kw in MULTI_SHARD_CASES[which]:
            if fn == "search":
                df = E.search(spark, out, SearchParams(query=q, **kw))
            else:
                df = getattr(E, fn)(spark, out, q, hydrate=False, **kw)
            res.append((_shards(df), [(r.doc_id, r.score)
                                      for r in df.collect()]))
        return res
    one = run()
    monkeypatch.setattr(E, "_SHARD_POSTINGS", 1)
    many = run()
    for case, (n1, want), (n2, got) in zip(MULTI_SHARD_CASES[which], one,
                                            many):
        assert n1 == 1 and n2 >= 3, (case, n1, n2)
        assert got == want and want, case


TERM_DICT_COLUMNS = ["field", "term", "df", "cf", "term_id"]
# bound columns that older builds wrote into term_dict and nothing reads
LEGACY_TERM_DICT_COLUMNS = ("max_tf", "min_dl", "max_tfn_real",
                            "max_score_ub", "min_tfn", "ub_tfn_q10")


@pytest.mark.parametrize("which", ["index_dir", "impact_index_dir",
                                   "skewed_index"])
def test_term_dict_schema(spark, request, which):
    """A term_dict row is (field, term, df, cf, term_id) in every segment,
    plus the ``bucket`` directory partition; block bounds live on the
    block rows only."""
    import pyarrow.parquet as pq
    out = request.getfixturevalue(which)
    segs = glob.glob(os.path.join(out, "segments", "*"))
    assert segs
    for seg in segs:
        td = os.path.join(seg, "term_dict")
        files = glob.glob(os.path.join(td, "bucket=*", "*.parquet"))
        assert files, seg
        for f in files:
            assert pq.read_schema(f).names == TERM_DICT_COLUMNS, f
        assert spark.read.parquet(td).columns == \
            TERM_DICT_COLUMNS + ["bucket"], seg


def _add_legacy_term_dict_columns(seg_dir: str) -> None:
    """Rewrite a segment's term_dict files in the older layout: four of
    the six bound columns between cf and term_id, the other two after
    it."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    for f in glob.glob(os.path.join(seg_dir, "term_dict", "bucket=*",
                                    "*.parquet")):
        t = pq.read_table(f)
        n = t.num_rows
        val = pa.array(np.linspace(1.0, 2.0, n))
        nul = pa.nulls(n, pa.float64())
        cols = {c: t[c] for c in ("field", "term", "df", "cf")}
        cols.update(dict.fromkeys(LEGACY_TERM_DICT_COLUMNS[:4], val))
        cols["term_id"] = t["term_id"]
        cols.update(dict.fromkeys(LEGACY_TERM_DICT_COLUMNS[4:], nul))
        pq.write_table(pa.table(cols), f)


def test_legacy_term_dict_columns_still_read(spark, skewed_index, tmp_path):
    """A segment written by an older build still carries the six legacy
    term_dict columns. With one of two segments rewritten that way, every
    engine path and the serving reader return the rows of the untouched
    index."""
    import shutil
    from planet_search_spark.queries.params import SearchParams
    from planet_search_spark.queries.serve import LocalSearcher
    old = str(tmp_path / "legacy")
    shutil.copytree(skewed_index, old)
    seg = sorted(glob.glob(os.path.join(old, "segments", "*")))[0]
    _add_legacy_term_dict_columns(seg)
    assert set(LEGACY_TERM_DICT_COLUMNS) <= set(spark.read.parquet(
        os.path.join(seg, "term_dict")).columns)

    def rows(out):
        res = [[(r.doc_id, r.score) for r in E.bm25_topk(
                    spark, out, "the zz", k=10, prune=prune,
                    hydrate=False).collect()] for prune in (True, False)]
        res.append([(r.doc_id, r.score) for r in E.dismax_topk(
            spark, out, "the zz", k=10, hydrate=False).collect()])
        res.append([(r.doc_id, r.score) for r in E.search(
            spark, out, SearchParams(query="the w1", prefix=True))
            .collect()])
        res.append([(r["doc_id"], r["score"]) for r in LocalSearcher(
            out).bm25_topk("the zz", k=10, hydrate=False)])
        return res
    want, got = rows(skewed_index), rows(old)
    assert all(want) and got == want


def _add_legacy_postings_columns(seg_dir: str) -> None:
    """Rewrite a segment's postings files in the older layout, with the
    never-read (min_tf, max_dl) block pair after min_dl."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    for f in glob.glob(os.path.join(seg_dir, "postings", "group=*",
                                    "bucket=*", "*.parquet")):
        t = pq.read_table(f)
        i = t.schema.get_field_index("min_dl") + 1
        t = t.add_column(i, "min_tf", pa.array(np.ones(t.num_rows)))
        t = t.add_column(i + 1, "max_dl", pa.array(np.full(t.num_rows, 9.0)))
        pq.write_table(t, f)


def test_legacy_postings_columns_still_read(spark, skewed_index, tmp_path):
    """A segment whose postings still carry min_tf/max_dl reads as before:
    every engine path and the serving reader return the untouched index's
    rows, bit for bit."""
    import shutil
    import pyarrow.parquet as pq
    from planet_search_spark.queries.params import SearchParams
    from planet_search_spark.queries.serve import LocalSearcher
    old = str(tmp_path / "legacy_postings")
    shutil.copytree(skewed_index, old)
    seg = sorted(glob.glob(os.path.join(old, "segments", "*")))[0]
    _add_legacy_postings_columns(seg)
    files = glob.glob(os.path.join(seg, "postings", "*", "*", "*.parquet"))
    assert files and all({"min_tf", "max_dl"} <= set(pq.read_schema(f).names)
                         for f in files)

    def rows(out):
        res = [[(r.doc_id, r.score) for r in E.bm25_topk(
                    spark, out, "the zz", k=10, prune=prune,
                    hydrate=False).collect()] for prune in (True, False)]
        res.append([(r.doc_id, r.score) for r in E.dismax_topk(
            spark, out, "the zz", k=10, hydrate=False).collect()])
        res.append([(r.doc_id, r.score) for r in E.search(
            spark, out, SearchParams(query="the w1", prefix=True))
            .collect()])
        res.append([(r["doc_id"], r["score"]) for r in LocalSearcher(
            out).bm25_topk("the zz", k=10, hydrate=False)])
        return res
    want, got = rows(skewed_index), rows(old)
    assert all(want) and got == want


@pytest.fixture(scope="module")
def tf_index(spark, skewed_corpus, tmp_path_factory):
    """A no-positions (tf_partial-sourced) index of two segments."""
    from planet_search_spark.indexing.build import incremental_update
    out = str(tmp_path_factory.mktemp("tfidx"))
    build_index(spark, skewed_corpus, out, n_buckets=4, block_size=16,
                n_groups=1, with_positions=False)
    incremental_update(spark, out, skewed_corpus.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("_s2"))), n_groups=1)
    return out


def _compacted(spark, src: str, dst: str) -> str:
    import shutil
    from planet_search_spark.indexing.build import compact_index
    shutil.copytree(src, dst)
    assert compact_index(spark, dst)["merged_segments"]
    return dst


@pytest.fixture(scope="module")
def compacted_indexes(spark, skewed_index, tf_index, tmp_path_factory):
    """The two-segment positional and tf-sourced indexes, each merged into
    one segment."""
    root = tmp_path_factory.mktemp("compacted")
    return [_compacted(spark, skewed_index, str(root / "pos")),
            _compacted(spark, tf_index, str(root / "tf"))]


def _footer_columns(path: str) -> list:
    """(name, Spark type) of a parquet file's columns: the Spark schema a
    Spark writer stores in the footer, else the Arrow schema's."""
    import json
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_schema
    meta = pq.read_metadata(path).metadata or {}
    spark_json = meta.get(b"org.apache.spark.sql.parquet.row.metadata")
    st = (T.StructType.fromJson(json.loads(spark_json)) if spark_json
          else from_arrow_schema(pq.read_schema(path)))
    return [(f.name, f.dataType) for f in st.fields]


@pytest.mark.parametrize("which", ["index_dir", "tf_index",
                                   "compacted_indexes"])
def test_table_footers_match_declared_layout(request, which):
    """Every file of every index table carries exactly its declared
    columns (``indexing.layout``), in order and type: with positions, from
    the tf source, and after an append plus compaction. The encoder's
    pyarrow files match the Arrow declaration itself."""
    import pyarrow.parquet as pq
    from planet_search_spark.indexing import layout as L
    outs = request.getfixturevalue(which)
    seen = set()
    for out in outs if isinstance(outs, list) else [outs]:
        for seg in E.open_index(out).seg_dirs:
            for table, (schema, parts) in L.TABLES.items():
                want = [(f.name, f.dataType)
                        for f in L.spark_schema(table).fields
                        if f.name not in parts]
                files = glob.glob(os.path.join(seg, table, "**", "*.parquet"),
                                  recursive=True)
                for f in files:
                    assert _footer_columns(f) == want, (f, table)
                    if table in ("postings", "term_dict"):
                        assert pq.read_schema(f).remove_metadata().equals(
                            schema), f
                seen |= {table} if files else set()
    assert {"postings", "term_dict", "doc_store"} <= seen
    assert seen & {"pos_partial", "tf_partial"}


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


def test_resume_reencodes_only_unmarked_bucket(spark, corpus,
                                               single_shot_dir, tmp_path):
    """Resume granularity is one bucket: with every bucket encoded but the
    build crashed before publish, deleting one bucket's marker re-encodes
    exactly that bucket and leaves every other bucket's files alone."""
    out = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, corpus, out,
                    fail_after_group=BUILD_KW["n_groups"], **BUILD_KW)
    assert not os.path.exists(os.path.join(out, "live.json"))
    seg = os.path.join(out, "segments", "seg_1")
    redo = 4

    def stamps():
        return {p: os.stat(p).st_mtime_ns for p in
                glob.glob(os.path.join(seg, "_ckpt", "bucket_*.done"))
                + glob.glob(os.path.join(seg, "postings", "*", "*", "*"))
                + glob.glob(os.path.join(seg, "term_dict", "*", "*"))
                if f"bucket={redo}" not in p and f"bucket_{redo}." not in p}
    before = stamps()
    assert len(before) == 3 * (BUILD_KW["n_buckets"] - 1), sorted(before)
    os.remove(os.path.join(seg, "_ckpt", f"bucket_{redo}.done"))
    m = build_index(spark, corpus, out, resume=True, **BUILD_KW)
    assert m["groups_built"] == 1
    assert m["encode_chunks"] == 1       # one bucket, one chunk: one row
    assert stamps() == before
    assert os.path.exists(os.path.join(seg, "_ckpt", f"bucket_{redo}.done"))
    _assert_artifacts_identical(spark, single_shot_dir, out)


def test_encode_is_one_job_of_at_most_one_task_per_core(spark, corpus,
                                                         tmp_path):
    """Every Python task pays a fixed start-up cost, so the encode stage is
    ONE Spark job of at most defaultParallelism tasks, however many
    buckets and bucket groups there are."""
    import json as _json
    import planet_search_spark.indexing.build as B
    sc = spark.sparkContext
    kw = dict(BUILD_KW, n_buckets=2 * sc.defaultParallelism)
    out = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, corpus, out, fail_after_group=0, **kw)
    seg = os.path.join(out, "segments", "seg_1")
    with open(os.path.join(seg, "corpus_stats.json")) as f:
        fields = _json.load(f)["fields"]
    field_stats = {B.FIELDS[n]: (float(s["n_docs"]), s["sum_dl"] / s["n_docs"])
                   for n, s in fields.items()}
    group = f"encode-shape-{os.getpid()}"
    sc.setJobGroup(group, "encode stage only")
    try:
        enc = B._term_dict_and_postings(
            spark, seg, field_stats, n_buckets=kw["n_buckets"],
            block_size=kw["block_size"], salt_target=kw["salt_target"],
            n_groups=kw["n_groups"], done=lambda name: False,
            lap=lambda name: None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    tasks = sum(st.getStageInfo(s).numTasks
                for s in st.getJobInfo(jobs[0]).stageIds)
    assert 0 < tasks <= sc.defaultParallelism, tasks
    assert sorted(r["bucket"] for r in enc["encoded"]) == \
        list(range(kw["n_buckets"]))
    assert enc["groups_built"] == kw["n_groups"]


def test_prewarm_runs_once_per_session(spark, monkeypatch, tmp_path):
    """The Python worker pool is warmed once per SparkContext: the first
    build warms it, a second build in the same session starts no prewarm
    job (an append would otherwise pay a task per core again)."""
    import time
    import planet_search_spark.indexing.build as B
    monkeypatch.setattr(B, "_PREWARMED", set())
    st = spark.sparkContext.statusTracker()
    tx = synthesize_transcripts(spark, n_convs=4, seed=93)
    kw = dict(n_buckets=2, block_size=16, n_groups=1, with_positions=False)
    before = len(st.getJobIdsForGroup(B.PREWARM_JOB_GROUP))
    build_index(spark, tx, str(tmp_path / "a"), **kw)
    deadline = time.time() + 60
    while (len(st.getJobIdsForGroup(B.PREWARM_JOB_GROUP)) == before
           and time.time() < deadline):
        time.sleep(0.2)
    warmed = st.getJobIdsForGroup(B.PREWARM_JOB_GROUP)
    assert len(warmed) == before + 1
    build_index(spark, tx, str(tmp_path / "b"), **kw)
    assert st.getJobIdsForGroup(B.PREWARM_JOB_GROUP) == warmed


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


def test_wand_exact_on_tied_scores(spark, tmp_path):
    """Identical docs -> every score and every block bound tie θ: θ runs,
    no block may drop, and the pruned top-k is the unpruned one (ties
    broken by doc_id asc), score for score."""
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
    assert st["theta"] > 0.0, st
    assert st["blocks_kept"] == st["blocks_total"], st
    assert len(want) == 5
    assert [(r.doc_id, r.score) for r in got] == \
           [(r.doc_id, r.score) for r in want]
