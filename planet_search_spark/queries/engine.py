"""Segment query engine: BM25 top-k over the compressed posting blocks,
with optional block-max WAND pruning.

Read path (mirrors the ES search template execution, SURVEY.md §3.2):

1. analyze the query string on the driver with the SAME frozen analyzer as
   the index side (``analysis.py_tokens`` — identity with the Spark-side
   expression is golden-tested);
2. bucket-prune + term-filter the block table (partition pruning on
   ``bucket=``, min/max row-group stats on ``term``), read with the
   declared table schemas of :mod:`..indexing.layout` (no inference job).
   The query terms' global df (:func:`term_df`; df is additive over
   segments) and their prefix / fuzzy dictionary expansions
   (:func:`expand_prefix`, :func:`expand_fuzzy`) are pyarrow lookups in
   the calling process, the serving reader's own code, and run no Spark
   job;
3. tag each block with the doc-range shard(s) it overlaps and repartition
   by shard — ES's shard-local top-k over doc ranges. The shard count
   follows the query's posting mass (``_SHARD_POSTINGS``), so small
   queries run one shard;
4. one ``mapInArrow`` task per shard runs the serving reader's own code:
   :func:`kernel.score_blocks` (witness θ, block skipping, the AND
   doc-range skip, decode, :func:`scoring.bm25` under each field's corpus
   stats and the global df), then one combinator. ``bm25_topk`` and
   ``dismax_topk`` rank with :func:`kernel.rank` (accumulate, AND filter,
   dis_max, top-k); ``search`` (:func:`_search_rank`) combines with
   :func:`kernel.should_sum` (dis_max over each term's expansions, boosted
   should-sum, AND filter), reads the doc values, filter sets and phrase
   positions of its shard's doc range with the pyarrow readers below, and
   ranks by :func:`kernel.function_score` under the index's
   ``search_config.json``. Every task emits ≤ k rows and one stats row;
   dl ships inside the block, so scoring needs NO doc-stats join;
5. the exact coordinator merge: ``orderBy(score desc, doc_id asc)
   .limit(k)`` — Spark's TakeOrderedAndProject heap. It is exact for
   ``search`` too, because a doc's final score depends only on global
   stats and the doc itself;
6. a broadcast hydration join against doc_store for the k winners only,
   ordered by one single-partition sort.

Block-max WAND (the Lucene-side top-k pruning the reference gets for free,
SURVEY.md §4 "Lucene-side (delegated)") runs inside each shard task; the
θ derivation and the exactness argument (shard-local bounds, exact merge,
why θ is off under AND) are in :mod:`.kernel`. θ runs in every pruned
shard task, on blocks the task already holds, so it costs no Spark job.
Verified against the unpruned path in tests, also with several shards.

A hydrated ``bm25_topk`` or ``search`` (prefix and fuzzy included) thus
runs at most 4 Spark jobs (the ranking and hydration plan under AQE) and
an un-hydrated ``bm25_topk`` at most 2; a test counts them.
"""
from __future__ import annotations

import hashlib
import json
import math
import os
from dataclasses import dataclass
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import analysis as A
from .. import lazyzip
from .. import scoring as S
from ..indexing import layout as L
from ..indexing.build import FIELDS, bucket_of
from . import fuzzy as FZ
from . import kernel as K
from .search_config import load_config

TEXT_FIELD = FIELDS["text"]


@dataclass
class IndexMeta:
    """Multi-segment index (the Lucene-segment model): global BM25 stats
    are exact because df / N / sum_dl are additive across segments —
    per FIELD (B8 multi-field indexing)."""
    out_dir: str
    seg_dirs: list
    n_docs: int          # global N of the text field = sum over segments
    avgdl: float         # global: sum(sum_dl) / sum(n_docs), exact int sums
    n_buckets: int
    with_positions: bool
    fields: dict         # field name -> {"n_docs": int, "sum_dl": int}

    @property
    def seg_dir(self) -> str:  # single-segment convenience (tests, hydration)
        return self.seg_dirs[0]

    def field_stats(self) -> dict:
        """field_id -> (N, avgdl) under global (cross-segment) stats."""
        from ..indexing.build import FIELDS
        out = {}
        for name, st in self.fields.items():
            n = st["n_docs"]
            out[FIELDS[name]] = (float(n),
                                 (st["sum_dl"] / n) if n else 1.0)
        return out


def open_index(out_dir: str) -> IndexMeta:
    with open(os.path.join(out_dir, "live.json")) as f:
        segs = json.load(f)["segments"]
    seg_dirs, n_docs, sum_dl = [], 0, 0
    n_buckets = with_positions = None
    fields: dict = {}
    for seg in segs:
        seg_dir = os.path.join(out_dir, "segments", seg)
        with open(os.path.join(seg_dir, "corpus_stats.json")) as f:
            cs = json.load(f)
        seg_dirs.append(seg_dir)
        n_docs += cs["n_docs"]
        sum_dl += cs.get("sum_dl", int(round(cs["avgdl"] * cs["n_docs"])))
        for fname, st in cs.get("fields", {}).items():
            acc = fields.setdefault(fname, {"n_docs": 0, "sum_dl": 0})
            acc["n_docs"] += st["n_docs"]
            acc["sum_dl"] += st["sum_dl"]
        if n_buckets is not None and cs["n_buckets"] != n_buckets:
            raise ValueError("segments disagree on n_buckets")
        n_buckets = cs["n_buckets"]
        with_positions = cs["with_positions"] if with_positions is None \
            else (with_positions and cs["with_positions"])
    if not fields:
        # every read path filters on the 'field' partition column, so a
        # pre-field segment is unreadable anyway — fail at open, not deep
        # inside a query plan (round-2 ADVICE: the silent fallback faked
        # backward compatibility that did not exist)
        raise ValueError(
            f"index at {out_dir!r} predates the per-field segment layout; "
            "rebuild it (corpus_stats.json lacks 'fields')")
    return IndexMeta(out_dir, seg_dirs, n_docs, sum_dl / n_docs,
                     n_buckets, with_positions, fields)


def _union_read(spark: SparkSession, idx: IndexMeta, sub: str) -> DataFrame:
    """Table ``sub`` of every live segment, read with its declared schema
    (:mod:`..indexing.layout`): no schema-inference job. Readers select
    only declared columns, so segments whose files carry columns later
    builds dropped still read."""
    return L.read_segments(spark, idx.seg_dirs, sub)


def doc_store(spark: SparkSession, idx: IndexMeta) -> DataFrame:
    return _union_read(spark, idx, "doc_store")


def _load_blocks(spark: SparkSession, idx: IndexMeta, terms: list[str],
                 field_ids: tuple = (TEXT_FIELD,)) -> DataFrame:
    buckets = sorted({bucket_of(t, idx.n_buckets) for t in terms})
    return (_union_read(spark, idx, "postings")
            .where(F.col("bucket").isin(buckets))   # directory pruning
            .where(F.col("field").isin(list(field_ids)))
            .where(F.col("term").isin(list(set(terms)))))


def term_df(seg_dirs: list, n_buckets: int, terms, field_ids) -> dict:
    """(field_id, term) -> Σ df over the ``term_dict`` rows of ``seg_dirs``
    (df is additive over segments) of every term in ``terms`` that the
    fields ``field_ids`` hold; absent terms have no key. Read in this
    process with pyarrow: only the terms' ``bucket=`` directories, with
    row groups pruned on the term min/max. The engine's global df and the
    serving reader's shard df are this one lookup."""
    by_bucket: dict[int, list] = {}
    for t in sorted(set(terms)):
        by_bucket.setdefault(bucket_of(t, n_buckets), []).append(t)
    fields = [int(f) for f in field_ids]
    out: dict[tuple, float] = {}
    for seg_dir in seg_dirs:
        for b, ts in by_bucket.items():
            path = os.path.join(seg_dir, "term_dict", f"bucket={b}")
            if not os.path.isdir(path):
                continue
            tbl = ds.dataset(path, schema=L.TERM_DICT).to_table(
                columns=["field", "term", "df"],
                filter=(ds.field("field").isin(fields)
                        & ds.field("term").isin(ts)))
            for f, t, df in zip(*(tbl.column(c).to_pylist()
                                  for c in ("field", "term", "df"))):
                out[(f, t)] = out.get((f, t), 0.0) + df
    return out


def _global_df(idx: IndexMeta, terms: list[str],
               field_ids: tuple = (TEXT_FIELD,)) -> dict[tuple, float]:
    """(field_id, term) -> GLOBAL df of every query term present in the
    index, looked up in this process (:func:`term_df`) like
    ``open_index`` reads the segment metadata: a query runs no Spark job
    for its df."""
    return term_df(idx.seg_dirs, idx.n_buckets, terms, field_ids)


# ---------------------------------------------------------------------------
# pyarrow readers the serving reader shares: the dictionary expansions (run
# where the query is planned) and search's doc-local reads (run by the
# reader over its segments and by each shard task over its doc range). They
# take opened tables (:func:`datasets`): a dataset keeps the footers it has
# read, so the long-lived reader opens each table once.
# ---------------------------------------------------------------------------

MAX_EXPANSIONS = 200  # match_phrase_prefix cap, points_search.json:47


def datasets(seg_dirs: list, table: str) -> list:
    """One pyarrow dataset per segment for ``table``, hive-partitioned
    when its layout declares partition columns."""
    part = "hive" if L.TABLES[table][1] else None
    return [ds.dataset(os.path.join(sd, table), partitioning=part)
            for sd in seg_dirs]


def _scan(tables: list, columns: list, filt=None,
          doc_range: tuple | None = None) -> list:
    """Per table, ``columns`` of the rows matching ``filt`` within
    ``doc_range = (lo, hi)`` (doc_id row-group stats prune it)."""
    if doc_range is not None:
        rng = ((ds.field("doc_id") >= int(doc_range[0]))
               & (ds.field("doc_id") < int(doc_range[1])))
        filt = rng if filt is None else filt & rng
    return [t.to_table(columns=columns, filter=filt) for t in tables]


def _dict_terms(term_dicts: list, field_ids, filt=None) -> pa.ChunkedArray:
    """The fields' ``term_dict`` terms matching ``filt``, as Arrow arrays:
    every vectorized prune runs before Python sees a term."""
    f = ds.field("field").isin([int(x) for x in field_ids])
    tbls = _scan(term_dicts, ["term"], f if filt is None else f & filt)
    return pa.chunked_array([c for t in tbls for c in t.column(0).chunks],
                            type=pa.string())


def expand_prefix(term_dicts: list, prefix: str,
                  field_ids: tuple = (TEXT_FIELD,)) -> list[str]:
    """The distinct dictionary terms starting with ``prefix``, in term
    order, capped like ES ``max_expansions``; the term range filter
    row-group-prunes the (field, term)-sorted term_dict."""
    hi = prefix[:-1] + chr(ord(prefix[-1]) + 1) if prefix else "\uffff"
    filt = (ds.field("term") >= prefix) & (ds.field("term") < hi)
    terms = _dict_terms(term_dicts, field_ids, filt).to_pylist()
    return sorted(set(terms))[:MAX_EXPANSIONS]


def expand_fuzzy(term_dicts: list, term: str, max_ed: int,
                 field_ids: tuple = (TEXT_FIELD,)) -> list[str]:
    """AUTO fuzzy expansion with SOUND blocking (SURVEY.md §7 hard-part 5):
    :func:`.fuzzy.block_mask` prunes the vocabulary in Arrow compute, so
    the banded edit distance sees only the blocked candidates. Capped like
    :func:`expand_prefix`; ``[term]`` when nothing lies within
    ``max_ed``."""
    if max_ed == 0:
        return [term]
    arr = _dict_terms(term_dicts, field_ids)
    cands = sorted(set(pc.filter(arr, FZ.block_mask(arr, term, max_ed))
                       .to_pylist()))
    out = [t for t in cands if FZ.lev_leq(t, term, max_ed)]
    return out[:MAX_EXPANSIONS] or [term]


def epoch_seconds(ts: pa.ChunkedArray) -> np.ndarray:
    """Timestamps as float64 epoch seconds, floored like Spark's
    ``unix_timestamp``."""
    div = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts.type.unit]
    return (ts.cast(pa.int64()).to_numpy() // div).astype(np.float64)


def doc_values(stores: list, doc_range: tuple | None = None) -> tuple:
    """doc_id-sorted (doc_ids, prior, ts epoch seconds) arrays of the
    ``doc_store`` tables ``stores``: the numeric doc values function_score
    reads (the Lucene doc_values analogue)."""
    tbls = _scan(stores, ["doc_id", "prior", "ts"], doc_range=doc_range)
    ids = np.concatenate([t.column("doc_id").to_numpy() for t in tbls])
    o = np.argsort(ids)
    return (ids[o],
            np.concatenate([t.column("prior").to_numpy() for t in tbls])[o],
            np.concatenate([epoch_seconds(t.column("ts")) for t in tbls])[o])


def meta_filter(role: str | None, tool: str | None):
    """``search``'s role / tool filter (B17) as a doc_store predicate."""
    filt = None
    if role is not None:
        filt = ds.field("role") == role
    if tool is not None:
        f2 = ds.field("tool") == tool
        filt = f2 if filt is None else (filt & f2)
    return filt


def doc_ids_where(stores: list, filt,
                  doc_range: tuple | None = None) -> np.ndarray:
    """Sorted doc ids of the ``doc_store`` rows matching ``filt`` (a kw_hash
    equality row-group-prunes: doc_store is written kw_hash-sorted)."""
    return np.sort(np.concatenate([
        t.column("doc_id").to_numpy()
        for t in _scan(stores, ["doc_id"], filt, doc_range)]))


def pos_keys(positions: list, n_buckets: int, terms,
             doc_range: tuple | None = None) -> dict:
    """term -> sorted packed (doc_id, pos) keys (:data:`kernel.POS_SHIFT`)
    of the terms' text-field positions in the ``pos_partial`` tables
    ``positions``: one vectorized pass per table, never per-doc Python."""
    uniq = sorted(set(terms))
    filt = (ds.field("bucket").isin(sorted({bucket_of(t, n_buckets)
                                            for t in uniq}))
            & (ds.field("field") == TEXT_FIELD)
            & ds.field("term").isin(uniq))
    parts: dict[str, list] = {t: [] for t in uniq}
    for tbl in _scan(positions, ["doc_id", "term", "pos"], filt, doc_range):
        docs = tbl.column("doc_id").to_numpy().astype(np.int64)
        poss = tbl.column("pos").to_numpy().astype(np.int64)
        # hard error, not assert: the packed-key invariant must survive
        # `python -O` — a silently wrapped key would corrupt doc
        # boundaries and return wrong phrase matches
        if poss.size and int(poss.max()) >= K.POS_SHIFT - 64:
            raise ValueError(
                f"token position {int(poss.max())} exceeds the packed-key "
                f"capacity ({K.POS_SHIFT - 64}); re-index with position "
                "capping for multi-million-token turns")
        keys = docs * K.POS_SHIFT + poss
        # per-term masks in Arrow compute — never materialize millions of
        # Python string objects for the term column
        for t in uniq:
            m = pc.equal(tbl.column("term"), t).combine_chunks() \
                .to_numpy(zero_copy_only=False)
            parts[t].append(keys[m])
    return {t: np.sort(np.concatenate(p)) for t, p in parts.items()}


# Postings per doc-range shard. The kernel decodes, scores and ranks ~8 M
# postings/s on one core (4-core x86 box), so a full shard is ~0.25 s of
# kernel work plus its Arrow intake — above the ~0.2 s every Python task
# pays to start, which runs in parallel on the other cores. On a
# 2M-turn index, 2 M-posting shards answered hot 1-6 term queries as fast
# as or faster than 4 M (CHANGES.md). Smaller queries run as one shard.
_SHARD_POSTINGS = 2_000_000

_RANKED_SCHEMA = ("doc_id long, score double, nmatch long, theta double, "
                  "blocks_kept long, blocks_total long")


def _shard_task(df_map: dict, field_stats: dict, boosts: dict,
                k: int | None, prune: bool, and_skip: bool, width: int,
                n_shards: int, rank):
    """The ``mapInArrow`` body: score every doc-range shard in the task's
    partition with :func:`kernel.score_blocks` and combine its lists with
    ``rank(scored, boosts, space, doc_range)`` — :func:`_rank_by` or
    :func:`_search_rank` with their other arguments bound. Shard s covers
    doc ids [s·width, (s+1)·width), the last one everything above. Emits
    rank's (doc_id, score, nmatch) rows, then one stats row (doc_id NULL;
    θ and the block counts)."""
    def score(key, tfs, dls):
        return S.bm25(tfs, dls, df_map[key], *field_stats[key[0]])

    def run(batches):
        lazyzip.install()
        import pyarrow as pa
        names = ["doc_id", "score", "nmatch", "theta", "blocks_kept",
                 "blocks_total"]
        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        col = {c: tbl.column(c).to_numpy() for c in (
            "field", "n_docs", "first_doc", "last_doc", "max_tf", "min_dl",
            "max_score", "shard")}
        terms = tbl.column("term").to_pylist()
        bins = [tbl.column(c).to_pylist()
                for c in ("docs_bin", "tfs_bin", "dls_bin")]
        for s in np.unique(col["shard"]):
            rows: dict = {}
            for i in np.flatnonzero(col["shard"] == s):
                rows.setdefault((int(col["field"][i]), terms[i]), []).append(i)
            rows = {key: np.array(ix) for key, ix in rows.items()}
            meta = {key: {"n": col["n_docs"][ix], "max_tf": col["max_tf"][ix],
                          "min_dl": col["min_dl"][ix],
                          "ms": col["max_score"][ix],
                          "first": col["first_doc"][ix],
                          "last": col["last_doc"][ix]}
                    for key, ix in rows.items()}

            def fetch(sel, rows=rows):
                return {key: tuple([b[i] for i in rows[key][ix]]
                                   for b in bins)
                        for key, ix in sel.items()}

            lo = int(s) * width
            hi = lo + width if s < n_shards - 1 else np.iinfo(np.int64).max
            scored, st = K.score_blocks(meta, fetch, score, boosts, k,
                                        prune=prune, and_skip=and_skip,
                                        doc_range=(lo, hi))
            lists = [ids for ids, _s in scored.values()]
            ids, scores, nmatch = rank(
                scored, boosts,
                K.range_space(lists, lo) if lists else None, (lo, hi))
            n = ids.size
            yield pa.RecordBatch.from_arrays([
                pa.array(ids, pa.int64()), pa.array(scores, pa.float64()),
                pa.array(nmatch, pa.int64()), pa.nulls(n, pa.float64()),
                pa.nulls(n, pa.int64()), pa.nulls(n, pa.int64())],
                names=names)
            yield pa.RecordBatch.from_arrays([
                pa.nulls(1, pa.int64()), pa.nulls(1, pa.float64()),
                pa.nulls(1, pa.int64()), pa.array([st["theta"]]),
                pa.array([st["blocks_kept"]], pa.int64()),
                pa.array([st["blocks_total"]], pa.int64())],
                names=names)

    return run


def _ranked(spark: SparkSession, idx: IndexMeta, terms: list[str],
            df_map: dict, rank, *, k: int | None = None,
            field_ids: tuple = (TEXT_FIELD,), boosts: dict | None = None,
            prune: bool = False, and_skip: bool = False) -> DataFrame:
    """The one ranking plan of every engine BM25 query: tag each block of
    the term-pruned scan with the doc-range shard(s) it overlaps,
    repartition by shard, and score each shard in one ``mapInArrow`` task
    (:func:`_shard_task`) that combines through ``rank``; ``k`` is the
    top-k that θ targets under ``prune``. The shard count follows the
    query's posting mass (Σ df / ``_SHARD_POSTINGS``, at most one shard
    per core)."""
    n_shards = max(1, min(math.ceil(sum(df_map.values())
                                    / _SHARD_POSTINGS),
                          spark.sparkContext.defaultParallelism))
    width = max(1, math.ceil(idx.n_docs / n_shards))
    shard = F.explode(F.sequence(
        *(F.expr(f"least({c} div {width}, {n_shards - 1})")
          for c in ("first_doc", "last_doc"))))
    task = _shard_task(df_map, idx.field_stats(),
                       boosts or {TEXT_FIELD: 1.0}, k, prune, and_skip,
                       width, n_shards, rank)
    return (_load_blocks(spark, idx, terms, field_ids)
            .select("field", "term", "n_docs", "first_doc", "last_doc",
                    "max_tf", "min_dl", "max_score", "docs_bin", "tfs_bin",
                    "dls_bin", shard.alias("shard"))
            .repartition(n_shards, "shard")
            .mapInArrow(task, _RANKED_SCHEMA))


def _rank_by(k: int | None, need: int = 1):
    """:func:`kernel.rank` as a shard combinator (the bare BM25 paths need
    no doc-local reads, so the doc range goes unused)."""
    def rank(scored, boosts, space, doc_range):
        return K.rank(scored, boosts, k, need=need, space=space)
    return rank


def _search_rank(scored, boosts, space, doc_range, *, seg_dirs: list,
                 n_buckets: int, origs: dict, need: int, params, cfg: dict,
                 kw_hash: str, terms: list) -> tuple:
    """The ``search`` shard combinator: :func:`kernel.should_sum`, the
    role / tool filter, the phrase tiers and :func:`kernel.function_score`
    over the shard's candidates, then its top ``params.k``. The doc-local
    inputs are read for ``doc_range`` only; ``terms`` is the analyzed
    query."""
    ids, bm, nmatch = K.should_sum(scored, boosts, origs, need=need,
                                   space=space)
    stores = datasets(seg_dirs, "doc_store")
    if params.filter_role or params.filter_tool:
        m = K.in_sorted(ids, doc_ids_where(
            stores, meta_filter(params.filter_role, params.filter_tool),
            doc_range))
        ids, bm, nmatch = ids[m], bm[m], nmatch[m]
    if ids.size == 0:
        return ids, bm, nmatch
    in_phrase = None
    if params.phrase_tiers:
        keys = pos_keys(datasets(seg_dirs, "pos_partial"), n_buckets, terms,
                        doc_range)
        in_phrase = K.in_sorted(ids, K.phrase_docs([keys[t] for t in terms]))
    dv_ids, prior, ts = doc_values(stores, doc_range)
    ix = np.searchsorted(dv_ids, ids)
    exact = doc_ids_where(stores, ds.field("kw_hash") == kw_hash, doc_range)
    score = K.function_score(
        bm, K.in_sorted(ids, exact), prior[ix], ts[ix], cfg,
        in_phrase=in_phrase,
        now=params.now_epoch if params.recency else None)
    o = K.topk(ids, score, params.k)
    return ids[o], score[o], nmatch[o]


def _matches(ranked: DataFrame) -> DataFrame:
    return (ranked.where(F.col("doc_id").isNotNull())
            .select("doc_id", "score", "nmatch"))


def _top(ranked: DataFrame, k: int) -> DataFrame:
    return _matches(ranked).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _hydrate(spark: SparkSession, idx: IndexMeta, top: DataFrame) -> DataFrame:
    """The k winners with their stored strings: ``top``'s columns after
    (doc_id, conv_id, turn_idx, role, tool, ts), in (score desc, doc_id
    asc) order. The k-row side is broadcast, so the doc_store is scanned
    once and never shuffled."""
    store = doc_store(spark, idx).select(
        "doc_id", "conv_id", "turn_idx", "role", "tool", "ts")
    return (store.join(F.broadcast(top), "doc_id")
            .select(*store.columns, *[c for c in top.columns
                                      if c != "doc_id"])
            .repartition(1)
            .sortWithinPartitions(F.desc("score"), F.asc("doc_id")))


def _empty_top(spark: SparkSession) -> DataFrame:
    return spark.range(0).select(F.col("id").alias("doc_id"),
                                 F.lit(0.0).alias("score"))


def bm25_scores(spark: SparkSession, out_dir: str, query: str, *,
                require_all: bool = False) -> DataFrame:
    """Disjunctive/conjunctive BM25 over the segment -> (doc_id, score,
    nmatch): the ranking plan without the top-k cut."""
    idx = open_index(out_dir)
    terms = sorted(set(A.py_tokens(query)))
    if not terms:
        return spark.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score"),
            F.lit(0).cast("long").alias("nmatch"))
    df_map = _global_df(idx, terms)
    need = len(terms) if require_all else 1
    return _matches(_ranked(spark, idx, terms, df_map,
                            _rank_by(None, need)))


def bm25_topk(spark: SparkSession, out_dir: str, query: str, k: int = 20, *,
              require_all: bool = False, prune: bool = True,
              hydrate: bool = True, prune_stats: dict | None = None) -> DataFrame:
    """Top-k BM25 with block-max WAND pruning; rank-identical to the
    unpruned path (and to the logical path) by construction — see
    :mod:`.kernel` for the θ derivation and the exactness argument.

    With ``prune``, every shard task runs θ on the blocks it holds. θ is
    always off under ``require_all`` (unsound for conjunctive results);
    conjunctive queries get the exact AND doc-range skip instead.
    ``prune_stats``, when a dict, is filled with {theta, blocks_total,
    blocks_kept}: θ is the max over shards (0.0 when no shard ran it), the
    counts are summed over shards (a block overlapping two shards counts
    twice). Reading them costs one extra Spark action over the ranking
    plan; pass None outside tests.
    """
    idx = open_index(out_dir)
    terms = sorted(set(A.py_tokens(query)))
    if not terms:
        return _empty_top(spark)
    df_map = _global_df(idx, terms)
    need = len(terms) if require_all else 1
    ranked = _ranked(spark, idx, terms, df_map, _rank_by(k, need), k=k,
                     prune=prune and not require_all,
                     and_skip=prune and require_all)
    if prune_stats is not None:
        st = (ranked.where(F.col("doc_id").isNull())
              .agg(F.max("theta"), F.sum("blocks_kept"),
                   F.sum("blocks_total")).collect()[0])
        prune_stats.update(theta=st[0] or 0.0, blocks_kept=st[1] or 0,
                           blocks_total=st[2] or 0)
    top = _top(ranked, k)
    return _hydrate(spark, idx, top) if hydrate else top


def dismax_topk(spark: SparkSession, out_dir: str, query: str, k: int = 20, *,
                boosts: dict | None = None, hydrate: bool = True) -> DataFrame:
    """Boosted multi-field dis_max top-k (B8 + B15): per field f, the doc's
    BM25 sum s_f is computed under f's OWN corpus stats, then
    ``score = max_f boost_f * s_f`` (dis_max, tie_breaker 0.0) — the segment
    form of the reference's ``dis_max`` over ``match name.* boost 5`` /
    ``alt_names boost 3`` clauses (points_search.json:66-93). ``boosts``
    defaults to the index's ``search_config.json`` field boosts, like the
    serving reader's.
    """
    idx = open_index(out_dir)
    terms = sorted(set(A.py_tokens(query)))
    boosts = boosts or load_config(out_dir)["field_boosts"]
    field_ids = tuple(FIELDS[f] for f in boosts)
    if not terms:
        return _empty_top(spark)
    df_map = _global_df(idx, terms, field_ids)
    ranked = _ranked(spark, idx, terms, df_map, _rank_by(k),
                     field_ids=field_ids,
                     boosts={FIELDS[f]: float(b) for f, b in boosts.items()})
    top = _top(ranked, k).select("doc_id", "score")
    return _hydrate(spark, idx, top) if hydrate else top


def _pos_rows(spark: SparkSession, idx: IndexMeta,
              terms: list[str]) -> DataFrame:
    """Bucket- and term-pruned (doc_id, term, pos) rows of the phrase's
    vocabulary (the only slice of ``pos_partial`` any phrase query reads)."""
    buckets = sorted({bucket_of(t, idx.n_buckets) for t in terms})
    return (_union_read(spark, idx, "pos_partial")
            .where(F.col("bucket").isin(buckets))
            .where(F.col("field") == TEXT_FIELD)
            .where(F.col("term").isin(sorted(set(terms))))
            .select("doc_id", "term", "pos"))


def _phrase_chain(raw: DataFrame, terms: list[str]) -> DataFrame:
    """(doc_id, pos) rows where terms[0..n-1] occur adjacently starting at
    pos — a pure-JVM positional self-join: candidate (doc_id, p) survives
    step i iff (doc_id, term_i, p + i) exists. Each step is an all-int
    equi-join (shuffle hash / whole-stage codegen); round 2's per-doc
    Python ``itertuples`` loop (flagged as the anti-pattern the north rule
    bans — O(N) docs for a stopword bigram) is gone entirely."""
    cand = raw.where(F.col("term") == terms[0]).select("doc_id", "pos")
    for i, t in enumerate(terms[1:], start=1):
        nxt = (raw.where(F.col("term") == t)
               .select("doc_id", (F.col("pos") - i).alias("pos")))
        cand = cand.join(nxt, ["doc_id", "pos"], "left_semi")
    return cand


def phrase_match(spark: SparkSession, out_dir: str, phrase: str) -> DataFrame:
    """Positional phrase match (B11-B13 positional form).

    Positions live in the segment's raw ``pos_partial`` table (bucket-
    partitioned; the hot scoring path never reads it). Query plan: prune to
    the phrase's terms, then a JVM-only positional self-join chain
    (:func:`_phrase_chain`) and a distinct over surviving doc_ids.
    """
    idx = open_index(out_dir)
    terms = A.py_tokens(phrase)
    if not terms:
        return spark.range(0).select(F.col("id").alias("doc_id"))
    if not idx.with_positions:
        raise ValueError("index built without positions")
    raw = _pos_rows(spark, idx, terms)
    return _phrase_chain(raw, terms).select("doc_id").distinct()


def phrase_prefix_match(spark: SparkSession, out_dir: str,
                        phrase: str) -> DataFrame:
    """Positional ``match_phrase_prefix`` (B13): the first n-1 terms match
    positionally like :func:`phrase_match`, and the LAST term matches any
    dictionary term with the given prefix (capped at MAX_EXPANSIONS like
    ES's ``max_expansions: 200``) at position p + n - 1
    (points_search.json:47,61; bbox_container.json:38-43).

    Plan: prefix-expand against the term dictionary with pyarrow
    (:func:`expand_prefix`, no Spark job), then the same JVM-only
    positional self-join chain as
    :func:`phrase_match` with the LAST join's right side being the union of
    all expansions' positions (shifted by n-1).
    """
    idx = open_index(out_dir)
    terms = A.py_tokens(phrase)
    if not terms:
        return spark.range(0).select(F.col("id").alias("doc_id"))
    if not idx.with_positions:
        raise ValueError("index built without positions")
    exact, prefix = terms[:-1], terms[-1]
    expansions = expand_prefix(datasets(idx.seg_dirs, "term_dict"), prefix)
    if not expansions:
        return spark.range(0).select(F.col("id").alias("doc_id"))
    raw = _pos_rows(spark, idx, list(exact) + expansions)
    exp_rows = raw.where(F.col("term").isin(expansions))
    if not exact:  # single-term phrase: any expansion occurrence matches
        return exp_rows.select("doc_id").distinct()
    cand = _phrase_chain(raw, list(exact))
    last = exp_rows.select(
        "doc_id", (F.col("pos") - (len(terms) - 1)).alias("pos"))
    return (cand.join(last, ["doc_id", "pos"], "left_semi")
            .select("doc_id").distinct())


# ---------------------------------------------------------------------------
# Full points_search composition over the segment (B13-B27)
# ---------------------------------------------------------------------------

def search(spark: SparkSession, out_dir: str, params) -> DataFrame:
    """The full search pipeline (points_search template analogue):

    query analysis -> (prefix|fuzzy) dictionary expansion
    (:func:`expand_prefix` / :func:`expand_fuzzy`, pyarrow, no Spark job)
    -> the ranking plan of the bare BM25 paths (:func:`_ranked`), whose
    per-shard tasks decode, score and combine with :func:`_search_rank`:
    per-original-term dis_max over expansions (B15), boosted should-sum
    over fields and terms (B16/B8), OR/AND (B9/B10), the metadata filter
    (B17), the phrase tiers and function_score — the saturated text
    score + static prior + exact bonus + recency decay (B19-B24) — and
    the shard's top-k -> the exact top-k merge, hydrated (B25). Ranking
    is the serving reader's code under the same ``search_config.json``
    (:func:`.search_config.load_config`), so engine and reader scores are
    bit-identical.

    No WAND pruning on this path BY DESIGN: under function_score the
    per-doc add-ons (prior <= 0.3, recency <= 0.6, tiers) dominate the
    saturated text-score spread, so block bounds cannot exclude candidates
    — the same reason Lucene/ES disables dynamic top-k pruning when a
    function_score/rescore wraps the match query; pruning applies to the
    bare BM25 paths (``bm25_topk``, serve ``bm25_topk(prune=True)``).
    """
    idx = open_index(out_dir)
    cfg = load_config(out_dir)
    q_terms = A.py_tokens(params.query)
    q_kw_hash = hashlib.md5(" ".join(q_terms).encode("utf-8")).hexdigest()

    if params.exact:
        # points_search_exact: keyword equality (by md5), constant score
        # tier_exact, prominence (prior) tiebreak
        store = doc_store(spark, idx)
        if params.filter_role:
            store = store.where(F.col("role") == params.filter_role)
        if params.filter_tool:
            store = store.where(F.col("tool") == params.filter_tool)
        out = (store.where(F.col("kw_hash") == q_kw_hash)
               .select("doc_id", "conv_id", "turn_idx", "role", "tool", "ts",
                       F.lit(float(cfg["tier_exact"])).alias("score"),
                       F.col("prior"))
               .orderBy(F.desc("score"), F.desc("prior"), F.asc("doc_id"))
               .limit(params.k))
        return out.drop("prior")

    if not q_terms:
        return (doc_store(spark, idx)
                .select("doc_id", "conv_id", "turn_idx", "role", "tool",
                        "ts", F.lit(0.0).alias("score")).limit(0))
    if params.phrase_tiers and not idx.with_positions:
        raise ValueError("index built without positions")

    field_ids = ((TEXT_FIELD, FIELDS["meta"]) if params.multifield
                 else (TEXT_FIELD,))
    # orig -> expansions, drawn from the queried fields' dictionary
    term_dicts = datasets(idx.seg_dirs, "term_dict")
    origs: dict[str, set] = {}
    for i, t in enumerate(q_terms):
        if params.prefix and i == len(q_terms) - 1:
            exps = expand_prefix(term_dicts, t, field_ids) or [t]
        elif params.fuzzy:
            exps = expand_fuzzy(term_dicts, t, params.auto_fuzz(t),
                                field_ids)
        else:
            exps = [t]
        origs.setdefault(t, set()).update(exps)
    exp_terms = sorted(set().union(*origs.values()))
    boosts = ({FIELDS[f]: float(b) for f, b in cfg["field_boosts"].items()}
              if params.multifield else {TEXT_FIELD: 1.0})
    # AND requires every original term matched in at least one field
    rank = partial(_search_rank, seg_dirs=idx.seg_dirs,
                   n_buckets=idx.n_buckets, origs=origs,
                   need=len(origs) if params.operator == "and" else 1,
                   params=params, cfg=cfg, kw_hash=q_kw_hash, terms=q_terms)
    ranked = _ranked(spark, idx, exp_terms,
                     _global_df(idx, exp_terms, field_ids), rank,
                     field_ids=field_ids, boosts=boosts)
    return _hydrate(spark, idx, _top(ranked, params.k))
