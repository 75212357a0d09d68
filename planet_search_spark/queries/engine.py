"""Segment query engine: BM25 top-k over the compressed posting blocks,
with optional block-max WAND pruning.

Read path (mirrors the ES search template execution, SURVEY.md §3.2):

1. analyze the query string on the driver with the SAME frozen analyzer as
   the index side (``analysis.py_tokens`` — identity with the Spark-side
   expression is golden-tested);
2. look up the query terms' global df (:func:`term_df`; df is additive
   over segments) and their prefix / fuzzy dictionary expansions
   (:func:`expand_prefix`, :func:`expand_fuzzy`): pyarrow lookups in the
   calling process, the serving reader's own code, and no Spark job;
3. split the doc ids into doc-range shards — ES's shard-local top-k over
   doc ranges. The shard count follows the query's posting mass
   (``_SHARD_POSTINGS``), so small queries run one shard. The plan is
   ``spark.range`` of the shard ids, one partition per shard, under one
   ``mapInArrow``: nothing is scanned or exchanged in the JVM;
4. each shard task reads its own blocks with pyarrow, opening only the
   query terms' ``bucket=`` directories, in two phases
   (:func:`block_source`): the metadata of the (field, term) blocks that
   overlap its doc range, then the payloads of the blocks it keeps. It
   runs the serving reader's own code: :func:`kernel.score_blocks`
   (witness θ, block skipping, the AND doc-range skip, decode,
   :func:`scoring.bm25` under each field's corpus stats and the global
   df), then one combinator. ``bm25_topk`` and ``dismax_topk`` rank with
   :func:`kernel.rank` (accumulate, AND filter, dis_max, top-k);
   ``search`` (:func:`_search_rank`) combines with
   :func:`kernel.should_sum` (dis_max over each term's expansions, boosted
   should-sum, AND filter), reads the doc values, filter sets and phrase
   positions of its shard's doc range with the pyarrow readers below, and
   ranks by :func:`kernel.function_score` under the index's
   ``search_config.json``. dl ships inside the block, so scoring needs NO
   doc-stats join;
5. a hydrating task reads the stored fields of its ≤ k winners with one
   doc_id point read (:func:`doc_fields`) and emits them in the hydrated
   schema; every task emits ≤ k rows and one stats row;
6. the exact coordinator merge: ``orderBy(score desc, doc_id asc)
   .limit(k)`` — Spark's TakeOrderedAndProject heap. It is exact for
   ``search`` too, because a doc's final score depends only on global
   stats and the doc itself.

Block-max WAND (the Lucene-side top-k pruning the reference gets for free,
SURVEY.md §4 "Lucene-side (delegated)") runs inside each shard task; the
θ derivation and the exactness argument (shard-local bounds, exact merge,
why θ is off under AND) are in :mod:`.kernel`. θ runs in every pruned
shard task, on blocks the task already holds, so it costs no Spark job.
Verified against the unpruned path in tests, also with several shards.

``phrase_match`` and ``phrase_prefix_match`` run the same plan with no
terms to score: their combinator (:func:`_phrase_rank`) reads the phrase
vocabulary's positions in its doc range and chains them with
:func:`kernel.phrase_docs`, the serving reader's code.

``bm25_topk`` (hydrated or not), ``dismax_topk``, ``search`` (prefix and
fuzzy included), ``phrase_match`` and ``phrase_prefix_match`` thus run one
Spark job each; a test counts them. Only ``search(exact=True)`` keeps a
JVM plan: one kw_hash-pushed ``doc_store`` scan, ordered by its ``prior``
tie-break.
"""
from __future__ import annotations

import glob
import json
import math
import os
from dataclasses import dataclass
from functools import cache, partial

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
    def seg_dir(self) -> str:  # single-segment convenience (tests)
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


def doc_store(spark: SparkSession, idx: IndexMeta) -> DataFrame:
    """``doc_store`` of every live segment, with its declared schema."""
    return L.read_segments(spark, idx.seg_dirs, "doc_store")


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


def datasets(seg_dirs: list, table: str, buckets=None) -> list:
    """One pyarrow dataset per segment for ``table``, hive-partitioned
    when its layout declares partition columns. With ``buckets``, each
    dataset holds only the files of those ``bucket=`` directories (a query
    opens just its terms' buckets, as :func:`term_df` does), and segments
    with none are left out."""
    parts = L.TABLES[table][1]
    part = "hive" if parts else None
    if buckets is None:
        return [ds.dataset(os.path.join(sd, table), partitioning=part)
                for sd in seg_dirs]
    out = []
    for sd in seg_dirs:
        base = os.path.join(sd, table)
        files = sorted(f for b in sorted(set(buckets)) for f in glob.glob(
            os.path.join(base, *(f"{p}=*" for p in parts[:-1]),
                         f"bucket={b}", "*.parquet")))
        if files:
            out.append(ds.dataset(files, partitioning=part,
                                  partition_base_dir=base))
    return out


def _scan(tables: list, columns: list, filt=None,
          doc_range: tuple | None = None) -> list:
    """Per table, ``columns`` of the rows matching ``filt`` within
    ``doc_range = (lo, hi)``. doc_id row-group stats prune the range only
    where a file's row groups hold narrow doc_id spans: ``pos_partial``'s
    do, but every ``doc_store`` file spans almost its whole segment (see
    :func:`doc_fields`)."""
    if doc_range is not None:
        rng = ((ds.field("doc_id") >= int(doc_range[0]))
               & (ds.field("doc_id") < int(doc_range[1])))
        filt = rng if filt is None else filt & rng
    return [t.to_table(columns=columns, filter=filt) for t in tables]


def postings_filter(n_buckets: int, terms, field_id: int,
                     doc_range: tuple | None = None):
    """The terms' blocks of field ``field_id`` that overlap ``doc_range
    = (lo, hi)``, directory-pruned on ``bucket``. pyarrow prunes no row
    group on an ``isin``, so the read covers every row group of the
    terms' bucket files."""
    filt = (ds.field("bucket").isin(sorted({bucket_of(t, n_buckets)
                                            for t in terms}))
            & (ds.field("field") == int(field_id))
            & ds.field("term").isin(sorted(set(terms))))
    if doc_range is not None:
        filt = (filt & (ds.field("last_doc") >= int(doc_range[0]))
                & (ds.field("first_doc") < int(doc_range[1])))
    return filt


def block_meta(postings: list, n_buckets: int, terms, field_id: int,
               doc_range: tuple | None = None) -> dict:
    """term -> per-block METADATA (no payload bytes) of the ``terms`` that
    have blocks of field ``field_id`` in the ``postings`` tables (overlapping
    ``doc_range`` when given): numpy ``n`` (n_docs), ``max_tf`` /
    ``min_dl`` (the ub pair), ``ms`` (stored max REAL score), ``first`` /
    ``last`` (doc range), and the blocks' (table index, block_id) ``addr``
    list. Phase 1 of the two-phase block read — the payload columns are
    never read here (parquet is columnar), so the scan is KBs even for a
    stopword."""
    acc: dict[str, list] = {t: [] for t in terms}
    cols = ["term", "n_docs", "max_tf", "min_dl", "max_score", "first_doc",
            "last_doc", "block_id"]
    filt = postings_filter(n_buckets, terms, field_id, doc_range)
    for si, d in enumerate(postings):
        tbl = d.to_table(columns=cols, filter=filt)
        for t, *row in zip(*(tbl.column(c).to_pylist() for c in cols)):
            acc[t].append((si, *row))
    out = {}
    for t, rows in acc.items():
        if rows:
            si, n, mt, md, ms, first, last, bid = zip(*rows)
            out[t] = {"n": np.array(n, dtype=np.int64),
                      "max_tf": np.array(mt, dtype=np.float64),
                      "min_dl": np.array(md, dtype=np.float64),
                      "ms": np.array(ms, dtype=np.float64),
                      "first": np.array(first, dtype=np.int64),
                      "last": np.array(last, dtype=np.int64),
                      "addr": list(zip(si, bid))}
    return out


def fetch_payloads(postings: list, n_buckets: int, want: set, field_id: int,
                   doc_range: tuple | None = None) -> dict:
    """Phase 2: payload bytes for EXACTLY the requested block addresses —
    {(table index, term, block_id) -> (docs_bin, tfs_bin, dls_bin)}. One
    pushdown scan per involved table; the term×block_id isin cross
    product may over-read a few blocks, filtered exactly client-side
    (block_id is unique within a segment's (field, term) postings by
    construction). ``doc_range`` is the one :func:`block_meta` read the
    addresses under: it bounds the over-read to the range."""
    by_seg: dict[int, tuple[set, set]] = {}
    for (si, t, bid) in want:
        ts, bids = by_seg.setdefault(si, (set(), set()))
        ts.add(t)
        bids.add(bid)
    out = {}
    for si, (ts, bids) in by_seg.items():
        filt = (postings_filter(n_buckets, ts, field_id, doc_range)
                & ds.field("block_id").isin(sorted(bids)))
        tbl = postings[si].to_table(
            columns=["term", "block_id", "docs_bin", "tfs_bin", "dls_bin"],
            filter=filt)
        for t, bid, db, tb, lb in zip(
                tbl.column("term").to_pylist(),
                tbl.column("block_id").to_pylist(),
                tbl.column("docs_bin").to_pylist(),
                tbl.column("tfs_bin").to_pylist(),
                tbl.column("dls_bin").to_pylist()):
            if (si, t, bid) in want:
                out[(si, t, bid)] = (db, tb, lb)
    return out


def block_source(postings: list, n_buckets: int, terms, field_ids,
                 doc_range: tuple | None = None) -> tuple:
    """The ``postings`` tables as a :func:`kernel.score_blocks` block
    source without its ``score``: ``(meta, fetch)`` over the fields
    ``field_ids``. ``meta`` is :func:`block_meta` per (field, term);
    ``fetch`` reads payloads with :func:`fetch_payloads` (one scan per
    field and table per call) and keeps them, so a block fetched for θ is
    not read again. The engine's shard task and the serving reader both
    read their blocks through it."""
    meta = {(fid, t): a for fid in field_ids
            for t, a in block_meta(postings, n_buckets, terms, fid,
                                   doc_range).items()}
    pay: dict = {}

    def fetch(sel: dict) -> dict:
        addrs = {key: [meta[key]["addr"][i] for i in ix]
                 for key, ix in sel.items()}
        for fid in {f for f, _t in addrs}:
            have = pay.setdefault(fid, {})
            want = {(si, t, bid) for (f, t), ad in addrs.items()
                    if f == fid for si, bid in ad}
            have.update(fetch_payloads(postings, n_buckets,
                                       want - have.keys(), fid, doc_range))
        return {(fid, t): tuple(zip(*(pay[fid][(si, t, bid)]
                                      for si, bid in ad)))
                for (fid, t), ad in addrs.items()}

    return meta, fetch


def doc_fields(stores: list, doc_ids, columns: list) -> list:
    """Per ``doc_store`` table, ``columns`` of the rows of ``doc_ids``:
    the stored-fields point read. It reads the requested columns of every
    file: the build coalesces its doc_id range partitions round-robin into
    the write files, so each file spans almost its whole segment and no
    doc_id statistic prunes one (a doc_id range filter measured slower)."""
    return _scan(stores, columns,
                 ds.field("doc_id").isin(sorted({int(d) for d in doc_ids})))


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
    return {t: np.sort(np.concatenate(p)) if p else np.empty(0, np.int64)
            for t, p in parts.items()}


# Postings per doc-range shard. A query is one Spark job at any shard
# count, so an extra shard costs one more Python task on a free core, but
# that task re-reads every postings row group its terms touch (a row
# group holds all doc ranges of a term) and, hydrating, the whole
# doc_store (its files are not doc_id-ranged). On a 1M-turn single-segment
# index (4 cores, warm, reports/engine_one_job_probe.json) hydrated
# top-10s ran fastest at ~0.4-1.2 M postings a shard: one 0.78 M-posting
# word 0.35 s at 1 shard, 0.28 s at 2, 0.35 s at 4; a 2.33 M-posting
# 3-word query 0.97 s at 1, 0.67 s at 2, 0.71 s at 4 (unpruned 0.78,
# 0.63, 0.59 s); a df-1 word 0.24 s at 1 or 2 shards, 0.31 s at 4.
_SHARD_POSTINGS = 500_000

# (doc_id, score, nmatch) rows and the stats row (doc_id NULL; θ and the
# block counts) of a shard task; a hydrating task emits the stored fields
# of _HIT_FIELDS in place of doc_id
_RANKED = pa.schema([
    ("doc_id", pa.int64()), ("score", pa.float64()), ("nmatch", pa.int64()),
    ("theta", pa.float64()), ("blocks_kept", pa.int64()),
    ("blocks_total", pa.int64())])
_HIT_FIELDS = ("doc_id", "conv_id", "turn_idx", "role", "tool", "ts")
_HITS = pa.schema([L.DOC_STORE.field(c) for c in _HIT_FIELDS]
                  + list(_RANKED)[1:])


def _batch(schema: pa.Schema, n: int, **cols) -> pa.RecordBatch:
    """``n`` rows of ``schema``: the given columns, NULL elsewhere."""
    def col(f):
        v = cols.get(f.name)
        if v is None:
            return pa.nulls(n, f.type)
        return v if isinstance(v, pa.Array) else pa.array(v, f.type)
    return pa.RecordBatch.from_arrays([col(f) for f in schema],
                                      schema=schema)


def _hits(stores: list, ids: np.ndarray) -> tuple:
    """(mask of the ``ids`` found, ``{column: values}`` of their stored
    fields in ``ids`` order): one :func:`doc_fields` point read."""
    want = pa.schema([L.DOC_STORE.field(c) for c in _HIT_FIELDS])
    tbl = pa.concat_tables(
        [t.select(list(_HIT_FIELDS)).cast(want)
         for t in doc_fields(stores, ids, list(_HIT_FIELDS))]
        or [want.empty_table()])
    at = pc.index_in(pa.array(ids, pa.int64()),
                     value_set=tbl.column("doc_id").combine_chunks())
    return (at.is_valid().to_numpy(zero_copy_only=False),
            {c: tbl.column(c).take(at.drop_null()).combine_chunks()
             for c in _HIT_FIELDS})


def _shard_task(seg_dirs: list, n_buckets: int, terms: list, df_map: dict,
                field_stats: dict, boosts: dict, k: int | None, prune: bool,
                and_skip: bool, width: int, n_shards: int, rank,
                hydrate: bool):
    """The ``mapInArrow`` body over the shard ids of ``spark.range``: shard
    s covers doc ids [s·width, (s+1)·width), the last one everything
    above. Its task reads the blocks of ``terms`` that overlap the range
    with pyarrow (:func:`block_source`, only the terms' ``bucket=``
    directories), scores them with :func:`kernel.score_blocks` and combines
    the lists with ``rank(scored, boosts, space, doc_range, stores)`` —
    :func:`_rank_by` or :func:`_search_rank` with their other arguments
    bound; ``stores()`` opens the ``doc_store`` tables on first use, so a
    task that neither hydrates nor reads doc values never opens them. It
    emits rank's rows, with ``hydrate`` the stored fields of its ≤ k
    winners read with one :func:`doc_fields` point read, then one stats
    row."""
    schema = _HITS if hydrate else _RANKED
    buckets = sorted({bucket_of(t, n_buckets) for t in terms})

    def score(key, tfs, dls):
        return S.bm25(tfs, dls, df_map[key], *field_stats[key[0]])

    def shard(s: int):
        lo = s * width
        hi = lo + width if s < n_shards - 1 else np.iinfo(np.int64).max
        meta, fetch = block_source(datasets(seg_dirs, "postings", buckets),
                                   n_buckets, terms, sorted(boosts),
                                   (lo, hi))
        scored, st = K.score_blocks(meta, fetch, score, boosts, k,
                                    prune=prune, and_skip=and_skip,
                                    doc_range=(lo, hi))
        stores = cache(partial(datasets, seg_dirs, "doc_store"))
        lists = [ids for ids, _s in scored.values()]
        ids, scores, nmatch = rank(
            scored, boosts, K.range_space(lists, lo) if lists else None,
            (lo, hi), stores)
        cols = {"doc_id": ids}
        if hydrate and ids.size:
            found, cols = _hits(stores(), ids)
            scores, nmatch = scores[found], nmatch[found]
        yield _batch(schema, scores.size, score=scores, nmatch=nmatch, **cols)
        yield _batch(schema, 1, theta=[st["theta"]],
                     blocks_kept=[st["blocks_kept"]],
                     blocks_total=[st["blocks_total"]])

    def run(batches):
        lazyzip.install()
        for b in batches:
            for s in b.column(0).to_pylist():
                yield from shard(s)

    return run


def _ranked(spark: SparkSession, idx: IndexMeta, terms: list[str],
            df_map: dict, rank, *, k: int | None = None,
            boosts: dict | None = None, prune: bool = False,
            and_skip: bool = False, hydrate: bool = False) -> DataFrame:
    """The one ranking plan of every engine BM25 query: one
    ``mapInArrow`` task per doc-range shard over ``spark.range`` of the
    shard ids (:func:`_shard_task`), which reads, scores, combines through
    ``rank`` and, with ``hydrate``, hydrates its winners; ``k`` is the
    top-k that θ targets under ``prune``. No Exchange: the only plan above
    it is the exact top-k merge. The shard count follows the query's
    posting mass (Σ df / ``_SHARD_POSTINGS``, at most one shard per
    core)."""
    from pyspark.sql.pandas.types import from_arrow_schema
    n_shards = max(1, min(math.ceil(sum(df_map.values())
                                    / _SHARD_POSTINGS),
                          spark.sparkContext.defaultParallelism))
    width = max(1, math.ceil(idx.n_docs / n_shards))
    boosts = boosts or {TEXT_FIELD: 1.0}
    task = _shard_task(idx.seg_dirs, idx.n_buckets, terms, df_map,
                       idx.field_stats(), boosts, k, prune, and_skip, width,
                       n_shards, rank, hydrate)
    return spark.range(0, n_shards, 1, n_shards).mapInArrow(
        task, from_arrow_schema(_HITS if hydrate else _RANKED))


def _rank_by(k: int | None, need: int = 1):
    """:func:`kernel.rank` as a shard combinator (the bare BM25 paths need
    no doc-local reads, so the doc range and the stores go unused)."""
    def rank(scored, boosts, space, doc_range, stores):
        return K.rank(scored, boosts, k, need=need, space=space)
    return rank


def _search_rank(scored, boosts, space, doc_range, stores, *,
                 seg_dirs: list, n_buckets: int, origs: dict, need: int,
                 params, cfg: dict, kw_hash: str, terms: list) -> tuple:
    """The ``search`` shard combinator: :func:`kernel.should_sum`, the
    role / tool filter, the phrase tiers and :func:`kernel.function_score`
    over the shard's candidates, then its top ``params.k``. The doc-local
    inputs are read from the ``doc_store`` tables ``stores()`` and the
    query's ``pos_partial`` buckets for ``doc_range`` only; ``terms`` is
    the analyzed query."""
    ids, bm, nmatch = K.should_sum(scored, boosts, origs, need=need,
                                   space=space)
    stores = stores()
    if params.filter_role or params.filter_tool:
        m = K.in_sorted(ids, doc_ids_where(
            stores, meta_filter(params.filter_role, params.filter_tool),
            doc_range))
        ids, bm, nmatch = ids[m], bm[m], nmatch[m]
    if ids.size == 0:
        return ids, bm, nmatch
    in_phrase = None
    if params.phrase_tiers:
        in_phrase = K.in_sorted(ids, _phrase_ids(seg_dirs, n_buckets,
                                                 doc_range, terms))
    dv_ids, prior, ts = doc_values(stores, doc_range)
    ix = np.searchsorted(dv_ids, ids)
    exact = doc_ids_where(stores, ds.field("kw_hash") == kw_hash, doc_range)
    score = K.function_score(
        bm, K.in_sorted(ids, exact), prior[ix], ts[ix], cfg,
        in_phrase=in_phrase,
        now=params.now_epoch if params.recency else None)
    o = K.topk(ids, score, params.k)
    return ids[o], score[o], nmatch[o]


def _phrase_ids(seg_dirs: list, n_buckets: int, doc_range: tuple,
                terms: list, expansions: list | None = None) -> np.ndarray:
    """:func:`kernel.phrase_docs` over the positions in ``doc_range`` of
    the phrase vocabulary, read with :func:`pos_keys` from only its
    ``bucket=`` directories of ``pos_partial``."""
    vocab = sorted(set(terms).union(expansions or ()))
    positions = datasets(seg_dirs, "pos_partial",
                         [bucket_of(t, n_buckets) for t in vocab])
    return K.phrase_docs(pos_keys(positions, n_buckets, vocab, doc_range),
                         terms, expansions)


def _phrase_rank(scored, boosts, space, doc_range, stores, **phrase) -> tuple:
    """The phrase-query shard combinator: the plan scores no postings (it
    runs with no terms), so this emits the shard's phrase docs
    (:func:`_phrase_ids` over ``phrase``) with zero scores."""
    ids = _phrase_ids(doc_range=doc_range, **phrase)
    return ids, np.zeros(ids.size), np.zeros(ids.size, dtype=np.int64)


def _matches(ranked: DataFrame, cols=("doc_id", "score", "nmatch")
             ) -> DataFrame:
    return ranked.where(F.col("doc_id").isNotNull()).select(*cols)


def _top(ranked: DataFrame, k: int, cols=("score", "nmatch")) -> DataFrame:
    """The exact top-k merge of the shard tasks' rows — one
    TakeOrderedAndProject — with the hydrated stored fields when ``ranked``
    carries them, then ``cols``."""
    keys = _HIT_FIELDS if "conv_id" in ranked.columns else ("doc_id",)
    return (_matches(ranked, keys + tuple(cols))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))


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
                     and_skip=prune and require_all, hydrate=hydrate)
    if prune_stats is not None:
        st = (ranked.where(F.col("doc_id").isNull())
              .agg(F.max("theta"), F.sum("blocks_kept"),
                   F.sum("blocks_total")).collect()[0])
        prune_stats.update(theta=st[0] or 0.0, blocks_kept=st[1] or 0,
                           blocks_total=st[2] or 0)
    return _top(ranked, k)


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
                     boosts={FIELDS[f]: float(b) for f, b in boosts.items()},
                     hydrate=hydrate)
    return _top(ranked, k, ("score",))


def _phrase(spark: SparkSession, out_dir: str, phrase: str,
            prefix: bool) -> DataFrame:
    """Doc ids of ``phrase`` (its last token a prefix with ``prefix``):
    the one ranking plan of :func:`_ranked` with no terms and the phrase
    combinator :func:`_phrase_rank`, one task per doc-range shard sized
    by the vocabulary's global df. Shards are doc-disjoint, so the ids
    are distinct."""
    idx = open_index(out_dir)
    terms = A.py_tokens(phrase)
    empty = spark.range(0).select(F.col("id").alias("doc_id"))
    if not terms:
        return empty
    if not idx.with_positions:
        raise ValueError("index built without positions")
    expansions = None
    if prefix:
        *terms, last = terms
        expansions = expand_prefix(datasets(idx.seg_dirs, "term_dict"), last)
        if not expansions:
            return empty
    rank = partial(_phrase_rank, seg_dirs=idx.seg_dirs,
                   n_buckets=idx.n_buckets, terms=terms,
                   expansions=expansions)
    df_map = _global_df(idx, terms + (expansions or []))
    return _matches(_ranked(spark, idx, [], df_map, rank), ("doc_id",))


def phrase_match(spark: SparkSession, out_dir: str, phrase: str) -> DataFrame:
    """Positional phrase match (B11-B13 positional form) over the
    segments' ``pos_partial`` table (bucket-partitioned; the hot scoring
    path never reads it), through the serving reader's code: each shard
    task chains the phrase's packed position keys of its doc range
    (:func:`kernel.phrase_docs`)."""
    return _phrase(spark, out_dir, phrase, prefix=False)


def phrase_prefix_match(spark: SparkSession, out_dir: str,
                        phrase: str) -> DataFrame:
    """Positional ``match_phrase_prefix`` (B13): the first n-1 terms match
    positionally like :func:`phrase_match`, and the LAST term matches any
    dictionary term with the given prefix (capped at MAX_EXPANSIONS like
    ES's ``max_expansions: 200``) at position p + n - 1
    (points_search.json:47,61; bbox_container.json:38-43). The prefix is
    expanded with pyarrow (:func:`expand_prefix`, no Spark job); a prefix
    with no expansions matches nothing."""
    return _phrase(spark, out_dir, phrase, prefix=True)


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
    q_kw_hash = A.py_kw_hash(params.query)

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
                     boosts=boosts, hydrate=True)
    return _top(ranked, params.k)
