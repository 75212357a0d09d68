"""Logical (raw-table) query builders + their DuckDB oracle SQL.

Every public query here exists twice, derived from the same frozen spec:

* a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame`` — declarative
  plans (joins/aggregations/window/limit) that Catalyst optimizes; and
* an ANSI-SQL string for DuckDB over the same parquet tables — the driver's
  independent correctness oracle.

These builders score straight off the transcripts relation (tokenize →
tf/df/corpus-stats → BM25 → function-score), i.e. they are the *semantic
definition* of the engine. The physical segment engine
(:mod:`planet_search_spark.indexing` + :mod:`planet_search_spark.queries.engine`)
must produce identical results; pytest asserts that equivalence.

Reference semantics mapped here (SURVEY.md §2B):
  B9  match-OR BM25            -> bm25_or
  B10 match operator=and       -> bm25_and
  B11/B12 phrase on keyword    -> phrase_match / exact tiers
  B13 match_phrase_prefix      -> phrase_prefix + prefix_search (dict expansion,
                                  max_expansions=200, points_search.json:47)
  B14 fuzzy AUTO               -> fuzzy_search
  B15 dis_max                  -> dismax_search
  B16 bool.should min 1        -> all scorers return only matched docs
  B17 bool.filter              -> filtered_search (role/tool semi-filter)
  B18 constant_score tiers     -> exact_tiers (12/6/1, bbox_container.json:9-55)
  B19-B24 function_score sum   -> function_score_search
  B25 top-k                    -> bm25_topk
"""
from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import analysis as A
from .. import scoring as S
from ..indexing.build import FIELD_BOOSTS, meta_field_col
from ..transcripts import TRANSCRIPTS_CTE, transcripts_from_documents

# Fixed epoch used as "now" by recency-scored queries (deterministic).
NOW_EPOCH = 1_768_435_200.0  # 2026-01-15T00:00:00Z


# ---------------------------------------------------------------------------
# Shared engine-side builders
# ---------------------------------------------------------------------------

def tokenized_docs(tx: DataFrame) -> DataFrame:
    """transcripts -> analyzed docs (toks, kw, dl); drops empty docs.

    The sf-dir documents table is a single parquet row group up to multi-MB
    scale, so the scan (and everything narrow above it — the whole analyzer
    chain) would run in ONE task; repartition the raw text to core count
    first (guide §2.5 'input skew: unsplittable file'). Scale-adaptive: a
    corpus that already scans with enough parallelism skips the shuffle."""
    par = tx.sparkSession.sparkContext.defaultParallelism
    if tx.rdd.getNumPartitions() < par:
        tx = tx.repartition(par)
    # explode(array(tokens)) = a Generate barrier: the filter below and the
    # kw/dl projections above all reference the GENERATED column, which
    # predicate pushdown / projection collapse cannot inline — the analyzer
    # chain runs exactly ONCE per row (it ran 3x: filter + dl + toks each
    # re-derived it; measured 3 regexp_extract_all nodes in the plan)
    return (
        tx.select("*", F.explode(F.array(A.tokens_col(F.col("text"))))
                        .alias("toks"))
          .where(F.size("toks") > 0)
          .withColumn("kw", F.array_join("toks", " "))
          .withColumn("dl", F.size("toks").cast("double"))
    )


def term_freqs(docs: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, dl, term, tf) — the in-doc term frequency table."""
    return (
        docs.select("conv_id", "turn_idx", "dl",
                    F.explode("toks").alias("term"))
            .groupBy("conv_id", "turn_idx", "dl", "term")
            .agg(F.count("*").cast("double").alias("tf"))
    )


def doc_freqs(tf: DataFrame) -> DataFrame:
    return tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))


def corpus_stats(docs: DataFrame) -> DataFrame:
    return docs.agg(F.count("*").cast("double").alias("n"),
                    F.avg("dl").alias("avgdl"))


def _stats_and_dfs(docs: DataFrame, terms: list[str]) -> DataFrame:
    """1-row (n, avgdl, df0..df{n-1}) over the tokenized docs — N/avgdl
    over all non-empty docs, df_i as the count of docs whose token array
    contains term i (``array_contains`` is a codegen builtin with an
    early-exit scan — no explode, no shuffle)."""
    return docs.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[F.count_if(F.array_contains("toks", t)).cast("double")
          .alias(f"df{i}") for i, t in enumerate(terms)])


def _tf_score_cols(terms: list[str]) -> tuple[Column, Column]:
    """(score, nmatch) columns over a per-doc tf{i} frame cross-joined
    with its 1-row stats: score = Σ_i bm25(tf_i, df_i) over matched
    terms, in fixed term order."""
    idx = range(len(terms))
    score = functools.reduce(operator.add, [
        F.when(F.col(f"tf{i}") > 0, S.bm25_term_score(
            F.col(f"tf{i}"), F.col(f"df{i}"), F.col("dl"),
            F.col("n"), F.col("avgdl"))).otherwise(F.lit(0.0))
        for i in idx])
    nmatch = functools.reduce(operator.add, [
        (F.col(f"tf{i}") > 0).cast("long") for i in idx])
    return score, nmatch


def _bm25_scores_wide(tx: DataFrame, terms: list[str],
                      require_all: bool = False,
                      extra_cols: list[str] | None = None) -> DataFrame:
    """Per-doc summed BM25 in TWO tokenize passes and ONE matched-rows-only
    shuffle (round-7 optimization, guide §2.3/§2.4): the old form ran
    THREE tokenize subtrees (qtf probe, dfreq branch, corpus stats) plus a
    second (doc, term)->doc aggregation; here the matched-token explode
    pivots per-term tfs in a single groupBy (codegen ``count_if``), and
    df/N/avgdl ride one 1-row broadcast aggregate. ``extra_cols`` (doc
    attributes: role/tool/ts/kw) ride the groupBy as ``first()`` aggregates
    so downstream function-score/filter queries need no corpus self-join.
    Emits matched docs only with (score, nmatch) identical to the old
    formulation."""
    uniq = list(dict.fromkeys(terms))
    docs = tokenized_docs(tx)
    stats = _stats_and_dfs(docs, uniq)
    qtf = (docs.select("conv_id", "turn_idx", "dl",
                       *(extra_cols or []),
                       F.explode("toks").alias("term"))
           .where(F.col("term").isin(uniq))
           .groupBy("conv_id", "turn_idx")
           .agg(F.first("dl").alias("dl"),
                *[F.first(c).alias(c) for c in (extra_cols or [])],
                *[F.count_if(F.col("term") == t).cast("double")
                  .alias(f"tf{i}") for i, t in enumerate(uniq)]))
    score, nmatch = _tf_score_cols(uniq)
    out = (qtf.crossJoin(F.broadcast(stats))
           .withColumn("score", score)
           .withColumn("nmatch", nmatch))
    if require_all:
        out = out.where(F.col("nmatch") == len(uniq))
    return out


def _bm25_scores(tx: DataFrame, terms: list[str],
                 require_all: bool = False) -> DataFrame:
    """Per-doc summed BM25 over ``terms`` (OR; AND if require_all)."""
    return _bm25_scores_wide(tx, terms, require_all).select(
        "conv_id", "turn_idx", "score", "nmatch")


_SQL_BASE = f"""
WITH {TRANSCRIPTS_CTE.strip()},
docs AS (
  SELECT conv_id, turn_idx, role, tool, ts, text,
         {A.sql_tokens_expr('text')} AS toks,
         {A.sql_keyword_expr('text')} AS kw
  FROM transcripts
),
docs_n AS (
  SELECT *, CAST(len(toks) AS DOUBLE) AS dl FROM docs WHERE len(toks) > 0
),
corpus AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM docs_n
),
tf AS (
  SELECT conv_id, turn_idx, dl, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT conv_id, turn_idx, dl, unnest(toks) AS term FROM docs_n)
  GROUP BY conv_id, turn_idx, dl, term
),
dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term
)
"""


def _sql_terms_values(terms: list[str]) -> str:
    vals = ", ".join(f"('{t}')" for t in terms)
    return f"(SELECT * FROM (VALUES {vals}) AS q(term))"


def _sql_bm25_scores(terms: list[str], require_all: bool) -> str:
    s_expr = S.SQL_BM25_TERM.format(tf="tf.tf", df="dfreq.df",
                                    dl="tf.dl", n="corpus.n",
                                    avgdl="corpus.avgdl")
    having = f"HAVING count(*) = {len(set(terms))}" if require_all else ""
    return f"""{_SQL_BASE},
scores AS (
  SELECT tf.conv_id, tf.turn_idx,
         sum({s_expr}) AS score,
         count(*) AS nmatch
  FROM tf
  JOIN {_sql_terms_values(terms)} q ON tf.term = q.term
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN corpus
  GROUP BY tf.conv_id, tf.turn_idx
  {having}
)"""


# ---------------------------------------------------------------------------
# Query registry: name -> (spark_fn, oracle_sql | None)
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple] = {}


def _register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = (fn, sql)
        return fn
    return deco


def with_global_rank(df: DataFrame, *order_cols,
                     rank_name: str = "rank") -> DataFrame:
    """Stamp a dense global rank on a POST-LIMIT k-row frame without a
    partitionless window: coalesce(1) + in-partition sort + monotonic id
    (0-based on the single partition). Semantically identical to
    ``row_number() OVER (ORDER BY ...)`` here, but the plan is a plain
    Coalesce+Sort — no WindowExec, so no 'No Partition Defined'
    degradation WARN poisoning bench profiling (round-3 VERDICT #5; a
    constant partitionBy key gets constant-folded back to the global
    window, so that spelling does not work)."""
    return (df.coalesce(1).sortWithinPartitions(*order_cols)
            .withColumn(rank_name,
                        (F.monotonically_increasing_id() + 1).cast("int")))


# -- 0. the deterministic documents -> transcripts mapping itself -----------

@_register("transcripts_view", f"""
WITH {TRANSCRIPTS_CTE.strip()}
SELECT conv_id, turn_idx, role, text, tool,
       CAST(epoch(ts) AS BIGINT) AS ts_epoch
FROM transcripts
""")
def q_transcripts_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transcripts_from_documents(spark, sf_dir)
    return tx.select("conv_id", "turn_idx", "role", "text", "tool",
                     F.unix_timestamp("ts").alias("ts_epoch"))


# -- 1. analyzer surface: global term dictionary (df, cf) -------------------

@_register("term_dictionary", f"""{_SQL_BASE}
SELECT term,
       CAST(count(*) AS BIGINT) AS doc_freq,
       CAST(sum(tf) AS BIGINT) AS coll_freq
FROM tf GROUP BY term
""")
def q_term_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transcripts_from_documents(spark, sf_dir)
    tf = term_freqs(tokenized_docs(tx))
    return tf.groupBy("term").agg(
        F.count("*").cast("long").alias("doc_freq"),
        F.sum("tf").cast("long").alias("coll_freq"))


# -- 2. per-doc stats (dl + normalized keyword hash) -------------------------

@_register("doc_stats", f"""{_SQL_BASE}
SELECT conv_id, turn_idx, CAST(dl AS BIGINT) AS doc_len, md5(kw) AS kw_hash
FROM docs_n
""")
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tokenized_docs(transcripts_from_documents(spark, sf_dir))
    return docs.select("conv_id", "turn_idx",
                       F.col("dl").cast("long").alias("doc_len"),
                       F.md5("kw").alias("kw_hash"))


# -- 3. corpus stats ----------------------------------------------------------

@_register("corpus_stats", f"""{_SQL_BASE}
SELECT CAST(n AS BIGINT) AS n_docs,
       {S.SQL_QUANTIZE.format(x='avgdl')} AS avgdl_q
FROM corpus
""")
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tokenized_docs(transcripts_from_documents(spark, sf_dir))
    return corpus_stats(docs).select(
        F.col("n").cast("long").alias("n_docs"),
        S.quantize(F.col("avgdl")).alias("avgdl_q"))


# -- 4/5/6. BM25 OR / AND / top-k (B9, B10, B25) -----------------------------

Q_TERMS = ["spark", "merge", "window"]
Q_TERMS_AND = ["spark", "merge"]


def _bm25_out(scored: DataFrame) -> DataFrame:
    return scored.select("conv_id", "turn_idx",
                         F.col("nmatch").cast("long").alias("nmatch"),
                         S.quantize(F.col("score")).alias("score_q"))


@_register("bm25_or", _sql_bm25_scores(Q_TERMS, False) + f"""
SELECT conv_id, turn_idx, CAST(nmatch AS BIGINT) AS nmatch,
       {S.SQL_QUANTIZE.format(x='score')} AS score_q
FROM scores
""")
def q_bm25_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transcripts_from_documents(spark, sf_dir)
    return _bm25_out(_bm25_scores(tx, Q_TERMS))


@_register("bm25_and", _sql_bm25_scores(Q_TERMS_AND, True) + f"""
SELECT conv_id, turn_idx, CAST(nmatch AS BIGINT) AS nmatch,
       {S.SQL_QUANTIZE.format(x='score')} AS score_q
FROM scores
""")
def q_bm25_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transcripts_from_documents(spark, sf_dir)
    return _bm25_out(_bm25_scores(tx, Q_TERMS_AND, require_all=True))


@_register("bm25_topk", _sql_bm25_scores(Q_TERMS, False) + f"""
SELECT CAST(row_number() OVER (
         ORDER BY {S.SQL_QUANTIZE.format(x='score')} DESC, conv_id, turn_idx
       ) AS INT) AS rank,
       conv_id, turn_idx,
       {S.SQL_QUANTIZE.format(x='score')} AS score_q
FROM scores
ORDER BY score_q DESC, conv_id, turn_idx
LIMIT 20
""")
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transcripts_from_documents(spark, sf_dir)
    top = (_bm25_scores(tx, Q_TERMS)
           .select("conv_id", "turn_idx", S.quantize(F.col("score")).alias("score_q"))
           .orderBy(F.desc("score_q"), "conv_id", "turn_idx")
           .limit(20))
    return with_global_rank(top, F.desc("score_q"), "conv_id",
                            "turn_idx") \
        .select("rank", "conv_id", "turn_idx", "score_q")


# -- 7. phrase match on normalized keyword (B11/B12) -------------------------

PHRASE = "stream table hash"


@_register("phrase_match", f"""{_SQL_BASE}
SELECT conv_id, turn_idx
FROM docs_n
WHERE contains(' ' || kw || ' ', ' {PHRASE} ')
""")
def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tokenized_docs(transcripts_from_documents(spark, sf_dir))
    pad = F.concat(F.lit(" "), F.col("kw"), F.lit(" "))
    return docs.where(pad.contains(f" {PHRASE} ")) \
               .select("conv_id", "turn_idx")


# -- 8. phrase-prefix (B13: last term matches by prefix) ----------------------

PHRASE_PREFIX = "merge slo"   # matches "... merge slow ..."


@_register("phrase_prefix", f"""{_SQL_BASE}
SELECT conv_id, turn_idx
FROM docs_n
WHERE contains(' ' || kw || ' ', ' {PHRASE_PREFIX}')
""")
def q_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tokenized_docs(transcripts_from_documents(spark, sf_dir))
    pad = F.concat(F.lit(" "), F.col("kw"), F.lit(" "))
    return docs.where(pad.contains(f" {PHRASE_PREFIX}")) \
               .select("conv_id", "turn_idx")


# -- 8b. POSITIONAL phrase-prefix (B13 positional form): first terms adjacent
#        by token position, LAST term matches by prefix at position p+n-1 ----

PP_POS = ("spark", "merge", "slo")  # "spark merge slo*"


@_register("phrase_prefix_positional", f"""{_SQL_BASE}
SELECT conv_id, turn_idx
FROM docs_n
WHERE contains(' ' || kw || ' ', ' {' '.join(PP_POS)}')
""")
def q_phrase_prefix_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-POSITION implementation (not substring): exists i such that
    toks[i..i+n-2] equal the exact terms and toks[i+n-1] starts with the
    prefix — the raw-table definition the segment engine's
    ``phrase_prefix_match`` is tested against. The SQL oracle's padded
    ``contains`` over the space-joined keyword is positionally equivalent
    by construction of ``kw``."""
    docs = tokenized_docs(transcripts_from_documents(spark, sf_dir))
    n = len(PP_POS)
    conds = " AND ".join(
        [f"toks[i + {j}] = '{t}'" for j, t in enumerate(PP_POS[:-1])]
        + [f"startswith(toks[i + {n - 1}], '{PP_POS[-1]}')"])
    cond = F.expr(f"exists(sequence(0, size(toks) - {n}), i -> {conds})")
    return (docs.where(F.size("toks") >= n).where(cond)
                .select("conv_id", "turn_idx"))


# -- 9. prefix term expansion (autocomplete branch, max_expansions=200) -------

PREFIX = "wi"


def _expansion_search(tx: DataFrame, token_pred,
                      cap: int | None = 200) -> DataFrame:
    """Shared prefix/fuzzy scorer: tokens matching ``token_pred`` are
    filtered INSIDE the array (higher-order ``filter``) before the explode,
    so the (doc, term) tf groupBy shuffles only matching occurrences — the
    old form exploded and re-aggregated the ENTIRE token stream twice
    (round-7 optimization, guide §2.3 'shuffle fewer bytes')."""
    docs = tokenized_docs(tx)
    qtf = (docs.select("conv_id", "turn_idx", "dl",
                       F.explode(F.filter("toks", token_pred)).alias("term"))
           .groupBy("conv_id", "turn_idx", "dl", "term")
           .agg(F.count("*").cast("double").alias("tf")))
    expanded = (qtf.groupBy("term")
                .agg(F.count("*").cast("double").alias("df")))
    if cap is not None:  # prefix branch: max_expansions=200, term order
        expanded = expanded.orderBy("term").limit(cap)
    stats = corpus_stats(docs)
    return (qtf.join(F.broadcast(expanded), "term")
              .crossJoin(F.broadcast(stats))
              .withColumn("s", S.bm25_term_score(
                  F.col("tf"), F.col("df"), F.col("dl"),
                  F.col("n"), F.col("avgdl")))
              .groupBy("conv_id", "turn_idx")
              .agg(F.max("s").alias("score"))
              .select("conv_id", "turn_idx",
                      S.quantize(F.col("score")).alias("score_q")))



@_register("prefix_search", f"""{_SQL_BASE},
expanded AS (
  SELECT term, df FROM dfreq WHERE term LIKE '{PREFIX}%'
  ORDER BY term LIMIT 200
),
matched AS (
  SELECT tf.conv_id, tf.turn_idx,
         max({S.SQL_BM25_TERM.format(tf='tf.tf', df='expanded.df',
                                     dl='tf.dl', n='corpus.n',
                                     avgdl='corpus.avgdl')}) AS score
  FROM tf JOIN expanded ON tf.term = expanded.term CROSS JOIN corpus
  GROUP BY tf.conv_id, tf.turn_idx
)
SELECT conv_id, turn_idx, {S.SQL_QUANTIZE.format(x='score')} AS score_q
FROM matched
""")
def q_prefix_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transcripts_from_documents(spark, sf_dir)
    return _expansion_search(tx, lambda x: x.startswith(PREFIX))


# -- 10. fuzzy AUTO (B14) -----------------------------------------------------

FUZZY_TERM = "spak"  # 1 edit from "spark"


def _auto_fuzz(term: str) -> int:
    n = len(term)
    return 0 if n <= 2 else (1 if n <= 5 else 2)


@_register("fuzzy_search", f"""{_SQL_BASE},
expanded AS (
  SELECT term, df FROM dfreq
  WHERE levenshtein(term, '{FUZZY_TERM}') <= {_auto_fuzz(FUZZY_TERM)}
),
matched AS (
  SELECT tf.conv_id, tf.turn_idx,
         max({S.SQL_BM25_TERM.format(tf='tf.tf', df='expanded.df',
                                     dl='tf.dl', n='corpus.n',
                                     avgdl='corpus.avgdl')}) AS score
  FROM tf JOIN expanded ON tf.term = expanded.term CROSS JOIN corpus
  GROUP BY tf.conv_id, tf.turn_idx
)
SELECT conv_id, turn_idx, {S.SQL_QUANTIZE.format(x='score')} AS score_q
FROM matched
""")
def q_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transcripts_from_documents(spark, sf_dir)
    ed, n = _auto_fuzz(FUZZY_TERM), len(FUZZY_TERM)
    # length band first: levenshtein <= ed implies |len-n| <= ed, so the
    # cheap length predicate prunes most tokens before the edit distance
    return _expansion_search(
        tx,
        lambda x: ((F.length(x) >= n - ed) & (F.length(x) <= n + ed)
                   & (F.levenshtein(x, F.lit(FUZZY_TERM)) <= ed)),
        cap=None)  # the fuzzy oracle has NO max_expansions cap


# -- 11. constant-score tiers (B18; 12/6/1 per bbox_container.json:9-55) ------

TIER_PHRASE = "window window"


@_register("exact_tiers", f"""{_SQL_BASE},
tiers AS (
  SELECT conv_id, turn_idx,
         CASE WHEN kw = '{TIER_PHRASE}' THEN 12.0
              WHEN contains(' ' || kw || ' ', ' {TIER_PHRASE} ') THEN 6.0
              WHEN contains(' ' || kw || ' ', ' window ') THEN 1.0
              ELSE 0.0 END AS tier
  FROM docs_n
)
SELECT conv_id, turn_idx, {S.SQL_QUANTIZE.format(x='tier')} AS tier_q
FROM tiers WHERE tier > 0.0
""")
def q_exact_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tokenized_docs(transcripts_from_documents(spark, sf_dir))
    pad = F.concat(F.lit(" "), F.col("kw"), F.lit(" "))
    tier = (F.when(F.col("kw") == TIER_PHRASE, F.lit(12.0))
             .when(pad.contains(f" {TIER_PHRASE} "), F.lit(6.0))
             .when(pad.contains(" window "), F.lit(1.0))
             .otherwise(F.lit(0.0)))
    return (docs.withColumn("tier", tier).where(F.col("tier") > 0.0)
                .select("conv_id", "turn_idx",
                        S.quantize(F.col("tier")).alias("tier_q")))


# -- 12. dis_max over fields (B15) --------------------------------------------

@_register("dismax_search", _sql_bm25_scores(Q_TERMS, False) + f"""
SELECT d.conv_id, d.turn_idx,
       {S.SQL_QUANTIZE.format(
           x="greatest(coalesce(" + S.SQL_SATURATION.format(s='s.score') + ", 0.0),"
             " CASE WHEN d.tool = 'search' THEN 2.0 ELSE 0.0 END)")} AS score_q
FROM docs_n d
LEFT JOIN scores s ON s.conv_id = d.conv_id AND s.turn_idx = d.turn_idx
WHERE s.conv_id IS NOT NULL OR d.tool = 'search'
""")
def q_dismax_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # union form (no corpus-vs-scores self-join): matched docs come from
    # the 2-pass scorer with ``tool`` riding the groupBy; the tool-only
    # clause (unmatched docs with tool='search', constant score 2.0) is a
    # shuffle-free filter pass with codegen array_contains
    tx = transcripts_from_documents(spark, sf_dir)
    uniq = list(dict.fromkeys(Q_TERMS))
    scored = _bm25_scores_wide(tx, Q_TERMS, extra_cols=["tool"])
    tool_s = F.when(F.col("tool") == "search", F.lit(2.0)).otherwise(F.lit(0.0))
    matched = scored.select(
        "conv_id", "turn_idx",
        S.quantize(F.greatest(S.saturation(F.col("score")),
                              tool_s)).alias("score_q"))
    no_match = ~functools.reduce(
        operator.or_, [F.array_contains("toks", t) for t in uniq])
    tool_only = (tokenized_docs(tx)
                 .where((F.col("tool") == "search") & no_match)
                 .select("conv_id", "turn_idx",
                         S.quantize(F.lit(2.0)).alias("score_q")))
    return matched.unionByName(tool_only)


# -- 13. non-scoring filter (B17) ---------------------------------------------

@_register("filtered_search", _sql_bm25_scores(Q_TERMS, False) + f"""
SELECT s.conv_id, s.turn_idx, {S.SQL_QUANTIZE.format(x='s.score')} AS score_q
FROM scores s
JOIN docs_n d ON d.conv_id = s.conv_id AND d.turn_idx = s.turn_idx
WHERE d.role = 'assistant' AND d.tool = 'code'
""")
def q_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the B17 filter is a plain predicate on the scoring pass itself (the
    # old corpus-vs-scores self-join shuffled the whole corpus twice)
    tx = transcripts_from_documents(spark, sf_dir)
    scored = _bm25_scores_wide(tx, Q_TERMS, extra_cols=["role", "tool"])
    return (scored.where((F.col("role") == "assistant")
                         & (F.col("tool") == "code"))
                  .select("conv_id", "turn_idx",
                          S.quantize(F.col("score")).alias("score_q")))


# -- 14. full function_score composition (B19-B24) ----------------------------

@_register("function_score_search", _sql_bm25_scores(Q_TERMS, False) + f"""
, finals AS (
  SELECT d.conv_id, d.turn_idx,
         ({S.SQL_SATURATION.format(s='s.score')})
         + 0.3 * ({S.SQL_STATIC_PRIOR.format(role='d.role', dl='d.dl', tool='d.tool')})
         + (CASE WHEN d.kw = 'spark merge window' THEN 0.8 ELSE 0.0 END)
         + ({S.SQL_RECENCY.format(now=repr(NOW_EPOCH), ts='d.ts')}) AS final
  FROM scores s
  JOIN docs_n d ON d.conv_id = s.conv_id AND d.turn_idx = s.turn_idx
)
SELECT conv_id, turn_idx, {S.SQL_QUANTIZE.format(x='final')} AS score_q
FROM finals
""")
def q_function_score_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-pass form: the function-score inputs (role/tool/ts/kw/dl) ride
    # the scoring frame, removing the corpus self-join entirely
    tx = transcripts_from_documents(spark, sf_dir)
    scored = _bm25_scores_wide(
        tx, Q_TERMS, extra_cols=["role", "tool", "ts", "kw"])
    final = (
        S.saturation(F.col("score"))
        + F.lit(S.W_PRIOR) * S.static_prior(F.col("role"), F.col("dl"), F.col("tool"))
        + F.when(F.col("kw") == "spark merge window", F.lit(S.W_EXACT)).otherwise(F.lit(0.0))
        + S.recency_decay(F.col("ts"), NOW_EPOCH)
    )
    return scored.select("conv_id", "turn_idx",
                         S.quantize(final).alias("score_q"))


# -- 15/16. multi-field indexing + boosted dis_max over fields (B8 + B15) -----
#
# Two index fields per turn — 'text' (the body) and 'meta' (role + tool
# tokens) — each with its OWN df / dl / corpus stats, the per-field Lucene
# similarity model the reference configures for name/alt_names
# (ElasticsearchHelper.java:128-154). dis_max composes them with boosts 5/3
# (points_search.json:70,90). Universe = turns with non-empty text (matches
# the index builder).

Q_TERMS_MF = ["spark", "code", "assistant"]


def field_docs(tx: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, field, toks, dl) — one row per (doc, field)."""
    docs = tokenized_docs(tx)
    text = docs.select("conv_id", "turn_idx", F.lit("text").alias("field"),
                       "toks", "dl")
    # Generate barrier for the meta chain too (round-7, same fix as
    # tokenized_docs): the withColumn form re-derived the meta analyzer
    # chain in the filter, the dl projection and the toks output
    meta = (docs.select(
                "conv_id", "turn_idx",
                F.explode(F.array(A.tokens_col(meta_field_col())))
                 .alias("mtoks"))
            .where(F.size("mtoks") > 0)
            .select("conv_id", "turn_idx", F.lit("meta").alias("field"),
                    F.col("mtoks").alias("toks"),
                    F.size("mtoks").cast("double").alias("dl")))
    return text.unionByName(meta)


def _field_scores(tx: DataFrame, terms: list[str]) -> DataFrame:
    """(conv_id, turn_idx, field, score): per-field summed BM25 under that
    field's corpus stats.

    Round-7 rewrite on the `_bm25_scores_wide` pattern (guide §2.3/§2.4):
    the old form aggregated the FULL per-field vocabulary into a
    (doc, field, term) tf table and derived df from it before filtering
    to the query terms — two corpus-wide shuffles per query. Now the
    matched-token explode pivots per-term tfs in one groupBy over
    query-term rows only, and each field's N/avgdl/df_i ride one 2-row
    broadcast aggregate (``array_contains`` df — no explode, no
    shuffle). Same (doc, field) row set, same per-term addends.
    """
    uniq = list(dict.fromkeys(terms))
    fdocs = field_docs(tx)
    if not uniq:              # no query terms: no (doc, field) scores
        return fdocs.select("conv_id", "turn_idx", "field",
                            F.lit(0.0).alias("score")).limit(0)
    stats = fdocs.groupBy("field").agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[F.count_if(F.array_contains("toks", t)).cast("double")
          .alias(f"df{i}") for i, t in enumerate(uniq)])
    qtf = (fdocs.select("conv_id", "turn_idx", "field", "dl",
                        F.explode("toks").alias("term"))
           .where(F.col("term").isin(uniq))
           .groupBy("conv_id", "turn_idx", "field")
           .agg(F.first("dl").alias("dl"),
                *[F.count_if(F.col("term") == t).cast("double")
                  .alias(f"tf{i}") for i, t in enumerate(uniq)]))
    score = functools.reduce(operator.add, [
        F.when(F.col(f"tf{i}") > 0, S.bm25_term_score(
            F.col(f"tf{i}"), F.col(f"df{i}"), F.col("dl"),
            F.col("n"), F.col("avgdl"))).otherwise(F.lit(0.0))
        for i in range(len(uniq))])
    return (qtf.join(F.broadcast(stats), "field")
            .select("conv_id", "turn_idx", "field",
                    score.alias("score")))


_SQL_FIELD_SCORES = f"""{_SQL_BASE},
fdocs AS (
  SELECT conv_id, turn_idx, 'text' AS field, toks, dl FROM docs_n
  UNION ALL
  SELECT conv_id, turn_idx, 'meta' AS field, mtoks AS toks,
         CAST(len(mtoks) AS DOUBLE) AS dl
  FROM (SELECT conv_id, turn_idx,
               {A.sql_tokens_expr("concat_ws(' ', role, tool)")} AS mtoks
        FROM docs_n)
  WHERE len(mtoks) > 0
),
fcorpus AS (
  SELECT field, CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
  FROM fdocs GROUP BY field
),
ftf AS (
  SELECT conv_id, turn_idx, field, dl, term, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT conv_id, turn_idx, field, dl, unnest(toks) AS term FROM fdocs)
  GROUP BY conv_id, turn_idx, field, dl, term
),
fdfreq AS (
  SELECT field, term, CAST(count(*) AS DOUBLE) AS df FROM ftf
  GROUP BY field, term
),
fscores AS (
  SELECT ftf.conv_id, ftf.turn_idx, ftf.field,
         sum({S.SQL_BM25_TERM.format(tf='ftf.tf', df='fdfreq.df',
                                     dl='ftf.dl', n='fcorpus.n',
                                     avgdl='fcorpus.avgdl')}) AS score
  FROM ftf
  JOIN {_sql_terms_values(Q_TERMS_MF)} q ON ftf.term = q.term
  JOIN fdfreq ON fdfreq.field = ftf.field AND fdfreq.term = ftf.term
  JOIN fcorpus ON fcorpus.field = ftf.field
  GROUP BY ftf.conv_id, ftf.turn_idx, ftf.field
)"""


@_register("bm25_multifield", _SQL_FIELD_SCORES + f"""
SELECT conv_id, turn_idx, field,
       {S.SQL_QUANTIZE.format(x='score')} AS score_q
FROM fscores
""")
def q_bm25_multifield(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transcripts_from_documents(spark, sf_dir)
    return (_field_scores(tx, Q_TERMS_MF)
            .select("conv_id", "turn_idx", "field",
                    S.quantize(F.col("score")).alias("score_q")))


@_register("dismax_fields", _SQL_FIELD_SCORES + f"""
SELECT conv_id, turn_idx,
       {S.SQL_QUANTIZE.format(
           x="max((CASE field WHEN 'text' THEN 5.0 ELSE 3.0 END) * score)")}
       AS score_q
FROM fscores GROUP BY conv_id, turn_idx
""")
def q_dismax_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = transcripts_from_documents(spark, sf_dir)
    boost = F.create_map(
        *[x for f, b in FIELD_BOOSTS.items()
          for x in (F.lit(f), F.lit(float(b)))])[F.col("field")]
    return (_field_scores(tx, Q_TERMS_MF)
            .groupBy("conv_id", "turn_idx")
            .agg(S.quantize(F.max(boost * F.col("score"))).alias("score_q")))
