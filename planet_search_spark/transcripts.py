"""Transcript table sources.

The engine's input contract (BASELINE.json ``input_hint``) is a table
``transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` — the transcript analogue of the reference's
point-document stream (``PlanetSearchProfile.java:356-379``).

Two deterministic sources:

* :func:`transcripts_from_documents` — a pure-SQL-expressible bijective
  mapping from the driver's ``documents`` parquet table onto the transcript
  shape. Because the mapping uses only cross-engine-identical functions, the
  DuckDB oracle (:data:`TRANSCRIPTS_CTE`) reconstructs the exact same rows,
  which makes every downstream operator oracle-checkable.
* :func:`synthesize_transcripts` — seed-stable generator of an adversarial
  corpus (Hebrew niqqud, doubled vav/yod, apostrophes, accents, fuzzy pairs,
  shared prefixes, hot terms, empty rows) per FIXTURES.md §1, for unit tests
  and scale benches. No external data.
"""
from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_CONV = 101  # prime; spreads doc_ids across conversations

ROLES = ["user", "assistant", "system", "tool"]
TOOLS = ["search", "code", "browse"]
EPOCH = "2026-01-01 00:00:00"
EPOCH_S = 1_767_225_600  # 2026-01-01T00:00:00Z


def transcripts_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic documents → transcripts mapping (engine side)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    return docs.select(
        F.format_string("conv_%04d", (d % N_CONV).cast("int")).alias("conv_id"),
        (d / N_CONV).cast("int").alias("turn_idx"),
        F.element_at(F.array(*[F.lit(r) for r in ROLES]),
                     (d % 4).cast("int") + 1).alias("role"),
        F.col("text"),
        F.when(d % 3 == 0, F.lit("search"))
         .when(d % 3 == 1, F.lit(None).cast("string"))
         .otherwise(F.lit("code")).alias("tool"),
        # epoch arithmetic, not a naive literal: identical in any session
        # timezone (the DuckDB oracle's naive TIMESTAMP is epoch()'d as UTC)
        F.timestamp_seconds(F.lit(EPOCH_S) + d * 60).alias("ts"),
    )


#: DuckDB CTE reconstructing the identical transcripts relation from the
#: pre-registered ``documents`` view. Keep in lockstep with the function above.
TRANSCRIPTS_CTE = f"""
transcripts AS (
  SELECT
    printf('conv_%04d', doc_id % {N_CONV}) AS conv_id,
    CAST(doc_id // {N_CONV} AS INT) AS turn_idx,
    CASE doc_id % 4 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                    WHEN 2 THEN 'system' ELSE 'tool' END AS role,
    text,
    CASE doc_id % 3 WHEN 0 THEN 'search' WHEN 1 THEN NULL ELSE 'code' END AS tool,
    TIMESTAMP '{EPOCH}' + CAST(doc_id AS INT) * INTERVAL 1 MINUTE AS ts
  FROM documents
)
"""

# ---------------------------------------------------------------------------
# Seed-stable synthetic corpus (FIXTURES.md §1) — adversarial analyzer input
# ---------------------------------------------------------------------------

_VOCAB_HOT = ["the", "error", "timeout", "retry", "spark", "data"]
_VOCAB_MID = [
    "shuffle", "partition", "broadcast", "executor", "postings", "lucene",
    "tokenize", "segment", "merge", "varbyte", "heap", "score", "query",
    "transcript", "checkpoint", "lineage", "metric", "skew", "salting",
    # fuzzy pairs (edit distance 1-2)
    "kitten", "sitten", "sitting", "planet", "plane", "planner",
    # shared prefixes >= 2
    "prefix", "prefetch", "preflight", "prepare", "prepend",
]
_VOCAB_EXOTIC = [
    "שָׁלוֹם", "ירוּשָׁלַיִם", "וואדי", "מיים", "café", "naïve", "Müller",
    "Pike's", "O’Brien", "ʼokina", "Ωμέγα", "привет", "مرحبا", "Łódź",
    "STRASSE", "straße", "Ærø",
]
_PHRASES = [
    "null pointer exception", "out of memory", "connection reset by peer",
    "index out of range", "stack trace follows",
]


def synthesize_rows(n_convs: int = 50, max_turns: int = 40,
                    seed: int = 42) -> list:
    """Deterministic adversarial transcript rows (pure Python — usable by
    the corpus-case generator without a SparkSession)."""
    rng = random.Random(seed)
    rows = []
    ts0 = 1_767_225_600  # 2026-01-01T00:00:00Z
    for c in range(n_convs):
        conv = f"conv_{c:05d}"
        # zipf-ish conversation length
        n_turns = 1 + int(max_turns * (rng.random() ** 2))
        for t in range(n_turns):
            role = ROLES[rng.randrange(4)]
            tool = TOOLS[rng.randrange(3)] if role == "tool" else (
                TOOLS[0] if rng.random() < 0.1 else None)
            words: list[str] = []
            for _ in range(rng.randrange(3, 30)):
                r = rng.random()
                if r < 0.35:
                    words.append(_VOCAB_HOT[rng.randrange(len(_VOCAB_HOT))])
                elif r < 0.80:
                    words.append(_VOCAB_MID[rng.randrange(len(_VOCAB_MID))])
                elif r < 0.92:
                    words.append(_VOCAB_EXOTIC[rng.randrange(len(_VOCAB_EXOTIC))])
                else:
                    words.append(f"uniq{rng.randrange(10_000_000)}")
            if rng.random() < 0.25:
                words.extend(_PHRASES[rng.randrange(len(_PHRASES))].split())
            text = " ".join(words)
            if rng.random() < 0.02:
                text = ""          # empty-doc handling
            elif rng.random() < 0.02:
                text = "   "       # whitespace-only
            rows.append((conv, t, role, text, tool, ts0 + c * 3600 + t * 60))
    return rows


def synthesize_transcripts(spark: SparkSession, n_convs: int = 50,
                           max_turns: int = 40, seed: int = 42) -> DataFrame:
    """Deterministic adversarial transcript corpus as a Spark DataFrame."""
    df = spark.createDataFrame(
        synthesize_rows(n_convs, max_turns, seed),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, epoch bigint")
    return df.withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")


def clustered_corpus(spark: SparkSession, n_turns: int,
                     hot_docs: int = 8192, parallelism: int = 64,
                     out_path: str | None = None) -> DataFrame:
    """Deterministic TOPICALLY CLUSTERED benchmark corpus — the corpus shape
    where block-max WAND actually prunes (round-2 VERDICT item 4: on a
    uniform corpus doc-ordered blocks have homogeneous bounds, so θ never
    exceeds a cold block's upper bound and pruning is cost-neutral at best).

    Every turn contains ``hotterm`` (the stopword shape: df == N), but the
    first ``hot_docs`` doc_ids carry it with tf=8 in a SHORT turn (high
    BM25) while the long tail carries tf=1 in a LONG turn (low BM25) —
    real corpora look like this: topical documents cluster in doc-id space
    when ingest is stream/source ordered. With doc-ordered blocks the hot
    prefix fills whole blocks, so θ (from the pure-hot blocks' lower
    bounds) exceeds every cold block's upper bound and the tail is never
    decoded. Salt groups are contiguous doc_id ranges of salt_target
    postings, so the hot prefix lands in the first salt group(s):
    hot_docs=8192 is 64 full 128-doc blocks at the head of salt group 0 at
    the default salt_target (65,536), at any corpus size.
    """
    d = F.col("id")
    key = F.md5(d.cast("string"))
    fill = [F.concat(F.lit(c), F.substring(key, i * 6 + 1, 6))
            for i, c in enumerate("abcdefghijkl")]
    hot_text = F.concat_ws(" ", *([F.lit("hotterm")] * 8), *fill[:2])
    cold_text = F.concat_ws(" ", F.lit("hotterm"), *fill)
    out = (spark.range(n_turns).repartition(parallelism)
           .select(
               # conv ids sort in doc_id order -> clustering survives the
               # build's (conv_id, turn_idx) global sort
               F.format_string("c%012d", d).alias("conv_id"),
               F.lit(0).alias("turn_idx"),
               F.element_at(F.array(*[F.lit(r) for r in ROLES]),
                            (d % 4).cast("int") + 1).alias("role"),
               F.when(d < hot_docs, hot_text).otherwise(cold_text)
                .alias("text"),
               F.when(d % 3 == 0, F.lit("search"))
                .otherwise(F.lit(None).cast("string")).alias("tool"),
               F.timestamp_seconds(F.lit(EPOCH_S) + d % 86_400).alias("ts")))
    if out_path:
        out.write.mode("overwrite").parquet(out_path)
        return spark.read.parquet(out_path)
    return out


def replicated_enriched_corpus(spark: SparkSession, sf_dir: str,
                               n_turns: int, parallelism: int = 64,
                               out_path: str | None = None) -> DataFrame:
    """Deterministic benchmark corpus: the documents->transcripts mapping
    replicated to ``n_turns`` with distinct conv_ids and md5-derived
    vocabulary enrichment (4 unique-ish + 1 near-unique + 1 shared-prefix
    mid-frequency token per turn) so the term dictionary scales with the
    corpus like real transcripts. Materialized to parquet when ``out_path``
    is given (sampling/range-partition passes then re-read a table instead
    of recomputing the explode)."""
    tx = transcripts_from_documents(spark, sf_dir)
    base = tx.count()
    scale = max(1, n_turns // base)
    key = F.md5(F.concat_ws("|", "conv_id", "turn_idx"))
    extra = F.concat_ws(
        " ",
        F.concat(F.lit("u"), F.substring(key, 1, 7)),
        F.concat(F.lit("u"), F.substring(key, 8, 7)),
        F.concat(F.lit("u"), F.substring(key, 15, 7)),
        F.concat(F.lit("u"), F.substring(key, 22, 7)),
        F.concat(F.lit("v"), F.substring(key, 3, 7)),
        F.concat(F.lit("pre"), F.substring(key, 1, 3)),
    )
    out = (tx.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(scale - 1))))
             .withColumn("conv_id", F.concat_ws("_", "conv_id", "rep"))
             .drop("rep")
             .withColumn("text", F.concat_ws(" ", "text", extra)))
    if out_path:
        out.repartition(parallelism).write.mode("overwrite").parquet(out_path)
        return spark.read.parquet(out_path)
    return out
