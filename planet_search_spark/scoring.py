"""Frozen scoring semantics (BM25 + function-score composition).

BM25 parameters are the reference's: ES/Lucene defaults k1=1.2, b=0.75 — no
``similarity`` override exists anywhere in the reference mapping
(``ElasticsearchHelper.java:105-194``). Formulas (Lucene 9 convention, no
rank-neutral ``(k1+1)`` factor):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm     = tf / (tf + k1 * (1 - b + b * dl / avgdl))
    s(t, d)     = idf(t) * tf_norm

``N``/``avgdl`` are over documents with at least one token (empty turns are
dropped at index time, the analogue of the reference dropping unnamed
features, ``PlanetSearchProfile.java:450-458``).

The formula exists in three forms, one per execution engine: Spark Columns
(:func:`bm25_term_score` — ``logical.py``), numpy (:func:`bm25`,
:func:`idf`, :func:`tfn` — the build encoder, the engine's shard tasks
and the serving reader) and SQL
(``SQL_BM25_TERM`` — the DuckDB oracle).

Function-score pipeline (``points_search.json:108-159``, score_mode=sum,
boost_mode=replace — ``points_search.json:9-11``):

    text      = W_TEXT * s / (s + K_TEXT)            # script_score saturation,
                                                      # points_search.json:110-116
    prior     = static_prior * W_PRIOR               # field_value_factor,
                                                      # points_search.json:117-119
    exact     = W_EXACT if keyword(text)==keyword(q) # filter+weight,
                                                      # points_search.json:120-130
    recency   = W_REC * exp(-0.5 * x^2 / SCALE^2)    # gaussian decay on ts age,
                x = max(0, age_sec - REC_OFFSET)      # the transcript analogue of
                                                      # the geo decay,
                                                      # points_search.json:131-144
    final     = text + prior + exact + recency

Static prior (the prominence analogue, ``ProminenceCalculator.java:14-30``:
``floor + 0.45*base + 0.40*lognorm + 0.10*metadata``, clamped):

    prior(d) = clamp01(0.05 + 0.45*role_base(role)
                       + 0.40*min(1, ln(1+dl)/ln(1+1000))
                       + 0.10*[tool IS NOT NULL])

All floats exposed to the driver's value-hash comparison are quantized with
:func:`quantize` (floor at 1e-4 resolution) so libm last-bit differences
between the JVM and DuckDB cannot flip a hash.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75

W_TEXT = 4.0
K_TEXT = 8.0
W_PRIOR = 0.3
W_EXACT = 0.8
W_REC = 0.6
REC_OFFSET = 3600.0          # seconds before decay starts (0.5 km analogue)
REC_SCALE = 86400.0 * 30.0   # 30-day gaussian scale

PRIOR_FLOOR = 0.05
PRIOR_DL_NORM = 1000.0
ROLE_BASE = {"user": 0.8, "assistant": 0.6, "tool": 0.4, "system": 0.2}

QUANT = 10000.0


# ------------------------------ Spark side ---------------------------------

def quantize(col: Column) -> Column:
    """floor(x * 1e4) as bigint — cross-engine-stable float comparison."""
    return F.floor(col * F.lit(QUANT)).cast("long")


def bm25_term_score(tf: Column, df: Column, dl: Column,
                    n: Column, avgdl: Column) -> Column:
    idf = F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))
    tfn = tf / (tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl / avgdl))
    return idf * tfn


def saturation(score: Column) -> Column:
    return F.lit(W_TEXT) * score / (score + F.lit(K_TEXT))


def static_prior(role: Column, dl: Column, tool: Column) -> Column:
    base = F.coalesce(
        *[F.when(role == r, F.lit(v)) for r, v in ROLE_BASE.items()],
        F.lit(0.0))
    lognorm = F.least(F.lit(1.0), F.log1p(dl) / F.lit(float(__import__("math").log1p(PRIOR_DL_NORM))))
    meta = F.when(tool.isNotNull(), F.lit(1.0)).otherwise(F.lit(0.0))
    raw = (F.lit(PRIOR_FLOOR) + F.lit(0.45) * base
           + F.lit(0.40) * lognorm + F.lit(0.10) * meta)
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), raw))


def recency_decay(ts: Column, now_epoch: float) -> Column:
    age = F.lit(now_epoch) - F.unix_timestamp(ts).cast("double")
    x = F.greatest(F.lit(0.0), age - F.lit(REC_OFFSET))
    return F.lit(W_REC) * F.exp(F.lit(-0.5) * (x / F.lit(REC_SCALE)) * (x / F.lit(REC_SCALE)))


# ------------------------------ numpy side ---------------------------------
# The only numpy BM25: the build encoder's bounds, the engine's decode UDF
# and θ, and the serving reader all call these. Elementwise over arrays or
# scalars; the expression order is fixed, so encoder outputs are stable.

def idf(df, n):
    """Lucene idf ln(1 + (N - df + 0.5) / (df + 0.5))."""
    return np.log(1.0 + (n - df + 0.5) / (df + 0.5))


def tfn(tf, dl, avgdl):
    """BM25 tf-normalization tf / (tf + k1 * (1 - b + b * dl / avgdl))."""
    return tf / (tf + K1 * ((1.0 - B) + B * dl / avgdl))


def bm25(tf, dl, df, n, avgdl):
    """Per-term BM25 score idf * tf / (tf + k1 * (1 - b + b * dl / avgdl))."""
    return idf(df, n) * tf / (tf + K1 * ((1.0 - B) + B * dl / avgdl))


# ------------------------------ SQL (oracle) side --------------------------

SQL_QUANTIZE = "CAST(floor(({x}) * 10000.0) AS BIGINT)"

SQL_BM25_TERM = (
    "ln(1.0 + (({n}) - ({df}) + 0.5) / (({df}) + 0.5))"
    " * ({tf}) / (({tf}) + 1.2 * (0.25 + 0.75 * ({dl}) / ({avgdl})))"
)

SQL_SATURATION = "4.0 * ({s}) / (({s}) + 8.0)"

# the denominator is the *same* Python-computed double constant the Spark
# side uses, embedded by repr — not recomputed by DuckDB's libm
_LOG1P_NORM = repr(__import__("math").log1p(PRIOR_DL_NORM))

SQL_STATIC_PRIOR = (
    "least(1.0, greatest(0.0, 0.05"
    " + 0.45 * (CASE {role} WHEN 'user' THEN 0.8 WHEN 'assistant' THEN 0.6"
    " WHEN 'tool' THEN 0.4 WHEN 'system' THEN 0.2 ELSE 0.0 END)"
    f" + 0.40 * least(1.0, ln(1.0 + ({{dl}})) / {_LOG1P_NORM})"
    " + 0.10 * (CASE WHEN {tool} IS NOT NULL THEN 1.0 ELSE 0.0 END)))"
)

SQL_RECENCY = (
    "0.6 * exp(-0.5 * (greatest(0.0, ({now}) - epoch({ts}) - 3600.0) / 2592000.0)"
    " * (greatest(0.0, ({now}) - epoch({ts}) - 3600.0) / 2592000.0))"
)
