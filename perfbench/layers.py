"""Which program functions are traced, and under which layer.

Only public functions are wrapped. Layers are the program's modules:

- ``indexing.build``: ``build_index``, ``incremental_update``,
  ``maybe_compact``, ``compact_index``, ``gc_segments``
- ``queries.engine``: the Spark query entry points
- ``queries.serve``: ``LocalSearcher`` query methods and expansions
- ``indexing.codec``: the posting decoders the reader calls
- ``analysis``: ``py_tokens`` (query-side analysis)
- ``queries.httpd``: ``HttpShardedSearcher`` calls (coordinator side) and
  request handling inside the shard daemon
"""
from __future__ import annotations

import os

#: query entry points, the same names in the engine, the reader and the
#: coordinator
QUERY_METHODS = ("bm25_topk", "dismax_topk", "search", "phrase_match",
                 "phrase_prefix_match")
BUILD_FUNCS = ("build_index", "incremental_update", "maybe_compact",
               "compact_index", "gc_segments")


def cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def instrument_build(tracer):
    from planet_search_spark.indexing import build
    for fn in BUILD_FUNCS:
        tracer.wrap(build, fn, "indexing.build", f"build.{fn}")


def instrument_engine(tracer):
    from planet_search_spark.queries import engine
    for fn in QUERY_METHODS:
        tracer.wrap(engine, fn, "queries.engine", f"engine.{fn}")


def instrument_serving(tracer):
    """Reader-side layers; used in the benchmark process and inside the
    traced shard daemon."""
    from planet_search_spark import analysis
    from planet_search_spark.indexing import codec
    from planet_search_spark.queries.serve import LocalSearcher

    def tokens(sp, args, kwargs, res):
        sp.attrs["n"] = len(res)

    def decoded(sp, args, kwargs, res):
        sp.attrs["bytes"] = len(args[0])

    def expanded(sp, args, kwargs, res):
        sp.attrs["n"] = len(res)

    tracer.wrap(analysis, "py_tokens", "analysis", "analysis.py_tokens",
                on_result=tokens)
    tracer.wrap(codec, "decode_positions", "indexing.codec",
                "codec.decode_positions", on_result=decoded)
    tracer.wrap(codec, "varbyte_decode", "indexing.codec",
                "codec.varbyte_decode", on_result=decoded)
    for fn in ("expand_prefix", "expand_fuzzy"):
        tracer.wrap(LocalSearcher, fn, "queries.serve", f"serve.expand.{fn}",
                    on_result=expanded)
    for fn in QUERY_METHODS:
        tracer.wrap(LocalSearcher, fn, "queries.serve", f"serve.method.{fn}")


def instrument_coordinator(tracer):
    from planet_search_spark.queries.httpd import HttpShardedSearcher
    for fn in QUERY_METHODS:
        tracer.wrap(HttpShardedSearcher, fn, "queries.httpd",
                    f"httpd.client.{fn}")


# ---------------------------------------------------------------------------
# Reader-side per-query figures, from the spans of one process
# ---------------------------------------------------------------------------

def reader_summary(spans, requests) -> dict:
    """Per-query reader figures over ``spans`` (the reader process's spans
    inside the measured window). ``requests`` are the top-level request
    spans; each may carry ``cpu0``/``cpu1`` process-CPU attributes."""
    from .trace import top_level
    n = max(len(requests), 1)
    methods = top_level(spans, "serve.method.")
    expands = [s for s in spans if s.name.startswith("serve.expand.")]
    toks = [s for s in spans if s.name == "analysis.py_tokens"]
    # decode_positions calls the (also wrapped) varbyte_decode: count each
    # decode once, at its outermost codec span
    decs = top_level(spans, "codec.")
    dpos = [s for s in decs if s.name == "codec.decode_positions"]
    method_s = sum(s.dur for s in methods)
    tok_s = sum(s.dur for s in toks)
    dec_s = sum(s.dur for s in decs)
    exp_s = sum(s.dur for s in top_level(spans, "serve.expand."))
    # terms looked up: query tokens plus prefix/fuzzy expansions
    terms = sum(s.attrs.get("n", 0) for s in toks + expands)
    cpu = [(s.attrs["cpu0"], s.attrs["cpu1"]) for s in requests
           if "cpu0" in s.attrs]
    cpu_s_total = (max(c[1] for c in cpu) - min(c[0] for c in cpu)) \
        if cpu else 0.0
    return {
        "requests": len(requests),
        "method_ms": 1e3 * method_s / n,
        "tokens_ms": 1e3 * tok_s / n,
        "decode_ms": 1e3 * dec_s / n,
        "decode_calls": len(decs) / n,
        "decoded_bytes": sum(s.attrs.get("bytes", 0) for s in decs) / n,
        "expand_ms": 1e3 * exp_s / n,
        "expansions": sum(s.attrs.get("n", 0) for s in expands) / n,
        "self_ms": 1e3 * (method_s - tok_s - dec_s - exp_s) / n,
        "decode_calls_per_term": len(dpos) / max(terms, 1),
        "cpu_ms": 1e3 * cpu_s_total / n,
    }
