"""Metric names and units, and the per-layer figures of a traced run.

``E2E`` and ``PER_LAYER`` list every metric the runner prints, in the
order of ``BENCHMARK.json`` (a test keeps the two in step).
"""
from __future__ import annotations

import json
import os
import time

from . import sparklog
from .harness import du, host_pct
from .layers import reader_summary
from .trace import (Span, Tracer, layer_self, self_times, thread_tree,
                    top_level, within)

E2E = {
    "build_turns_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
    "engine_query_p50_s": "s",
    "query_p50_ms": "ms",
    "query_tail_ms": "ms",
    "qps": "1/s",
    "setup_s": "s",
}

PER_LAYER = {
    # indexing.build: the workload's main build(s), per build
    "build.ids_s": "s",
    "build.docs_pos_s": "s",
    "build.encode_s": "s",
    "build.term_bounds_s": "s",
    "build.publish_s": "s",
    "build.executor_run_s": "s",
    "build.executor_cpu_s": "s",
    "build.jvm_gc_s": "s",
    "build.shuffle_write_bytes": "B",
    "build.spill_bytes": "B",
    "build.peak_exec_mem_bytes": "B",
    "build.tasks": "count",
    "build.core_busy_ratio": "ratio",
    "build.postings_bytes": "B",
    "build.pos_bytes": "B",
    "build.doc_store_bytes": "B",
    "build.term_dict_bytes": "B",
    # indexing.build, LSM side: the append and the compaction after it
    # (``tail`` only; 0 on ``hot``, which builds a fresh index)
    "lsm.append_s": "s",
    "lsm.compact_s": "s",
    "lsm.compact_turns_per_s": "1/s",
    "lsm.write_amp": "ratio",
    "lsm.bytes_rewritten": "B",
    "lsm.compactions": "count",
    "lsm.live_segments_max": "count",
    "lsm.gc_removed": "count",
    # queries.engine, per engine query
    "engine.jobs_per_query": "count",
    "engine.tasks_per_query": "count",
    "engine.executor_run_s_per_query": "s",
    "engine.input_bytes_per_query": "B",
    "engine.shuffle_bytes_per_query": "B",
    "engine.driver_s_per_query": "s",
    # analysis / indexing.codec / queries.serve inside the shard daemon,
    # per served query
    "analysis.py_tokens_ms": "ms",
    "codec.decode_ms": "ms",
    "codec.decode_calls": "count",
    "codec.decoded_bytes": "B",
    "serve.expand_ms": "ms",
    "serve.expansions_per_query": "count",
    "serve.method_ms": "ms",
    "serve.self_ms": "ms",
    "serve.decode_calls_per_term": "ratio",
    "serve.cpu_ms_per_query": "ms",
    "serve.rss_peak_mb": "MB",
    # queries.httpd
    "httpd.overhead_ms": "ms",
    "httpd.errors": "count",
    # self time per layer in the benchmark process (sums to the run's wall)
    "self.bench_s": "s",
    "self.indexing.build_s": "s",
    "self.queries.engine_s": "s",
    "self.queries.serve_s": "s",
    "self.queries.httpd_s": "s",
    "self.analysis_s": "s",
    "self.indexing.codec_s": "s",
    # host and tracing
    "host.busy_pct": "%",
    "host.steal_pct": "%",
    "trace.layer_sum_pct": "%",
    "trace.spans": "count",
    "trace.overhead_est_ms": "ms",
}
#: end-to-end figures the traced run also reports, so that traced minus
#: untraced gives the tracing overhead
TRACED_E2E = ("build_turns_per_s", "engine_query_p50_s", "query_p50_ms",
              "qps", "setup_s")
PER_LAYER.update({f"traced.{k}": E2E[k] for k in TRACED_E2E})

LAYERS = ("bench", "indexing.build", "queries.engine", "queries.serve",
          "queries.httpd", "analysis", "indexing.codec")

#: a traced run is refused when the layers' self times miss the run's wall
#: time by more than this share
LAYER_SUM_TOLERANCE_PCT = 1.0


def loop_layers(spans, loop: Span, dspans) -> dict:
    """layer -> seconds of a client loop's window (a span whose children
    are ``bench.client`` threads), split as the clients spent it: each
    client thread's self times per layer, with the coordinator calls' share
    that the shard daemon's request spans cover handed to the daemon's
    layers. Scaled to the loop span's duration (the clients run side by
    side)."""
    out: dict = {}
    for c in spans:
        if c.name == "bench.client" and c.parent == loop.sid:
            for layer, v in layer_self(thread_tree(spans, c)).items():
                out[layer] = out.get(layer, 0.0) + v
    inside = within(dspans, loop.start, loop.end)
    daemon = layer_self(inside)
    served = sum(daemon.values())
    out["queries.httpd"] = max(0.0, out.get("queries.httpd", 0.0) - served)
    for layer, v in daemon.items():
        out[layer] = out.get(layer, 0.0) + v
    total = sum(out.values())
    return {k: v * loop.dur / total for k, v in out.items()} if total else {}


def run_layers(spans, root: Span, dspans) -> dict:
    """layer -> self time over the run. The main thread's span tree gives
    each layer its self time; the client loops' windows, where the main
    thread only waits, are split by :func:`loop_layers`. The root span's
    own self time (work inside the run outside every named step) is left
    out, so that the sum falls short of the wall time by that much."""
    tree = thread_tree(spans, root)
    st = self_times(tree)
    out: dict = {}
    for s in tree:
        if s is not root:
            out[s.layer] = out.get(s.layer, 0.0) + st[s.sid]
    for loop in {s.parent for s in spans if s.name == "bench.client"}:
        sp = next((s for s in tree if s.sid == loop), None)
        if sp is None:
            continue
        out[sp.layer] -= st[sp.sid]
        for layer, v in loop_layers(spans, sp, dspans).items():
            out[layer] = out.get(layer, 0.0) + v * st[sp.sid] / sp.dur
    return out


def _stage_split(stage_sec: str, wall: float) -> dict:
    """``stage_sec`` JSON -> the five build stages; publish is the rest of
    the wall time (metrics, lineage and the live.json swap)."""
    out = {"ids": 0.0, "docs_pos": 0.0, "encode": 0.0, "term_bounds": 0.0}
    for k, v in json.loads(stage_sec).items():
        if k in ("ids", "term_bounds"):
            out[k] += v
        elif k.startswith("encode"):
            out["encode"] += v
        else:                    # docs_pos_parallel, corpus_stats, tf_partial
            out["docs_pos"] += v
    out["publish"] = max(0.0, wall - sum(out.values()))
    return out


def _index_sizes(index_dir: str) -> dict:
    seg_root = os.path.join(index_dir, "segments")
    sub = {"postings": "postings", "pos": "pos_partial",
           "doc_store": "doc_store", "term_dict": "term_dict"}
    out = dict.fromkeys(sub, 0)
    for s in os.listdir(seg_root):
        for k, d in sub.items():
            out[k] += du(os.path.join(seg_root, s, d))
    return out


def per_layer(run, root: Span, wall: float, e2e: dict, info: dict,
              cores: int, span_cost_s: float) -> dict:
    """Every per-layer metric of a traced run. ``root`` is the span around
    the workload, ``wall`` the workload's wall time as the runner measured
    it."""
    spans = run.tracer.spans
    jobs = sparklog.read_jobs(run.event_dir)
    m: dict = {}

    # -- indexing.build -------------------------------------------------------
    mb = info["main_builds"]
    nb = len(mb)
    stages = [_stage_split(r["stage_sec"], sp.dur) for sp, r in mb]
    for k in ("ids", "docs_pos", "encode", "term_bounds", "publish"):
        m[f"build.{k}_s"] = sum(s[k] for s in stages) / nb
    bj = sparklog.total(sparklog.jobs_in(jobs, [sp for sp, _ in mb]))
    m["build.executor_run_s"] = bj["run_s"] / nb
    m["build.executor_cpu_s"] = bj["cpu_s"] / nb
    m["build.jvm_gc_s"] = bj["gc_s"] / nb
    m["build.shuffle_write_bytes"] = bj["shuffle_write_bytes"] / nb
    m["build.spill_bytes"] = bj["spill_bytes"] / nb
    m["build.peak_exec_mem_bytes"] = bj["peak_exec_mem_bytes"]
    m["build.tasks"] = bj["tasks"] / nb
    m["build.core_busy_ratio"] = bj["run_s"] / (
        sum(sp.dur for sp, _ in mb) * cores)
    for k, v in _index_sizes(info["main_index"]).items():
        m[f"build.{k}_bytes"] = v

    for k, v in info["lsm"].items():
        m[f"lsm.{k}"] = v

    # -- queries.engine -------------------------------------------------------
    es = info["engine_spans"]
    nq = max(len(es), 1)
    ej = sparklog.jobs_in(jobs, es)
    et = sparklog.total(ej)
    m["engine.jobs_per_query"] = et["jobs"] / nq
    m["engine.tasks_per_query"] = et["tasks"] / nq
    m["engine.executor_run_s_per_query"] = et["run_s"] / nq
    m["engine.input_bytes_per_query"] = et["input_bytes"] / nq
    m["engine.shuffle_bytes_per_query"] = (et["shuffle_read_bytes"]
                                           + et["shuffle_write_bytes"]) / nq
    busy = sum(sparklog.total(sparklog.jobs_in(ej, [s]))["busy_s"]
               for s in es)
    m["engine.driver_s_per_query"] = (sum(s.dur for s in es) - busy) / nq

    # -- reader side, inside the shard daemon ---------------------------------
    dump = info["daemon"].dump
    dspans = [Span.from_dict(d) for d in dump["spans"]]
    lo, hi = info["reader_window"]
    dwin = within(dspans, lo, hi)
    reqs = [s for s in dwin if s.name == "httpd.request"]
    rs = reader_summary(dwin, reqs)
    m["analysis.py_tokens_ms"] = rs["tokens_ms"]
    m["codec.decode_ms"] = rs["decode_ms"]
    m["codec.decode_calls"] = rs["decode_calls"]
    m["codec.decoded_bytes"] = rs["decoded_bytes"]
    m["serve.expand_ms"] = rs["expand_ms"]
    m["serve.expansions_per_query"] = rs["expansions"]
    m["serve.method_ms"] = rs["method_ms"]
    m["serve.self_ms"] = rs["self_ms"]
    m["serve.decode_calls_per_term"] = rs["decode_calls_per_term"]
    m["serve.cpu_ms_per_query"] = rs["cpu_ms"]
    m["serve.rss_peak_mb"] = dump["vm_hwm_kb"] / 1024.0
    calls = top_level(within(spans, lo, hi), "httpd.client.")
    method_s = sum(s.dur for s in top_level(dwin, "serve.method."))
    m["httpd.overhead_ms"] = 1e3 * (sum(s.dur for s in calls)
                                    - method_s) / max(len(calls), 1)
    m["httpd.errors"] = info.get("http_errors", 0)

    # -- self time per layer -------------------------------------------------
    by_layer = run_layers(spans, root, dspans)
    for layer in LAYERS:
        m[f"self.{layer}_s"] = by_layer.get(layer, 0.0)
    m["trace.layer_sum_pct"] = 100.0 * sum(by_layer.values()) / wall

    busy_pct, steal_pct = host_pct(*info["host"])
    m["host.busy_pct"] = busy_pct
    m["host.steal_pct"] = steal_pct
    n_spans = len(spans) + len(dspans)
    m["trace.spans"] = n_spans
    m["trace.overhead_est_ms"] = 1e3 * n_spans * span_cost_s
    for k in TRACED_E2E:
        m[f"traced.{k}"] = e2e[k]
    return m


def span_cost(n: int = 20000) -> float:
    """Seconds one traced call adds, measured on a no-op function."""

    class Box:
        @staticmethod
        def f():
            return None

    t = time.perf_counter()
    for _ in range(n):
        Box.f()
    bare = time.perf_counter() - t
    tr = Tracer()
    tr.wrap(Box, "f", "bench")
    t = time.perf_counter()
    for _ in range(n):
        Box.f()
    return max(0.0, (time.perf_counter() - t - bare) / n)
