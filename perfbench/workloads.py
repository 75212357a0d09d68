"""The benchmark's workloads.

Both workloads run the system's three jobs on their own seeded corpus, in
the order a user meets them, and differ in the path each job takes:

=========  =====================================  ==========================
step       ``hot``                                ``tail``
=========  =====================================  ==========================
set-up     Spark start                            Spark start; ``build_index``
                                                  of the corpus (the session's
                                                  first build)
build      ``build_index`` of the corpus into a   ``incremental_update`` of a
           fresh index: the session's first       small batch (a warm build
           build, as a batch job runs it          where per-job cost
                                                  dominates), then
                                                  ``maybe_compact`` (two
                                                  segments -> one, GC)
engine     pruned and unpruned BM25 and the full  AND, dis_max and a phrase
           ``search`` composition, over base-     prefix, over rare tokens
           vocabulary words
serve      Spark stops; one shard daemon serves the built index to a closed
           loop of ``CLIENTS`` threads for ``--seconds``
queries    1-3 base-vocabulary words: about 60    1-3 rare tokens sampled
           (field, term) keys, resident in the    from the corpus: far more
           4,096-entry term cache after warm-up,  distinct terms than the
           each with postings in most documents   term cache holds, so
                                                  nearly every term is
                                                  fetched and decoded
=========  =====================================  ==========================

Each check counts towards ``attempted``/``failed``.
"""
from __future__ import annotations

import json
import random
import time

from . import gen
from .harness import (ClosedLoop, Run, call, canon, cpu_stat, du, median,
                      percentile, same_answer, tail_pct, well_formed)

#: turns of the corpus (the served index), and of the batch ``tail``
#: appends to it
CORPUS_TURNS = 6_000
APPEND_TURNS = 1_000
#: client threads of the serving load (closed loop), the count whose
#: figures held steadiest (perfbench/WORKLOADS.md, "Client counts").
#: ``hot``: one, since two already saturate its CPU-bound reader (one
#: Python process), and a saturated reader's latency swings with CPU steal
#: far more than its service time does. ``tail``: four (= nproc); its
#: reader mostly waits on pyarrow reads, and a lone client's latency swung
#: 2-3x with the host's slow phases
CLIENTS = {"hot": 1, "tail": 4}
#: queries after each publish on ``tail``, in the serving warm-up, and in
#: the HTTP-vs-in-process sample
PUBLISH_READS = 12
WARMUP = {"hot": 200, "tail": 80}
GATE_SAMPLE = 16
K = 10


def _scaled(n: int, scale: float) -> int:
    return max(200, int(n * scale))


def _text_bytes(cols: dict) -> int:
    return sum(len(t.encode("utf-8")) for t in cols["text"])


def _check(run: Run, ok: bool, what: str):
    run.attempted += 1
    if not ok:
        run.failed += 1
        run.notes.append(f"FAILED: {what}")


def _engine_rows(rows, method: str) -> list:
    out = canon(rows)
    return sorted(out) if method.startswith("phrase") else out


def _engine_query(run: Run, index_dir: str, fn: str, args, kwargs):
    """One Spark-engine query, materialized; returns (rows, seconds)."""
    from planet_search_spark.queries import engine as E
    from planet_search_spark.queries.params import SearchParams
    a = [SearchParams(**args[0])] if fn == "search" else list(args)
    with run.tracer.span("engine.query", "queries.engine"):
        t = time.perf_counter()
        rows = getattr(E, fn)(run.spark, index_dir, *a, **kwargs).collect()
        dt = time.perf_counter() - t
    return rows, dt


def _live(index_dir: str) -> list:
    with open(f"{index_dir}/live.json") as f:
        return json.load(f)["segments"]


def _read_after_publish(run: Run, index_dir: str, expect: int,
                        reads: list) -> int:
    """Fresh LocalSearcher after a publish: check the live document count
    and time a few hot queries. Returns the live segment count."""
    from planet_search_spark.queries.serve import LocalSearcher
    srv = LocalSearcher(index_dir)
    _check(run, srv.n_docs == expect, "live n_docs after publish")
    for q in gen.hot_queries(run.seed + len(reads), PUBLISH_READS, K):
        t = time.perf_counter()
        rows = call(srv, q)
        reads.append(time.perf_counter() - t)
        _check(run, well_formed(q, rows), f"read after publish {q}")
    return len(srv.seg_dirs)


def _setup(run: Run, scale: float) -> dict:
    """Spark and the corpus file."""
    cols = gen.corpus_rows(run.seed, _scaled(CORPUS_TURNS, scale))
    run.start_spark()
    return {"cols": cols, "path": run.write_corpus("corpus", cols),
            "rare": gen.rare_terms(cols)}


def _engine_batch(run: Run, index_dir: str, inp: dict, tail: bool):
    lat, results = [], []
    for name, fn, args, kw in gen.engine_queries(run.seed, inp["rare"], K,
                                                 tail):
        rows, dt = _engine_query(run, index_dir, fn, args, kw)
        lat.append(dt)
        results.append((name, fn, args, kw, rows))
    return lat, results


def hot(run: Run, scale: float = 1.0):
    from planet_search_spark.indexing import build as B
    T = run.tracer
    t_setup = time.time()
    with T.span("bench.setup"):
        inp = _setup(run, scale)
    setup_s = time.time() - t_setup
    idx = run.path("index")
    h0 = cpu_stat()
    with T.span("bench.measure"):
        with T.span("bench.build") as bsp:
            t = time.perf_counter()
            m = B.build_index(run.spark, run.spark.read.parquet(inp["path"]),
                              idx)
            build_s = time.perf_counter() - t
        _check(run, m["n_docs"] == gen.non_empty(inp["cols"]),
               "index n_docs")
        lat, results = _engine_batch(run, idx, inp, tail=False)
        sv = _serve(run, idx, inp, tail=False)
    e2e, info = _finish(run, idx, inp, lat, results, sv, setup_s, h0)
    e2e["build_turns_per_s"] = m["n_docs"] / build_s
    e2e["index_bytes_per_text_byte"] = du(idx) / _text_bytes(inp["cols"])
    info["main_builds"] = [(bsp, m)]
    info["lsm"] = dict.fromkeys(LSM_KEYS, 0)
    return e2e, info


LSM_KEYS = ("append_s", "compact_s", "compact_turns_per_s", "write_amp",
            "bytes_rewritten", "compactions", "live_segments_max",
            "gc_removed")


def tail(run: Run, scale: float = 1.0):
    from planet_search_spark.indexing import build as B
    from planet_search_spark.queries.serve import LocalSearcher
    T = run.tracer
    idx = run.path("index")
    t_setup = time.time()
    with T.span("bench.setup"):
        inp = _setup(run, scale)
        B.build_index(run.spark, run.spark.read.parquet(inp["path"]), idx)
        n_base = gen.non_empty(inp["cols"])
        _check(run, LocalSearcher(idx).n_docs == n_base, "index n_docs")
        app = gen.corpus_rows(run.seed, _scaled(APPEND_TURNS, scale),
                              first_turn=len(inp["cols"]["text"]))
        app_path = run.write_corpus("append", app)
    setup_s = time.time() - t_setup
    seg_root = f"{idx}/segments"
    n_all = n_base + gen.non_empty(app)
    reads: list = []
    h0 = cpu_stat()
    with T.span("bench.measure"):
        before = du(idx)
        with T.span("bench.build") as bsp:
            t = time.perf_counter()
            m = B.incremental_update(run.spark, idx, run.spark.read.parquet(
                app_path))
            build_s = time.perf_counter() - t
        appended = du(idx) - before
        _check(run, m["n_docs"] == n_all - n_base, "appended n_docs")
        segs = _read_after_publish(run, idx, n_all, reads)
        live_before = _live(idx)
        t = time.perf_counter()
        c = B.maybe_compact(run.spark, idx, max_segments=2)
        compact_s = time.perf_counter() - t
        live = _live(idx)
        _check(run, not c.get("skipped") and len(live) == 1,
               "compaction to one segment")
        rewritten = sum(du(f"{seg_root}/{s}") for s in live
                        if s not in live_before)
        _read_after_publish(run, idx, n_all, reads)
        lat, results = _engine_batch(run, idx, inp, tail=True)
        sv = _serve(run, idx, inp, tail=True)
    e2e, info = _finish(run, idx, inp, lat, results, sv, setup_s, h0)
    live_bytes = du(idx)
    e2e["build_turns_per_s"] = m["n_docs"] / build_s
    e2e["index_bytes_per_text_byte"] = live_bytes / (
        _text_bytes(inp["cols"]) + _text_bytes(app))
    info["main_builds"] = [(bsp, m)]
    info["lsm"] = {"append_s": build_s, "compact_s": compact_s,
                   "compact_turns_per_s": n_all / compact_s,
                   "write_amp": (appended + rewritten) / live_bytes,
                   "bytes_rewritten": rewritten, "compactions": 1,
                   "live_segments_max": segs,
                   "gc_removed": len(c.get("gc_removed", []))}
    e2e["_lsm"] = {"read_p50_ms": 1e3 * median(reads), **info["lsm"]}
    return e2e, info


def _serve(run: Run, idx: str, inp: dict, tail: bool) -> dict:
    """Stop Spark, start the shard daemon, warm it up (counted as set-up)
    and drive the closed loop for ``--seconds``."""
    T, seed, rare = run.tracer, run.seed, inp["rare"]
    run.stop_spark()
    t_serve = time.time()
    d = run.start_daemon(idx)
    warm = (gen.tail_queries(seed + 7_919, WARMUP["tail"], rare, K) if tail
            else gen.hot_queries(seed + 7_919, WARMUP["hot"], K))
    with T.span("bench.warmup"):
        wl = ClosedLoop(run, d.url, warm, CLIENTS[run.workload])
        wl.drive(count=len(warm), keep=False)
    setup_s = time.time() - t_serve
    queries = (gen.tail_queries(seed, 20_000, rare, K) if tail
               else gen.hot_queries(seed, 20_000, K))
    loop = ClosedLoop(run, d.url, queries, CLIENTS[run.workload])
    t0 = time.time()
    with T.span("bench.load"):
        wall = loop.drive(seconds=run.seconds)
    return {"daemon": d, "warm": wl, "loop": loop, "queries": queries,
            "setup_s": setup_s, "t0": t0, "wall": wall}


def _finish(run: Run, idx: str, inp: dict, lat: list, results: list,
            sv: dict, setup_s: float, h0: tuple):
    """Answer checks after the load, then the figures both workloads
    share."""
    from planet_search_spark.queries.httpd import HttpShardedSearcher
    from planet_search_spark.queries.serve import LocalSearcher
    h1 = cpu_stat()
    d, wl, loop, queries = sv["daemon"], sv["warm"], sv["loop"], \
        sv["queries"]
    with run.tracer.span("bench.verify"):
        by = {r[0]: r[4] for r in results}
        for name in by:
            if name.startswith("bm25_pruned."):
                other = name.replace("pruned", "unpruned")
                _check(run, _engine_rows(by[name], "bm25_topk")
                       == _engine_rows(by[other], "bm25_topk"),
                       f"engine {name} == {other}")
        srv = LocalSearcher(idx)
        for name, fn, args, kw, rows in results:
            _check(run, _engine_rows(rows, fn)
                   == _engine_rows(call(srv, (fn, args, kw)), fn),
                   f"engine == LocalSearcher for {name}")
        run.attempted += len(wl.queries) + len(loop.lat) + len(loop.errors)
        run.failed += (len(wl.errors) + wl.bad + len(loop.errors)
                       + loop.bad)
        for e in (wl.errors + loop.errors)[:3]:
            run.notes.append(f"FAILED: {e}")
        # served answers == in-process answers on a seeded sample of the
        # load's queries: as recorded under load, and asked again now
        coord = HttpShardedSearcher([d.url], timeout=60.0, retries=0)
        done = sorted(loop.answers)
        for i in sorted(random.Random(run.seed).sample(
                done, min(GATE_SAMPLE, len(done)))):
            q = queries[i % len(queries)]
            want = json.loads(json.dumps(call(srv, q)))
            _check(run, same_answer(loop.answers[i], want),
                   f"HTTP (under load) == LocalSearcher for {q}")
            _check(run, same_answer(call(coord, q), want),
                   f"HTTP == LocalSearcher for {q}")
        d.stop()
    n_lat, wall = len(loop.lat), sv["wall"]
    tail_p = tail_pct(n_lat)
    e2e = {
        "setup_s": setup_s + sv["setup_s"],
        "engine_query_p50_s": median(lat),
        "query_p50_ms": 1e3 * median(loop.lat),
        "query_tail_ms": 1e3 * percentile(loop.lat, tail_p),
        "qps": n_lat / wall,
        # detail, printed on the line before the result
        "_samples": n_lat, "_tail_pct": tail_p, "_load_s": wall,
        "_engine_s": {r[0]: dt for r, dt in zip(results, lat)},
    }
    info = {"main_index": idx, "daemon": d,
            "engine_spans": [s for s in run.tracer.spans
                             if s.name == "engine.query"],
            "reader_window": (sv["t0"], sv["t0"] + wall), "host": (h0, h1),
            "http_errors": len(loop.errors)}
    return e2e, info


WORKLOADS = {"hot": hot, "tail": tail}
