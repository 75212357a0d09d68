"""Tracer arithmetic: self time, layer sums, span selection, the event
log fold, and the percentile rule."""
import json
import threading

import pytest

from perfbench import sparklog
from perfbench.harness import percentile, same_answer, tail_pct
from perfbench.layers import reader_summary
from perfbench.trace import (Span, Tracer, layer_self, self_times,
                             thread_tree, top_level, union_length, within)


def span(sid, parent, start, end, layer="bench", name=None, thread=1,
         **attrs):
    s = Span(sid, parent, name or f"s{sid}", layer, thread, start)
    s.end, s.attrs = end, attrs
    return s


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_covered_children_once():
    spans = [span(1, None, 0, 10), span(2, 1, 1, 4), span(3, 1, 3, 6),
             span(4, 2, 2, 3)]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5)       # children cover [1, 6]
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def test_self_times_sum_to_root_on_one_thread():
    spans = [span(1, None, 0, 10, "bench"), span(2, 1, 1, 4, "a"),
             span(3, 2, 2, 3, "b"), span(4, 1, 5, 9, "a"),
             span(5, 4, 6, 8, "c")]
    by = layer_self(spans)
    assert sum(by.values()) == pytest.approx(10)
    assert by == pytest.approx({"bench": 3, "a": 4, "b": 1, "c": 2})


def test_children_are_clipped_to_the_parent():
    st = self_times([span(1, None, 0, 4), span(2, 1, 3, 9)])
    assert st[1] == pytest.approx(3)


def test_thread_tree_keeps_the_roots_thread():
    spans = [span(1, None, 0, 10), span(2, 1, 1, 9, thread=2),
             span(3, 2, 2, 3, thread=2), span(4, 1, 4, 5)]
    assert {s.sid for s in thread_tree(spans, spans[0])} == {1, 4}


def test_top_level_counts_nested_calls_once():
    spans = [span(1, None, 0, 10, name="serve.method.search"),
             span(2, 1, 1, 2, name="serve.method.phrase_match"),
             span(3, None, 11, 12, name="serve.method.bm25_topk")]
    assert [s.sid for s in top_level(spans, "serve.method.")] == [1, 3]
    assert [s.sid for s in within(spans, 0.5, 12)] == [2, 3]


def test_tracer_wraps_and_nests():
    class Box:
        @staticmethod
        def outer():
            return Box.inner() + 1

        @staticmethod
        def inner():
            return 1

        @staticmethod
        def boom():
            raise KeyError("x")

    t = Tracer()
    t.wrap(Box, "outer", "a")
    t.wrap(Box, "inner", "b")
    t.wrap(Box, "boom", "c")
    with t.span("root") as root:
        assert Box.outer() == 2
        with pytest.raises(KeyError):
            Box.boom()
    by = {s.name: s for s in t.spans}
    assert by["b.inner"].parent == by["a.outer"].sid
    assert by["a.outer"].parent == root.sid
    assert by["c.boom"].end is not None
    assert sum(layer_self(t.spans).values()) == pytest.approx(root.dur)


def test_tracer_keeps_a_stack_per_thread():
    t = Tracer()
    with t.span("root") as root:
        def work():
            with t.span("client", parent=root):
                with t.span("call", "queries.httpd"):
                    pass
        th = threading.Thread(target=work)
        th.start()
        th.join(timeout=10)
    assert not th.is_alive()
    by = {s.name: s for s in t.spans}
    assert by["call"].parent == by["client"].sid
    assert by["client"].parent == root.sid
    assert by["call"].thread != root.thread


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)

    class Box:
        f = staticmethod(lambda: 3)
    t.wrap(Box, "f", "a")
    with t.span("root") as sp:
        assert sp is None and Box.f() == 3
    assert t.spans == []


def test_percentile_rule():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile(xs, 100) == 100
    assert tail_pct(5000) == 95.0       # the ladder's top
    assert tail_pct(200) == 95.0        # 10 samples beyond p95
    assert tail_pct(199) == 90.0
    assert tail_pct(15) == 100.0        # too few: the maximum


def test_same_answer_tolerates_last_bit_score_differences():
    a = [{"doc_id": 1, "score": 0.1 + 0.2, "conv_id": "c"}]
    b = [{"doc_id": 1, "score": 0.3, "conv_id": "c"}]
    assert same_answer(a, b)
    assert not same_answer(a, [{"doc_id": 1, "score": 0.3, "conv_id": "d"}])
    assert not same_answer(a, [{"doc_id": 2, "score": 0.3, "conv_id": "c"}])


def _event_log(tmp_path):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000_000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 300, "Executor CPU Time": 2 * 10**8,
            "JVM GC Time": 10, "Peak Execution Memory": 50,
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2,
            "Input Metrics": {"Bytes Read": 100},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                     "Local Bytes Read": 2}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 200, "Peak Execution Memory": 80}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 1002_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 1005_000, "Stage IDs": [2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 1000}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 1006_500},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in evs))
    return str(tmp_path)


def test_event_log_fold(tmp_path):
    jobs = sparklog.read_jobs(_event_log(tmp_path))
    assert [j["id"] for j in jobs] == [0, 1]
    j0 = jobs[0]
    assert (j0["start"], j0["end"]) == (1000.0, 1002.0)
    assert j0["tasks"] == 2
    assert j0["run_s"] == pytest.approx(0.5)
    assert j0["cpu_s"] == pytest.approx(0.2)
    assert j0["gc_s"] == pytest.approx(0.01)
    assert j0["input_bytes"] == 100
    assert j0["shuffle_write_bytes"] == 7
    assert j0["shuffle_read_bytes"] == 3
    assert j0["spill_bytes"] == 3
    assert j0["peak_exec_mem_bytes"] == 80
    win = [span(1, None, 999.5, 1003)]
    assert [j["id"] for j in sparklog.jobs_in(jobs, win)] == [0]
    tot = sparklog.total(jobs)
    assert tot["jobs"] == 2 and tot["tasks"] == 3
    assert tot["busy_s"] == pytest.approx(3.5)
    assert tot["peak_exec_mem_bytes"] == 80


def test_reader_summary_per_query_arithmetic():
    spans = [
        span(1, None, 0.0, 0.010, "queries.httpd", "httpd.request",
             cpu0=1.0, cpu1=1.004),
        span(2, 1, 0.001, 0.009, "queries.serve", "serve.method.search"),
        span(3, 2, 0.001, 0.002, "analysis", "analysis.py_tokens", n=2),
        span(4, 2, 0.002, 0.004, "queries.serve",
             "serve.expand.expand_prefix", n=5),
        span(5, 2, 0.005, 0.006, "indexing.codec",
             "codec.decode_positions", bytes=40),
        # decode_positions calls varbyte_decode, wrapped too: counted once
        span(9, 5, 0.0052, 0.0058, "indexing.codec",
             "codec.varbyte_decode", bytes=30),
        span(6, 2, 0.006, 0.007, "queries.serve",
             "serve.method.phrase_match"),
        span(7, None, 0.020, 0.030, "queries.httpd", "httpd.request",
             cpu0=1.004, cpu1=1.010),
        span(8, 7, 0.021, 0.029, "queries.serve", "serve.method.bm25_topk"),
    ]
    rs = reader_summary(spans, [spans[0], spans[7]])
    assert rs["requests"] == 2
    assert rs["method_ms"] == pytest.approx((8 + 8) / 2)
    assert rs["tokens_ms"] == pytest.approx(0.5)
    assert rs["expand_ms"] == pytest.approx(1.0)
    assert rs["decode_ms"] == pytest.approx(0.5)
    assert rs["self_ms"] == pytest.approx(8 - 0.5 - 1.0 - 0.5)
    assert rs["decode_calls_per_term"] == pytest.approx(1 / 7)
    assert rs["decode_calls"] == pytest.approx(0.5)
    assert rs["decoded_bytes"] == pytest.approx(20)
    assert rs["expansions"] == pytest.approx(2.5)
    assert rs["cpu_ms"] == pytest.approx(5.0)


def test_run_layers_split_the_load_window_by_the_clients():
    from perfbench.metrics import run_layers
    spans = [
        span(1, None, 0, 20, name="bench.run"),
        span(2, 1, 0, 8, "indexing.build", "build.build_index"),
        span(3, 1, 8, 18, name="bench.load"),
        # two clients, each on its own thread: coordinator calls with
        # client-side bookkeeping between them
        span(4, 3, 8, 18, name="bench.client", thread=2),
        span(5, 4, 8, 16, "queries.httpd", "httpd.client.bm25_topk",
             thread=2),
        span(6, 3, 8, 18, name="bench.client", thread=3),
        span(7, 6, 9, 17, "queries.httpd", "httpd.client.bm25_topk",
             thread=3),
    ]
    # the shard daemon's request spans, inside the two calls
    dspans = [
        span(11, None, 9, 14, "queries.httpd", "httpd.request", thread=9),
        span(12, 11, 9, 13, "queries.serve", "serve.method.bm25_topk",
             thread=9),
        span(13, None, 10, 15, "queries.httpd", "httpd.request",
             thread=8),
        span(14, 13, 10, 14, "queries.serve", "serve.method.bm25_topk",
             thread=8),
    ]
    by = run_layers(spans, spans[0], dspans)
    # the load window's 10 s split as the clients' 20 s were: 4 s client
    # bookkeeping, 6 s calls outside the daemon, 2 s request handling,
    # 8 s reader; the root's own 2 s (18-20) is nobody's
    assert by == pytest.approx({"indexing.build": 8, "bench": 2,
                                "queries.httpd": 4, "queries.serve": 4})
    assert sum(by.values()) == pytest.approx(18)
