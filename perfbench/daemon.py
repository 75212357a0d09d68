"""Traced shard daemon: the ``planet_search_spark.queries.httpd`` CLI with
the reader layers instrumented.

    python perfbench/daemon.py SPANS_OUT INDEX_DIR [--port 0 ...]

Arguments after ``SPANS_OUT`` go to the daemon's own CLI unchanged. On
SIGTERM the daemon stops serving and writes its spans, its request spans'
CPU readings and its peak RSS (VmHWM) to ``SPANS_OUT`` as JSON.
"""
from __future__ import annotations

import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench.layers import cpu_s, instrument_serving  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def _vm_hwm_kb() -> int:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop(signum, frame):
    raise SystemExit(0)


def main(argv: list[str]) -> None:
    out_path, rest = argv[0], argv[1:]
    from http.server import ThreadingHTTPServer

    from planet_search_spark.queries import httpd

    tracer = Tracer()
    instrument_serving(tracer)
    handle = ThreadingHTTPServer.process_request_thread

    def traced_request(self, request, client_address):
        sp = tracer.begin("httpd.request", "queries.httpd")
        sp.attrs["cpu0"] = cpu_s()
        try:
            handle(self, request, client_address)
        finally:
            sp.attrs["cpu1"] = cpu_s()
            tracer.finish(sp)

    ThreadingHTTPServer.process_request_thread = traced_request
    signal.signal(signal.SIGTERM, _stop)
    try:
        httpd.main(rest)
    finally:
        with open(out_path + ".tmp", "w") as f:
            json.dump({"spans": [s.to_dict() for s in tracer.spans],
                       "vm_hwm_kb": _vm_hwm_kb()}, f)
        os.replace(out_path + ".tmp", out_path)


if __name__ == "__main__":
    main(sys.argv[1:])
