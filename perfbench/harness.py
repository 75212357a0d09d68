"""Shared machinery of the workloads: the run's working directory and Spark
session, corpus files, the shard daemon process, the closed-loop client,
and small statistics helpers.

Everything a run writes lives under ``.perfbench_work/`` in the current
directory and is removed when the run ends.
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

from .trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: percentiles tried, highest first, for the latency tail: the reported
#: tail is the highest one with at least ten samples beyond it. The ladder
#: stops at p95 so that a run's tail percentile does not flip with its
#: sample count: both workloads complete 300-1,000 queries in a run
TAIL_LADDER = (95.0, 90.0, 75.0, 50.0)


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def tail_pct(n: int) -> float:
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return 100.0


def percentile(xs: list, p: float) -> float:
    """Nearest-rank percentile (``p`` = 100 gives the maximum)."""
    s = sorted(xs)
    if not s:
        raise ValueError("no samples")
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def median(xs: list) -> float:
    return statistics.median(xs)


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


def cpu_stat() -> tuple:
    """(busy, steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle = v[3] + v[4]
    steal = v[7] if len(v) > 7 else 0
    total = sum(v[:8])
    return total - idle - steal, steal, total


def host_pct(a: tuple, b: tuple) -> tuple:
    d = max(b[2] - a[2], 1)
    return 100.0 * (b[0] - a[0]) / d, 100.0 * (b[1] - a[1]) / d


class Run:
    """One benchmark run: working directory, tracer and Spark session."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced = traced
        self.tracer = Tracer(enabled=traced)
        self.work = os.path.join(os.getcwd(), ".perfbench_work",
                                 f"run-{os.getpid()}")
        # Spark's Python workers and the shard daemon import the program
        # from this checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p])
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.event_dir = os.path.join(self.work, "eventlog")
        self.spark = None
        self.procs: list = []
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    # -- Spark ---------------------------------------------------------------

    def start_spark(self):
        """Spark on ``local[nproc]`` with all temporary files in the run dir;
        the event log is on only when tracing."""
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(ncpus())
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # the JVMs' temporary files go to the run dir too; -XX:-UsePerfData
        # keeps them from writing an hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                           "-XX:-UsePerfData")
        args = "--conf spark.ui.showConsoleProgress=false "
        if self.traced:
            from .sparklog import submit_args
            os.makedirs(self.event_dir)
            os.environ["PYSPARK_SUBMIT_ARGS"] = args + submit_args(
                self.event_dir)
        else:
            os.environ["PYSPARK_SUBMIT_ARGS"] = args + "pyspark-shell"
        from planet_search_spark.session import get_spark
        self.spark = get_spark(app=f"perfbench-{self.workload}",
                               cores=ncpus())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self):
        """Stop the session and wait for its JVM to exit (the JVM leaves
        when the pipe on its standard input closes)."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        SparkContext._gateway = SparkContext._jvm = None
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    # -- inputs --------------------------------------------------------------

    def write_corpus(self, name: str, cols: dict) -> str:
        """Write generated turns as the transcripts table (parquet)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        path = self.path(f"{name}.parquet")
        pq.write_table(pa.table({
            "conv_id": pa.array(cols["conv_id"], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
            "ts": pa.array([s * 1_000_000 for s in cols["ts_s"]],
                           pa.timestamp("us", tz="UTC")),
        }), path)
        return path

    # -- shard daemon ----------------------------------------------------------

    def start_daemon(self, index_dir: str) -> "Daemon":
        d = Daemon(self, index_dir, len(self.procs))
        self.procs.append(d)
        return d

    def close(self):
        for d in self.procs:
            d.stop()
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))
            except OSError:
                pass     # another run's directory is still there


class Daemon:
    """One shard daemon process. Untraced runs start the documented CLI
    (``python -m planet_search_spark.queries.httpd``); traced runs start
    the same CLI through ``perfbench/daemon.py``, which dumps its spans
    when stopped."""

    def __init__(self, run: Run, index_dir: str, n: int):
        self.spans_path = run.path(f"daemon{n}.json")
        if run.traced:
            cmd = [sys.executable, os.path.join(HERE, "daemon.py"),
                   self.spans_path, index_dir, "--port", "0"]
        else:
            cmd = [sys.executable, "-m", "planet_search_spark.queries.httpd",
                   index_dir, "--port", "0"]
        self.traced = run.traced
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, cwd=ROOT,
                                     text=True)
        line = self.proc.stdout.readline()
        if not line:
            self.proc.wait(timeout=30)
            raise RuntimeError(f"shard daemon exited with "
                               f"{self.proc.returncode} before serving")
        self.url = json.loads(line)["url"]
        self.dump = None

    def stop(self):
        """SIGTERM, wait, and (traced) load the span dump."""
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)
        self.proc.stdout.close()
        if self.traced and self.dump is None and os.path.exists(
                self.spans_path):
            with open(self.spans_path) as f:
                self.dump = json.load(f)


# ---------------------------------------------------------------------------
# Query execution and answer checking
# ---------------------------------------------------------------------------

def call(searcher, q):
    """Run one (method, args, kwargs) query on a LocalSearcher-like
    object (``search`` takes SearchParams fields as a dict)."""
    from planet_search_spark.queries.params import SearchParams
    method, args, kwargs = q
    if method == "search":
        args = [SearchParams(**args[0])]
    return getattr(searcher, method)(*args, **kwargs)


def canon(rows) -> list:
    """Rows as compared across paths: (doc_id, score rounded to 10
    places), in result order; phrase results are doc_ids."""
    out = []
    for r in rows:
        r = r if isinstance(r, dict) else r.asDict()
        s = r.get("score")
        out.append((int(r["doc_id"]),
                    None if s is None else round(float(s), 10)))
    return out


def same_answer(got: list, want: list) -> bool:
    """Same rows in the same order: equal :func:`canon` keys and equal
    fields apart from the score."""
    if canon(got) != canon(want):
        return False
    return all({k: v for k, v in g.items() if k != "score"}
               == {k: v for k, v in w.items() if k != "score"}
               for g, w in zip(got, want))


def well_formed(q, rows) -> bool:
    """Structural check of a served answer: a list of rows with doc ids,
    at most k of them, ordered as the engine orders them."""
    if not isinstance(rows, list):
        return False
    method, args, kwargs = q
    if any(not isinstance(r, dict) or "doc_id" not in r for r in rows):
        return False
    if method.startswith("phrase"):
        ids = [r["doc_id"] for r in rows]
        return ids == sorted(set(ids))
    k = args[0]["k"] if method == "search" else kwargs.get("k", 20)
    keys = [(-r["score"], r["doc_id"]) for r in rows]
    return len(rows) <= k and keys == sorted(keys)


class ClosedLoop:
    """``clients`` threads, each sending its next query only after the
    previous answer arrived, for ``seconds``. Each client has its own
    coordinator (a coordinator's fan-out pool has one worker per shard,
    so sharing one would serialize the clients)."""

    def __init__(self, run: Run, url: str, queries: list, clients: int):
        from planet_search_spark.queries.httpd import HttpShardedSearcher
        self.run, self.queries = run, queries
        self.coords = [HttpShardedSearcher([url], timeout=60.0, retries=0)
                       for _ in range(clients)]
        self.lat: list = []          # seconds, completed queries
        self.answers: dict = {}      # query index -> rows
        self.errors: list = []
        self.bad = 0
        self._next = 0
        self._lock = threading.Lock()

    def _take(self):
        with self._lock:
            i = self._next
            self._next += 1
        return i

    def _client(self, coord, deadline, count, root, keep):
        tracer = self.run.tracer
        with tracer.span("bench.client", parent=root):
            while time.time() < deadline:
                i = self._take()
                if count is not None and i >= count:
                    break
                q = self.queries[i % len(self.queries)]
                t = time.perf_counter()
                try:
                    rows = call(coord, q)
                except Exception as e:  # noqa: BLE001 — counted as failed
                    with self._lock:
                        self.errors.append(f"{q[0]}: {e}")
                    continue
                dt = time.perf_counter() - t
                ok = well_formed(q, rows)
                with self._lock:
                    self.lat.append(dt)
                    if not ok:
                        self.bad += 1
                    if keep:
                        self.answers[i] = rows

    def drive(self, seconds: float = 120.0, count: int | None = None,
              keep: bool = True) -> float:
        """Run the loop for ``seconds`` or until ``count`` queries were
        taken; returns the wall time it took."""
        root = self.run.tracer.current()
        t0 = time.time()
        deadline = t0 + seconds
        ths = [threading.Thread(target=self._client,
                                args=(c, deadline, count, root, keep))
               for c in self.coords]
        for t in ths:
            t.start()
        for t in ths:
            t.join(timeout=seconds + 120)
        if any(t.is_alive() for t in ths):
            raise RuntimeError("client thread did not finish")
        return time.time() - t0
