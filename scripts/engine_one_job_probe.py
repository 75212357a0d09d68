"""Engine query probe on a large single-segment index: wall time, Spark
jobs and bytes read of hydrated engine queries at 1 shard, 2 shards and
one shard per core.

Usage:
  python scripts/engine_one_job_probe.py build <index_dir> <sf_dir> [n_turns]
  python scripts/engine_one_job_probe.py run <index_dir> <out_json> \
      [--tree <source root>] [--label <name>]

``build`` writes a ``replicated_enriched_corpus`` of ``n_turns`` (default
1,000,000) over the ``documents`` table of ``sf_dir`` (the sf0.1 test data
for the committed report) and indexes it as one segment with the default
layout. ``run`` imports
``planet_search_spark`` from ``--tree`` (default: this checkout), so two
source trees can be probed on the same index, and appends one JSON record
per (query, shard count) to ``out_json``. The shard count (1, 2, one per
core) is forced by setting ``engine._SHARD_POSTINGS`` in this process: a
huge value gives one shard, 2/3 of the query's posting mass two, a tiny
value one per core.

Per query: the median wall time of 3 warm runs (after one warm-up), the
jobs of one run (counted under a job group), and the bytes read. The
rare term is the least term of ``term_dict`` bucket 0 with a df of at
most 2. ``spark_input_bytes`` is what the JVM's file scans read (task input
metrics from the event log); ``task_read_bytes`` splits what the shard
tasks read with pyarrow by table, counted by replaying the query's task
body in this process over a byte-counting filesystem. The JVM-side split
of a plan that scans postings and doc_store in Spark is taken as the
un-hydrated ``bm25_topk``'s input (postings) and the rest (doc_store).
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time
import uuid

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
K = 10
HOT = "merge window data"
HOT1 = "data"
ONE, MANY = 10**15, 1e-9       # _SHARD_POSTINGS for 1 shard / 1 per core


def _spark(log_dir: str | None = None):
    if log_dir:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            f"--conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.rolling.enabled=false pyspark-shell")
    from planet_search_spark.session import get_spark
    return get_spark("engine-one-job-probe")


def build(index_dir: str, sf_dir: str, n_turns: int) -> None:
    sys.path.insert(0, HERE)
    from planet_search_spark.indexing.build import build_index
    from planet_search_spark.transcripts import replicated_enriched_corpus
    spark = _spark()
    tx = replicated_enriched_corpus(spark, sf_dir, n_turns,
                                    out_path=index_dir + "_corpus")
    t0 = time.time()
    m = build_index(spark, tx, index_dir)
    print(json.dumps({"n_turns": tx.count(), "build_s": time.time() - t0,
                      "n_docs": m.get("n_docs")}))
    spark.stop()


class _Counting:
    """A read-only file that counts the bytes read through it."""

    def __init__(self, f, tally: dict, table: str):
        self.f, self.tally, self.table = f, tally, table
        self.closed = False

    def read(self, n=-1):
        b = self.f.read(n)
        self.tally[self.table] = self.tally.get(self.table, 0) + len(b)
        return b

    def seek(self, pos, whence=0):
        return self.f.seek(pos, whence)

    def tell(self):
        return self.f.tell()

    def seekable(self):
        return True

    def readable(self):
        return True

    def writable(self):
        return False

    def close(self):
        self.closed = True
        self.f.close()


def _counting_fs(tally: dict):
    """A local filesystem whose input files tally bytes read per table
    (the path component above the hive directories)."""
    import pyarrow as pa
    import pyarrow.fs as pafs

    local = pafs.LocalFileSystem()

    class Handler(pafs.FileSystemHandler):
        def get_type_name(self):
            return "counting"

        def normalize_path(self, path):
            return path

        def get_file_info(self, paths):
            return local.get_file_info(paths)

        def get_file_info_selector(self, selector):
            return local.get_file_info(selector)

        def open_input_file(self, path):
            parts = path.split(os.sep)
            table = next((p for p in ("postings", "doc_store", "pos_partial",
                                      "term_dict") if p in parts), "other")
            return pa.PythonFile(_Counting(open(path, "rb"), tally, table),
                                 mode="r")

        def open_input_stream(self, path):
            return self.open_input_file(path)

    def unused(self, *a, **kw):                  # the write side
        raise NotImplementedError

    for name in ("copy_file", "create_dir", "delete_dir",
                 "delete_dir_contents", "delete_file",
                 "delete_root_dir_contents", "move", "open_append_stream",
                 "open_output_stream"):
        setattr(Handler, name, unused)
    Handler.__abstractmethods__ = frozenset()
    return pafs.PyFileSystem(Handler())


def _replay_bytes(E, captured: list) -> dict:
    """Bytes the captured shard-task bodies read with pyarrow, by table,
    replayed in this process over the counting filesystem."""
    import pyarrow as pa
    import pyarrow.dataset as real_ds
    tally: dict = {}
    fs = _counting_fs(tally)

    class Shim:
        def __getattr__(self, name):
            return getattr(real_ds, name)

        @staticmethod
        def dataset(source, **kw):
            return real_ds.dataset(source, filesystem=fs, **kw)

    saved = E.ds
    E.ds = Shim()
    try:
        for run, n_shards in captured:
            ids = pa.RecordBatch.from_arrays(
                [pa.array(range(n_shards), pa.int64())], names=["id"])
            for _ in run(iter([ids])):
                pass
    finally:
        E.ds = saved
    return tally


def _jobs_input(log_dir: str, group: str) -> tuple:
    """(jobs, Σ task input bytes) of the job group ``group``."""
    jobs, stages, total = set(), set(), 0
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and ev.get(
                        "Properties", {}).get("spark.jobGroup.id") == group:
                    jobs.add(ev["Job ID"])
                    stages.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd" and \
                        ev["Stage ID"] in stages:
                    total += (ev.get("Task Metrics") or {}).get(
                        "Input Metrics", {}).get("Bytes Read", 0)
    return len(jobs), total


def run(index_dir: str, out_json: str, tree: str, label: str) -> None:
    # Spark's Python workers start in this directory with this PYTHONPATH:
    # both point at ``tree``, so they import the code under test
    os.chdir(tree)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (tree, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, tree)
    from planet_search_spark.queries import engine as E
    from planet_search_spark.queries.params import SearchParams
    log_dir = tempfile.mkdtemp(prefix="probe-evlog-")
    spark = _spark(log_dir)
    sc = spark.sparkContext
    idx = E.open_index(index_dir)
    td = E.datasets(idx.seg_dirs, "term_dict")[0].to_table(
        columns=["term", "df"],
        filter=(E.ds.field("field") == 0) & (E.ds.field("df") <= 2)
        & (E.ds.field("bucket") == 0))
    rare = min(td.column("term").to_pylist())
    queries = {
        "hot3_pruned": lambda h: E.bm25_topk(spark, index_dir, HOT, K,
                                             hydrate=h),
        "hot3_unpruned": lambda h: E.bm25_topk(spark, index_dir, HOT, K,
                                               prune=False, hydrate=h),
        "hot1": lambda h: E.bm25_topk(spark, index_dir, HOT1, K, hydrate=h),
        "rare": lambda h: E.bm25_topk(spark, index_dir, rare, K, hydrate=h),
        "search_tiers": lambda h: E.search(spark, index_dir, SearchParams(
            query=HOT, multifield=True, phrase_tiers=True, recency=True,
            k=K)),
    }
    texts = {"hot3_pruned": HOT, "hot3_unpruned": HOT, "hot1": HOT1,
             "rare": rare, "search_tiers": HOT}
    captured: list = []
    orig_task = E._shard_task

    def capture(*a, **kw):
        body = orig_task(*a, **kw)
        n_shards = a[10] if len(a) > 10 else None
        captured.append((body, n_shards))
        return body

    groups = []
    from planet_search_spark import analysis as A
    from planet_search_spark.indexing.build import FIELDS

    def posting_mass(name):
        fields = ((0, FIELDS["meta"]) if name == "search_tiers" else (0,))
        return sum(E._global_df(idx, A.py_tokens(texts[name]),
                                fields).values())

    for shards in ("1", "2", "per_core"):
        for name, q in queries.items():
            E._SHARD_POSTINGS = {"1": ONE, "per_core": MANY}.get(
                shards, posting_mass(name) / 1.5)
            for hydrate in ((True, False) if name != "search_tiers"
                            else (True,)):
                q(hydrate).collect()                      # warm-up
                walls = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    rows = q(hydrate).collect()
                    walls.append(time.perf_counter() - t0)
                group = f"probe-{uuid.uuid4().hex}"
                sc.setJobGroup(group, name)
                E._shard_task = capture
                captured.clear()
                try:
                    plan_df = q(hydrate)
                    plan_df.collect()
                finally:
                    E._shard_task = orig_task
                    sc.setLocalProperty("spark.jobGroup.id", None)
                plan = plan_df._jdf.queryExecution().executedPlan() \
                    .toString()
                import re
                m = re.search(r"splits=(\d+)", plan) or re.search(
                    r"hashpartitioning\(shard#\d+L?, (\d+)\)", plan)
                n_shards = int(m.group(1)) if m else 1
                task_bytes = (_replay_bytes(E, [(b, n or n_shards)
                                                for b, n in captured])
                              if hasattr(E, "block_source") else {})
                groups.append({"query": name, "text": texts[name],
                               "hydrate": hydrate,
                               "shards": shards, "n_shards": n_shards,
                               "wall_s": statistics.median(walls),
                               "walls_s": walls, "rows": len(rows),
                               "group": group, "task_read_bytes": task_bytes})
    spark.stop()
    out = []
    for g in groups:
        jobs, inp = _jobs_input(log_dir, g.pop("group"))
        g.update(tree=label, jobs=jobs, spark_input_bytes=inp)
        out.append(g)
    with open(out_json, "a") as f:
        for g in out:
            f.write(json.dumps(g) + "\n")
    for g in out:
        print(json.dumps(g))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["build", "run"])
    ap.add_argument("index_dir")
    ap.add_argument("rest", nargs="*")
    ap.add_argument("--tree", default=HERE)
    ap.add_argument("--label", default="change")
    a = ap.parse_args()
    if a.cmd == "build":
        build(a.index_dir, a.rest[0],
              int(a.rest[1]) if len(a.rest) > 1 else 1_000_000)
    else:
        run(os.path.abspath(a.index_dir), os.path.abspath(a.rest[0]),
            os.path.abspath(a.tree), a.label)


if __name__ == "__main__":
    main()
