"""The declared layout of every index table, and the one way to read it.

Each table is one pyarrow schema of its FILE columns, in the order the
writers lay them out, plus the hive partition columns its directories
carry. The encoder writes ``postings`` and ``term_dict`` with these
schemas; the Spark writers of ``doc_store``, ``pos_partial`` and
``tf_partial`` produce them (a test compares every footer with its
declaration). Readers take the Spark form, :func:`spark_schema`, so a
table read runs no parquet schema-inference job.

A read with a declared schema ignores file columns the declaration does
not name, so segments written by older builds (term_dict bound columns,
the postings ``min_tf``/``max_dl`` pair) still read.
"""
from __future__ import annotations

import functools
import os

import pyarrow as pa

# one row per posting block; bucket and the build's group ride the
# directories (postings/group=<g>/bucket=<b>)
POSTINGS = pa.schema([
    ("field", pa.int32()), ("term", pa.string()),
    ("block_id", pa.int64()), ("n_docs", pa.int32()),
    ("first_doc", pa.int64()), ("last_doc", pa.int64()),
    ("max_score", pa.float64()), ("max_tf", pa.float64()),
    ("min_dl", pa.float64()), ("docs_bin", pa.binary()),
    ("tfs_bin", pa.binary()), ("dls_bin", pa.binary())])
TERM_DICT = pa.schema([
    ("field", pa.int32()), ("term", pa.string()),
    ("df", pa.float64()), ("cf", pa.int64()), ("term_id", pa.int64())])
# conv_id .. ts pass through from the transcripts contract
# (sources.TRANSCRIPT_SCHEMA); the build casts them onto it
DOC_STORE = pa.schema([
    ("doc_id", pa.int64()), ("conv_id", pa.string()),
    ("turn_idx", pa.int32()), ("role", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")), ("dl", pa.int64()),
    ("mdl", pa.int64()), ("kw_hash", pa.string()), ("prior", pa.float64())])
POS_PARTIAL = pa.schema([
    ("doc_id", pa.int64()), ("field", pa.int32()), ("dl", pa.int64()),
    ("pos", pa.int32()), ("term", pa.string())])
TF_PARTIAL = pa.schema([
    ("field", pa.int32()), ("term", pa.string()), ("doc_id", pa.int64()),
    ("dl", pa.int64()), ("tf", pa.int64())])

# table directory -> (file schema, hive partition columns, all int)
TABLES = {
    "postings": (POSTINGS, ("group", "bucket")),
    "term_dict": (TERM_DICT, ("bucket",)),
    "doc_store": (DOC_STORE, ()),
    "pos_partial": (POS_PARTIAL, ("bucket",)),
    "tf_partial": (TF_PARTIAL, ("bucket",)),
}


@functools.cache
def spark_schema(table: str):
    """The Spark read schema of ``table``: its file columns, then its
    partition columns (the order a hive-partitioned read returns)."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_schema
    schema, parts = TABLES[table]
    return T.StructType(from_arrow_schema(schema).fields
                        + [T.StructField(p, T.IntegerType()) for p in parts])


def read_segments(spark, seg_dirs: list, table: str):
    """``table`` of every segment in ``seg_dirs`` as one DataFrame, read
    with the declared schema: no inference job, one directory listing per
    segment. Every segment's frame carries exactly the declared columns,
    unioned by name."""
    schema = spark_schema(table)
    out = None
    for seg_dir in seg_dirs:
        path = os.path.join(seg_dir, table)
        d = spark.read.schema(schema).option("basePath", path).parquet(path)
        out = d if out is None else out.unionByName(
            d, allowMissingColumns=True)
    return out
