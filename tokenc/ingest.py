"""Ingestion frontends: CSV / JSON / Arrow → tokens table.

The reference ships dedicated CSVWriter/JSONWriter/ArrowWriter frontends
(writer/csv.go:26-47, writer/json.go:24-46, writer/arrow.go:31-57,
marshal/json.go:18); on Spark these collapse to `spark.read.{csv,json}` +
casts — the engine consumes any DataFrame matching the tokens schema.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

TOKENS_SPARK_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("tokens", ArrayType(IntegerType())),
    StructField("n_tok", IntegerType()),
    StructField("source", StringType()),
])


def tokens_from_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON lines {"doc_id": ..., "tokens": [...], "source": ...}."""
    df = spark.read.schema(TOKENS_SPARK_SCHEMA).json(path)
    return df.withColumn("n_tok", F.coalesce(F.col("n_tok"), F.size("tokens")))


def tokens_from_csv(spark: SparkSession, path: str, sep: str = ",",
                    token_sep: str = " ") -> DataFrame:
    """CSV with columns doc_id, tokens (token_sep-joined ints), source —
    string→typed conversion ≙ reference types.StrToParquetType
    (types/types.go:81-204), done by Spark casts."""
    raw = spark.read.option("header", "true").option("sep", sep).csv(path)
    # split()'s second argument is a Java REGEX: a metachar separator like
    # '|' or '.' would split on every character (and a quote would break
    # the generated SQL), so build the split column-side with a quoted
    # literal pattern instead of interpolating into an expr string
    toks = F.transform(
        F.filter(F.split(F.col("tokens"), re.escape(token_sep)),
                 lambda x: F.length(x) > 0),
        lambda x: x.cast("int"))
    return (raw.select(
        F.col("doc_id").cast("string"),
        toks.alias("tokens"),
        F.col("source").cast("string"))
        .withColumn("n_tok", F.size("tokens").cast("int"))
        .select("doc_id", "tokens", "n_tok", "source"))


# --------------------------------------------------------------------------
# Avro OCF source (beyond-reference format; reference frontends are
# CSV/JSON/Arrow). Spark's own avro reader lives in an external package;
# this one rides tokenc's from-scratch OCF codec (tokenc/avro.py, public
# Avro 1.11 spec), so any engine's Avro output ingests with zero deps.
# --------------------------------------------------------------------------

_AVRO_ARROW = {"string": "string", "bytes": "binary", "int": "int32",
               "long": "int64", "float": "float32", "double": "float64",
               "boolean": "bool"}


def _avro_arrow_field(f: dict):
    import pyarrow as pa

    t = f["type"]
    nullable = False
    if isinstance(t, list):  # union — only ["null", X] supported
        branches = [b for b in t if b != "null"]
        if len(branches) != 1:
            raise ValueError(f"unsupported Avro union for {f['name']}: {t}")
        nullable, t = True, branches[0]
    if isinstance(t, dict) and t.get("type") == "array":
        items = t["items"]
        if isinstance(items, list):
            items = [b for b in items if b != "null"][0]
        return pa.field(f["name"],
                        pa.list_(getattr(pa, _AVRO_ARROW[items])()),
                        nullable)
    if isinstance(t, str) and t in _AVRO_ARROW:
        return pa.field(f["name"], getattr(pa, _AVRO_ARROW[t])(), nullable)
    raise ValueError(f"unsupported Avro type for {f['name']}: {t}")


def read_avro(spark: SparkSession, path, *, filesystem=None) -> DataFrame:
    """Avro Object Container Files → DataFrame.

    The driver reads ONE file's embedded writer schema to derive the
    Arrow/Spark schema (primitives + nullable unions + arrays of
    primitives — the tokens-table shape and friends); the files then
    decode inside file-granular tasks via tokenc.avro.read_ocf
    (schema-driven from EACH file's own writer schema, so files written by
    different engines/epochs coexist) and stream out as Arrow batches.
    Decode is the OCF codec's record walk — fine for ingest frontends
    (one pass at load), not a per-query path."""
    import pyarrow as pa

    from .avro import read_ocf
    from .engine import from_arrow_schema
    from .files import _unit_tasks

    fs, files = _list_fs_avro(path, filesystem)
    if not files:
        raise ValueError(f"no .avro files under {path}")
    with fs.open_input_file(files[0]) as f:
        schema_json, _ = read_ocf(f.read())
    arrow_schema = pa.schema([_avro_arrow_field(f)
                              for f in schema_json["fields"]])
    names = [f.name for f in arrow_schema]

    tasks, task_units = _unit_tasks(spark, files)

    def fn(batches):
        for path in task_units(batches):
            with fs.open_input_file(path) as fobj:
                _, records = read_ocf(fobj.read())
            if records:
                tbl = pa.Table.from_pylist(
                    [{k: r.get(k) for k in names} for r in records],
                    schema=arrow_schema)
                yield from tbl.to_batches(max_chunksize=8192)

    return tasks.mapInArrow(fn, from_arrow_schema(arrow_schema))


def _list_fs_avro(path, filesystem):
    """files._list_fs selecting .avro files (one shared listing walk)."""
    from .files import _list_fs

    return _list_fs(path, filesystem, suffix=".avro")
