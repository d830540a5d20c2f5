"""Loaders for the driver-provided testdata tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under an sf dir.
"""

from __future__ import annotations

import os
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from razulibs_spark.session import map_rows

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Schema memo (r13, guide §1.2 driver overhead): schema-INFERENCE was
# ~80% of every load() call (~52 of 64 ms — Spark reads a parquet
# footer eagerly on the driver when no schema is given). The memo
# holds METADATA ONLY — the inferred StructType, the role a catalog/
# metastore plays in production — keyed per (sf_dir, table); every
# action still lists files and scans parquet afresh, nothing about
# the DATA is cached. First touch of a table per process infers and
# remembers; a changed table LAYOUT (new columns) needs a new process
# or a _SCHEMA_MEMO.clear(), same as any metastore refresh.
_SCHEMA_MEMO: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # events.ts is timestamp[us] without timezone → TIMESTAMP_NTZ; keep
    # it NTZ so collected values match DuckDB's naive timestamps exactly.
    # Queries needing epoch arithmetic use timestampdiff / INTERVAL,
    # both of which accept NTZ.
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (sf_dir, name)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


# The frames the payload operators synthesize from the documents table
# and parse back (operators/{docx,odt,pptx,...}.py): one encoded file
# per document, with the container's MIME type where the format names
# one.
PAYLOAD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), False),
    ]
)
TYPED_PAYLOAD_SCHEMA = StructType(
    PAYLOAD_SCHEMA.fields + [StructField("media_format", StringType(), False)]
)


def parse_payloads(
    media: DataFrame,
    parse: Callable[[bytes], Sequence[Any]],
    schema: StructType,
) -> DataFrame:
    """The fail-closed rule of the payload parsers: one ``map_rows``
    pass over ``media``'s (doc_id, payload) rows into ``schema``, whose
    fields are doc_id, a success flag, the format's values and a note.

    ``parse(payload)`` returns the values after the flag, note
    included. A ValueError, which every parser raises for a malformed
    payload, becomes ``(doc_id, False, None…, str(exc))``, so a poison
    row never fails its task. Any other exception is a bug, and it
    fails the job."""
    missing = (None,) * (len(schema.fields) - 3)

    def one(doc_id, payload):
        d = int(doc_id)
        try:
            values = parse(bytes(payload))
        except ValueError as exc:
            return [(d, False, *missing, str(exc))]
        return [(d, True, *values)]

    return map_rows(media.select("doc_id", "payload"), one, schema)


def widen_python_stage(df: DataFrame) -> DataFrame:
    """Round-robin repartition to defaultParallelism iff the frame has
    FEWER partitions — the Arrow/Python stages downstream are pure
    per-row work, so their parallelism is exactly the input split
    count. A single-file scan (small SF, one parquet part) otherwise
    funnels the whole encode/parse chain through ONE task while the
    other cores idle. At cluster scale a 100 TB scan has far more
    splits than cores, so this is a no-op and adds no shuffle
    (guide §2.6/§4: widen the cheap side of the Python boundary, never
    unconditionally reshuffle the payload bytes).

    The same guard applies to heavy JVM map chains (per-token md5
    fan-outs, multi-regex classify chains): when the per-row work
    dominates the row's bytes, widening the narrow input is the
    guide-§2.5 "repartition immediately after the read" move for a
    source whose split count is below the core count, and a no-op
    everywhere else."""
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df
