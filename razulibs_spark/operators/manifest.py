"""Manifest operators — SURVEY.md §2.1 (S6/S7/K3) and §2.3 (J4/J5).

The reference's Manifest is a dict keyed by relative path with MD5 +
open metadata (razu/manifest.py:13-36,46-71); here it is a DataFrame
with an explicit schema. Directory scans use Spark's binaryFile source
(path, length, modificationTime, content) so checksumming distributes;
reconcile/diff are joins, not per-file Python loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from razulibs_spark.functions.scalars import full_extension, normalize_path
from razulibs_spark.operators.relational import changed_or_new, reconcile_full_outer
from razulibs_spark.session import local_frame

MANIFEST_SCHEMA = StructType(
    [
        StructField("filename", StringType(), False),
        StructField("md5hash", StringType(), True),
        StructField("md5date", TimestampType(), True),
        StructField("object_uid", StringType(), True),
        StructField("source", StringType(), True),
        StructField("dataset", StringType(), True),
        StructField("uri", StringType(), True),
        StructField("file_format", StringType(), True),
        StructField("original_filename", StringType(), True),
        StructField("file_size", LongType(), True),
        StructField("last_modified", TimestampType(), True),
        StructField("file_extension", StringType(), True),
    ]
)


def manifest_from_directory(
    spark: SparkSession, directory: str, base_segment: str = "bestanden/"
) -> DataFrame:
    """S6 recursive directory scan → manifest rows
    (razu/manifest.py:223-283): per file MD5, size, mtime, full
    extension — all computed executor-side over binaryFile content
    (the reference hashes serially in 8 KB chunks, razu/util.py:155-163).
    """
    files = spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(
        directory
    )
    name = normalize_path(F.col("path"), base_segment)
    return files.select(
        name.alias("filename"),
        F.md5(F.col("content")).alias("md5hash"),
        F.current_timestamp().alias("md5date"),
        F.lit(None).cast("string").alias("object_uid"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("string").alias("dataset"),
        F.lit(None).cast("string").alias("uri"),
        F.lit(None).cast("string").alias("file_format"),
        F.lit(None).cast("string").alias("original_filename"),
        F.col("length").alias("file_size"),
        F.col("modificationTime").alias("last_modified"),
        full_extension(F.element_at(F.split(name, "/"), -1)).alias("file_extension"),
    )


def validate_manifest(manifest: DataFrame, fs_scan: DataFrame) -> DataFrame:
    """J4 manifest ↔ filesystem reconcile (razu/manifest.py:185-221):
    missing_files / extra_files / checksum_mismatch / ok buckets."""
    return reconcile_full_outer(manifest, fs_scan, "filename", "md5hash")


def incremental_sync_plan(source: DataFrame, target: DataFrame) -> DataFrame:
    """J5 checksum-diff sync (tools/sip2localstorage.py:69-94): the
    files that must be copied — new or changed in `source` vs `target`."""
    return changed_or_new(source, target, "filename", "md5hash")


def manifest_to_json_map(manifest: DataFrame) -> str:
    """K3 byte-compatible sink: the single JSON object map of
    razu/manifest.py:164-183. Driver-side by design (SIP manifests are
    small); the distributed form is `df.write.json`."""
    import json

    rows = manifest.orderBy("filename").collect()
    out = {}
    for r in rows:
        d = r.asDict()
        fn = d.pop("filename")
        out[fn] = {k: (v.isoformat() if hasattr(v, "isoformat") else v)
                   for k, v in d.items() if v is not None}
    return json.dumps(out, indent=4, sort_keys=True)


def manifest_from_json_map(spark: SparkSession, text: str) -> DataFrame:
    """S7 manifest JSON scan (razu/manifest.py:175-183): parse the
    object map back into manifest rows."""
    import json

    entries = json.loads(text)
    rows = []
    for fn, meta in entries.items():
        rows.append(
            {
                "filename": fn,
                "md5hash": meta.get("md5hash"),
                "object_uid": meta.get("object_uid"),
                "source": meta.get("source"),
                "dataset": meta.get("dataset"),
                "uri": meta.get("uri"),
                "file_format": meta.get("file_format"),
                "original_filename": meta.get("original_filename"),
                "file_size": meta.get("file_size"),
                "file_extension": meta.get("file_extension"),
            }
        )
    schema = StructType([f for f in MANIFEST_SCHEMA if f.name not in ("md5date", "last_modified")])
    return local_frame(spark, rows, schema)


def sync_to_local_store(plan: DataFrame, source_root: str, dest_root: str) -> int:
    """K6/K7 executor-side copy sink (razu/sip.py:157-166,
    tools/sip2localstorage.py:130-189): materialize an
    incremental_sync_plan by copying each `filename` from
    `source_root` to `dest_root`, per partition — the decision of
    *what* to copy is the J5 anti-join, never a per-file stat probe.
    Returns the number of files copied (accumulator, A4-style)."""
    import os
    import shutil

    n = plan.sparkSession.sparkContext.accumulator(0)

    def copy(rows) -> None:
        for row in rows:
            src = os.path.join(source_root, row["filename"])
            dst = os.path.join(dest_root, row["filename"])
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(src, dst)
            n.add(1)

    plan.select("filename").foreachPartition(copy)
    return n.value


# F20 — tool signature extraction (razu/application_registry.py:49-70):
# regex over `droid -v` / `clamscan --version` style output. Runs on
# the driver (one subprocess per tool per run), its result joined into
# event rows as a literal column.
_TOOL_SIG_PATTERNS = {
    "droid": r"(\d+\.\d+(?:\.\d+)?)",
    "clamscan": r"ClamAV (\d+\.\d+(?:\.\d+)?)",
}


def extract_tool_signature(tool: str, version_output: str) -> str | None:
    import re

    m = re.search(_TOOL_SIG_PATTERNS.get(tool, r"(\d+\.\d+(?:\.\d+)?)"),
                  version_output)
    return m.group(1) if m else None
