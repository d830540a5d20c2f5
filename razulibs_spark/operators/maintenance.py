"""Table-maintenance operators: small-file compaction and table
statistics — the storage-health half of running a 100 TB lake.

Small files are the classic operational failure of long-running
ingest (every micro-batch writes a few KB; a year later the table has
10⁷ files and the NameNode/listing/scan-planning all crawl).
`compact_parquet` rewrites a table to ~target-sized files. The
Z-order clustering key lives in `operators/layout.zorder_key`.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Rewrite a parquet directory into ~target-sized files; returns
    the file count written. Sizing reads the INPUT's on-disk bytes
    (cheap listing, no data scan) — the right signal since parquet
    re-encodes at roughly the same ratio."""
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(path).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(out_path)
    return n_files


def column_stats(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style per-column statistics — the CBO inputs (row
    count, non-null count, exact NDV, min/max) as a narrow
    (column_name, ...) stats table: one single-column aggregate branch
    per column, unioned.

    Per-column branches beat the tempting one-pass wide aggregate:
    several COUNT(DISTINCT col) in a single agg plan through Spark's
    Expand operator — every input row duplicated × |cols| BEFORE the
    partial aggregate (measured 6× slower at sf0.1) — while each
    branch here is a plain partial/final agg whose parquet scan is
    column-pruned to exactly its one column, so the union reads the
    same total bytes a single full-width pass would and expands
    nothing. min/max aggregate in the column's native type and cast
    to string AFTER, so numeric/date ordering applies (a
    lexicographic min over pre-cast strings would be wrong). Swap
    count_distinct for approx_count_distinct per branch when HLL's
    ~2% error is acceptable (Spark's own ANALYZE TABLE does exactly
    that).
    """
    from functools import reduce

    def branch(c: str) -> DataFrame:
        return (
            df.select(F.col(c).alias("_v"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("_v").alias("n_nonnull"),
                F.count_distinct("_v").alias("ndv"),
                F.min("_v").cast("string").alias("min_value"),
                F.max("_v").cast("string").alias("max_value"),
            )
            .select(
                F.lit(c).alias("column_name"),
                "n_rows",
                "n_nonnull",
                (F.col("n_rows") - F.col("n_nonnull")).alias("n_null"),
                "ndv",
                "min_value",
                "max_value",
            )
        )

    return reduce(lambda a, b: a.unionAll(b), [branch(c) for c in cols])


def skew_profile(
    df: DataFrame,
    key_cols: list[str],
    n_top: int = 5,
    target_partitions: int = 32,
) -> DataFrame:
    """Join/shuffle-key skew diagnosis: per-key counts reduced to the
    n_top heaviest keys, each annotated with its share of the table,
    the global key cardinality, and the skew factor — how many times
    the hottest key overflows an average shuffle partition at
    ``target_partitions`` — plus the salt fan-out that would level it
    (the n_salts to hand to relational.salted_join).

    Execution: one map-side-combinable count aggregate (the only pass
    over the data), a 1-row global rollup broadcast back, and a
    TakeOrdered top-n on the key-cardinality-sized count table. This
    is the profiling step to run BEFORE a 100 TB join on a suspect
    key: it costs one aggregate and tells you whether AQE skew-split
    will cope or the join needs explicit salting.
    """
    if len(key_cols) == 1:
        # Single-column keys keep their native NULL: concat_ws would
        # collapse NULL to '' and merge it with the empty-string key.
        key = F.col(key_cols[0]).cast("string")
    else:
        # Multi-column keys mark NULL components explicitly so
        # ('a', NULL) and ('a', '') stay distinct keys.
        key = F.concat_ws(
            "|",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("<NULL>"))
                for c in key_cols
            ],
        )
    counts = df.select(key.alias("key")).groupBy("key").agg(
        F.count("*").alias("n")
    )
    totals = counts.agg(
        F.sum("n").alias("total_rows"),
        F.count("*").alias("n_keys"),
        F.max("n").alias("max_n"),
    )
    annotated = totals.select(
        "total_rows",
        "n_keys",
        F.round(
            F.col("max_n") * F.lit(float(target_partitions)) / F.col("total_rows"),
            6,
        ).alias("skew_factor"),
        F.ceil(
            F.col("max_n") * F.lit(float(target_partitions)) / F.col("total_rows")
        ).cast("long").alias("suggested_salts"),
    )
    top = counts.orderBy(F.col("n").desc(), F.col("key")).limit(n_top)
    return top.crossJoin(F.broadcast(annotated)).select(
        "key",
        "n",
        F.round(F.col("n") / F.col("total_rows").cast("double"), 6).alias("share"),
        "total_rows",
        "n_keys",
        "skew_factor",
        "suggested_salts",
    )


def write_plan(
    df: DataFrame,
    string_cols: list[str],
    fixed_bytes_per_row: int,
    target_file_bytes: int = 128 * 1024 * 1024,
    compression_ratio_pct: int = 300,
) -> DataFrame:
    """Write-layout planner: from exact byte accounting of a frame,
    derive the file count and rows-per-file that hit a target parquet
    file size — the small-files guard a 100 TB pipeline runs before
    every large write (a 10k-file shuffle output cripples both the
    object store and the next scan's planning).

    One map-side-combinable aggregate (octet_length sums are exact
    BIGINTs); the compression assumption is an explicit integer
    percentage, so the whole plan is integer arithmetic end-to-end
    and hash-matches an oracle.  Pair with ``compact_parquet`` to
    apply the plan.
    """
    raw = sum(
        (F.sum(F.octet_length(F.col(c)).cast("long")) for c in string_cols),
        F.lit(0).cast("long"),
    )
    agg = df.groupBy().agg(
        F.count("*").alias("n_rows"),
        (raw + F.count("*") * fixed_bytes_per_row).alias("raw_bytes"),
    )
    est = F.expr(f"raw_bytes * 100 div {compression_ratio_pct}")
    # n_files derives from the est_bytes COLUMN, so the compression
    # model exists in exactly one expression.
    return (
        agg.select(
            "n_rows",
            "raw_bytes",
            est.alias("est_bytes"),
            F.lit(target_file_bytes).cast("long").alias(
                "target_file_bytes"
            ),
        )
        .withColumn(
            "n_files",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(
                    f"(est_bytes + {target_file_bytes} - 1)"
                    f" div {target_file_bytes}"
                ),
            ),
        )
        .withColumn(
            "rows_per_file",
            F.expr("(n_rows + n_files - 1) div n_files"),
        )
    )
