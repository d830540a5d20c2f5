"""Data-layout operators — Z-order (Morton) clustering and the
min/max-pruning arithmetic that justifies it.

At 100 TB the single biggest read-path lever after partitioning is
ROW-GROUP SKIPPING: parquet footers carry per-group min/max, and a
scan prunes any group whose range misses the predicate
(io_parquet_footer_audit verifies the footer side). But min/max only
bites on columns the data is CLUSTERED by — a layout sorted on one
key gives tight ranges on that key and useless full-span ranges on
every other. Z-ORDER interleaves the bits of several keys so that
z-adjacent rows are close in EVERY dimension: each group covers a
small square of the key space instead of a thin full-width stripe,
and selective predicates on ANY clustered dimension prune most
groups (the technique behind Delta/Databricks OPTIMIZE ZORDER and
ClickHouse/Iceberg space-filling-curve layouts).

Everything here is exact integer bit arithmetic in pure codegen —
shifts, masks, interleaves — so any engine reproduces the layout and
the pruning statistics bit-for-bit; no RNG, no floats, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(d1: Column, d2: Column, bits: int = 8) -> Column:
    """Morton interleave of two ``bits``-bit dimensions → one
    2·bits-bit key (d1 on even bit positions, d2 on odd). Pure
    codegen: the loop unrolls into a fixed shift/mask expression. The
    inputs are cast to long, so a key of more than 15 bits per
    dimension cannot overflow an int."""
    d1, d2 = d1.cast("long"), d2.cast("long")
    z: Column | None = None
    for i in range(bits):
        b1 = F.shiftleft(F.shiftright(d1, i).bitwiseAND(F.lit(1)), 2 * i)
        b2 = F.shiftleft(
            F.shiftright(d2, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        term = b1 + b2
        z = term if z is None else z + term
    return z


def zorder_sql(d1: str, d2: str, bits: int = 8) -> str:
    """The DuckDB-equivalent expression for :func:`zorder_key`."""
    terms = []
    for i in range(bits):
        terms.append(f"((({d1} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({d2} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def layout_pruning_stats(
    rows: DataFrame,
    d1: Column,
    d2: Column,
    *,
    bits: int = 8,
    group_shift: int = 10,
    d1_lo: int,
    d1_hi: int,
    d2_lo: int,
    d2_hi: int,
) -> DataFrame:
    """Compare Z-ORDER clustering against a LINEAR (single-key) sort
    for min/max pruning: bucket rows into groups under each layout
    (z >> group_shift vs d2's top bits — both data-independent group
    boundaries, the deterministic analog of fixed-size row groups),
    compute each group's [min,max] per dimension, and count how many
    groups three probe predicates would have to scan: a d1 range, a
    d2 range, and their conjunction.

    Returns one row per layout: (layout, n_groups, scanned_d1,
    scanned_d2, scanned_both, rows_total). The expected shape — the
    reason to Z-order at 100 TB — is that the linear layout prunes
    well on its own sort key and scans EVERYTHING for the other
    dimension, while Z-order prunes on both.

    Scale: two partial-aggregating groupBys over integer keys and a
    3-row union — the statistics cost two shuffles of ≤2^(2·bits −
    group_shift) rows regardless of input size."""
    keyed = rows.select(
        d1.cast("long").alias("d1"),
        d2.cast("long").alias("d2"),
    ).withColumn("z", zorder_key(F.col("d1"), F.col("d2"), bits))

    def stats(group: Column, layout: str) -> DataFrame:
        groups = (
            keyed.groupBy(group.alias("g"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("d1").alias("d1_min"),
                F.max("d1").alias("d1_max"),
                F.min("d2").alias("d2_min"),
                F.max("d2").alias("d2_max"),
            )
        )
        hit1 = (F.col("d1_min") <= d1_hi) & (F.col("d1_max") >= d1_lo)
        hit2 = (F.col("d2_min") <= d2_hi) & (F.col("d2_max") >= d2_lo)
        return groups.agg(
            F.lit(layout).alias("layout"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(hit1.cast("long")).alias("scanned_d1"),
            F.sum(hit2.cast("long")).alias("scanned_d2"),
            F.sum((hit1 & hit2).cast("long")).alias("scanned_both"),
            F.sum("n").alias("rows_total"),
        )
    z_groups = F.shiftright(F.col("z"), group_shift)
    # linear layout: sorted by d2, so groups are d2's top bits — the
    # same group COUNT budget for a fair comparison
    lin_shift = max(0, bits - (2 * bits - group_shift))
    lin_groups = F.shiftright(F.col("d2"), lin_shift)
    return (
        stats(z_groups, "zorder")
        .unionAll(stats(lin_groups, "linear_d2"))
        .orderBy("layout")
    )
