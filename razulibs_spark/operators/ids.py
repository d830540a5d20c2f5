"""Dense sequential id assignment — SURVEY.md O1 (razu/incrementer.py).

Two implementations:

- `dense_ids` — the scalable two-phase scheme: range-repartition on
  the order key (a parallel sort), count rows per partition, and
  number rows within each partition from that partition's offset, a
  literal array indexed by partition id. No single-partition global
  window and no offsets frame to join; the only driver traffic is one
  integer per partition.

- `dense_ids_global_window` — the naive row_number().over(global
  window) form, kept for comparison/testing; it funnels all rows
  through one task and must not be used at scale.

For 100 TB pipelines prefer content-derived uids (md5 of the natural
key, functions/scalars.razu_uid over a hash) — dense ids exist for
SIP-compatible output only (SURVEY §2.9 design note).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    start: int = 1,
    n_parts: int | None = None,
) -> DataFrame:
    """Assign dense ids 'start, start+1, …' in the total order given by
    order_cols (must be a total order — include a unique tie-break).

    ``n_parts`` overrides the range-partition fan-out: callers that
    know the input is dimension-sized (e.g. ntile_scalable over a
    per-user aggregate) pass a small width so a 1k-row sort doesn't
    schedule defaultParallelism tasks across three stages."""
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    # persist() pins ONE materialization of the range partitioning:
    # repartitionByRange SAMPLES its bounds per job, so without the
    # pin the counts job and the numbering job could see different
    # partition boundaries and the offsets would misalign.
    parted = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    # One count per partition — tiny driver collect, back as a literal.
    counts = dict(parted.groupBy("_pid").count().collect())
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return parted.withColumn(
        id_col,
        (F.row_number().over(w) - 1 + partition_offsets(counts, n, start)).cast("long"),
    ).drop("_pid")


def partition_offsets(counts: dict[int, int], n: int, start: int = 0) -> Column:
    """Exclusive running offsets of per-partition ``counts`` (partition
    id → subtotal; absent ids count 0) as ``element_at(array(...),
    _pid + 1)`` over the ``_pid`` column: one literal lookup in place
    of an offsets frame and its broadcast join."""
    offsets, acc = [], start
    for pid in range(n):
        offsets.append(f"{acc}L")
        acc += counts.get(pid) or 0
    return F.expr(f"element_at(array({', '.join(offsets)}), _pid + 1)")


def dense_ids_global_window(
    df: DataFrame, order_cols: list[str], id_col: str, start: int = 1
) -> DataFrame:
    """Single-partition reference implementation (do not use at scale)."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(
        id_col, (F.row_number().over(w) - 1 + start).cast("long")
    )
