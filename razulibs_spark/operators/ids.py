"""Dense sequential id assignment — SURVEY.md O1 (razu/incrementer.py).

Two implementations:

- `dense_ids` — the scalable scheme: the exclusive running count of a
  constant-1 column through the two-tier `stats.range_cumsum` (range-
  repartition on the order key, per-partition counts read back as
  literal offsets, intra-partition running sums), plus ``start``. No
  single-partition global window; the only driver traffic is one
  integer per partition, and the pin follows ``pinning.pin_iteration``.

- `dense_ids_global_window` — the naive row_number().over(global
  window) form, the test oracle for `dense_ids`; it funnels all rows
  through one task and must not be used at scale.

For 100 TB pipelines prefer content-derived uids (md5 of the natural
key, functions/scalars.razu_uid over a hash) — dense ids exist for
reference-compatible numbering only (SURVEY §2.9 design note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from razulibs_spark.operators.stats import range_cumsum


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
    ones = df.withColumn("_one", F.lit(1))
    return (
        range_cumsum(ones, order_cols, ["_one"], [id_col], n_parts)
        .withColumn(id_col, F.col(id_col) + start)
        .drop("_one")
    )


def dense_ids_global_window(
    df: DataFrame, order_cols: list[str], id_col: str, start: int = 1
) -> DataFrame:
    """Single-partition reference implementation (do not use at scale)."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(
        id_col, (F.row_number().over(w) - 1 + start).cast("long")
    )
