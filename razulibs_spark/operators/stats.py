"""Distribution statistics and drift detection over corpus-scale data.

A 100 TB training-data pipeline ships statistical monitors alongside
the transforms: has the value distribution of a feed drifted between
two sources (KS test), are two categorical columns associated
(chi-square), what are the per-dimension moments of the embedding
matrix (feature-scaling stats)?  Everything here reduces to count /
integer-sum aggregates plus at most one *two-tier* global cumulative
sum — no single-partition global windows, no floating-point sums (sum
order is partition-dependent, so float sums can never hash-match an
oracle; we sum exactly in scaled integers instead).

Scale shapes:
- ``range_cumsum`` — prefix sums over a total order via
  range-repartition + per-partition subtotals read back as literal
  offsets (same two-tier scheme as operators/ids.dense_ids); driver
  traffic is one integer per partition.
- ``ks_drift`` — one shuffle to group by value, one two-tier cumsum,
  one scalar aggregate.
- ``chi_square_cells`` — output bounded by the category square, all
  map-side combinable counts.
- ``embedding_dim_stats`` — posexplode fan-out (rows × dims) into a
  dim-keyed aggregate; sums are exact micro-scaled BIGINTs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from razulibs_spark.operators.ids import partition_offsets
from razulibs_spark.session import local_frame


def range_cumsum(
    df: DataFrame,
    order_cols: list[str],
    val_cols: list[str],
    out_cols: list[str],
    n_parts: int | None = None,
) -> DataFrame:
    """Exclusive prefix sums of each of ``val_cols`` in the total order
    given by ``order_cols`` (must be a total order over rows — include
    a tie-break if values repeat), without a single-partition window.

    Two-tier scheme: range-repartition on the order key (parallel
    sort), sum each value column per partition, collect the tiny per-
    partition subtotal table to the driver, turn it into exclusive
    offsets, read back as a literal lookup by partition id, and add
    intra-partition running sums.
    The only global data movement besides the range shuffle is one
    integer per (partition, value column); all requested prefix sums
    share the single range shuffle.
    """
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    # Pin ONE materialization of the range partitioning:
    # repartitionByRange samples bounds per job, so the subtotal job
    # and the cumsum job must see identical partition boundaries.
    # localCheckpoint (not persist): a CacheManager entry would outlive
    # every caller until an explicit unpersist/clearCache — one leaked
    # cached dataset per call in long-lived sessions — whereas
    # checkpoint blocks are dropped by the ContextCleaner as soon as
    # the returned frame is garbage-collected, and the materialized
    # blocks pin the sampled range bounds just as hard. LAZY (eager
    # =False): the subtotal collect below is always the first action,
    # so it both computes and stores the blocks in one job — an eager
    # checkpoint would add a third job per call (measured 3x on
    # events_peak_concurrency, whose upstream sessionize is the
    # expensive part).
    #
    # CLUSTER caveat (ADVICE r5): localCheckpoint blocks are
    # UNREPLICATED and lineage-truncated — on a real cluster, losing an
    # executor between the subtotal job and the cumsum job fails the
    # query unrecoverably. That trade is tuned for local[n] (where
    # executor loss means the whole JVM died anyway). Deploys that need
    # fault tolerance set spark.razulibs.rangeCumsum.pin=persist: a
    # CacheManager entry that survives block loss via lineage replay,
    # at the cost of living until unpersist/clearCache. "auto" picks
    # localCheckpoint on local[*] masters and persist otherwise.
    spark = df.sparkSession
    pin = spark.conf.get("spark.razulibs.rangeCumsum.pin", "auto")
    if pin == "auto":
        pin = (
            "localCheckpoint"
            if spark.sparkContext.master.startswith("local")
            else "persist"
        )
    parted = df.repartitionByRange(
        n, *[F.col(c) for c in order_cols]
    ).withColumn("_pid", F.spark_partition_id())
    if pin == "persist":
        parted = parted.persist()
    else:
        parted = parted.localCheckpoint(eager=False)
    subtotals = (
        parted.groupBy("_pid")
        .agg(*[F.sum(v).alias(v) for v in val_cols])
        .collect()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = parted
    for v, o in zip(val_cols, out_cols):
        # Empty input collects no subtotals: every offset is 0 and the
        # (empty) frame passes through.
        off = partition_offsets({r["_pid"]: r[v] for r in subtotals}, n)
        intra = F.coalesce(F.sum(v).over(w), F.lit(0))
        out = out.withColumn(o, (intra + off).cast("long"))
    return out.drop("_pid")


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the ``value_col``
    distributions of two groups — the drift monitor a pipeline runs
    between two feeds / two snapshots of the same feed.

    D = max_v |F_a(v) - F_b(v)| is computed exactly in integers:
    |c_a(v)·n_b - c_b(v)·n_a| / (n_a·n_b), maximized over the merged
    distinct values.  One groupBy(value) shuffle, one two-tier cumsum
    (``range_cumsum``), one scalar aggregate; the division to a double
    happens once on exact operands, so the result is bit-stable across
    engines.
    """
    filtered = df.filter(F.col(group_col).isin(group_a, group_b)).filter(
        F.col(value_col).isNotNull()
    )
    counts = filtered.groupBy(value_col).agg(
        F.sum(
            F.when(F.col(group_col) == group_a, F.lit(1)).otherwise(F.lit(0))
        ).alias("ca"),
        F.sum(
            F.when(F.col(group_col) == group_b, F.lit(1)).otherwise(F.lit(0))
        ).alias("cb"),
    )
    cum0 = range_cumsum(
        counts, [value_col], ["ca", "cb"], ["ca_before", "cb_before"], n_parts
    )
    cum = cum0.select(
        (F.col("ca_before") + F.col("ca")).alias("fa"),
        (F.col("cb_before") + F.col("cb")).alias("fb"),
    )
    # Totals from the cumsum output (whose repartitioned histogram is
    # persisted inside range_cumsum) — NOT a second scan of the input
    # corpus, which at 100 TB would double the query's IO.
    totals = cum0.groupBy().agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    # 1-row totals: broadcast scalar join, O(n) not a CartesianProduct.
    # Cross-multiplied CDF counts are cast to double BEFORE the
    # product: fa·nb can reach N², which wraps int64 at corpus scale,
    # while the IEEE double chain is overflow-free and bit-identical
    # across engines (max and floor of identical doubles agree).
    diff = cum.crossJoin(F.broadcast(totals)).select(
        F.abs(
            F.col("fa").cast("double") * F.col("nb").cast("double")
            - F.col("fb").cast("double") * F.col("na").cast("double")
        ).alias("d_num"),
        "na",
        "nb",
    )
    return diff.groupBy("na", "nb").agg(
        F.max("d_num").alias("d_num")
    ).select(
        "na",
        "nb",
        F.floor(
            F.lit(1000000.0)
            * (
                F.col("d_num")
                / (
                    F.col("na").cast("double")
                    * F.col("nb").cast("double")
                )
            )
        )
        .cast("long")
        .alias("ks_micro"),
    )


def chi_square_cells(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Chi-square association report between two categorical columns:
    per-cell observed count, expected count (micro-scaled), and cell
    contribution (milli-scaled).  Output is bounded by the category
    square; every input-sized step is a map-side-combinable count.

    Expected/contribution go through exact-integer operands into IEEE
    double arithmetic with a final ``floor`` — no float sums, no
    ``round`` (both engines compute the identical doubles, so the
    floors agree bit-for-bit).
    """
    # NULL categories are excluded UP FRONT: a (NULL, x) cell would
    # vanish at the equi-joins below while still inflating x's
    # marginal and the grand total, making every expected count
    # internally inconsistent.
    cells = (
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(a_col, b_col)
        .agg(F.count("*").alias("o"))
    )
    row_t = cells.groupBy(a_col).agg(F.sum("o").alias("rt"))
    col_t = cells.groupBy(b_col).agg(F.sum("o").alias("ct"))
    n_t = cells.groupBy().agg(F.sum("o").alias("n"))
    # rt·ct wraps int64 at corpus scale — cast to double first; the
    # IEEE chain is deterministic so the floored outputs still match.
    e = (
        F.col("rt").cast("double") * F.col("ct").cast("double")
    ) / F.col("n").cast("double")
    contrib = (
        (F.col("o").cast("double") - e)
        * (F.col("o").cast("double") - e)
        / e
    )
    return (
        cells.join(row_t, a_col)
        .join(col_t, b_col)
        .crossJoin(F.broadcast(n_t))
        .select(
            a_col,
            b_col,
            "o",
            F.floor(F.lit(1000000.0) * e).cast("long").alias("e_micro"),
            F.floor(F.lit(1000.0) * contrib).cast("long").alias(
                "contrib_milli"
            ),
        )
    )


def embedding_dim_stats(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension feature-scaling statistics of an embedding
    column: count, nulls excluded, exact micro-scaled sum, min, max.

    posexplode fans rows × dims into a dim-keyed aggregate (map-side
    combinable, output bounded by the dimensionality).  The sum is
    exact: float -> double is exact, double·1e6 of a 24-bit mantissa is
    exact (44 bits < 53), floor of an exact product is deterministic,
    and BIGINT sums are order-independent — so the stats hash-match an
    oracle, which a float SUM never could.
    """
    exploded = df.select(
        F.posexplode(F.col(vec_col)).alias("pos", "val")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    return exploded.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("val") * F.lit(1000000.0)).cast("long")).alias(
            "sum_micro"
        ),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


def group_gini(df: DataFrame, group_col: str, label_col: str) -> DataFrame:
    """Per-group Gini impurity of a label distribution — the
    class-balance audit a pipeline publishes per source/shard (the
    log-free twin of entropy: exactly rational, so it hash-matches an
    oracle where ln never could).

    gini = 1 − Σ_c (n_c/n)² = (n² − Σ_c n_c²)/n², computed from one
    (group, label)-keyed count; squares in decimal(38,0) (int128, the
    engine twin of an oracle's HUGEINT) so n_c² cannot wrap int64 at
    corpus scale.  Doubles appear only in the final division of exact
    operands.
    """
    m = df.groupBy(group_col, label_col).agg(F.count("*").alias("c"))
    per = m.groupBy(group_col).agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sq"),
    )
    n_dec = F.col("n").cast("decimal(38,0)")
    # Nearest-micro floor, not round(): round(x, 6) of an exactly-
    # rational value on the decimal grid diverges between engines
    # (shortest-string vs binary); floor of identical doubles never
    # does.
    gini = (
        F.floor(
            F.lit(1000000.0)
            * (
                (n_dec * F.col("n") - F.col("sq")).cast("double")
                / (n_dec * F.col("n")).cast("double")
            )
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return per.select(group_col, "n", gini.alias("gini"))


def corr_matrix(
    df: DataFrame,
    time_col: str,
    series_col: str,
) -> DataFrame:
    """Pairwise Pearson correlation between activity series (one count
    series per ``series_col`` value over ``time_col`` buckets) — the
    co-movement report between feeds that a monitoring pipeline keeps.

    The (bucket × series) count grid is completed with explicit zeros
    (a missing bucket IS a zero observation — an inner join would
    silently condition on co-activity), then pairs (a < b) are formed
    by a bucket-keyed self-join bounded by |series|² per bucket.  All
    sufficient statistics are exact integer sums; r comes from one
    deterministic double expression with two correctly-rounded sqrts,
    emitted micro-floored.
    """
    counts = df.groupBy(time_col, series_col).agg(F.count("*").alias("c"))
    buckets = counts.select(time_col).distinct()
    series = counts.select(series_col).distinct()
    grid = buckets.crossJoin(F.broadcast(series))
    full = grid.join(counts, [time_col, series_col], "left").select(
        time_col,
        series_col,
        F.coalesce(F.col("c"), F.lit(0)).alias("c"),
    )
    a = full.select(
        time_col,
        F.col(series_col).alias("series_a"),
        F.col("c").alias("x"),
    )
    b = full.select(
        time_col,
        F.col(series_col).alias("series_b"),
        F.col("c").alias("y"),
    )
    pairs = a.join(b, time_col).filter(
        F.col("series_a") < F.col("series_b")
    )
    suff = pairs.groupBy("series_a", "series_b").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    num = (
        F.col("n") * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    ).cast("double")
    den = F.sqrt(
        (
            F.col("n") * F.col("sxx")
            - F.col("sx").cast("decimal(38,0)") * F.col("sx")
        ).cast("double")
    ) * F.sqrt(
        (
            F.col("n") * F.col("syy")
            - F.col("sy").cast("decimal(38,0)") * F.col("sy")
        ).cast("double")
    )
    # Nearest-micro (+0.5 then floor), not plain floor: a perfect
    # correlation otherwise lands at 999999 because sqrt(A)*sqrt(B)
    # exceeds |num| by an ulp.  The chain stays deterministic.
    r_micro = F.when(
        den > 0,
        F.floor(F.lit(1000000.0) * (num / den) + F.lit(0.5)),
    ).cast("long")
    return suff.select(
        "series_a", "series_b", "n", r_micro.alias("r_micro")
    )


def cusum_changepoint(
    df: DataFrame,
    time_col: str,
    series_col: str,
) -> DataFrame:
    """CUSUM changepoint detection per series: the time bucket where
    the cumulative deviation from the series mean peaks — the "when
    did this feed change behavior" monitor.

    Exactly integer throughout: with S the series total over m
    buckets, n·CUSUM_k = m·Σ_{i≤k}x_i − k·S needs no division.  Counts
    come from one keyed aggregate; the per-series prefix sum runs on
    the bucket grain (bounded by the time span, not event volume), so
    a series-keyed window is the right tool; the argmax is one
    max_by(struct) aggregate — no second sort.
    """
    counts = (
        df.groupBy(series_col, time_col)
        .agg(F.count("*").alias("x"))
    )
    w = (
        Window.partitionBy(series_col)
        .orderBy(time_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wk = Window.partitionBy(series_col).orderBy(time_col)
    cum = counts.select(
        series_col,
        time_col,
        F.sum("x").over(w).alias("cx"),
        F.row_number().over(wk).alias("k"),
    )
    totals = counts.groupBy(series_col).agg(
        F.sum("x").alias("s"), F.count("*").alias("m")
    )
    scored = cum.join(totals, series_col).select(
        series_col,
        time_col,
        "k",
        (
            F.col("m").cast("decimal(38,0)") * F.col("cx")
            - F.col("k").cast("decimal(38,0)") * F.col("s")
        ).alias("dev"),
    )
    # argmax of (|dev|, earliest bucket on ties) in ONE pass.
    return scored.groupBy(series_col).agg(
        F.max_by(
            F.struct(
                F.col(time_col).alias("t"), F.abs(F.col("dev")).alias("a")
            ),
            F.struct(
                F.abs(F.col("dev")).alias("a"),
                # negate the tie-break so EARLIER buckets win the max.
                (-F.col("k")).alias("rb"),
            ),
        ).alias("_best"),
        F.count("*").alias("n_buckets"),
    ).select(
        series_col,
        F.col("_best.t").alias("change_bucket"),
        F.col("_best.a").cast("long").alias("peak_dev_scaled"),
        "n_buckets",
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    iters: int = 8,
    with_convergence: bool = False,
    method: str = "auto",
) -> DataFrame:
    """Top principal component of an embedding matrix — the first
    step of whitening / variance auditing over a 100 TB embedding
    table. Two physical strategies, chosen by ``method``:

    ``gram`` (default for dim ≤ 2048 under ``auto``): ONE corpus pass
    computes the dim×dim Gramian Σxxᵀ and the column-sum vector as
    Arrow per-partition numpy partials (one dim²-length row per
    partition — map-side combine in its strongest form), the centered
    covariance C = G − N·μμᵀ is formed on the driver, and the power
    iteration runs driver-side on the tiny matrix. At 100 TB the scan
    is the cost, so 1 pass beats ``iters`` passes by ~iters×; this is
    the same regime split Spark MLlib uses (Gramian up to 65535
    dims).

    ``power`` (``auto`` falls back past 2048 dims, where dim² per
    partition outweighs extra scans): distributed power iteration —
    per round, score_i = (x_i − μ)·v per row (zip_with + aggregate,
    JVM-side) then s = Σ score_i·(x_i − μ) via a posexplode sum; only
    a dim-length vector reaches the driver per round, the iterate is
    re-broadcast as literals, and the plan stays flat (no
    localCheckpoint needed).

    Both paths share the deterministic all-ones init and diagnostics;
    float math (sum order makes eigenvectors engine-specific in the
    last ulps). ``with_convergence=True`` appends two driver-computed
    columns — ``eig_rel_delta`` (relative eigenvalue change over the
    final iteration) and ``v_align`` (cosine between the last two
    iterates) — so callers can assert a convergence contract
    (queries.sim_pca_power).
    """
    import math as _math

    centered_rows = df.filter(F.col(vec_col).isNotNull()).select(
        F.transform(
            F.col(vec_col), lambda x: x.cast("double")
        ).alias("x")
    )
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("dim", IntegerType()),
            StructField("loading", DoubleType()),
            StructField("eigenvalue", DoubleType()),
        ]
        + (
            [
                StructField("eig_rel_delta", DoubleType()),
                StructField("v_align", DoubleType()),
            ]
            if with_convergence
            else []
        )
    )
    # Deterministic dimensionality (max over the corpus, not an
    # arbitrary first row) and the row count in ONE job; empty /
    # all-NULL input returns an empty frame instead of crashing.
    head = centered_rows.groupBy().agg(
        F.max(F.size("x")).alias("d"), F.count("*").alias("n")
    ).collect()
    if not head or head[0]["d"] is None or head[0]["d"] <= 0:
        return local_frame(df.sparkSession, [], out_schema)
    dim, n_rows = head[0]["d"], head[0]["n"]
    centered_rows = centered_rows.filter(F.size("x") == dim)
    if method == "auto":
        method = "gram" if dim <= 2048 else "power"
    if method == "gram":
        return _pca_gram(
            df.sparkSession, centered_rows, dim, iters,
            with_convergence, out_schema,
        )
    mu = (
        centered_rows.select(
            F.posexplode("x").alias("pos", "val")
        )
        .groupBy("pos")
        .agg(F.avg("val").alias("m"))
        .orderBy("pos")
        .collect()
    )
    mu_arr = [r["m"] for r in mu]
    mu_lit = F.array(*[F.lit(m) for m in mu_arr])
    # Loop-width pattern: the iterate table is re-read once per
    # round; size its partitioning to the data (cells/50k, capped at
    # parallelism) so each of the `iters` rounds schedules a handful
    # of tasks, not defaultParallelism × iters.
    sc = df.sparkSession.sparkContext
    width = max(1, min(sc.defaultParallelism, (n_rows * dim) // 50_000 + 1))
    centered = (
        centered_rows.select(
            F.zip_with("x", mu_lit, lambda a, b: a - b).alias("x")
        )
        .repartition(width)
        .persist()
    )
    v = [1.0 / _math.sqrt(dim)] * dim
    eigenvalue = 0.0
    eig_rel_delta = v_align = float("nan")
    for _ in range(iters):
        v_lit = F.array(*[F.lit(c) for c in v])
        score = F.aggregate(
            F.zip_with("x", v_lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        s = (
            centered.select(
                score.alias("s"), F.posexplode("x").alias("pos", "val")
            )
            .groupBy("pos")
            .agg(F.sum(F.col("s") * F.col("val")).alias("t"))
            .orderBy("pos")
            .collect()
        )
        t = [r["t"] for r in s]
        norm = _math.sqrt(sum(c * c for c in t))
        if norm == 0.0:
            break
        eig_rel_delta = (
            abs(norm - eigenvalue) / norm if eigenvalue else float("nan")
        )
        v_new = [c / norm for c in t]
        v_align = abs(sum(a * b for a, b in zip(v, v_new)))
        eigenvalue = norm
        v = v_new
    centered.unpersist()
    spark = df.sparkSession
    extra = (eig_rel_delta, v_align) if with_convergence else ()
    return local_frame(
        spark,
        [
            (i + 1, float(v[i]), float(eigenvalue), *extra)
            for i in range(dim)
        ],
        out_schema,
    )


def _pca_gram(
    spark, centered_rows, dim, iters, with_convergence, out_schema
):
    """One-pass Gramian PCA: Arrow per-partition numpy partials
    (Σxxᵀ, Σx, n — ONE dim²-row per partition crosses the wire), then
    centered covariance + power iteration on the driver. The
    diagnostics mirror the distributed path's formulas exactly."""
    import math as _math

    import numpy as np
    import pandas as pd

    def partials(it):
        g = None
        s = None
        n = 0
        for pdf in it:
            if not len(pdf):
                continue
            x = np.stack(pdf["x"].to_numpy())
            g = x.T @ x if g is None else g + x.T @ x
            s = x.sum(axis=0) if s is None else s + x.sum(axis=0)
            n += x.shape[0]
        if g is not None:
            yield pd.DataFrame(
                {"g": [g.ravel().tolist()], "s": [s.tolist()], "n": [n]}
            )

    parts = centered_rows.mapInPandas(
        partials, "g array<double>, s array<double>, n long"
    ).collect()
    gram = np.zeros((dim, dim))
    sums = np.zeros(dim)
    n_rows = 0
    for r in parts:
        gram += np.array(r["g"]).reshape(dim, dim)
        sums += np.array(r["s"])
        n_rows += r["n"]
    if n_rows == 0:
        return local_frame(spark, [], out_schema)
    mu = sums / n_rows
    cov = gram - n_rows * np.outer(mu, mu)
    v = np.full(dim, 1.0 / _math.sqrt(dim))
    eigenvalue = 0.0
    eig_rel_delta = v_align = float("nan")
    for _ in range(iters):
        t = cov @ v
        norm = float(np.sqrt((t * t).sum()))
        if norm == 0.0:
            break
        eig_rel_delta = (
            abs(norm - eigenvalue) / norm if eigenvalue else float("nan")
        )
        v_new = t / norm
        v_align = abs(float(v @ v_new))
        eigenvalue = norm
        v = v_new
    extra = (eig_rel_delta, v_align) if with_convergence else ()
    return local_frame(
        spark,
        [(i + 1, float(v[i]), float(eigenvalue), *extra) for i in range(dim)],
        out_schema,
    )


def centroid_shift(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Embedding-space drift between two cohorts: the L2 distance
    between their mean vectors, from exact micro-scaled per-dimension
    sums — the embedding twin of ``ks_drift`` (has the representation
    of feed A moved away from feed B?).

    One posexplode into a (group, dim)-keyed integer aggregate
    (float·1e6 of a 24-bit mantissa is exact, so the sums are
    order-independent), one dim-keyed self-align, one scalar reduce;
    means and the final sqrt are deterministic IEEE on exact operands.
    """
    rows = df.filter(
        F.col(group_col).isin(group_a, group_b)
        & F.col(vec_col).isNotNull()
    ).select(
        group_col,
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    sums = rows.groupBy(group_col, "pos").agg(
        F.count("*").alias("n"),
        F.sum(
            F.floor(F.col("val").cast("double") * F.lit(1000000.0)).cast(
                "long"
            )
        ).alias("s_micro"),
    )
    a = sums.filter(F.col(group_col) == group_a).select(
        "pos",
        (
            F.col("s_micro").cast("double")
            / (F.lit(1000000.0) * F.col("n").cast("double"))
        ).alias("ma"),
    )
    b = sums.filter(F.col(group_col) == group_b).select(
        "pos",
        (
            F.col("s_micro").cast("double")
            / (F.lit(1000000.0) * F.col("n").cast("double"))
        ).alias("mb"),
    )
    # Per-dimension squared deltas are floored to pico-scaled BIGINTs
    # BEFORE the reduce: a float SUM's order is partition-dependent
    # and could never hash-match, while an integer sum is
    # order-independent and the per-dim floor inputs are identical
    # doubles on both engines.
    d = a.join(b, "pos").select(
        F.floor(
            (F.col("ma") - F.col("mb"))
            * (F.col("ma") - F.col("mb"))
            * F.lit(1e12)
        )
        .cast("long")
        .alias("sq_pico")
    )
    return (
        d.groupBy()
        .agg(F.sum("sq_pico").alias("ss_pico"))
        .select(
            "ss_pico",
            F.floor(
                F.lit(1000000.0)
                * F.sqrt(F.col("ss_pico").cast("double") / F.lit(1e12))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("shift_micro"),
        )
    )
