"""Behavioral-analytics operators over event logs: rolling window
statistics, next-event transition counts, RFM segmentation, and SCD
type-2 history reconstruction.

The reference has no window functions at all (SURVEY.md §2.5 — its
only order-dependent behaviors are id assignment and serie-change
detection), so this module is north-star surface: the operators a
training-data / product-analytics pipeline runs over a 100 TB event
log. All of them are single-shuffle shapes:

- every window partitions by ``user_id`` and orders by
  ``(ts, event_id)`` — one hash Exchange on user_id, a per-partition
  sort bounded by that user's history, never a global sort;
- rolling sums go through the scaled-long trick
  (``floor(value*10^s + 0.5)`` summed as BIGINT) so the frame
  aggregate is exact integer arithmetic — bit-identical across
  engines and across partitionings, immune to float reassociation;
- RFM's ntile scoring orders by ``(metric, user_id)`` so bucket
  boundaries are deterministic under ties.

At 100 TB the per-user tables these reduce to are user-dimension
sized; the window operators' state is one user's rows, which AQE can
skew-split only between users — a pathological single user is the one
shape that needs an upstream sessionize/truncate, which
``events.sessionize`` provides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from razulibs_spark.operators.pinning import pin_iteration


def _scaled_long(col: Column, scale: int) -> Column:
    m = 10**scale
    return F.floor(col * m + F.lit(0.5)).cast("long")


def rolling_stats(
    events: DataFrame, n_prev: int = 4, scale: int = 4
) -> DataFrame:
    """Per-user rolling statistics over the current + ``n_prev``
    preceding events ordered by ``(ts, event_id)``: count, min, max,
    and an exact decimal-scaled mean of ``value``.

    The mean divides a BIGINT frame sum by ``count * 10^scale`` so the
    only float op is one final division — deterministic regardless of
    frame evaluation order (Spark's running accumulation vs DuckDB's
    segment tree).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-n_prev, Window.currentRow)
    )
    m = 10**scale
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_window"),
        F.round(F.min("value").over(w), 6).alias("min_value"),
        F.round(F.max("value").over(w), 6).alias("max_value"),
        (
            F.sum(_scaled_long(F.col("value"), scale)).over(w)
            / (F.count("*").over(w) * F.lit(float(m)))
        ).alias("avg_value"),
    )


def markov_transitions(events: DataFrame) -> DataFrame:
    """First-order transition counts: for each user's event stream
    ordered by ``(ts, event_id)``, count (event_type → next
    event_type) pairs across the whole log; end-of-stream transitions
    (lead is null) are dropped.

    One Exchange on user_id for the lead window, then a map-side
    combinable count on the (from, to) pair — the |types|² output is
    tiny at any corpus size.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
    )


def rfm_segments(events: DataFrame, buckets: int = 4) -> DataFrame:
    """RFM segmentation: per user, Recency (days since the user's last
    event, measured from the corpus max timestamp), Frequency (event
    count) and Monetary (exact decimal sum of purchase values), each
    scored 1..``buckets`` with NTILE over a deterministic
    ``(metric, user_id)`` ordering, concatenated into a segment code
    (``"444"`` = best).

    The per-user aggregate is one shuffle on user_id; the corpus max
    ts is a 1-row broadcast. The three NTILEs run through
    :func:`ntile_scalable` (two-phase range-partition rank — a
    parallel sort per metric), so even a 100M-row user dimension never
    funnels through an ``Exchange SinglePartition``; output is
    bucket-for-bucket identical to ``ntile().over(Window.orderBy())``.
    Higher score = better, so recency ranks by ``-recency_days``
    (fewest days since last event → highest bucket).
    """
    per_user = events.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("frequency"),
        (
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    _scaled_long(F.col("value"), 4),
                ).otherwise(F.lit(0))
            )
            / 10000.0
        ).alias("monetary"),
    )
    # max over the per-user maxima == corpus max, and the user-dim agg
    # subtree is shared with the join side (exchange reuse) — one
    # event-log scan instead of two (r13).
    corpus_max = per_user.agg(F.max("last_ts").alias("corpus_max_ts"))
    scored = per_user.join(F.broadcast(corpus_max)).withColumn(
        "recency_days",
        F.datediff(F.col("corpus_max_ts"), F.col("last_ts")),
    )
    scored = pin_iteration(
        scored.select(
            "user_id",
            "recency_days",
            "frequency",
            F.round("monetary", 4).alias("monetary"),
        ),
        eager=False,
    )
    # The user dimension is orders of magnitude smaller than the event
    # log: size the range-sort to IT (loop-width pattern — a 1k-user
    # table must not schedule defaultParallelism-task stage chains; a
    # 100M-user table still fans out fully).
    n_users = scored.count()
    par = events.sparkSession.sparkContext.defaultParallelism
    # the range-sorted frame is the UNPIVOTED one (3 rows per user), so
    # the 50k-rows-per-partition target sizes from 3·n_users (ADVICE
    # r13): width from n_users alone put ~150k rows in each sort task.
    width = max(1, min(par, -(-3 * n_users // 50_000)))
    # All three NTILEs ride ONE two-phase rank (r13): unpivot to 3
    # rows per user keyed (metric, vl, vd, user_id) — within a metric
    # block that order reduces exactly to the original per-metric
    # ordering ((-recency, user), (frequency, user), (monetary,
    # user)); each block holds exactly n_users rows, so the global
    # dense id minus metric·n_users is the per-metric rank. One
    # repartitionByRange + one counts collect instead of three full
    # sort pipelines; the pivot back is a keyed aggregate on the
    # 3·n_users-row frame.
    from razulibs_spark.operators.ids import dense_ids

    unp = scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.posexplode(
            F.array(
                F.struct(
                    (-F.col("recency_days")).cast("long").alias("vl"),
                    F.lit(0.0).alias("vd"),
                ),
                F.struct(
                    F.col("frequency").cast("long").alias("vl"),
                    F.lit(0.0).alias("vd"),
                ),
                F.struct(
                    F.lit(0).cast("long").alias("vl"),
                    F.col("monetary").cast("double").alias("vd"),
                ),
            )
        ).alias("_metric", "_mv"),
    ).select(
        "user_id", "recency_days", "frequency", "monetary", "_metric",
        F.col("_mv.vl").alias("_vl"), F.col("_mv.vd").alias("_vd"),
    )
    ranked = dense_ids(
        unp, ["_metric", "_vl", "_vd", "user_id"], "_gid",
        start=0, n_parts=width,
    )
    # Same bucket expression ntile_scalable applies, with the
    # already-collected n_users as the 1-row-broadcast equivalent.
    r = F.col("_gid") - F.col("_metric").cast("long") * n_users + 1
    scores = ranked.withColumn(
        "_score", _ntile_bucket(r, F.lit(n_users), buckets)
    )
    pick = lambda i: F.max(
        F.when(F.col("_metric") == i, F.col("_score"))
    )
    # passenger columns are identical across a user's 3 unpivoted rows;
    # max() keeps the aggregate DETERMINISTIC for Catalyst (first()
    # marks it non-deterministic and can block optimizer rules —
    # ADVICE r13). Same values, same results.
    out = scores.groupBy("user_id").agg(
        F.max("recency_days").alias("recency_days"),
        F.max("frequency").alias("frequency"),
        F.max("monetary").alias("monetary"),
        pick(0).alias("r_score"),
        pick(1).alias("f_score"),
        pick(2).alias("m_score"),
    )
    return out.withColumn(
        "rfm_segment",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


def scd2_history(events: DataFrame) -> DataFrame:
    """SCD type-2 reconstruction from a change log: collapse each
    user's event stream (ordered by ``ts, event_id``) into runs of
    consecutive identical ``event_type`` and emit one history row per
    run with ``valid_from`` / ``valid_to`` (null = current) and an
    ``is_current`` flag — the gaps-and-islands shape every dimension
    build over a 100 TB CDC feed reduces to.

    Island detection is lag + a running sum of change flags (both on
    the same user_id window, one Exchange reused); the per-run
    aggregate keys on (user_id, run) so it reuses the partitioning
    too. valid_to is the *next run's* valid_from, picked up with one
    more lead on the already-partitioned run table.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_chg"),
    ).withColumn(
        "run_id",
        F.sum("_chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = flagged.groupBy("user_id", "run_id").agg(
        # all event_type values within a run are identical by
        # construction; MIN picks one deterministically (F.first on a
        # grouped, unsorted run is engine-order-dependent)
        F.min("event_type").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    rw = Window.partitionBy("user_id").orderBy("run_id")
    return runs.select(
        "user_id",
        F.col("run_id").cast("int").alias("version"),
        "state",
        "valid_from",
        F.lead("valid_from").over(rw).alias("valid_to"),
        "n_events",
    ).withColumn("is_current", F.col("valid_to").isNull())


def grouped_topk(
    df: DataFrame,
    part_cols: list[str],
    order_by: list[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group: row_number over a per-group window.

    Unlike a global ``ORDER BY ... LIMIT`` (which Spark plans as
    TakeOrderedAndProject through the driver), per-group top-k stays
    fully distributed: one hash Exchange on the group columns, then a
    per-partition sort whose run length is the group size. Callers
    must include a unique tiebreaker in ``order_by`` for deterministic
    output.
    """
    w = Window.partitionBy(*part_cols).orderBy(*order_by)
    return (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= k)
    )


def _ntile_bucket(rank: Column, n: Column, buckets: int) -> Column:
    """Exact SQL NTILE bucket (int) of 1-based ``rank`` among ``n``
    rows: the first ``n % buckets`` buckets get ``n // buckets + 1``
    rows."""
    b = F.lit(buckets)
    q = F.floor(n / b)
    m = n % b
    return F.when(
        rank <= m * (q + 1), F.lit(1) + F.floor((rank - 1) / (q + 1))
    ).otherwise(
        F.lit(1) + m + F.floor((rank - 1 - m * (q + 1)) / q)
    ).cast("int")


def ntile_scalable(
    df: DataFrame,
    order_cols: list[Column] | list[str],
    buckets: int,
    alias: str,
    n_parts: int | None = None,
) -> DataFrame:
    """NTILE without the single-partition exchange: global rank via the
    two-phase range-partition scheme (ids.dense_ids — parallel sort,
    per-partition counts broadcast back), then the exact SQL NTILE
    bucket formula (first ``n % b`` buckets get ``n // b + 1`` rows)
    applied as a map-side expression against a 1-row broadcast count.

    ``order_cols`` must be a total order (include a unique tiebreak) —
    same determinism contract as NTILE itself under ties. Output: the
    input rows plus an ``alias`` int column identical to
    ``ntile(buckets).over(Window.orderBy(*order_cols))``.
    """
    from razulibs_spark.operators.ids import dense_ids

    names = []
    tmp = df
    for i, c in enumerate(order_cols):
        if isinstance(c, str):
            names.append(c)
        else:
            nm = f"_nt_ord_{i}"
            tmp = tmp.withColumn(nm, c)
            names.append(nm)
    ranked = dense_ids(tmp, names, "_nt_rank", start=1, n_parts=n_parts)
    total = ranked.agg(F.count("*").alias("_nt_n"))
    out = (
        ranked.join(F.broadcast(total))
        .withColumn(
            alias, _ntile_bucket(F.col("_nt_rank"), F.col("_nt_n"), buckets)
        )
        .drop("_nt_rank", "_nt_n")
    )
    return out.drop(*[c for c in out.columns if c.startswith("_nt_ord_")])


def heavy_hitters(
    items: DataFrame, key_col: str, k: int = 1000
) -> DataFrame:
    """EXACT φ-heavy hitters — every key whose count exceeds n/``k`` —
    without shuffling the full key stream.

    Phase 1 runs a Misra-Gries summary (≤ ``k`` counters) inside each
    partition via one Arrow pass: per batch a vectorized value_counts
    merges into the counter dict; when it overflows, every counter
    drops by the (k+1)-th largest value and non-positive ones are
    evicted. MG's guarantee makes the union of per-partition keys a
    certain superset of the global heavy hitters: total decrement per
    partition is < n_p/k (each eviction round removes ≥ (k+1)·dec
    mass, and removed mass cannot exceed inserted mass n_p), so a key
    with local count > n_p/k survives locally — and by pigeonhole any
    key with GLOBAL count > n/k exceeds n_p/k in at least one
    partition. False negatives are impossible.

    Phase 2 exact-recounts only the candidates (broadcast LEFT SEMI —
    ≤ k keys per partition regardless of key cardinality) and filters
    by the exact global threshold, removing phase-1 false positives.

    At 100 TB this is the skew-diagnosis / vocabulary-pruning
    primitive: the full groupBy would shuffle every row by key; here
    the shuffle carries only candidate-key rows. Output: (key, n,
    share) for keys with n > total/k.

    NULL keys (the classic skew culprit) are handled exactly via a
    side-channel: pandas ``value_counts`` drops NaN and an equi-semi-
    join never matches NULL, so instead of threading NULL through both
    phases, the global NULL count rides the same single-row totals
    aggregate and a NULL row is appended iff it crosses the exact
    threshold. No false negatives for NULL either.
    """
    import pandas as pd

    src = items.select(F.col(key_col).alias("key"))
    nn = src.filter(F.col("key").isNotNull())

    def _mg(batches):
        counters: dict = {}
        for pdf in batches:
            for key, c in pdf["key"].value_counts().items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                vals = sorted(counters.values(), reverse=True)
                dec = vals[k]  # (k+1)-th largest
                counters = {
                    key: n - dec for key, n in counters.items() if n > dec
                }
        yield pd.DataFrame({"key": list(counters.keys())})

    key_type = items.schema[key_col].dataType.simpleString()
    candidates = (
        nn.mapInPandas(_mg, f"key {key_type}")
        .distinct()
    )
    counts = (
        nn.join(F.broadcast(candidates), "key", "left_semi")
        .groupBy("key")
        .agg(F.count("*").alias("n"))
    )
    total = src.agg(
        F.count("*").alias("_total"),
        F.count(F.when(F.col("key").isNull(), 1)).alias("_nulls"),
    )
    null_hitters = total.filter(
        F.col("_nulls") > F.col("_total") / F.lit(k)
    ).select(
        F.lit(None).cast(key_type).alias("key"),
        F.col("_nulls").alias("n"),
        "_total",
    )
    return (
        counts.join(F.broadcast(total))
        .filter(F.col("n") > F.col("_total") / F.lit(k))
        .select("key", "n", "_total")
        .unionByName(null_hitters)
        .select(
            F.col("key").alias(key_col),
            "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("share"),
        )
    )


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """DAU + rolling distinct active users (WAU for window=7) per
    activity day — the canonical product-analytics engagement metric.

    Rolling COUNT(DISTINCT) admits no frame aggregate (sets don't
    subtract), so the exact shape is a bounded fan-out: the DISTINCT
    (day, user) table — users × days sized, tiny next to the event
    log — explodes each row onto the ``window_days`` window-end days
    it contributes to, then one partial/final distinct-count per day.
    Two shuffles total (the dedup and the per-day count), both keyed
    on well-distributed columns; the ×window_days expansion happens
    AFTER the per-day dedup, never on the raw log.
    """
    d = events.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    dau = d.groupBy("day").agg(F.count("*").alias("dau"))
    fan = d.select(
        F.explode(
            F.expr(f"sequence(day, date_add(day, {window_days - 1}))")
        ).alias("day"),
        "user_id",
    )
    wau = fan.groupBy("day").agg(F.count_distinct("user_id").alias("wau"))
    return dau.join(wau, "day").select("day", "dau", "wau")


def grouped_ols(
    df: DataFrame,
    group_cols: list[str],
    x: Column,
    y: Column,
    y_scale: int = 10**4,
) -> DataFrame:
    """Per-group ordinary-least-squares line fit from sufficient
    statistics: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept =
    (Σy − slope·Σx)/n — the map-side-combinable way to fit millions of
    tiny per-key models in ONE aggregation pass (no per-group solver,
    no iteration, no collect).

    ``x`` must be integral (e.g. a day index); ``y`` is fixed-point
    scaled to exact BIGINTs, so every sufficient statistic is an exact
    integer and the slope/intercept doubles are bit-identical across
    engines and partitionings. Groups with a degenerate x-variance
    report NULL slope/intercept.
    """
    xs = x.cast("long")
    ys = F.floor(y * F.lit(y_scale) + F.lit(0.5)).cast("long")
    # The per-row products fit int64 easily, but their SUMS don't on
    # billion-row groups (Σ x·ys ~ 1e10·1e9 rows = 1e19 > 2^63): sum
    # the cross-term addends in decimal(38,0) — exact, the int128 twin
    # of DuckDB's HUGEINT SUM — as well as taking the later n·Σ
    # products there.
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = df.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(xs).alias("sx"),
        F.sum(ys).alias("sy"),
        F.sum(dec(xs * ys)).alias("sxy"),
        F.sum(dec(xs * xs)).alias("sxx"),
    )
    det = (
        dec(agg["n"]) * dec(F.col("sxx")) - dec(F.col("sx")) * dec(F.col("sx"))
    )
    num = (
        dec(agg["n"]) * dec(F.col("sxy")) - dec(F.col("sx")) * dec(F.col("sy"))
    )
    slope_scaled = F.when(
        det != F.lit(0), num.cast("double") / det.cast("double")
    )
    intercept_scaled = (
        F.col("sy") - slope_scaled * F.col("sx")
    ) / F.col("n").cast("double")
    return agg.select(
        *group_cols,
        "n",
        F.round(slope_scaled / F.lit(float(y_scale)), 6).alias("slope"),
        F.round(intercept_scaled / F.lit(float(y_scale)), 6).alias("intercept"),
    )


def running_distinct(
    events: DataFrame,
    item_col: str,
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> DataFrame:
    """Cumulative distinct-item count per user over time — "how many
    unique items has this user touched so far at each event" — WITHOUT
    the memory-unsafe collect_set-over-window: a first-occurrence flag
    (row_number = 1 within (user, item)) followed by a running sum of
    flags within the user. Both windows are keyed (no global sort);
    state per window frame is one counter, not a set, so a power user
    with millions of events costs the same per row as anyone else.
    """
    from pyspark.sql.window import Window

    # Windows are built against the post-rename "item" column so any
    # source column name works.
    base = events.select(user_col, *order_cols, F.col(item_col).alias("item"))
    w_first = Window.partitionBy(user_col, "item").orderBy(*order_cols)
    w_run = (
        Window.partitionBy(user_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flag = (F.row_number().over(w_first) == 1).cast("long")
    return (
        base.withColumn("_new_item", flag)
        .withColumn("n_distinct_so_far", F.sum("_new_item").over(w_run))
        .drop("_new_item")
    )


def session_seq(
    events: DataFrame,
    gap_us: int,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Per-event gap-session sequence numbers: lag + running sum of
    new-session flags, both on the same user_id window (one Exchange
    reused).  The single shared source of session-boundary semantics —
    ``sessionize`` aggregates over it and ``session_paths`` ranks
    within it, so a gap-rule change can never silently diverge
    between them.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Single window spec: the lag is materialized once as a column and
    # the gap derives from IT — no second hand-written OVER clause that
    # could silently drift from `w`.
    lagged = events.select(
        "user_id",
        "event_id",
        "ts",
        *(carry_cols or []),
        F.lag("ts").over(w).alias("_lag_ts"),
    )
    gap = F.expr("timestampdiff(MICROSECOND, _lag_ts, ts)")
    is_new = F.when(
        F.col("_lag_ts").isNull() | (gap > F.lit(gap_us)), F.lit(1)
    ).otherwise(F.lit(0))
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return lagged.select(
        "user_id", "event_id", "ts", *(carry_cols or []),
        is_new.alias("_new"),
    ).withColumn("session_seq", F.sum("_new").over(wsum))


def sessionize(
    events: DataFrame,
    gap_us: int = 86_400_000_000,
) -> DataFrame:
    """Gap-based sessionization, parameterized by gap: the per-event
    :func:`session_seq` pass, then a per-(user, session) rollup that
    reuses its partitioning. The batch twin of the streaming session
    window; the 100 TB shape is one shuffle on user_id total.
    """
    return (
        session_seq(events, gap_us)
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def cooccurrence_pairs(
    df: DataFrame,
    basket_cols: list[str],
    item_col: str,
    k: int = 20,
    max_basket: int = 50,
) -> DataFrame:
    """Top-k co-occurring item pairs across baskets (market-basket /
    co-view mining): distinct items per basket, within-basket ordered
    pairs (a < b), one pair-keyed count, deterministic top-k.

    The quadratic is bounded by design: baskets larger than
    ``max_basket`` are dropped (the standard cap in co-occurrence
    mining — a 10k-item basket contributes 50M meaningless pairs), so
    the self-join on the basket key emits at most C(max_basket, 2)
    rows per basket.  The final top-k compiles to
    TakeOrderedAndProject (per-partition heaps), never a global sort.
    NULL items are excluded (a NULL can't name a product).
    """
    baskets = (
        df.filter(F.col(item_col).isNotNull())
        .select(*basket_cols, item_col)
        .distinct()
    )
    sized = baskets.groupBy(*basket_cols).agg(
        F.count("*").alias("_nb")
    )
    kept = baskets.join(
        sized.filter(F.col("_nb") <= max_basket).select(*basket_cols),
        basket_cols,
    )
    a = kept.select(*basket_cols, F.col(item_col).alias("item_a"))
    b = kept.select(*basket_cols, F.col(item_col).alias("item_b"))
    pairs = a.join(b, basket_cols).filter(
        F.col("item_a") < F.col("item_b")
    )
    counts = pairs.groupBy("item_a", "item_b").agg(
        F.count("*").alias("n_baskets")
    )
    return counts.orderBy(
        F.col("n_baskets").desc(), "item_a", "item_b"
    ).limit(k)


def grouped_zscore(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
    id_cols: list[str],
    scale: int = 10000,
) -> DataFrame:
    """Per-group z-score normalization of a metric column — the
    feature-standardization pass of a training pipeline, computed so
    the output is bit-stable across engines and partitionings.

    Values are fixed-point scaled (``floor(x·scale + 0.5)``) so the
    group moments are EXACT integer sums (decimal(38,0) — float sums
    are partition-order-dependent and can never hash-match an oracle).
    Population variance comes from the sufficient statistics
    ((n·Σs² − (Σs)²)/n²); sqrt is the one transcendental that IEEE
    guarantees correctly rounded, so z = (s − μ)/σ is deterministic.
    One map-side-combinable aggregate per group + one broadcast join
    back; no windows.
    """
    s = F.floor(F.col(val_col) * scale + F.lit(0.5)).cast("long")
    scaled = df.select(*id_cols, *group_cols, s.alias("_s"))
    stats = scaled.groupBy(*group_cols).agg(
        F.count("*").alias("_n"),
        F.sum(F.col("_s").cast("decimal(38,0)")).alias("_sum"),
        F.sum(
            F.col("_s").cast("decimal(38,0)") * F.col("_s")
        ).alias("_sumsq"),
    )
    n_d = F.col("_n").cast("double")
    mean = F.col("_sum").cast("double") / n_d
    var = (
        F.col("_n") * F.col("_sumsq") - F.col("_sum") * F.col("_sum")
    ).cast("double") / (n_d * n_d)
    enriched = scaled.join(F.broadcast(stats), group_cols)
    z = (F.col("_s").cast("double") - mean) / F.sqrt(var)
    # Zero-variance groups have no meaningful z — emit NULL rather
    # than letting 0/0 produce a NaN (whose BIGINT cast differs
    # between engines).
    z_guarded = F.when(var > 0, F.floor(F.lit(1000000.0) * z)).cast(
        "long"
    )
    return enriched.select(
        *id_cols, *group_cols, z_guarded.alias("z_micro")
    )


def interarrival_quantiles(
    events: DataFrame,
    group_col: str = "event_type",
    qs: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Per-group discrete quantiles (percent points, type-1: smallest
    element with CDF >= q) of the inter-arrival gap between a user's
    consecutive events of that group — the cadence/latency report of
    an event feed (median cadence, tail stalls).

    Gaps are exact integer microseconds from a (user, group)-keyed lag
    window; the quantile picks an ELEMENT (rank ceil(q·n/100) via pure
    integer arithmetic), never an interpolated float — linear
    interpolation at rank (n-1)·q differs between engines by an ulp,
    which at 1e11-microsecond magnitudes no decimal rounding can hide.
    Shape: one keyed lag window, one (group, gap) count, a group-keyed
    histogram cumsum (parallel across groups, sized by distinct gap
    values), and one conditional-min aggregate.
    """
    w = Window.partitionBy("user_id", group_col).orderBy("ts", "event_id")
    gaps = (
        events.select(
            "user_id", group_col, "ts", "event_id",
            F.lag("ts").over(w).alias("_lag_ts"),
        )
        .filter(F.col("_lag_ts").isNotNull())
        .select(
            group_col,
            F.expr("timestampdiff(MICROSECOND, _lag_ts, ts)").alias(
                "gap_us"
            ),
        )
    )
    hist = gaps.groupBy(group_col, "gap_us").agg(F.count("*").alias("c"))
    wc = (
        Window.partitionBy(group_col)
        .orderBy("gap_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("c").over(wc))
    tot = gaps.groupBy(group_col).agg(F.count("*").alias("n_gaps"))
    j = cum.join(tot, group_col)
    aggs = [
        F.min(
            F.when(
                # rank ceil(q·n/100) in exact integer arithmetic.
                F.col("cum")
                >= F.expr(f"({q} * n_gaps + 99) div 100"),
                F.col("gap_us"),
            )
        ).alias(f"p{q:02d}")
        for q in qs
    ]
    return j.groupBy(group_col, "n_gaps").agg(*aggs).select(
        group_col, *[f"p{q:02d}" for q in qs], "n_gaps"
    )


def winsorize(
    df: DataFrame,
    group_cols: list[str],
    val_col: str,
    id_cols: list[str],
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Per-group winsorization (percentile clipping) of a metric —
    the outlier-capping pass of feature cleaning.

    Two-pass shape that scales: one group-keyed quantile aggregate
    (bounded output), broadcast back, clamp in a narrow projection.
    Thresholds are rounded to 6 places BEFORE clamping so both the
    engine and any oracle clamp against the identical boundary (the
    unrounded interpolated quantile is the one value the two engines
    may disagree on by an ulp).
    """
    thresholds = df.groupBy(*group_cols).agg(
        F.round(F.expr(f"percentile({val_col}, {lo_q})"), 6).alias("_lo"),
        F.round(F.expr(f"percentile({val_col}, {hi_q})"), 6).alias("_hi"),
    )
    v = F.col(val_col)
    clipped = (
        F.when(v < F.col("_lo"), F.col("_lo"))
        .when(v > F.col("_hi"), F.col("_hi"))
        .otherwise(v)
    )
    return df.join(F.broadcast(thresholds), group_cols).select(
        *id_cols,
        *group_cols,
        v.alias(val_col),
        clipped.alias(f"{val_col}_winsorized"),
    )


def new_returning(events: DataFrame) -> DataFrame:
    """Daily new-vs-returning active users — the acquisition/retention
    split every product-analytics pipeline publishes.

    Two keyed aggregates (per-user first day; per-day distinct
    actives) and one user-keyed join; a user is "new" on the one day
    equal to their corpus-wide first day.  All counts exact integers.
    """
    first = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("_first_day")
    )
    daily = events.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    j = daily.join(first, "user_id")
    is_new = F.when(
        F.col("day") == F.col("_first_day"), F.lit(1)
    ).otherwise(F.lit(0))
    return j.groupBy("day").agg(
        F.count("*").alias("n_active"),
        F.sum(is_new).alias("n_new"),
        (F.count("*") - F.sum(is_new)).alias("n_returning"),
    )


def weekday_profile(events: DataFrame) -> DataFrame:
    """Per-type weekday seasonality profile: event volume by ISO
    weekday, normalized into a seasonality index (per-occurring-day
    rate over the type's overall daily rate, micro-scaled) — the
    profile a monitoring pipeline checks anomalies against.

    Calendar weighting uses the observed distinct-day calendar (a
    span ending mid-week has more Mondays than Sundays — dividing by
    raw counts would bake that skew into the index).  Everything is
    exact integer counts; the index is one deterministic double
    expression over them.
    """
    dow = (F.weekday(F.col("day")) + 1).alias("dow")  # ISO: Mon=1..Sun=7
    cal = events.select(F.col("ts").cast("date").alias("day")).distinct()
    dow_days = cal.select(dow).groupBy("dow").agg(
        F.count("*").alias("days_with_dow")
    )
    by_dow = (
        events.select(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .select("event_type", dow)
        .groupBy("event_type", "dow")
        .agg(F.count("*").alias("n_events"))
    )
    totals = events.groupBy("event_type").agg(
        F.count("*").alias("_n_type")
    )
    n_days = cal.groupBy().agg(F.count("*").alias("_n_days"))
    j = (
        by_dow.join(F.broadcast(dow_days), "dow")
        .join(F.broadcast(totals), "event_type")
        .crossJoin(F.broadcast(n_days))
    )
    index = (
        F.col("n_events").cast("double") * F.col("_n_days").cast("double")
    ) / (
        F.col("days_with_dow").cast("double")
        * F.col("_n_type").cast("double")
    )
    return j.select(
        "event_type",
        "dow",
        "n_events",
        "days_with_dow",
        F.floor(F.lit(1000000.0) * index + F.lit(0.5))
        .cast("long")
        .alias("index_micro"),
    )


def cohort_ltv(events: DataFrame, value_scale: int = 4) -> DataFrame:
    """Cohort LTV curve: users cohorted by their first-activity day;
    per (cohort, age-in-days) the purchase count, exact fixed-point
    revenue, running cumulative revenue, and average cumulative value
    per cohort user — the curve a growth pipeline publishes.

    Revenue is scaled-long exact (no float sums); the running total is
    a cohort-keyed window whose partition size is bounded by the time
    span in days, not by event volume.  Cohort sizes ride a broadcast
    join (the cohort dimension is one row per active day).
    """
    first = events.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort")
    )
    sizes = first.groupBy("cohort").agg(
        F.count("*").alias("cohort_size")
    )
    j = events.select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "event_type",
        "value",
    ).join(first, "user_id")
    per_age = (
        j.withColumn("age", F.datediff(F.col("day"), F.col("cohort")))
        .groupBy("cohort", "age")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("n_purchases"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    _scaled_long(F.col("value"), value_scale),
                ).otherwise(F.lit(0))
            ).alias("revenue_scaled"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per_age.withColumn(
        "cum_revenue_scaled", F.sum("revenue_scaled").over(w)
    )
    out = cum.join(F.broadcast(sizes), "cohort")
    ltv = F.floor(
        F.col("cum_revenue_scaled").cast("double")
        / F.col("cohort_size").cast("double")
        + F.lit(0.5)
    ).cast("long")
    return out.select(
        "cohort",
        "age",
        "n_purchases",
        "revenue_scaled",
        "cum_revenue_scaled",
        "cohort_size",
        ltv.alias("ltv_per_user_scaled"),
    )


def session_duration_hist(
    events: DataFrame, gap_us: int = 3_600_000_000
) -> DataFrame:
    """Log2-bucketed histogram of session durations (power-of-two
    second buckets) — the shape report for tuning session gaps and
    streaming state timeouts.

    Builds on :func:`sessionize` (one user-keyed shuffle); the log2
    bucket is ``length(bin(seconds))`` — pure integer/string built-ins
    on both engines, no transcendental log whose last ulp differs.
    """
    sess = sessionize(events, gap_us=gap_us)
    # Integer division straight from integer microseconds — no float
    # in the bucketing path at all.
    dur_s = F.expr(
        "timestampdiff(MICROSECOND, session_start, session_end)"
        " div 1000000"
    )
    b = sess.select(
        F.length(F.bin(dur_s)).alias("bucket"),
        dur_s.alias("dur_s"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_sessions"),
        F.min("dur_s").alias("min_s"),
        F.max("dur_s").alias("max_s"),
    )


def session_paths(
    events: DataFrame,
    gap_us: int = 3_600_000_000,
    max_steps: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k session-opening journeys: the ordered first
    ``max_steps`` event types of each gap-session, joined into a
    ``a>b>c`` path string, counted across all sessions — the "top user
    paths" report of product analytics.

    Same single user-keyed Exchange as :func:`sessionize` (lag flag +
    running session seq + per-session rank all reuse it); the
    per-session collect is bounded by ``max_steps`` BEFORE collection
    (rank filter), so no session can blow up a task.  Path assembly is
    array_sort over (ts, event_id)-keyed structs — deterministic under
    ties — and the final top-k compiles to a TakeOrderedAndProject
    heap.
    """
    sessioned = session_seq(events, gap_us, carry_cols=["event_type"])
    wr = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    first_n = sessioned.withColumn(
        "_rn", F.row_number().over(wr)
    ).filter(F.col("_rn") <= max_steps)
    paths = first_n.groupBy("user_id", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("ts", "event_id", "event_type")
                    )
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path"),
    )
    counts = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    return counts.orderBy(
        F.col("n_sessions").desc(), "path"
    ).limit(k)


def session_boundary_points(
    events: DataFrame, gap_us: int = 3_600_000_000
) -> DataFrame:
    """Sweep-line boundary points (t, delta, user_id, session_seq)
    for :func:`peak_concurrency` — all points in ONE traversal of the
    session table: a union of start/end/probe branches would re-run
    the sessionize window chain once per branch (measured 3x the
    query). Each session explodes to [(start,+1), (end,-1)] plus a
    zero-delta probe at every midnight strictly inside it; the `if`
    guards the sequence() (start > stop would silently generate a
    DESCENDING range). Exposed separately so the single-traversal
    shape is plan-testable (the cumsum downstream checkpoints, hiding
    this subplan from the final query's explain)."""
    sess = sessionize(events, gap_us=gap_us)
    pts_arr = F.expr(
        """
        concat(
          array(struct(session_start AS t, 1 AS delta),
                struct(session_end AS t, -1 AS delta)),
          if(cast(session_end AS date) > cast(session_start AS date),
             transform(
               sequence(date_add(cast(session_start AS date), 1),
                        cast(session_end AS date)),
               d -> struct(cast(d AS timestamp) AS t, 0 AS delta)),
             array()))
        """
    )
    return sess.select(
        "user_id", "session_seq", F.explode(pts_arr).alias("_pt")
    ).select(
        F.col("_pt.t").alias("t"),
        F.col("_pt.delta").alias("delta"),
        "user_id",
        "session_seq",
    )


def peak_concurrency(
    events: DataFrame, gap_us: int = 3_600_000_000
) -> DataFrame:
    """Peak concurrent sessions per day, by sweep-line: every session
    contributes a +1 point at its start and a -1 at its end, the
    running sum over the global (ts, delta) order is the concurrency
    level at each boundary instant, and the daily report takes the
    max of the levels observed that day — the capacity-planning
    number an event platform publishes.

    The global running sum uses the two-tier ``stats.range_cumsum``
    (no single-partition window); ordering (ts, delta, user, seq) is
    a total order with ends (-1) sorting before starts (+1) at equal
    timestamps, making session ends exclusive.  Sessions straddling
    midnight additionally emit a zero-delta PROBE point at every
    midnight strictly inside the session, so a day whose peak is
    entirely carried by sessions that span it is still exact: probes
    (delta 0) sort after ends and before starts at the same instant,
    which keeps end-exclusivity at the midnight boundary itself. The
    probe fan-out is bounded by session length in days — negligible
    next to the event fan-in.
    """
    from razulibs_spark.operators.stats import range_cumsum

    points = session_boundary_points(events, gap_us=gap_us)
    cum = range_cumsum(
        points,
        ["t", "delta", "user_id", "session_seq"],
        ["delta"],
        ["before"],
    )
    level = (F.col("before") + F.col("delta")).alias("level")
    return (
        cum.select(F.col("t").cast("date").alias("day"), level)
        .groupBy("day")
        .agg(F.max("level").alias("peak_concurrent"))
    )
