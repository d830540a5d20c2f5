"""Model-evaluation reporting operators: the metrics a pipeline that
classifies / filters 100 TB of data publishes about its own models
(language-ID, quality gates, dedup verdicts) — confusion matrices and
per-class rates computed set-at-a-time.

Scale shape: everything here reduces to count aggregates keyed by
(label, prediction) — map-side combinable, output bounded by the
class-vocabulary square, never by corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from razulibs_spark.operators.stats import range_cumsum


def confusion_matrix(
    df: DataFrame, label_col: str, pred_col: str
) -> DataFrame:
    """(label, prediction) confusion counts with per-label recall
    fractions: one count aggregate over the predictions table, one
    |classes|-sized rollup joined back. The diagonal's ``frac`` column
    is per-class recall; column-sums of ``n`` give per-class predicted
    mass for precision.
    """
    m = df.groupBy(label_col, pred_col).agg(F.count("*").alias("n"))
    totals = m.groupBy(label_col).agg(F.sum("n").alias("n_labeled"))
    return m.join(totals, label_col).select(
        label_col,
        pred_col,
        "n",
        "n_labeled",
        F.round(F.col("n").cast("double") / F.col("n_labeled"), 6).alias(
            "frac"
        ),
    )


def auc_ovr(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """One-vs-rest ROC AUC per class via the tie-corrected Mann-Whitney
    rank-sum — the ranking-quality metric for every scorer a pipeline
    runs (quality gates, dedup verdicts, classifier heads).

    AUC_c = (S2_c - n_pos·(n_pos+1)) / (2·n_pos·n_neg), where S2_c is
    the sum over class-c rows of twice their tie-averaged global rank.
    The global ranking is computed ONCE for all classes from the
    score-histogram prefix sum (two-tier ``range_cumsum`` — no
    single-partition window), then each class needs only one keyed
    aggregation.  Rank sums use decimal(38,0) (int128, the engine twin
    of an oracle's HUGEINT) so S2 ~ 2N² cannot wrap int64; doubles
    appear only in the final division of exact operands.
    """
    rows = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    hist = rows.groupBy(score_col).agg(F.count("*").alias("cnt"))
    hist_cum = range_cumsum(hist, [score_col], ["cnt"], ["below"], n_parts)
    # 2 × tie-averaged rank of every row sharing this score value.
    hist = hist_cum.select(
        score_col,
        (2 * F.col("below") + F.col("cnt") + 1).alias("r2"),
    )
    m = rows.groupBy(score_col, label_col).agg(F.count("*").alias("n"))
    per = (
        m.join(hist, score_col)
        .groupBy(label_col)
        .agg(
            F.sum(
                F.col("n").cast("decimal(38,0)") * F.col("r2")
            ).alias("s2"),
            F.sum("n").alias("n_pos"),
        )
    )
    # Total from the cumsum output (whose repartitioned histogram is
    # pinned inside range_cumsum) — not a second corpus scan.
    total = hist_cum.groupBy().agg(F.sum("cnt").alias("n_total"))
    per = per.crossJoin(F.broadcast(total)).withColumn(
        "n_neg", F.col("n_total") - F.col("n_pos")
    )
    num = F.col("s2") - (
        F.col("n_pos").cast("decimal(38,0)") * (F.col("n_pos") + 1)
    )
    den = (
        F.lit(2).cast("decimal(38,0)") * F.col("n_pos") * F.col("n_neg")
    )
    # Nearest-micro floor, not round(): round(x, 6) diverges between
    # engines when the exact rational lands on the decimal grid.
    auc = (
        F.floor(
            F.lit(1000000.0) * (num.cast("double") / den.cast("double"))
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return per.select(label_col, "n_pos", "n_neg", auc.alias("auc"))


def cohens_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa agreement between two labelers (model vs gold,
    model vs model) as a single-row report: N, observed-agreement
    numerator, chance-agreement numerator, and kappa.

    kappa = (N·Σdiag - Σ_c rt_c·ct_c) / (N² - Σ_c rt_c·ct_c) — all
    integer until the final division.  Everything after the one
    (a,b)-keyed count is bounded by the class vocabulary.
    """
    # Rows with a NULL on either side are excluded UP FRONT: they can
    # never count as agreement (NULL == NULL is not true) nor join
    # into the chance term, so keeping them would inflate N while
    # excluding them from both numerators — the same marginal
    # inconsistency fixed in chi_square_cells.
    m = (
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(a_col, b_col)
        .agg(F.count("*").alias("n"))
    )
    row_t = m.groupBy(a_col).agg(F.sum("n").alias("rt"))
    col_t = m.groupBy(b_col).agg(F.sum("n").alias("ct"))
    # Chance agreement pairs row/col marginals of the SAME class.
    # decimal(38,0) (int128): rt·ct and n² reach N², which wraps int64
    # beyond ~3e9 rows.
    pe = (
        row_t.join(col_t, F.col(a_col) == F.col(b_col))
        .groupBy()
        .agg(
            F.sum(
                F.col("rt").cast("decimal(38,0)") * F.col("ct")
            ).alias("pe_num")
        )
    )
    po = m.filter(F.col(a_col) == F.col(b_col)).groupBy().agg(
        F.sum("n").alias("po_num")
    )
    n_t = m.groupBy().agg(F.sum("n").alias("n"))
    one = n_t.crossJoin(F.broadcast(po)).crossJoin(F.broadcast(pe))
    n_dec = F.col("n").cast("decimal(38,0)")
    kappa = (
        F.floor(
            F.lit(1000000.0)
            * (
                (n_dec * F.col("po_num") - F.col("pe_num")).cast("double")
                / (n_dec * F.col("n") - F.col("pe_num")).cast("double")
            )
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    # pe_num is reported as double, not long: the value is ~N² and a
    # long cast would overflow at exactly the scale the decimal(38,0)
    # computation guards against (int->double conversion is correctly
    # rounded identically on both engines).
    return one.select(
        "n",
        "po_num",
        F.col("pe_num").cast("double").alias("pe_num"),
        kappa.alias("kappa"),
    )


def calibration_bins(
    df: DataFrame,
    permille_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins for a probabilistic scorer: group the
    permille-quantized predicted probability (0..999 — real pipelines
    bin anyway, and integer scores keep every aggregate exact) into
    ``n_bins`` equal bins; per bin report count, positives, exact mean
    predicted probability, and empirical positive rate.

    One map-side-combinable aggregate keyed by bin; integer sums, with
    doubles only in the two final divisions of exact operands.
    """
    width = 1000 // n_bins
    b = df.select(
        (F.col(permille_col).cast("long") / width).cast("long").alias("bin"),
        F.col(permille_col).cast("long").alias("pm"),
        F.when(F.col(label_col), F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    def _micro(x):
        return F.floor(F.lit(1000000.0) * x + F.lit(0.5)) / F.lit(1000000.0)

    return b.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("n_pos"),
        _micro(
            F.sum("pm").cast("double") / (F.count("*") * 1000).cast("double")
        ).alias("mean_pred"),
        _micro(
            F.sum("y").cast("double") / F.count("*").cast("double")
        ).alias("pos_rate"),
    )


def retrieval_metrics(
    results: DataFrame,
    labels: DataFrame,
    query_id_col: str,
    neighbor_id_col: str,
    rank_col: str,
    id_col: str,
    label_col: str,
    k: int,
) -> DataFrame:
    """Per-query retrieval quality — precision@k, recall@k, and
    reciprocal rank of the first relevant hit — for a top-k result
    table judged against ground-truth labels (relevant = same label as
    the query item, excluding the item itself).

    Two keyed label-resolution joins over the (queries × k)-sized
    result table, one class-sized relevance-count join; nothing scales
    with the corpus beyond the label lookup itself.  Recall and RR are
    emitted as exact-operand micro floors (hits·1e6/n_relevant is one
    IEEE division of exact integers), so they hash-match an oracle.
    """
    q_lab = labels.select(
        F.col(id_col).alias(query_id_col),
        F.col(label_col).alias("_qlab"),
    )
    n_lab = labels.select(
        F.col(id_col).alias(neighbor_id_col),
        F.col(label_col).alias("_nlab"),
    )
    joined = (
        results.join(q_lab, query_id_col)
        .join(n_lab, neighbor_id_col)
        .withColumn(
            "_rel",
            F.when(F.col("_qlab") == F.col("_nlab"), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
    )
    per_q = joined.groupBy(query_id_col, "_qlab").agg(
        F.sum("_rel").alias("hits"),
        F.min(
            F.when(F.col("_rel") == 1, F.col(rank_col))
        ).alias("first_rel_rank"),
    )
    # Corpus-side relevant counts per label (minus the query itself).
    rel_counts = labels.groupBy(label_col).agg(
        (F.count("*") - 1).alias("n_relevant")
    )
    out = per_q.join(
        F.broadcast(rel_counts),
        per_q["_qlab"] == rel_counts[label_col],
    )
    return out.select(
        query_id_col,
        "hits",
        "n_relevant",
        F.round(F.col("hits").cast("double") / F.lit(float(k)), 6).alias(
            "p_at_k"
        ),
        # Guard n_relevant=0 (a singleton label: the query is its
        # label's only member): Spark's non-ANSI x/0 yields NULL but
        # an IEEE engine (the DuckDB oracle) yields floor(inf) — an
        # explicit CASE keeps both engines at NULL.
        F.when(
            F.col("n_relevant") > 0,
            F.floor(
                F.lit(1000000.0)
                * (
                    F.col("hits").cast("double")
                    / F.col("n_relevant").cast("double")
                )
            ).cast("long"),
        ).alias("recall_micro"),
        "first_rel_rank",
        F.floor(
            F.lit(1000000.0) / F.col("first_rel_rank").cast("double")
        )
        .cast("long")
        .alias("rr_micro"),
    )


def topk_agreement(
    res_a: DataFrame,
    res_b: DataFrame,
    query_col: str,
    neighbor_col: str,
    k: int,
) -> DataFrame:
    """Per-query overlap between two top-k retrieval results (e.g. the
    exact brute-force ranking vs the IVF-bucketed ANN) — the recall
    report that justifies shipping an approximate index at 100 TB.

    One (query, neighbor)-keyed left join over two (queries × k)-sized
    tables, one query-keyed count; nothing scales with the corpus.
    """
    a = res_a.select(query_col, neighbor_col)
    b = res_b.select(query_col, neighbor_col).withColumn(
        "_hit", F.lit(1)
    )
    per = (
        a.join(b, [query_col, neighbor_col], "left")
        .groupBy(query_col)
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"))
    )
    return per.select(
        query_col,
        "n_overlap",
        F.round(
            F.col("n_overlap").cast("double") / F.lit(float(k)), 6
        ).alias("agreement_at_k"),
    )


def pass_at_k(
    df: DataFrame,
    n_col: str = "n_samples",
    c_col: str = "n_correct",
    ks: tuple[int, ...] = (1, 2, 4),
) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al. 2021, HumanEval):
    given n samples per task of which c pass, pass@k = 1 − C(n−c, k)
    / C(n, k) — the probability at least one of k drawn samples
    passes. Computed as EXACT integer falling-factorial products
    Π(n−c−i) / Π(n−i), i < k, with one final double division — no
    binomials, no floating accumulation, so Spark and any oracle agree
    bit-for-bit. The n−c < k case needs no special-casing: the factor
    chain descends through an exact 0, flooring the numerator (a
    0 factor precedes any negative one). Per-row codegen, zero
    shuffles — the eval-suite report stays a projection at any corpus
    size."""
    out = df
    for k in ks:
        num = F.lit(1).cast("long")
        den = F.lit(1).cast("long")
        for i in range(k):
            num = num * (F.col(n_col) - F.col(c_col) - F.lit(i))
            den = den * (F.col(n_col) - F.lit(i))
        out = out.withColumn(
            f"pass_at_{k}",
            F.lit(1.0) - num.cast("double") / den.cast("double"),
        )
    return out
