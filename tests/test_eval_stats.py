"""Semantic cross-checks for the evaluation / distribution-statistics
family: every metric is recomputed brute-force in numpy/pandas on a
small sample and compared exactly, plus physical-plan guards (no
CartesianProduct, two-tier cumsum instead of single-partition global
windows).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from razulibs_spark.operators import evaluation, stats

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------------
# range_cumsum
# ---------------------------------------------------------------------------


def test_range_cumsum_matches_pandas(spark):
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {"k": rng.permutation(997), "v": rng.randint(0, 50, 997)}
    )
    df = spark.createDataFrame(pdf)
    out = (
        stats.range_cumsum(df, ["k"], ["v"], ["before"], n_parts=7)
        .toPandas()
        .sort_values("k", ignore_index=True)
    )
    expect = pdf.sort_values("k", ignore_index=True)
    expect["before"] = expect["v"].cumsum().shift(1, fill_value=0)
    assert (out["before"].to_numpy() == expect["before"].to_numpy()).all()


def test_range_cumsum_multi_col_single_shuffle(spark):
    pdf = pd.DataFrame({"k": range(100), "a": [1] * 100, "b": [2] * 100})
    df = spark.createDataFrame(pdf)
    out = stats.range_cumsum(
        df, ["k"], ["a", "b"], ["ca", "cb"], n_parts=4
    )
    plan = _plan(out)
    # Both prefix sums ride ONE range shuffle.
    assert plan.count("rangepartitioning") <= 1
    row = out.filter(F.col("k") == 99).collect()[0]
    assert row["ca"] == 99 and row["cb"] == 198


# ---------------------------------------------------------------------------
# AUC
# ---------------------------------------------------------------------------


def _brute_auc(scores, labels, cls):
    pos = sorted(s for s, l in zip(scores, labels) if l == cls)
    neg = sorted(s for s, l in zip(scores, labels) if l != cls)
    wins = 0.0
    for p in pos:
        for n in neg:
            if p > n:
                wins += 1.0
            elif p == n:
                wins += 0.5
    return wins / (len(pos) * len(neg))


def test_auc_ovr_matches_brute(spark):
    rng = np.random.RandomState(3)
    scores = rng.randint(0, 40, 300).astype(float)  # many ties
    labels = rng.randint(0, 3, 300)
    df = spark.createDataFrame(
        pd.DataFrame({"score": scores, "label": labels})
    )
    out = {
        r["label"]: r
        for r in evaluation.auc_ovr(df, "score", "label", n_parts=5).collect()
    }
    for cls in (0, 1, 2):
        expect = _brute_auc(scores, labels, cls)
        assert out[cls]["n_pos"] == int((labels == cls).sum())
        assert math.isclose(out[cls]["auc"], round(expect, 6), abs_tol=1e-9)


def test_auc_perfect_and_random_extremes(spark):
    # Perfectly separating score -> AUC 1.0 for the high class.
    pdf = pd.DataFrame(
        {"score": [1.0, 2.0, 3.0, 10.0, 11.0, 12.0],
         "label": [0, 0, 0, 1, 1, 1]}
    )
    out = {
        r["label"]: r["auc"]
        for r in evaluation.auc_ovr(
            spark.createDataFrame(pdf), "score", "label", n_parts=2
        ).collect()
    }
    assert out[1] == 1.0 and out[0] == 0.0


def test_auc_plan_no_cartesian_no_global_window(spark):
    from razulibs_spark import queries as Q

    plan = _plan(Q.eval_auc_ovr(spark, SF))
    assert "CartesianProduct" not in plan
    # The only windows are partitioned by _pid (two-tier cumsum); a
    # bare `Window [... ORDER BY score]` with an empty partition spec
    # would funnel the histogram through one task.
    for frag in plan.split("Arguments: ")[1:]:
        head = frag.split("\n")[0]
        if "windowspecdefinition" in head:
            assert "_pid" in head


# ---------------------------------------------------------------------------
# Cohen's kappa
# ---------------------------------------------------------------------------


def test_cohens_kappa_matches_brute(spark):
    rng = np.random.RandomState(11)
    a = rng.randint(0, 4, 500)
    noise = rng.randint(0, 4, 500)
    b = np.where(rng.rand(500) < 0.6, a, noise)
    df = spark.createDataFrame(
        pd.DataFrame({"a": a.astype(str), "b": b.astype(str)})
    )
    row = evaluation.cohens_kappa(df, "a", "b").collect()[0]
    n = 500
    po = float((a == b).sum()) / n
    pe = sum(
        float((a == int(c)).sum()) * float((b == int(c)).sum())
        for c in range(4)
    ) / (n * n)
    expect = (po - pe) / (1 - pe)
    assert row["n"] == n
    assert math.isclose(row["kappa"], round(expect, 6), abs_tol=1e-6)


def test_kappa_perfect_agreement(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": ["x", "y", "z"] * 10, "b": ["x", "y", "z"] * 10})
    )
    assert evaluation.cohens_kappa(df, "a", "b").collect()[0]["kappa"] == 1.0


# ---------------------------------------------------------------------------
# Calibration
# ---------------------------------------------------------------------------


def test_calibration_bins_exact(spark):
    pdf = pd.DataFrame(
        {"pm": [50, 149, 150, 850, 999, 950],
         "y": [False, True, False, True, True, False]}
    )
    out = {
        r["bin"]: r
        for r in evaluation.calibration_bins(
            spark.createDataFrame(pdf), "pm", "y", n_bins=10
        ).collect()
    }
    assert out[0]["n"] == 1 and out[0]["n_pos"] == 0
    assert out[0]["mean_pred"] == 0.05
    assert out[1]["n"] == 2 and out[1]["n_pos"] == 1
    assert out[1]["mean_pred"] == round((149 + 150) / 2000, 6)
    assert out[9]["n"] == 2 and out[9]["n_pos"] == 1
    assert out[8]["n"] == 1 and out[8]["mean_pred"] == 0.85


# ---------------------------------------------------------------------------
# Retrieval metrics
# ---------------------------------------------------------------------------


def test_retrieval_metrics_hand_case(spark):
    results = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [1, 1, 1, 2, 2, 2],
                "neighbor_id": [10, 11, 12, 10, 11, 12],
                "rnk": [1, 2, 3, 1, 2, 3],
            }
        )
    )
    labels = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [1, 2, 10, 11, 12], "label": [7, 8, 8, 7, 7]}
        )
    )
    out = {
        r["query_id"]: r
        for r in evaluation.retrieval_metrics(
            results, labels, "query_id", "neighbor_id", "rnk",
            "vec_id", "label", k=3
        ).collect()
    }
    # query 1 (label 7): relevant neighbors 11,12 at ranks 2,3; corpus
    # has 3 label-7 vectors, minus self = 2 relevant.
    assert out[1]["hits"] == 2 and out[1]["first_rel_rank"] == 2
    assert out[1]["p_at_k"] == round(2 / 3, 6)
    assert out[1]["recall_micro"] == 1000000
    assert out[1]["rr_micro"] == 500000
    # query 2 (label 8): only neighbor 10 matches, at rank 1.
    assert out[2]["hits"] == 1 and out[2]["rr_micro"] == 1000000
    assert out[2]["n_relevant"] == 1


def test_retrieval_no_relevant_gives_null_rank(spark):
    results = spark.createDataFrame(
        pd.DataFrame({"query_id": [1], "neighbor_id": [10], "rnk": [1]})
    )
    labels = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 10, 11], "label": [5, 6, 5]})
    )
    row = evaluation.retrieval_metrics(
        results, labels, "query_id", "neighbor_id", "rnk",
        "vec_id", "label", k=1
    ).collect()[0]
    assert row["hits"] == 0
    assert row["first_rel_rank"] is None and row["rr_micro"] is None


# ---------------------------------------------------------------------------
# Chi-square
# ---------------------------------------------------------------------------


def test_chi_square_cells_match_brute(spark):
    rng = np.random.RandomState(5)
    a = rng.choice(list("pqr"), 400)
    b = rng.choice(list("uv"), 400)
    df = spark.createDataFrame(pd.DataFrame({"a": a, "b": b}))
    out = stats.chi_square_cells(df, "a", "b").collect()
    ct = pd.crosstab(pd.Series(a), pd.Series(b))
    n = 400
    for r in out:
        o = ct.loc[r["a"], r["b"]]
        e = float(ct.loc[r["a"]].sum()) * float(ct[r["b"]].sum()) / n
        assert r["o"] == o
        assert r["e_micro"] == math.floor(1e6 * e)
        assert r["contrib_milli"] == math.floor(1e3 * (o - e) ** 2 / e)


# ---------------------------------------------------------------------------
# Embedding dim stats
# ---------------------------------------------------------------------------


def test_embedding_dim_stats_brute(spark, sf_dir):
    from razulibs_spark import tables

    emb = tables.load(spark, sf_dir, "embeddings")
    out = {
        r["dim"]: r
        for r in stats.embedding_dim_stats(emb, "embedding").collect()
    }
    mat = np.array(
        [r["embedding"] for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    assert len(out) == mat.shape[1]
    for d in (1, mat.shape[1]):
        col = mat[:, d - 1]
        assert out[d]["n"] == len(col)
        assert out[d]["min_val"] == col.min()
        assert out[d]["max_val"] == col.max()
        assert out[d]["sum_micro"] == int(
            np.floor(col * 1_000_000.0).sum()
        )


# ---------------------------------------------------------------------------
# KS drift
# ---------------------------------------------------------------------------


def test_ks_drift_matches_brute(spark, sf_dir):
    from razulibs_spark import tables

    ev = tables.load(spark, sf_dir, "events")
    row = stats.ks_drift(
        ev, "value", "event_type", "click", "purchase", n_parts=4
    ).collect()[0]
    pdf = ev.select("value", "event_type").toPandas()
    va = np.sort(
        pdf.loc[pdf.event_type == "click", "value"].dropna().to_numpy()
    )
    vb = np.sort(
        pdf.loc[pdf.event_type == "purchase", "value"].dropna().to_numpy()
    )
    allv = np.unique(np.concatenate([va, vb]))
    fa = np.searchsorted(va, allv, side="right")
    fb = np.searchsorted(vb, allv, side="right")
    d = np.abs(
        fa.astype(float) * len(vb) - fb.astype(float) * len(va)
    ).max()
    assert row["na"] == len(va) and row["nb"] == len(vb)
    assert row["ks_micro"] == math.floor(
        1e6 * (d / (float(len(va)) * float(len(vb))))
    )


def test_ks_identical_distribution_is_zero(spark):
    pdf = pd.DataFrame(
        {"v": list(range(50)) * 2, "g": ["a"] * 50 + ["b"] * 50}
    )
    row = stats.ks_drift(
        spark.createDataFrame(pdf), "v", "g", "a", "b", n_parts=2
    ).collect()[0]
    assert row["ks_micro"] == 0


def test_ks_plan_no_cartesian(spark):
    from razulibs_spark import queries as Q

    plan = _plan(Q.stats_ks_drift(spark, SF))
    assert "CartesianProduct" not in plan
    for frag in plan.split("Arguments: ")[1:]:
        head = frag.split("\n")[0]
        if "windowspecdefinition" in head:
            assert "_pid" in head


# ---------------------------------------------------------------------------
# Batch 2: resample/ffill, co-occurrence, z-score, gini, vocab coverage
# ---------------------------------------------------------------------------


def test_resample_ffill_hand_case(spark):
    from razulibs_spark.operators import temporal

    pdf = pd.DataFrame(
        {
            "k": [1, 1, 1],
            "ts": pd.to_datetime(
                ["2024-01-01 00:10", "2024-01-01 00:40", "2024-01-01 03:05"]
            ),
            "v": [10.0, 20.0, 30.0],
            "tb": [1, 2, 3],
        }
    )
    out = (
        temporal.resample_ffill(
            spark.createDataFrame(pdf), "k", "ts", "v", "1 hour", "tb"
        )
        .orderBy("bucket")
        .collect()
    )
    # Grid: 00:00..03:00 inclusive; hour 0 takes the LAST obs (20.0),
    # hours 1-2 forward-fill, hour 3 observes 30.0.
    assert [r["v"] for r in out] == [20.0, 20.0, 20.0, 30.0]
    assert len(out) == 4


def test_resample_ffill_rejects_unsupported_step(spark):
    """Steps outside {'1 hour','1 day'} would silently desynchronize
    the date_trunc bucket from the grid stride — must raise."""
    import pytest

    from razulibs_spark.operators import temporal

    df = spark.createDataFrame(
        pd.DataFrame(
            {"k": [1], "ts": pd.to_datetime(["2024-01-01"]), "v": [1.0]}
        )
    )
    for bad in ["2 hours", "30 minutes", "1 week"]:
        with pytest.raises(ValueError, match="step"):
            temporal.resample_ffill(df, "k", "ts", "v", bad)


def test_retrieval_singleton_label_null_recall(spark):
    """A query whose label has no other corpus member (n_relevant=0)
    must yield NULL recall_micro, not a division crash/mismatch."""
    results = spark.createDataFrame(
        pd.DataFrame({"query_id": [1], "neighbor_id": [10], "rnk": [1]})
    )
    labels = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1, 10], "label": [5, 6]})
    )
    row = evaluation.retrieval_metrics(
        results, labels, "query_id", "neighbor_id", "rnk",
        "vec_id", "label", k=1
    ).collect()[0]
    assert row["n_relevant"] == 0
    assert row["recall_micro"] is None


def test_cooccurrence_pairs_hand_case(spark):
    from razulibs_spark.operators import analytics

    pdf = pd.DataFrame(
        {
            "b": [1, 1, 1, 2, 2, 3, 3, 3],
            "item": ["x", "y", "z", "x", "y", "x", "y", "x"],
        }
    )
    out = analytics.cooccurrence_pairs(
        spark.createDataFrame(pdf), ["b"], "item", k=10, max_basket=50
    ).collect()
    d = {(r["item_a"], r["item_b"]): r["n_baskets"] for r in out}
    # (x,y) co-occur in baskets 1,2,3 (dup x in basket 3 dedups).
    assert d[("x", "y")] == 3
    assert d[("x", "z")] == 1 and d[("y", "z")] == 1
    # Ranking: most frequent pair first.
    assert out[0]["item_a"] == "x" and out[0]["item_b"] == "y"


def test_cooccurrence_basket_cap_drops_oversize(spark):
    from razulibs_spark.operators import analytics

    rows = [(1, f"i{j:02d}") for j in range(10)] + [(2, "a"), (2, "b")]
    pdf = pd.DataFrame(rows, columns=["b", "item"])
    out = analytics.cooccurrence_pairs(
        spark.createDataFrame(pdf), ["b"], "item", k=100, max_basket=5
    ).collect()
    assert {(r["item_a"], r["item_b"]) for r in out} == {("a", "b")}


def test_grouped_zscore_matches_numpy(spark):
    from razulibs_spark.operators import analytics

    rng = np.random.RandomState(13)
    vals = np.round(rng.uniform(0, 100, 400), 2)
    grp = rng.choice(["g1", "g2"], 400)
    pdf = pd.DataFrame({"id": range(400), "g": grp, "v": vals})
    out = {
        r["id"]: r["z_micro"]
        for r in analytics.grouped_zscore(
            spark.createDataFrame(pdf), ["g"], "v", ["id"]
        ).collect()
    }
    sv = np.floor(vals * 10000 + 0.5)
    for g in ("g1", "g2"):
        m = grp == g
        mu, sd = sv[m].mean(), sv[m].std()  # population std
        for i in np.where(m)[0][:50]:
            expect = math.floor(1e6 * ((sv[i] - mu) / sd))
            assert abs(out[i] - expect) <= 1  # numpy mean rounds differently


def test_grouped_zscore_zero_variance_null(spark):
    from razulibs_spark.operators import analytics

    pdf = pd.DataFrame({"id": [1, 2], "g": ["a", "a"], "v": [5.0, 5.0]})
    out = analytics.grouped_zscore(
        spark.createDataFrame(pdf), ["g"], "v", ["id"]
    ).collect()
    assert all(r["z_micro"] is None for r in out)


def test_group_gini_extremes(spark):
    pdf = pd.DataFrame(
        {
            "g": ["pure"] * 4 + ["even"] * 4,
            "lab": ["a"] * 4 + ["a", "b", "c", "d"],
        }
    )
    out = {
        r["g"]: r["gini"]
        for r in stats.group_gini(
            spark.createDataFrame(pdf), "g", "lab"
        ).collect()
    }
    assert out["pure"] == 0.0
    assert out["even"] == 0.75


def test_vocab_coverage_hand_case(spark):
    from razulibs_spark.operators import text as T

    pdf = pd.DataFrame(
        {
            "source": ["s1", "s1", "s2"],
            "text": ["a a b", "a c", "b d"],
        }
    )
    out = {
        r["source"]: r
        for r in T.vocab_coverage(
            spark.createDataFrame(pdf), top_n=2
        ).collect()
    }
    # Counts: a=3, b=2, c=1, d=1 -> vocab {a, b}.
    assert out["s1"]["total_tokens"] == 5
    assert out["s1"]["covered_tokens"] == 4
    assert out["s2"]["covered_tokens"] == 1
    assert out["s2"]["coverage_micro"] == 500000


# ---------------------------------------------------------------------------
# Batch 3: interarrival quantiles, correlation, winsorize, changepoint
# ---------------------------------------------------------------------------


def test_interarrival_gaps_hand_case(spark):
    from razulibs_spark.operators import analytics

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2],
            "event_type": ["a", "a", "a", "a"],
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:00:10",
                 "2024-01-01 00:00:40", "2024-01-01 05:00:00"]
            ),
        }
    )
    row = analytics.interarrival_quantiles(
        spark.createDataFrame(pdf), "event_type", qs=(50, 99)
    ).collect()[0]
    # User 1 gaps: 10s, 30s; user 2 contributes none.  Discrete p50 =
    # element at rank ceil(0.5*2)=1 -> 10s; p99 -> rank 2 -> 30s.
    assert row["n_gaps"] == 2
    assert row["p50"] == 10_000_000
    assert row["p99"] == 30_000_000


def test_corr_matrix_matches_numpy(spark):
    rng = np.random.RandomState(17)
    rows = []
    for d in range(20):
        for s, lam in (("a", 5), ("b", 9)):
            for _ in range(rng.poisson(lam)):
                rows.append((d, s))
    pdf = pd.DataFrame(rows, columns=["d", "s"])
    out = stats.corr_matrix(spark.createDataFrame(pdf), "d", "s").collect()
    assert len(out) == 1
    ct = pdf.groupby(["d", "s"]).size().unstack(fill_value=0)
    ct = ct.reindex(range(20), fill_value=0)
    expect = np.corrcoef(ct["a"], ct["b"])[0, 1]
    assert abs(out[0]["r_micro"] / 1e6 - expect) < 2e-6


def test_corr_matrix_perfect_correlation(spark):
    rows = []
    for d in range(5):
        rows += [(d, "a")] * (d + 1) + [(d, "b")] * (2 * (d + 1))
    pdf = pd.DataFrame(rows, columns=["d", "s"])
    out = stats.corr_matrix(spark.createDataFrame(pdf), "d", "s").collect()
    assert out[0]["r_micro"] == 1000000


def test_corr_matrix_zero_fills_missing_buckets(spark):
    # Series b absent on days 1-2: an inner join would drop those days
    # and see perfect correlation; zero-fill must not.
    rows = [(0, "a"), (0, "b"), (1, "a"), (2, "a"), (2, "b")]
    pdf = pd.DataFrame(rows, columns=["d", "s"])
    out = stats.corr_matrix(spark.createDataFrame(pdf), "d", "s").collect()
    assert out[0]["n"] == 3


def test_winsorize_clamps_to_rounded_thresholds(spark):
    from razulibs_spark.operators import analytics

    vals = [float(i) for i in range(1, 101)]
    pdf = pd.DataFrame(
        {"id": range(100), "g": ["x"] * 100, "v": vals}
    )
    out = analytics.winsorize(
        spark.createDataFrame(pdf), ["g"], "v", ["id"], 0.05, 0.95
    ).toPandas()
    lo = np.percentile(vals, 5)   # same (n-1)q definition
    hi = np.percentile(vals, 95)
    assert out["v_winsorized"].min() == round(lo, 6)
    assert out["v_winsorized"].max() == round(hi, 6)
    mid = out[(out.v > lo) & (out.v < hi)]
    assert (mid["v_winsorized"] == mid["v"]).all()


def test_cusum_changepoint_detects_level_shift(spark):
    # 10 buckets at rate 2, then 10 at rate 10: peak deviation at the
    # shift boundary (bucket 9, the last low-rate bucket).
    rows = []
    for d in range(10):
        rows += [(d, "s")] * 2
    for d in range(10, 20):
        rows += [(d, "s")] * 10
    pdf = pd.DataFrame(rows, columns=["d", "g"])
    row = stats.cusum_changepoint(
        spark.createDataFrame(pdf), "d", "g"
    ).collect()[0]
    assert row["change_bucket"] == 9
    assert row["n_buckets"] == 20
    # Brute CUSUM: m*cum_k - k*S maximized at k=10 (bucket index 9).
    xs = [2] * 10 + [10] * 10
    s, m = sum(xs), len(xs)
    best = max(
        abs(m * sum(xs[: k + 1]) - (k + 1) * s) for k in range(m)
    )
    assert row["peak_dev_scaled"] == best


# ---------------------------------------------------------------------------
# Batch 4: ANN agreement, new/returning, weekday profile, power-iter PCA
# ---------------------------------------------------------------------------


def test_topk_agreement_hand_case(spark):
    a = spark.createDataFrame(
        pd.DataFrame({"q": [1, 1, 2, 2], "nb": [10, 11, 10, 12]})
    )
    b = spark.createDataFrame(
        pd.DataFrame({"q": [1, 1, 2, 2], "nb": [10, 99, 13, 14]})
    )
    out = {
        r["q"]: r
        for r in evaluation.topk_agreement(a, b, "q", "nb", k=2).collect()
    }
    assert out[1]["n_overlap"] == 1 and out[1]["agreement_at_k"] == 0.5
    assert out[2]["n_overlap"] == 0 and out[2]["agreement_at_k"] == 0.0


def test_new_returning_hand_case(spark):
    from razulibs_spark.operators import analytics

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 08:00", "2024-01-01 09:00", "2024-01-01 10:00",
                 "2024-01-02 08:00", "2024-01-02 09:00", "2024-01-02 10:00"]
            ),
        }
    )
    out = {
        str(r["day"]): r
        for r in analytics.new_returning(
            spark.createDataFrame(pdf)
        ).collect()
    }
    d1, d2 = out["2024-01-01"], out["2024-01-02"]
    assert d1["n_active"] == 2 and d1["n_new"] == 2 and d1["n_returning"] == 0
    assert d2["n_active"] == 3 and d2["n_new"] == 1 and d2["n_returning"] == 2


def test_weekday_profile_uniform_is_unit_index(spark):
    from razulibs_spark.operators import analytics

    # 14 consecutive days, exactly one event per day: every weekday
    # index must be exactly 1.0 (1e6 micro).
    pdf = pd.DataFrame(
        {
            "event_type": ["t"] * 14,
            "ts": pd.to_datetime(
                [f"2024-01-{d:02d} 12:00" for d in range(1, 15)]
            ),
        }
    )
    out = analytics.weekday_profile(spark.createDataFrame(pdf)).collect()
    assert len(out) == 7
    assert all(r["index_micro"] == 1000000 for r in out)
    assert all(r["days_with_dow"] == 2 for r in out)


def test_pca_power_matches_numpy(spark):
    # Planted dominant direction (eigengap >> 0 so power iteration
    # converges; random data has a flat spectrum and an ill-defined
    # top component).
    rng = np.random.RandomState(23)
    direction = rng.randn(16)
    direction /= np.linalg.norm(direction)
    mat = rng.randn(300, 16) + 6.0 * np.outer(rng.randn(300), direction)
    emb = spark.createDataFrame(
        pd.DataFrame({"embedding": [row.tolist() for row in mat]})
    )
    out = stats.pca_top_component(emb, "embedding", iters=12).collect()
    v = np.array([r["loading"] for r in sorted(out, key=lambda r: r["dim"])])
    c = mat - mat.mean(axis=0)
    cov = c.T @ c
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    if np.dot(top, v) < 0:
        top = -top
    assert np.abs(np.dot(top, v)) > 0.9999
    assert abs(out[0]["eigenvalue"] - w[-1]) / w[-1] < 1e-4


def test_pca_power_smoke_on_testdata(spark, sf_dir):
    from razulibs_spark import tables

    emb = tables.load(spark, sf_dir, "embeddings")
    out = stats.pca_top_component(emb, "embedding", iters=3).collect()
    v = np.array([r["loading"] for r in sorted(out, key=lambda r: r["dim"])])
    assert len(v) == 64
    assert abs(np.linalg.norm(v) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# Review-fix regressions: empty inputs, NULL categories
# ---------------------------------------------------------------------------


def test_ks_drift_empty_input_returns_empty(spark):
    pdf = pd.DataFrame({"v": [1.0], "g": ["other"]})
    out = stats.ks_drift(
        spark.createDataFrame(pdf), "v", "g", "a", "b", n_parts=2
    )
    assert out.count() == 0


def test_range_cumsum_empty_input(spark):
    pdf = pd.DataFrame({"k": [1], "v": [1]})
    df = spark.createDataFrame(pdf).filter(F.col("k") > 99)
    out = stats.range_cumsum(df, ["k"], ["v"], ["c"], n_parts=2)
    assert out.count() == 0


def test_chi_square_excludes_null_categories_consistently(spark):
    pdf = pd.DataFrame(
        {"a": ["x", "x", None, "y"], "b": ["u", "v", "u", None]}
    )
    out = stats.chi_square_cells(spark.createDataFrame(pdf), "a", "b")
    rows = out.collect()
    # Only fully-non-NULL rows participate: (x,u), (x,v).  Marginal
    # consistency: sum of observed == the n used for expectations.
    assert sum(r["o"] for r in rows) == 2
    assert {(r["a"], r["b"]) for r in rows} == {("x", "u"), ("x", "v")}


def test_pca_empty_input_returns_empty(spark):
    pdf = pd.DataFrame({"embedding": [[1.0, 2.0]]})
    df = spark.createDataFrame(pdf).filter(F.lit(False))
    out = stats.pca_top_component(df, "embedding", iters=2)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Batch 5: cohort LTV, session-duration histogram
# ---------------------------------------------------------------------------


def test_cohort_ltv_hand_case(spark):
    from razulibs_spark.operators import analytics

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 1],
            "event_id": [1, 2, 3, 4],
            "event_type": ["purchase", "view", "purchase", "purchase"],
            "value": [10.0, 99.0, 5.0, 2.5],
            "ts": pd.to_datetime(
                ["2024-01-01 09:00", "2024-01-02 09:00",
                 "2024-01-01 10:00", "2024-01-03 09:00"]
            ),
        }
    )
    out = {
        (str(r["cohort"]), r["age"]): r
        for r in analytics.cohort_ltv(spark.createDataFrame(pdf)).collect()
    }
    # Both users cohort on 2024-01-01. Age 0: purchases 10.0 + 5.0.
    a0 = out[("2024-01-01", 0)]
    assert a0["n_purchases"] == 2
    assert a0["revenue_scaled"] == 150000
    assert a0["cohort_size"] == 2
    assert a0["ltv_per_user_scaled"] == 75000
    # Age 2: cumulative 10+5+2.5 = 17.5 -> 175000; per user 87500.
    a2 = out[("2024-01-01", 2)]
    assert a2["cum_revenue_scaled"] == 175000
    assert a2["ltv_per_user_scaled"] == 87500
    # Age 1 (view only) still emits a row with zero revenue.
    assert out[("2024-01-01", 1)]["n_purchases"] == 0


def test_session_duration_hist_buckets(spark):
    from razulibs_spark.operators import analytics

    # user 1: one 90-second session (bin(90)='1011010', bucket 7);
    # user 2: one instantaneous session (bucket 1).
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00", "2024-01-01 00:01:30",
                 "2024-01-01 05:00:00"]
            ),
        }
    )
    out = {
        r["bucket"]: r
        for r in analytics.session_duration_hist(
            spark.createDataFrame(pdf), gap_us=3_600_000_000
        ).collect()
    }
    assert out[7]["n_sessions"] == 1
    assert out[7]["min_s"] == 90 and out[7]["max_s"] == 90
    assert out[1]["n_sessions"] == 1 and out[1]["min_s"] == 0


# ---------------------------------------------------------------------------
# Batch 6: PIT SCD2 join, session path analysis
# ---------------------------------------------------------------------------


def test_pit_scd2_strictly_before(spark):
    from razulibs_spark import queries as Q2

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "user_id": [7, 7, 7],
            "event_type": ["view", "view", "purchase"],
            "value": [0.0, 0.0, 9.0],
            "props": ["{}"] * 3,
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 01:00", "2024-01-01 02:00"]
            ),
        }
    )
    import tempfile, os as _os

    tmp = tempfile.mkdtemp(prefix="pit_")
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        _os.path.join(tmp, "events.parquet")
    )
    out = Q2.j_pit_scd2(spark, tmp).collect()
    # The purchase's own run starts AT its ts; strictly-before must
    # surface the preceding 'view' run, not 'purchase'.
    assert len(out) == 1
    assert out[0]["pit_state"] == "view" and out[0]["pit_version"] == 1


def test_session_paths_hand_case(spark):
    from razulibs_spark.operators import analytics

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 2],
            "event_id": [1, 2, 3, 4, 5],
            "event_type": ["view", "click", "purchase", "view", "click"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 00:20",
                 "2024-01-02 00:00", "2024-01-02 00:05"]
            ),
        }
    )
    out = analytics.session_paths(
        spark.createDataFrame(pdf), max_steps=2, k=10
    ).collect()
    d = {r["path"]: r["n_sessions"] for r in out}
    # max_steps=2 truncates user 1's session to its first two events.
    assert d == {"view>click": 2}


# ---------------------------------------------------------------------------
# Batch 7: write plan, LSH S-curve
# ---------------------------------------------------------------------------


def test_write_plan_arithmetic(spark):
    from razulibs_spark.operators import maintenance

    pdf = pd.DataFrame({"t": ["x" * 100] * 1000})
    row = maintenance.write_plan(
        spark.createDataFrame(pdf),
        ["t"],
        fixed_bytes_per_row=0,
        target_file_bytes=10_000,
        compression_ratio_pct=100,
    ).collect()[0]
    assert row["raw_bytes"] == 100_000
    assert row["est_bytes"] == 100_000
    assert row["n_files"] == 10
    assert row["rows_per_file"] == 100


def test_write_plan_minimum_one_file(spark):
    from razulibs_spark.operators import maintenance

    pdf = pd.DataFrame({"t": ["ab"]})
    row = maintenance.write_plan(
        spark.createDataFrame(pdf), ["t"], fixed_bytes_per_row=8
    ).collect()[0]
    assert row["n_files"] == 1 and row["rows_per_file"] == 1


def test_lsh_s_curve_matches_math(spark):
    from razulibs_spark.operators import dedup as D

    out = D.lsh_s_curve(spark, configs=((4, 3),), grid_steps=19).collect()
    assert len(out) == 19
    for r in out:
        s = r["s_micro"] / 1e6
        expect = 1 - (1 - s**3) ** 4
        assert abs(r["p_candidate_micro"] / 1e6 - expect) < 1e-5
    # Monotone increasing in s.
    ps = [r["p_candidate_micro"] for r in sorted(out, key=lambda r: r["s_micro"])]
    assert ps == sorted(ps)


# ---------------------------------------------------------------------------
# Batch 8: cluster sizes, centroid shift
# ---------------------------------------------------------------------------


def test_cluster_size_histogram_planted_dups(spark):
    from razulibs_spark.operators import dedup as D

    pdf = pd.DataFrame(
        {"text": ["a"] * 3 + ["b"] * 2 + ["c", "d", "e"]}
    )
    out = {
        r["cluster_size"]: r
        for r in D.cluster_size_histogram(
            spark.createDataFrame(pdf)
        ).collect()
    }
    assert out[1]["n_clusters"] == 3 and out[1]["rows_removed"] == 0
    assert out[2]["n_clusters"] == 1 and out[2]["rows_removed"] == 1
    assert out[3]["n_clusters"] == 1 and out[3]["rows_removed"] == 2


def test_centroid_shift_known_distance(spark):
    pdf = pd.DataFrame(
        {
            "grp": ["a", "a", "b", "b"],
            "v": [[0.0, 0.0], [2.0, 0.0], [4.0, 3.0], [4.0, 3.0]],
        }
    )
    row = stats.centroid_shift(
        spark.createDataFrame(pdf), "v", "grp", "a", "b"
    ).collect()[0]
    # Means: a=(1,0), b=(4,3) -> shift = sqrt(9+9) = 4.2426...
    assert abs(row["shift_micro"] / 1e6 - math.sqrt(18)) < 1e-5


def test_centroid_shift_identical_groups_zero(spark):
    pdf = pd.DataFrame(
        {"grp": ["a", "b"], "v": [[1.5, -2.5], [1.5, -2.5]]}
    )
    row = stats.centroid_shift(
        spark.createDataFrame(pdf), "v", "grp", "a", "b"
    ).collect()[0]
    assert row["shift_micro"] == 0


def test_pca_all_empty_vectors_returns_empty(spark):
    pdf = pd.DataFrame({"embedding": [[], []]})
    out = stats.pca_top_component(
        spark.createDataFrame(
            pdf, schema="embedding array<double>"
        ),
        "embedding",
        iters=2,
    )
    assert out.count() == 0


def test_kappa_excludes_null_labels(spark):
    pdf = pd.DataFrame(
        {"a": ["x", "x", None, "y"], "b": ["x", None, "x", "y"]}
    )
    row = evaluation.cohens_kappa(
        spark.createDataFrame(pdf), "a", "b"
    ).collect()[0]
    # Only the two fully-non-NULL rows count: both agree -> kappa 1.
    assert row["n"] == 2 and row["po_num"] == 2
    assert row["kappa"] == 1.0


def test_peak_concurrency_hand_case(spark):
    from razulibs_spark.operators import analytics

    # Three users; sessions (08:00-09:00), (08:30-09:30), (08:45-08:50):
    # peak 3 concurrent at 08:45; end-exclusive at 09:00 boundary.
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 2, 3, 3],
            "event_id": [1, 2, 3, 4, 5, 6],
            "ts": pd.to_datetime(
                ["2024-01-01 08:00", "2024-01-01 09:00",
                 "2024-01-01 08:30", "2024-01-01 09:30",
                 "2024-01-01 08:45", "2024-01-01 08:50"]
            ),
        }
    )
    out = analytics.peak_concurrency(
        spark.createDataFrame(pdf), gap_us=7_200_000_000
    ).collect()
    assert len(out) == 1
    assert out[0]["peak_concurrent"] == 3


def test_peak_concurrency_midnight_straddle_exact(spark):
    """A session spanning 3 days must carry its level onto the middle
    (boundary-free) day via the zero-delta midnight probes; a session
    ending exactly AT midnight must not leak into the new day."""
    from razulibs_spark.operators import analytics

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 2],
            "event_id": [1, 2, 3, 4],
            # User 1: one session Jan 1 23:00 -> Jan 3 01:00 (events
            # 30 min apart keep the 1h-gap session alive across the
            # span via a tight event stream — instead simulate with a
            # huge gap threshold so two events bound one session).
            "ts": pd.to_datetime(
                ["2024-01-01 23:00", "2024-01-03 01:00",
                 # User 2: session ending exactly at midnight Jan 2.
                 "2024-01-01 22:00", "2024-01-02 00:00"]
            ),
        }
    )
    out = {
        str(r["day"]): r["peak_concurrent"]
        for r in analytics.peak_concurrency(
            spark.createDataFrame(pdf), gap_us=200 * 3_600_000_000
        ).collect()
    }
    # Jan 1: both sessions open -> 2. Jan 2: only user 1's session is
    # open ALL day (no boundary point on Jan 2 at all before the fix;
    # user 2's end at exactly 00:00 is exclusive) -> 1. Jan 3: level 1
    # until 01:00 end.
    assert out == {"2024-01-01": 2, "2024-01-02": 1, "2024-01-03": 1}


def test_pass_at_k_matches_comb_reference(spark):
    """The falling-factorial form must equal 1 - C(n-c,k)/C(n,k)
    (math.comb ground truth) for EVERY (n, c, k) in range, including
    c=0, c=n and the n-c<k regime where the estimator is exactly 1."""
    from math import comb

    from razulibs_spark.operators.evaluation import pass_at_k

    rows = [(n, c) for n in range(4, 9) for c in range(0, n + 1)]
    df = spark.createDataFrame(rows, "n_samples long, n_correct long")
    got = {
        (r["n_samples"], r["n_correct"]): (
            r["pass_at_1"], r["pass_at_2"], r["pass_at_4"]
        )
        for r in pass_at_k(df).collect()
    }
    for n, c in rows:
        for k, val in zip((1, 2, 4), got[(n, c)]):
            want = 1.0 if n - c < k else 1.0 - comb(n - c, k) / comb(n, k)
            assert val == want, (n, c, k, val, want)
