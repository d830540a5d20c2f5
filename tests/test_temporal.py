"""As-of join, binned range join, grouping/distinct extensions
(operators/temporal.py; queries j_asof_join, j_range_join_binned,
q5/q18 shapes, a_rollup_pricing, a_*_distinct)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from razulibs_spark import queries as Q
from razulibs_spark.operators import temporal


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "p1"),
            (1, _ts("2024-01-01T12:00:00"), "p2"),
            (2, _ts("2024-01-01T09:00:00"), "p3"),  # no prior right row
        ],
        "k long, t timestamp, name string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T09:30:00"), 10.0),
            (1, _ts("2024-01-01T11:00:00"), 20.0),
            (2, _ts("2024-01-01T09:30:00"), 30.0),  # after left's only row
        ],
        "k long, rt timestamp, v double",
    )
    out = temporal.asof_join(
        left, right, on="k", left_time="t", right_time="rt"
    ).orderBy("name")
    rows = {r["name"]: (r["matched_rt"], r["matched_v"]) for r in out.collect()}
    assert rows["p1"] == (_ts("2024-01-01T09:30:00"), 10.0)
    assert rows["p2"] == (_ts("2024-01-01T11:00:00"), 20.0)
    assert rows["p3"] == (None, None)


def test_asof_join_inclusive_vs_strict(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "p")], "k long, t timestamp, name string"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), 1.0),
         (1, _ts("2024-01-01T09:00:00"), 2.0)],
        "k long, rt timestamp, v double",
    )
    incl = temporal.asof_join(left, right, on="k", left_time="t", right_time="rt")
    strict = temporal.asof_join(
        left, right, on="k", left_time="t", right_time="rt", inclusive=False
    )
    assert incl.collect()[0]["matched_v"] == 1.0  # equal ts visible
    assert strict.collect()[0]["matched_v"] == 2.0  # equal ts excluded


def test_range_join_binned_matches_naive(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id", "value")
    bands = spark.createDataFrame(Q._BANDS, "band string, lo double, hi double")
    binned = temporal.range_join_binned(
        ev, bands, point_col="value", lo_col="lo", hi_col="hi", bin_width=25.0
    ).select("event_id", "band")
    naive = ev.join(
        bands, (ev.value >= bands.lo) & (ev.value < bands.hi)
    ).select("event_id", "band")
    assert binned.exceptAll(naive).count() == 0
    assert naive.exceptAll(binned).count() == 0
    # each point matches at most one band -> no dup pairs
    assert binned.count() == binned.distinct().count()


def test_range_join_binned_plans_hash_join_not_nested_loop(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    bands = spark.createDataFrame(Q._BANDS, "band string, lo double, hi double")
    plan = temporal.range_join_binned(
        ev, bands, "value", "lo", "hi", 25.0
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_single_exchange_on_key(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = temporal.asof_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click").withColumnRenamed("ts", "cts"),
        on="user_id", left_time="ts", right_time="cts",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # sort-based formulation: no join operator at all, one shuffle
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q18_topk_never_global_sorts(spark, sf_dir):
    plan = (
        Q.QUERIES["q18_large_orders"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_approx_distinct_within_bound(spark, sf_dir):
    """The query now emits the bound check itself (oracle-stable
    contract): exact counts must agree with a_distinct_count and the
    HLL bound booleans must hold, plus an independent re-check of the
    raw sketch against the exact counts."""
    exact = Q.QUERIES["a_distinct_count"](spark, sf_dir).collect()[0]
    out = Q.QUERIES["a_approx_distinct"](spark, sf_dir).collect()[0]
    assert out["n_parts_exact"] == exact["n_parts"]
    assert out["n_supps_exact"] == exact["n_supps"]
    assert out["parts_within_bound"] and out["supps_within_bound"]
    raw = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("p"),
            F.approx_count_distinct("l_suppkey", 0.02).alias("s"),
        )
        .collect()[0]
    )
    assert abs(raw["p"] - exact["n_parts"]) <= 0.05 * exact["n_parts"]
    assert abs(raw["s"] - exact["n_supps"]) <= 0.05 * exact["n_supps"]


def test_rollup_levels_consistent(spark, sf_dir):
    rows = Q.QUERIES["a_rollup_pricing"](spark, sf_dir).collect()
    total = [r for r in rows if r["g_flag"] == 1 and r["g_status"] == 1]
    leaves = [r for r in rows if r["g_flag"] == 0 and r["g_status"] == 0]
    mids = [r for r in rows if r["g_flag"] == 0 and r["g_status"] == 1]
    assert len(total) == 1
    assert total[0]["n_rows"] == sum(r["n_rows"] for r in leaves)
    assert total[0]["n_rows"] == sum(r["n_rows"] for r in mids)


def test_rp_lsh_neardup_recall_and_precision(spark, sf_dir):
    """The query plants an exact duplicate of every vector; tight
    16-bit bands must recover ALL planted pairs (cos≈1 collides in
    every band), and the exact-cosine verify makes every emitted pair
    a true >=0.9 pair (precision 1.0)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    out = Q.QUERIES["sim_rp_lsh_neardup"](spark, sf_dir)
    pairs = {(r["v1"], r["v2"]) for r in out.collect()}
    planted = {
        (r["vec_id"], r["vec_id"] + 10_000_000) for r in emb.collect()
    }
    assert planted <= pairs, "planted exact dups must all be recovered"
    assert all(r["cosine"] >= 0.9 for r in out.collect())
    # candidate pruning actually prunes: output stays near the planted
    # count (no random-pair flood)
    assert len(pairs) < 3 * n


def test_window_queries_are_keyed(spark, sf_dir):
    """Both §2.5 window queries must partition by their natural key —
    never a global (single-partition) window."""
    for name, key in [("w_running_total", "o_custkey"),
                      ("w_lag_lead_gaps", "user_id")]:
        plan = (
            Q.QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert f"hashpartitioning({key}" in plan, name


def test_cube_levels_consistent(spark, sf_dir):
    rows = Q.QUERIES["a_cube_price"](spark, sf_dir).collect()
    total = [r for r in rows if r["g_flag"] == 1 and r["g_prio"] == 1]
    leaves = [r for r in rows if r["g_flag"] == 0 and r["g_prio"] == 0]
    by_flag = [r for r in rows if r["g_flag"] == 0 and r["g_prio"] == 1]
    by_prio = [r for r in rows if r["g_flag"] == 1 and r["g_prio"] == 0]
    assert len(total) == 1
    for grp in (leaves, by_flag, by_prio):
        assert total[0]["n_rows"] == sum(r["n_rows"] for r in grp)


def test_prefix_filter_jaccard_is_exact(spark, sf_dir):
    """Prefix filtering is lossless: both orderings must equal the
    brute-force shingle self-join output exactly."""
    from razulibs_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = dedup.word_shingles(docs).persist()
    try:
        brute = {(r["d1"], r["d2"]) for r in dedup.jaccard_pairs(sh, 0.5).collect()}
        for order in ("frequency", "lexicographic"):
            pf = {
                (r["d1"], r["d2"])
                for r in dedup.prefix_filter_pairs(sh, 0.5, order=order).collect()
            }
            assert pf == brute, order
    finally:
        sh.unpersist()


def test_df_capped_jaccard_candidates(spark, sf_dir):
    """The df-capped candidate join (the HEADLINE ngram-jaccard path)
    yields a subset of the brute-force pairs with exact Jaccard per
    surviving pair; on the test corpus (no shingle near the cap) it
    must equal brute force exactly. A cap of 1 must prune pairs whose
    shared shingles are all shared more widely."""
    from razulibs_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = dedup.word_shingles(docs).persist()
    try:
        brute = {
            (r["d1"], r["d2"], r["jaccard"])
            for r in dedup.jaccard_pairs(sh, 0.5).collect()
        }
        cand = dedup.pair_common_counts(sh, 100).select("d1", "d2")
        capped = {
            (r["d1"], r["d2"], r["jaccard"])
            for r in dedup.jaccard_pairs(sh, 0.5, candidates=cand).collect()
        }
        assert capped == brute
        fused = {
            (r["d1"], r["d2"], r["jaccard"])
            for r in dedup.df_capped_jaccard(sh, 0.5, 100).collect()
        }
        assert fused == brute
        tight_pairs = {
            (r["d1"], r["d2"], r["jaccard"])
            for r in dedup.df_capped_jaccard(sh, 0.5, 1).collect()
        }
        assert tight_pairs <= brute
    finally:
        sh.unpersist()


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "p")], "k long, t timestamp, name string"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T08:00:00"), 2.0)], "k long, rt timestamp, v double"
    )
    loose = temporal.asof_join(
        left, right, on="k", left_time="t", right_time="rt", tolerance="3 hour"
    )
    tight = temporal.asof_join(
        left, right, on="k", left_time="t", right_time="rt", tolerance="1 hour"
    )
    assert loose.collect()[0]["matched_v"] == 2.0
    assert tight.collect()[0]["matched_v"] is None  # match older than bound


def test_asof_join_right_tiebreak(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "p")], "k long, t timestamp, name string"
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:00:00"), 5.0),
         (1, _ts("2024-01-01T09:00:00"), 9.0),
         (1, _ts("2024-01-01T09:00:00"), 1.0)],
        "k long, rt timestamp, v double",
    )
    out = temporal.asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        right_tiebreak=["v"],
    )
    assert out.collect()[0]["matched_v"] == 9.0  # last in ascending v order


def test_connected_components_properties(spark, sf_dir):
    """Every edge's endpoints share a component; every component id is
    the minimum member; labels cover all nodes exactly once."""
    from razulibs_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = dedup.word_shingles(docs).persist()
    try:
        edges = dedup.jaccard_pairs(sh, 0.5).select("d1", "d2")
        cc = dedup.connected_components(docs.select("doc_id"), edges).toPandas()
        lab = dict(zip(cc.doc_id, cc.component))
        assert len(lab) == docs.count()
        for r in edges.collect():
            assert lab[r["d1"]] == lab[r["d2"]]
        import collections
        members = collections.defaultdict(list)
        for d, c in lab.items():
            members[c].append(d)
        for c, ms in members.items():
            assert c == min(ms)
    finally:
        sh.unpersist()


def test_pipeline_cluster_best_invariants(spark, sf_dir):
    """Keeper is a member of its own cluster, carries the cluster-max
    quality, quality ties resolve to the LOWEST doc_id, and cluster
    sizes partition the corpus exactly."""
    from razulibs_spark.operators import text
    from razulibs_spark.queries import dedup_cluster_canonical, pipeline_cluster_best

    comp = dedup_cluster_canonical(spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = {r["doc_id"]: r["quality_score"]
         for r in text.quality_scores(docs).select("doc_id", "quality_score").collect()}
    best = pipeline_cluster_best(spark, sf_dir).toPandas()

    assert best.cluster_size.sum() == len(comp)
    lab = dict(zip(comp.doc_id, comp.component))
    import collections
    members = collections.defaultdict(list)
    for d, c in lab.items():
        members[c].append(d)
    for r in best.itertuples():
        ms = members[r.component]
        assert r.keeper_doc_id in ms
        top = max(q[m] for m in ms)
        assert r.keeper_quality == top
        assert r.keeper_doc_id == min(m for m in ms if q[m] == top)


def test_approx_quantiles_error_bound(spark, sf_dir):
    """The query emits rank-bound booleans (oracle-stable contract):
    they must all hold, group counts must be exact, and an independent
    value check pins approx_percentile within 1% relative error of the
    exact grouped percentiles at the test scale."""
    from razulibs_spark import queries as Q

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = Q.QUERIES["a_approx_quantiles"](spark, sf_dir).collect()
    n_by_flag = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert len(out) == len(n_by_flag)
    for r in out:
        assert r["n"] == n_by_flag[r["l_returnflag"]]
        assert r["p25_within_bound"] and r["p50_within_bound"] \
            and r["p75_within_bound"], r
    approx = {
        r["l_returnflag"]: r["p"]
        for r in li.groupBy("l_returnflag").agg(
            F.expr(
                "percentile_approx(l_extendedprice, "
                "array(0.25, 0.5, 0.75), 10000)"
            ).alias("p")
        ).collect()
    }
    exact_df = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").alias("p")
    )
    for r in exact_df.collect():
        for a, e in zip(approx[r["l_returnflag"]], r["p"]):
            assert abs(a - e) / e < 0.01, (r["l_returnflag"], a, e)


def test_blocked_exact_neardup_equals_brute(spark, sf_dir):
    """The blocked grid plan is EXACT: byte-identical pair set and
    rounded cosines vs the O(N^2/2) crossJoin baseline, including with
    a block size that forces many cross-block tiles."""
    from razulibs_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = {
        (r["v1"], r["v2"]): r["cosine"]
        for r in similarity.near_duplicate_pairs(emb, 0.4).collect()
    }
    blocked = {
        (r["v1"], r["v2"]): r["cosine"]
        for r in similarity.blocked_exact_neardup(
            emb, 0.4, block_size=64
        ).collect()
    }
    assert blocked == brute


import pytest as _pytest


@_pytest.mark.parametrize(
    "threshold,theory_recall",
    [(0.5, 0.988), (0.6, 0.995), (0.7, 0.999), (0.8, 1.0)],
)
def test_rp_lsh_neardup_recall_at_mid_thresholds(
    spark, threshold, theory_recall
):
    """Quantified recall across the mid-threshold operating range
    (docstring routing advice carries these numbers): 200 pairs are
    planted at cos = threshold + 0.02 and recovered with the default
    12x3 banding. Sign-LSH theory predicts per-pair recall
    1-(1-p^3)^12 with p = 1 - theta/pi; measured recall (seeded,
    deterministic planes) matches within sampling noise. Precision is
    always 1.0 (exact-cosine verify)."""
    import numpy as np
    import pandas as pd

    from razulibs_spark.operators import similarity

    rng = np.random.default_rng(42)
    n, dim = 200, 64
    t = threshold + 0.02
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1)[:, None]
    u = rng.standard_normal((n, dim))
    u -= np.einsum("ij,ij->i", u, base)[:, None] * base
    u /= np.linalg.norm(u, axis=1)[:, None]
    partner = t * base + np.sqrt(1 - t * t) * u
    pdf = pd.DataFrame(
        {
            "vec_id": list(range(n)) + [i + 10_000_000 for i in range(n)],
            "embedding": [
                r.astype(np.float32).tolist()
                for r in np.vstack([base, partner])
            ],
        }
    )
    out = similarity.rp_lsh_neardup(
        spark.createDataFrame(pdf), threshold=threshold
    )
    rows = out.collect()
    pairs = {(r["v1"], r["v2"]) for r in rows}
    planted = {(i, i + 10_000_000) for i in range(n)}
    recall = len(pairs & planted) / n
    assert recall >= theory_recall - 0.03, (threshold, recall)
    assert all(r["cosine"] >= threshold for r in rows)


def test_asof_join_forward_direction_and_tolerance(spark):
    """Forward as-of picks the earliest right >= left time; tolerance
    nulls matches beyond the bound; strict excludes equal times."""
    from razulibs_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10.0), (1, 25.0), (2, 5.0)], ["k", "t"]
    )
    right = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 20.0, "b"), (1, 40.0, "c"), (2, 1.0, "z")],
        ["k", "t", "tag"],
    )
    fwd = {
        (r["k"], r["t"]): r["matched_tag"]
        for r in asof_join(
            left, right, on="k", left_time="t", direction="forward"
        ).collect()
    }
    assert fwd[(1, 10.0)] == "a"      # inclusive: equal time matches
    assert fwd[(1, 25.0)] == "c"      # next right after 25 is 40
    assert fwd[(2, 5.0)] is None      # no right >= 5 for key 2

    strict = {
        (r["k"], r["t"]): r["matched_tag"]
        for r in asof_join(
            left, right, on="k", left_time="t",
            direction="forward", inclusive=False,
        ).collect()
    }
    assert strict[(1, 10.0)] == "b"   # equal time excluded

    tol = {
        (r["k"], r["t"]): r["matched_tag"]
        for r in asof_join(
            left.withColumn("t", F.timestamp_seconds("t")),
            right.withColumn("t", F.timestamp_seconds("t")),
            on="k", left_time="t", direction="forward",
            tolerance="5 seconds",
        ).collect()
    }
    import datetime
    assert tol[(1, datetime.datetime(1970, 1, 1, 0, 0, 25))] is None  # 40 > 25+5


def test_grid_spatial_join_exactness_and_edges(spark):
    """Half-open containment at cell and box boundaries: a point ON
    xmax is out, ON xmin is in; a box ending exactly on a cell edge
    must not replicate into the next cell (no phantom pairs, no
    duplicates)."""
    from razulibs_spark.operators.spatial import grid_spatial_join

    points = spark.createDataFrame(
        [(1, 0.0, 0.0),     # on xmin/ymin of box A -> in
         (2, 10.0, 5.0),    # on A's exclusive xmax -> out of A, in B
         (3, 9.999, 5.0),   # just inside A
         (4, 25.0, 25.0),   # in no box
         (5, 15.0, 9.999)], # in B; ON C's exclusive xmax -> out of C
        "pid long, x double, y double",
    )
    boxes = spark.createDataFrame(
        [("A", 0.0, 0.0, 10.0, 10.0),    # ends ON the cell edge
         ("B", 10.0, 0.0, 20.0, 10.0),
         ("C", 5.0, 5.0, 15.0, 30.0)],   # spans cells + overlaps A/B
        "box string, xmin double, ymin double, xmax double, ymax double",
    )
    got = sorted(
        (r["pid"], r["box"])
        for r in grid_spatial_join(points, boxes, cell=10.0).collect()
    )
    assert got == [
        (1, "A"), (2, "B"), (2, "C"), (3, "A"), (3, "C"), (5, "B"),
    ]


def test_grid_spatial_join_matches_bruteforce(spark):
    """Randomized (seeded, formula-planted) agreement with the O(n*m)
    plain join across cell sizes — pair sets identical, no dups."""
    from pyspark.sql import functions as F

    from razulibs_spark.operators.spatial import grid_spatial_join

    points = spark.range(400).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 37 % 101) / 2.0).alias("x"),
        ((F.col("id") * 53 % 97) / 2.0).alias("y"),
    )
    boxes = spark.range(25).select(
        F.col("id").alias("box_id"),
        ((F.col("id") * 11) % 40).cast("double").alias("xmin"),
        ((F.col("id") * 17) % 40).cast("double").alias("ymin"),
        (((F.col("id") * 11) % 40) + 1 + F.col("id") % 13)
        .cast("double").alias("xmax"),
        (((F.col("id") * 17) % 40) + 1 + F.col("id") % 11)
        .cast("double").alias("ymax"),
    )
    brute = sorted(
        (r["pid"], r["box_id"])
        for r in points.join(
            boxes,
            (F.col("x") >= F.col("xmin")) & (F.col("x") < F.col("xmax"))
            & (F.col("y") >= F.col("ymin")) & (F.col("y") < F.col("ymax")),
        ).collect()
    )
    assert brute  # the planted layout must actually produce pairs
    for cell in (2.0, 7.0, 50.0):
        got = sorted(
            (r["pid"], r["box_id"])
            for r in grid_spatial_join(points, boxes, cell=cell).collect()
        )
        assert got == brute, f"cell={cell}"


def test_asof_nearest_matches_pandas(spark):
    """direction='nearest' must agree with pandas merge_asof
    (including the exact-tie-goes-backward rule) and honor
    tolerance on BOTH sides."""
    import pandas as pd

    from razulibs_spark.operators.temporal import asof_join

    lrows = [(1, t) for t in (0, 5, 10, 14, 30)] + [(2, 7)]
    rrows = [(1, 2, 100), (1, 8, 200), (1, 20, 300), (3, 1, 999)]
    lpdf = pd.DataFrame(lrows, columns=["k", "t"])
    rpdf = pd.DataFrame(rrows, columns=["k", "t", "rv"])
    lpdf["ts"] = pd.to_datetime(lpdf["t"], unit="s")
    rpdf["rts"] = pd.to_datetime(rpdf["t"], unit="s")
    for tol in (None, "4 seconds"):
        expected = pd.merge_asof(
            lpdf.sort_values(["ts", "k"]).reset_index(drop=True),
            rpdf.sort_values(["rts", "k"]).reset_index(drop=True),
            left_on="ts", right_on="rts", by="k", direction="nearest",
            tolerance=pd.Timedelta(tol) if tol else None,
        )
        exp = {
            (r.k, r.ts): (None if pd.isna(r.rv) else int(r.rv))
            for r in expected.itertuples()
        }
        left = spark.createDataFrame(
            lpdf[["k", "ts"]], "k long, ts timestamp"
        )
        right = spark.createDataFrame(
            rpdf[["k", "rts", "rv"]], "k long, rts timestamp, rv long"
        )
        out = asof_join(
            left, right, on="k", left_time="ts", right_time="rts",
            direction="nearest", tolerance=tol,
        )
        got = {
            (r["k"], pd.Timestamp(r["ts"])): r["matched_rv"]
            for r in out.collect()
        }
        assert got == exp, (tol, got, exp)
    # ts=5 is equidistant from rts 2 and 8 -> backward (100) won above
    assert exp[(1, pd.Timestamp("1970-01-01 00:00:05"))] == 100
