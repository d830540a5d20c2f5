"""Invariant tests for the training-data-management operators:
deterministic splits/samples (operators/sampling.py), TF-IDF,
contamination sweep, incremental dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from razulibs_spark import tables
from razulibs_spark.operators import dedup, sampling, text


def test_hash_split_partition_independent(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    a = sampling.hash_split(docs).select("doc_id", "split")
    b = sampling.hash_split(docs.repartition(7, "lang")).select("doc_id", "split")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
    # every doc assigned exactly once; all three splits non-empty at sf≥0.001
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == docs.count()
    assert set(counts) == {"train", "val", "test"}
    # 80/10/10 target within a loose tolerance (hash uniformity)
    total = sum(counts.values())
    assert 0.6 < counts["train"] / total < 0.95


def test_stratified_sample_is_deterministic_subset(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    s1 = sampling.stratified_sample(docs, rates={"en": 10, "de": 50})
    s2 = sampling.stratified_sample(docs.repartition(5), rates={"en": 10, "de": 50})
    assert s1.select("doc_id").subtract(s2.select("doc_id")).count() == 0
    assert s1.count() == s2.count()
    # kept set is a subset, and en is sampled below its full count
    n_en_all = docs.filter(F.col("lang") == "en").count()
    n_en_kept = s1.filter(F.col("lang") == "en").count()
    assert n_en_kept < n_en_all
    # non-rated strata are kept in full
    for lang in ("es", "fr", "zh"):
        assert (
            s1.filter(F.col("lang") == lang).count()
            == docs.filter(F.col("lang") == lang).count()
        )


def test_tfidf_top_terms_shape(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    top = text.tfidf_top_terms(docs, k=3)
    per_doc = top.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("rnk").alias("mx")
    )
    bad = per_doc.filter((F.col("n") > 3) | (F.col("mx") > 3)).count()
    assert bad == 0
    # rank-1 term carries the max tfidf of its doc
    r1 = top.filter(F.col("rnk") == 1).select("doc_id", F.col("tfidf").alias("t1"))
    mx = top.groupBy("doc_id").agg(F.max("tfidf").alias("mx"))
    assert r1.join(mx, "doc_id").filter(F.col("t1") != F.col("mx")).count() == 0


def test_contamination_bounds(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    c = text.ngram_contamination(docs)
    assert c.count() == docs.filter(F.col("source") == "src19").count()
    assert (
        c.filter(
            (F.col("contamination_ratio") < 0)
            | (F.col("contamination_ratio") > 1)
            | (F.col("n_contaminated") > F.col("n_shingles"))
        ).count()
        == 0
    )


def test_incremental_dedup_excludes_corpus(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    out = dedup.incremental_dedup(docs, F.length("source") == 5)
    corpus_hashes = (
        docs.filter(F.length("source") == 4)
        .select(F.md5("text").alias("content_md5"))
        .distinct()
    )
    assert out.join(corpus_hashes, "content_md5", "inner").count() == 0
    # one row per distinct admitted content
    assert out.groupBy("content_md5").count().filter("count > 1").count() == 0


def test_pack_sequences_invariants(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    packed = text.pack_sequences(docs, ctx_len=512)
    assert packed.count() == docs.count()
    assert packed.filter(
        (F.col("bin_offset") < 0) | (F.col("bin_offset") >= 512)
    ).count() == 0
    # reconstruct: start = bin_id*512 + offset must be the cumsum of
    # preceding docs within the language
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy("doc_id")
    chk = packed.withColumn(
        "_expected_start",
        F.coalesce(
            F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).filter(F.col("bin_id") * 512 + F.col("bin_offset") != F.col("_expected_start"))
    assert chk.count() == 0


def test_label_centroids_bounds(spark, sf_dir):
    from razulibs_spark.operators import similarity

    emb = tables.load(spark, sf_dir, "embeddings")
    cent = similarity.label_centroids(emb)
    dim = len(emb.select("embedding").first()[0])
    n_labels = emb.select("label").distinct().count()
    assert cent.count() == dim * n_labels
    # each label's cell count equals its vector count
    per_label = emb.groupBy("label").count()
    bad = (
        cent.join(per_label, "label")
        .filter(F.col("n_vectors") != F.col("count"))
        .count()
    )
    assert bad == 0


def test_knn_classify_one_winner_per_query(spark, sf_dir):
    from razulibs_spark.operators import similarity

    emb = tables.load(spark, sf_dir, "embeddings")
    out = similarity.knn_classify(emb, emb.filter(F.col("vec_id") < 10), k=5)
    assert out.count() == 10
    assert out.groupBy("query_id").count().filter("count > 1").count() == 0
    assert out.filter((F.col("n_votes") < 1) | (F.col("n_votes") > 5)).count() == 0


def test_containment_catches_doc_in_doc(spark):
    """A small doc pasted verbatim inside a big one: containment = 1.0
    while Jaccard is far below any dedup threshold."""
    from razulibs_spark.operators import dedup

    small = "alpha beta gamma delta epsilon"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, small), (2, filler + " " + small), (3, "unrelated text entirely here")],
        "doc_id long, text string",
    )
    sh = dedup.word_shingles(docs)
    cont = {
        (r.d1, r.d2): (r.containment, r.contained)
        for r in dedup.containment_pairs(sh, 0.9, max_df=100).collect()
    }
    assert (1, 2) in cont
    score, contained = cont[(1, 2)]
    assert score == 1.0 and contained == 1
    jac = dedup.jaccard_pairs(sh, 0.0).filter("d1 = 1 AND d2 = 2").collect()
    assert jac and jac[0].jaccard < 0.1  # symmetric score misses it


def test_mixture_sample_hits_target_proportions(spark, sf_dir):
    from razulibs_spark import tables
    from razulibs_spark.operators.sampling import mixture_sample

    d = tables.load(spark, "/root/testdata/sf0.01", "documents")
    weights = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    from pyspark.sql import functions as F

    out = mixture_sample(d, weights)
    counts = {r.source: r.n for r in out.groupBy("source")
              .agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= set(weights)
    total = sum(counts.values())
    # hash thinning is binomial around the target; 25-per-source data
    # gives wide tolerance
    for s, p in weights.items():
        assert abs(counts.get(s, 0) / total - p) < 0.15, (s, counts)
    # the most-constraining source is kept whole (rate 1.0)
    base = {r.source: r.n for r in d.groupBy("source")
            .agg(F.count("*").alias("n")).collect()}
    tight = min(base[s] / p for s, p in weights.items())
    keeper = [s for s, p in weights.items() if base[s] / p == tight][0]
    assert counts[keeper] == base[keeper]
    # deterministic: second run returns the identical set
    again = mixture_sample(d, weights)
    assert out.select("doc_id").exceptAll(again.select("doc_id")).count() == 0


def test_semantic_star_assigns_min_rep(spark):
    from razulibs_spark.operators.similarity import semantic_star_clusters

    # vectors 10/11/12 identical (cos 1.0); 20 isolated
    rows = [
        (10, [1.0, 0.0, 0.0]),
        (11, [1.0, 0.0, 0.0]),
        (12, [2.0, 0.0, 0.0]),
        (20, [0.0, 1.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    rep = {r.vec_id: r.cluster_rep
           for r in semantic_star_clusters(e, 0.9).collect()}
    assert rep == {10: 10, 11: 10, 12: 10, 20: 20}


def test_pq_topk_recall_vs_exact(spark):
    """PQ-ADC shortlist + exact re-rank recovers ≥ 0.9 of the exact
    top-5 at 500 vectors / default params, and is deterministic."""
    from razulibs_spark import tables
    from razulibs_spark.operators.similarity import cosine_topk, pq_topk

    e = tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    q = e.filter("vec_id < 10")
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(e, q, k=5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in pq_topk(e, q, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall
    again = {(r.query_id, r.neighbor_id) for r in pq_topk(e, q, k=5).collect()}
    assert approx == again


def test_ivfpq_topk_recall_vs_exact(spark):
    """IVF-PQ (nprobe=2 of 4 buckets) still recovers ≥ 0.8 of the
    exact top-5 — bucket-boundary loss stacks on quantization loss —
    and every returned neighbor is a real corpus vector."""
    from razulibs_spark import tables
    from razulibs_spark.operators.similarity import cosine_topk, ivfpq_topk

    e = tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    q = e.filter("vec_id < 10")
    exact = {
        (r.query_id, r.neighbor_id) for r in cosine_topk(e, q, k=5).collect()
    }
    approx = ivfpq_topk(e, e.filter("vec_id < 4"), q, k=5, nprobe=2).collect()
    assert len(approx) == 50
    recall = len(exact & {(r.query_id, r.neighbor_id) for r in approx}) / len(exact)
    assert recall >= 0.8, recall


def test_heavy_hitters_exact_vs_groupby(spark):
    """MG candidates + exact recount equals the full groupBy answer on
    a skewed multi-partition stream, even with k smaller than the key
    cardinality (forcing MG evictions)."""
    from razulibs_spark.operators.analytics import heavy_hitters

    rows = (
        [("hot",)] * 400 + [("warm",)] * 120
        + [(f"cold{i}",) for i in range(480)]
    )
    df = spark.createDataFrame(rows, "key string").repartition(7)
    got = {
        (r.key, r.n) for r in heavy_hitters(df, "key", k=10).collect()
    }
    assert got == {("hot", 400), ("warm", 120)}  # n/k = 100


def test_heavy_hitters_null_heavy_key(spark):
    """A NULL-heavy key (the classic skew culprit) must surface as a
    heavy hitter: value_counts drops NaN and an equi-semi-join never
    matches NULL, so NULL rides the exact totals side-channel."""
    from razulibs_spark.operators.analytics import heavy_hitters

    rows = [(None,)] * 300 + [("hot",)] * 200 + [
        (f"cold{i}",) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "key string").repartition(5)
    got = {(r.key, r.n) for r in heavy_hitters(df, "key", k=5).collect()}
    # n = 600, threshold n/k = 120: NULL (300) and hot (200) qualify.
    assert got == {(None, 300), ("hot", 200)}


def test_heavy_hitters_null_below_threshold_absent(spark):
    from razulibs_spark.operators.analytics import heavy_hitters

    rows = [(None,)] * 10 + [("hot",)] * 500 + [
        (f"cold{i}",) for i in range(90)
    ]
    df = spark.createDataFrame(rows, "key string").repartition(3)
    got = {(r.key, r.n) for r in heavy_hitters(df, "key", k=4).collect()}
    assert got == {("hot", 500)}  # threshold 150; NULL=10 stays out


def test_bloom_leak_report_matches_exact_semi(spark, sf_dir):
    """Bloom prefilter is lossless: report equals the plain exact
    semi-join computed without the bitmap, and the bitmap stays within
    its m_bits/64 word budget."""
    from pyspark.sql import functions as F

    from razulibs_spark import tables
    from razulibs_spark.operators.dedup import word_shingles
    from razulibs_spark.operators.text import bloom_leak_report

    docs = tables.load(spark, sf_dir, "documents")
    got = {
        (r.shingle, r.n_eval_docs)
        for r in bloom_leak_report(docs, m_bits=1 << 16).collect()
    }
    is_eval = F.col("source") == "src19"
    train = word_shingles(docs.filter(~is_eval)).select("shingle").distinct()
    expect = {
        (r.shingle, r.n_eval_docs)
        for r in word_shingles(docs.filter(is_eval))
        .join(train, "shingle", "left_semi")
        .groupBy("shingle")
        .agg(F.count("*").alias("n_eval_docs"))
        .collect()
    }
    assert got == expect


def test_column_stats_values(spark, sf_dir):
    """One-pass ANALYZE agrees with per-column exact queries."""
    from pyspark.sql import functions as F

    from razulibs_spark import tables
    from razulibs_spark.operators.maintenance import column_stats

    li = tables.load(spark, sf_dir, "lineitem")
    out = {r.column_name: r for r in column_stats(
        li, ["l_orderkey", "l_returnflag"]).collect()}
    n = li.count()
    for c in ["l_orderkey", "l_returnflag"]:
        row = out[c]
        assert row.n_rows == n
        assert row.n_null == n - row.n_nonnull
        assert row.ndv == li.select(c).distinct().count()
        assert row.min_value == str(li.agg(F.min(c)).first()[0])
        assert row.max_value == str(li.agg(F.max(c)).first()[0])


def test_bpe_train_matches_pure_python(spark, sf_dir):
    """Distributed BPE training (word-count table + HOF merge rewrite)
    learns the identical merge sequence as a direct pure-Python BPE
    trainer over the same corpus."""
    from collections import Counter

    from razulibs_spark import tables
    from razulibs_spark.operators.text import bpe_train

    docs = tables.load(spark, sf_dir, "documents")
    got = bpe_train(docs, n_merges=6)

    wc = Counter()
    for r in docs.select("text").collect():
        for w in r.text.split(" "):
            if w:
                wc[w] += 1
    syms = {w: list(w) for w in wc}
    expect = []
    for rank in range(6):
        pc = Counter()
        for w, s in syms.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += wc[w]
        if not pc:
            break
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((rank, f"{a} {b}", a + b, n))
        for w, s in syms.items():
            out = []
            for t in s:
                if out and out[-1] == a and t == b:
                    out[-1] = a + b
                else:
                    out.append(t)
            syms[w] = out
    assert got == expect


def test_rolling_dau_wau_bounds(spark, sf_dir):
    """WAU >= DAU every day, and single-day WAU equals DAU when the
    window is 1."""
    from razulibs_spark import tables
    from razulibs_spark.operators.analytics import rolling_active_users

    ev = tables.load(spark, sf_dir, "events")
    r7 = rolling_active_users(ev, window_days=7).collect()
    assert r7 and all(r.wau >= r.dau for r in r7)
    r1 = rolling_active_users(ev, window_days=1).collect()
    assert all(r.wau == r.dau for r in r1)


def test_cross_source_fingerprints_span_sources(spark, sf_dir):
    """Every reported fingerprint names >= 2 sources and the sorted
    source list length equals n_sources."""
    from razulibs_spark import tables
    from razulibs_spark.operators.dedup import cross_source_fingerprints

    docs = tables.load(spark, sf_dir, "documents")
    rows = cross_source_fingerprints(docs).collect()
    assert rows
    for r in rows:
        srcs = r.sources.split(",")
        assert r.n_sources >= 2
        assert len(srcs) == r.n_sources == len(set(srcs))
        assert srcs == sorted(srcs)


def test_temperature_mix_flattens_toward_sqrt_weights(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    # Tight budget: every group thinned, none kept whole.
    mixed = sampling.temperature_mix(docs, budget_tokens=30_000)
    assert 0 < mixed.count() < docs.count()
    # Deterministic set, independent of partitioning.
    again = sampling.temperature_mix(
        docs.repartition(7, "source"), budget_tokens=30_000
    )
    assert mixed.select("doc_id").subtract(again.select("doc_id")).count() == 0
    assert mixed.count() == again.count()
    # keep_rate is group-constant and within (0, 1]; with α=0.5 the
    # LARGEST group gets the SMALLEST keep-rate (flattening).
    rates = {
        r["lang"]: (r["keep_rate"], r["tok"])
        for r in mixed.groupBy("lang")
        .agg(F.first("keep_rate").alias("keep_rate"), F.sum("n_chars").alias("_k"))
        .join(
            docs.groupBy("lang").agg(F.sum("n_chars").alias("tok")), "lang"
        )
        .collect()
    }
    assert all(0 < rate <= 1 for rate, _ in rates.values())
    biggest = max(rates.items(), key=lambda kv: kv[1][1])[0]
    smallest_rate = min(rates.items(), key=lambda kv: kv[1][0])[0]
    assert biggest == smallest_rate
    # Generous budget: every group kept whole (rate clamps at 1).
    assert (
        sampling.temperature_mix(docs, budget_tokens=10**9).count()
        == docs.count()
    )


def test_cdc_apply_tombstones_and_latest_state(spark):
    from razulibs_spark.operators import relational

    rows = [
        # key 1: insert → update  => survives with the update payload
        (1, 1, "insert", 10.0),
        (1, 2, "update", 20.0),
        # key 2: insert → delete  => tombstoned away
        (2, 3, "insert", 1.0),
        (2, 4, "delete", 0.0),
        # key 3: delete → insert (out-of-order arrival, later seq wins)
        (3, 6, "insert", 7.0),
        (3, 5, "delete", 0.0),
    ]
    ch = spark.createDataFrame(rows, "k long, seq long, op string, value double")
    out = relational.cdc_apply(ch, key="k", order=["seq"])
    got = {r["k"]: (r["op"], r["value"], r["n_ops"]) for r in out.collect()}
    assert got == {1: ("update", 20.0, 2), 3: ("insert", 7.0, 2)}


def test_filter_funnel_invariants(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    out = text.filter_funnel(
        docs,
        [
            ("nonempty", F.col("n_chars") > 0),
            ("short", F.col("n_chars") < 800),
            ("en_only", F.col("lang") == "en"),
        ],
    ).orderBy("stage_no").collect()
    assert [r["stage"] for r in out] == ["nonempty", "short", "en_only"]
    total = docs.count()
    assert out[0]["n_in"] == total
    for i, r in enumerate(out):
        assert r["n_in"] - r["n_dropped"] == r["n_out"]
        if i > 0:
            assert r["n_in"] == out[i - 1]["n_out"]  # strictly sequential
    # last survivor count equals the direct conjunction count
    direct = docs.filter(
        (F.col("n_chars") > 0) & (F.col("n_chars") < 800)
        & (F.col("lang") == "en")
    ).count()
    assert out[-1]["n_out"] == direct


def test_decon_split_evicts_test_overlap(spark, sf_dir):
    from razulibs_spark.queries import QUERIES

    kept = QUERIES["pipeline_decon_split"](spark, sf_dir)
    docs = tables.load(spark, sf_dir, "documents")
    lab = sampling.hash_split(docs)
    n_train = lab.filter(F.col("split") == "train").count()
    assert 0 < kept.count() <= n_train
    # no kept train doc shares a 5-shingle with the test split
    from razulibs_spark.operators import dedup

    test_sh = dedup.word_shingles(
        lab.filter(F.col("split") == "test"), k=5
    ).select("shingle").distinct()
    kept_docs = lab.join(kept.select("doc_id"), "doc_id", "left_semi")
    overlap = (
        dedup.word_shingles(kept_docs, k=5)
        .join(test_sh, "shingle", "left_semi")
        .count()
    )
    assert overlap == 0


def test_lm_bigram_score_hand_computed(spark):
    rows = [
        (1, "src1", "a b a b"),
        (2, "src2", "b a"),
        (3, "src19", "a b c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = text.lm_bigram_score(docs).collect()
    assert len(out) == 1
    r = out[0]
    # train: c2(a,b)=2, c2(b,a)=2, c1(a)=2, c1(b)=2, V=2
    # eval "a b c": p(a,b)=(2+1)/(2+2)=0.75, p(b,c)=(0+1)/(2+2)=0.25
    import math

    t1 = math.floor(math.log(0.75) * 1e5 + 0.5)
    t2 = math.floor(math.log(0.25) * 1e5 + 0.5)
    assert r["n_bigrams"] == 2
    assert r["avg_nll"] == round(-(t1 + t2) / (1e5 * 2), 4)
    assert r["oov_rate"] == 0.0


def test_random_projection_matches_numpy(spark, sf_dir):
    import numpy as np

    from razulibs_spark.operators import similarity

    emb = tables.load(spark, sf_dir, "embeddings").limit(20)
    got = {
        (r["vec_id"], r["dim"]): r["value"]
        for r in similarity.random_projection(emb).collect()
    }
    signs = np.array(similarity.projection_signs(64, 16))  # (16, 64)
    for row in emb.collect():
        v = np.array(row["embedding"], dtype=np.float64)
        scaled = np.floor(v[None, :] * signs * 1e6 + 0.5).sum(axis=1)
        want = scaled / 8e6
        for j in range(16):
            assert got[(row["vec_id"], j)] == want[j]


def test_skew_profile_values(spark, sf_dir):
    from razulibs_spark.operators import maintenance

    ev = tables.load(spark, sf_dir, "events")
    prof = maintenance.skew_profile(ev, ["event_type"], n_top=3).collect()
    counts = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    assert len(prof) == 3
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert sorted((r["key"], r["n"]) for r in prof) == sorted(top)
    import math

    expected_skew = max(counts.values()) * 32.0 / total
    for r in prof:
        assert r["total_rows"] == total
        assert r["n_keys"] == len(counts)
        assert abs(r["skew_factor"] - round(expected_skew, 6)) < 1e-9
        assert r["suggested_salts"] == math.ceil(expected_skew)
        assert r["suggested_salts"] >= 1


def test_grouped_ols_matches_numpy(spark, sf_dir):
    import numpy as np

    from razulibs_spark.operators import analytics

    ev = tables.load(spark, sf_dir, "events")
    got = {
        r["event_type"]: (r["n"], r["slope"], r["intercept"])
        for r in analytics.grouped_ols(
            ev,
            ["event_type"],
            x=F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01")),
            y=F.col("value"),
        ).collect()
    }
    rows = ev.select(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01")).alias("x"),
        "value",
    ).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(
            (r["x"], round(r["value"] * 1e4) / 1e4)
        )
    for etype, pts in by_type.items():
        xs = np.array([p[0] for p in pts], dtype=np.float64)
        ys = np.array([p[1] for p in pts], dtype=np.float64)
        slope, intercept = np.polyfit(xs, ys, 1)
        n, got_slope, got_intercept = got[etype]
        assert n == len(pts)
        assert abs(got_slope - slope) < 1e-4
        assert abs(got_intercept - intercept) < 1e-3


def test_pagerank_matches_pure_python(spark):
    from razulibs_spark.operators import graph

    edges_rows = [
        ("a", "b", 2), ("a", "c", 1), ("b", "c", 1), ("c", "a", 1),
        ("d", "a", 1),  # d has no in-edges; e below is dangling
        ("a", "e", 1),
    ]
    edges = spark.createDataFrame(
        edges_rows, "src string, dst string, weight long"
    )
    got = {r["node"]: r["rank"] for r in graph.pagerank(edges, iters=12).collect()}

    nodes = sorted({s for s, _, _ in edges_rows} | {d for _, d, _ in edges_rows})
    out_w = {}
    for s, _, w in edges_rows:
        out_w[s] = out_w.get(s, 0) + w
    ranks = {v: 1.0 / len(nodes) for v in nodes}
    d = 0.85
    for _ in range(12):
        dangling = sum(r for v, r in ranks.items() if v not in out_w)
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in edges_rows:
            contrib[t] += ranks[s] * w / out_w[s]
        ranks = {
            v: (1 - d) / len(nodes)
            + d * (contrib[v] + dangling / len(nodes))
            for v in nodes
        }
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - ranks[v]) < 1e-7
    # rank mass is conserved
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_bpe_encode_matches_pure_python(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents").limit(40)
    merges = text.bpe_train(docs, n_merges=6)
    out = {r["doc_id"]: r for r in text.bpe_encode(docs, merges).collect()}

    def encode(word: str) -> int:
        syms = list(word)
        for _, pair, merged, _ in merges:
            a, b = pair.split(" ", 1)
            i, acc = 0, []
            for s in syms:
                if acc and acc[-1] == a and s == b:
                    acc[-1] = merged
                else:
                    acc.append(s)
            syms = acc
        return len(syms)

    for row in docs.collect():
        words = [w for w in row["text"].split(" ") if w]
        want_tokens = sum(encode(w) for w in words)
        r = out[row["doc_id"]]
        assert r["n_words"] == len(words)
        assert r["n_tokens"] == want_tokens
        assert r["fertility"] == round(want_tokens / len(words), 6)


def test_novelty_ratio_invariants(spark, sf_dir):
    docs = tables.load(spark, sf_dir, "documents")
    out = text.novelty_ratio(docs)
    assert out.filter(
        (F.col("novelty_ratio") < 0) | (F.col("novelty_ratio") > 1)
        | (F.col("n_novel") > F.col("n_shingles"))
    ).count() == 0
    # total novel shingles across docs == distinct shingles in corpus
    # (every shingle is novel in exactly one doc: its first owner)
    total_novel = out.agg(F.sum("n_novel")).collect()[0][0]
    distinct_sh = dedup.word_shingles(docs).select("shingle").distinct().count()
    assert total_novel == distinct_sh
    # the lowest doc_id with shingles is all-novel by construction
    first = out.orderBy("doc_id").first()
    assert first["novelty_ratio"] == 1.0


def test_windowed_funnel_constraints(spark, sf_dir):
    from razulibs_spark.queries import QUERIES

    out = QUERIES["events_funnel_windowed"](spark, sf_dir)
    bad = out.filter(
        (
            F.col("t_click").isNotNull()
            & (
                (F.col("t_click") <= F.col("t_view"))
                | (F.col("t_click") > F.col("t_view") + F.expr("INTERVAL 1 HOUR"))
            )
        )
        | (
            F.col("t_purchase").isNotNull()
            & (
                F.col("t_click").isNull()
                | (F.col("t_purchase") <= F.col("t_click"))
                | (F.col("t_purchase") > F.col("t_click") + F.expr("INTERVAL 1 HOUR"))
            )
        )
        | (F.col("converted") != F.col("t_purchase").isNotNull())
    ).count()
    assert bad == 0
    # funnel narrows: converters <= clickers <= viewers
    n_v = out.count()
    n_c = out.filter(F.col("t_click").isNotNull()).count()
    n_p = out.filter("converted").count()
    assert n_p <= n_c <= n_v


def test_maxsim_dominates_single_vector_retrieval(spark, sf_dir):
    from razulibs_spark.operators import similarity

    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    top = similarity.maxsim_topk(emb, q, k=3).collect()
    assert len(top) == 3
    # scores descending, bounded by n_queries (max cos ≤ 1 per query)
    scores = [r["maxsim_score"] for r in top]
    assert scores == sorted(scores, reverse=True)
    n_q = q.count()
    assert all(-n_q <= s <= n_q for s in scores)
    # brute-check the winner: recompute every label's MaxSim in numpy
    import numpy as np

    rows = emb.select("label", "embedding").collect()
    qrows = q.select("embedding").collect()
    qm = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    by_label: dict = {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        v /= np.linalg.norm(v)
        by_label.setdefault(r["label"], []).append(v)
    want = {
        lab: round(sum(round(max(qv @ v for v in vs), 6) for qv in qm), 6)
        for lab, vs in by_label.items()
    }
    best_label = min(sorted(want), key=lambda k: (-want[k], k))
    assert top[0]["label"] == best_label
    assert abs(top[0]["maxsim_score"] - want[best_label]) < 1e-5


def test_running_distinct_matches_brute(spark, sf_dir):
    from razulibs_spark.operators import analytics

    ev = (
        tables.load(spark, sf_dir, "events")
        .withColumn("item", F.get_json_object(F.col("props"), "$.k"))
        .limit(400)
    )
    out = analytics.running_distinct(ev, "item")
    rows = sorted(
        ev.select("user_id", "ts", "event_id", "item").collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    want = {}
    seen: dict = {}
    for r in rows:
        s = seen.setdefault(r["user_id"], set())
        s.add(r["item"])
        want[r["event_id"]] = len(s)
    got = {r["event_id"]: r["n_distinct_so_far"] for r in out.collect()}
    assert got == want


def test_confusion_matrix_sums_and_diagonal(spark, sf_dir):
    from razulibs_spark.operators import evaluation

    preds = text.language_id(tables.load(spark, sf_dir, "documents"))
    m = evaluation.confusion_matrix(preds, "labeled_lang", "predicted_lang")
    rows = m.collect()
    # per-label fractions sum to 1 and counts sum to the table size
    total = sum(r["n"] for r in rows)
    assert total == preds.count()
    per_label: dict = {}
    for r in rows:
        per_label.setdefault(r["labeled_lang"], []).append(r)
    for lab, rs in per_label.items():
        assert all(r["n_labeled"] == sum(x["n"] for x in rs) for r in rs)
        assert abs(sum(r["frac"] for r in rs) - 1.0) < 1e-4
    # diagonal frac equals the per-class accuracy of the heuristic
    acc = preds.filter(F.col("labeled_lang") == F.col("predicted_lang"))
    for lab, n in [(r["labeled_lang"], r["n"]) for r in
                   acc.groupBy("labeled_lang").agg(F.count("*").alias("n")).collect()]:
        diag = [r for r in per_label[lab]
                if r["predicted_lang"] == lab][0]
        assert diag["n"] == n


def test_bounce_rate_bounds_and_session_totals(spark, sf_dir):
    from razulibs_spark.operators import analytics
    from razulibs_spark.queries import QUERIES

    out = QUERIES["events_bounce_rate"](spark, sf_dir)
    assert out.filter(
        (F.col("bounce_rate") < 0) | (F.col("bounce_rate") > 1)
        | (F.col("n_bounces") > F.col("n_sessions"))
    ).count() == 0
    sess = analytics.sessionize(
        tables.load(spark, sf_dir, "events"), gap_us=3_600_000_000
    )
    assert out.agg(F.sum("n_sessions")).collect()[0][0] == sess.count()


def test_running_distinct_accepts_any_item_column_name(spark):
    from razulibs_spark.operators import analytics

    ev = spark.createDataFrame(
        [(1, 1, 1, "x"), (1, 2, 2, "y"), (1, 3, 3, "x")],
        "user_id long, ts long, event_id long, sku string",
    )
    out = analytics.running_distinct(
        ev, "sku", order_cols=("ts", "event_id")
    ).orderBy("event_id").collect()
    assert [r["n_distinct_so_far"] for r in out] == [1, 2, 2]
    assert out[0]["item"] == "x"


def test_prefix_filter_exact_at_ulp_hostile_threshold(spark):
    """ceil() of a double product can overshoot its exact integer
    bound by one ULP (0.16*25 = 4.000000000000001): at t=0.16 the
    prefix filter must still return exactly the brute-force answer."""
    from razulibs_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_pairs,
        word_shingles,
    )

    # Docs engineered around the |A|=20, |B|=9, overlap=4 boundary:
    # J = 4/25 = 0.16 exactly. Shared words sort LAST lexicographically
    # so the qualifying pair hinges on the exact prefix length.
    shared = [f"zz{i}" for i in range(4)]
    a_words = [f"a{i:02d}" for i in range(16)] + shared
    b_words = [f"b{i:02d}" for i in range(5)] + shared
    docs = spark.createDataFrame(
        [(1, " ".join(a_words) ), (2, " ".join(b_words))],
        "doc_id long, text string",
    )
    sh = word_shingles(docs, k=1)
    brute = {
        (r["d1"], r["d2"]) for r in jaccard_pairs(sh, 0.16).collect()
    }
    fast = {
        (r["d1"], r["d2"])
        for r in prefix_filter_pairs(sh, 0.16).collect()
    }
    assert brute == fast and brute == {(1, 2)}


def test_pca_gram_matches_power_path(spark, sf_dir):
    """Both physical strategies (one-pass Gramian vs distributed
    power iteration) converge to the same component on the same
    data — loadings agree to 1e-6 up to global sign."""
    from razulibs_spark.operators import stats as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    g = S.pca_top_component(e, "embedding", iters=8, method="gram").collect()
    p = S.pca_top_component(e, "embedding", iters=8, method="power").collect()
    gv = {r["dim"]: r["loading"] for r in g}
    pv = {r["dim"]: r["loading"] for r in p}
    assert set(gv) == set(pv)
    sign = 1.0 if sum(gv[d] * pv[d] for d in gv) >= 0 else -1.0
    for d in gv:
        assert abs(gv[d] - sign * pv[d]) < 1e-6
    ge = g[0]["eigenvalue"]; pe = p[0]["eigenvalue"]
    assert abs(ge - pe) / ge < 1e-6


# ---------------------------------------------------------------------------
# kmeans_lloyd (operators/similarity.py)
# ---------------------------------------------------------------------------


def _kmeans_python(vectors, k, iters, scale=1000, shift=1024):
    """Pure-Python Lloyd with the operator's exact fixed-point rules."""
    import math

    q = {
        vid: [math.floor(x * scale + 0.5) for x in vec]
        for vid, vec in vectors.items()
    }
    cents = {
        vid: [v * shift for v in q[vid]] for vid in sorted(q)[:k]
    }

    def assign():
        out = {}
        for vid, vec in q.items():
            best = min(
                (
                    (
                        sum(
                            (a * shift - b) ** 2
                            for a, b in zip(vec, mvec)
                        ),
                        cid,
                    )
                    for cid, mvec in cents.items()
                )
            )
            out[vid] = (best[1], best[0])
        return out

    asg = assign()
    for _ in range(iters - 1):
        sums, counts = {}, {}
        for vid, (cid, _) in asg.items():
            counts[cid] = counts.get(cid, 0) + 1
            s = sums.setdefault(cid, [0] * len(q[vid]))
            for i, v in enumerate(q[vid]):
                s[i] += v
        cents = {
            cid: [
                math.floor(float(s_i) * shift / counts[cid])
                for s_i in sums[cid]
            ]
            for cid in sums
        }
        asg = assign()
    return asg


def test_kmeans_lloyd_matches_pure_python(spark, sf_dir):
    from razulibs_spark.operators.similarity import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(120)
    got = {
        r.vec_id: (r.cluster_id, r.dist_scaled)
        for r in kmeans_lloyd(emb, k=5, iters=3).collect()
    }
    vectors = {
        r.vec_id: list(r.embedding)
        for r in emb.select("vec_id", "embedding").collect()
    }
    expect = _kmeans_python(vectors, k=5, iters=3)
    assert got == expect


def test_kmeans_lloyd_tie_breaks_to_smallest_centroid_id(spark):
    from razulibs_spark.operators.similarity import kmeans_lloyd

    rows = [(i, [0.5, 0.5]) for i in range(6)]  # all identical
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_lloyd(emb, k=2, iters=2).collect()
    assert {r.cluster_id for r in out} == {0}
    assert all(r.dist_scaled == 0 for r in out)


def test_sql_rendered_int_params_reject_bool(spark):
    """``scale`` and ``shift`` are rendered into SQL text as int
    literals; ``True`` passes ``isinstance(x, int)`` but would render as
    SQL ``True``, so both operators must reject it."""
    import pytest

    from razulibs_spark.operators.similarity import kmeans_lloyd, random_projection

    emb = spark.createDataFrame([(0, [0.5, 0.5])], "vec_id long, embedding array<float>")
    with pytest.raises(TypeError, match="scale must be int"):
        random_projection(emb, scale=True)
    with pytest.raises(TypeError, match="shift must be int"):
        kmeans_lloyd(emb, shift=True)


def test_kmeans_lloyd_assignment_plan_has_no_shuffle(spark, sf_dir):
    """The assign step inlines centroids as literals: the final
    assignment job must be a single narrow map over the scan — no
    Exchange, no join."""
    from razulibs_spark.operators.similarity import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = (
        kmeans_lloyd(emb, k=4, iters=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_kmeans_lloyd_validates_params(spark, sf_dir):
    import pytest as _pytest

    from razulibs_spark.operators.similarity import kmeans_lloyd

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with _pytest.raises(ValueError):
        kmeans_lloyd(emb, k=0)
    with _pytest.raises(ValueError):
        kmeans_lloyd(emb, iters=0)


def test_substring_span_stats_hand_computed(spark):
    """4-doc corpus with one shared 8-token licence block and one
    within-doc repeat; spans are position-counted, duplication is
    corpus-wide (>= 2 occurrences, within OR across docs)."""
    from razulibs_spark.operators.dedup import substring_span_stats

    lic = "all rights reserved by the example archive trust"  # 8 tokens
    rows = [
        (1, f"{lic} unique tail one two three"),            # 6 spans
        (2, f"prefix words here then {lic}"),               # 5 spans
        (3, "a completely different text with eight unique tokens"),  # 1 span
        (4, f"{lic} {lic}"),                                # 9 spans
        (5, "too short"),                                   # no spans
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
           for r in substring_span_stats(df, k=8).collect()}
    assert 5 not in got                       # < 8 tokens -> no row
    assert got[3] == (1, 0, 0.0)              # unique content
    # the licence span appears in docs 1, 2, 4 (and twice inside 4)
    assert got[1] == (6, 1, round(1 / 6, 6))
    assert got[2] == (5, 1, 0.2)
    # doc 4 = lic lic (16 tokens -> 9 windows): windows 1 and 9 are
    # the aligned licence block (duplicated corpus-wide); the 7
    # straddling windows each occur once and stay unique.
    assert got[4][0] == 9 and got[4][1] == 2


def test_substring_span_cut_reconstructs_cleaned_text(spark):
    """Span CUT removes exactly the tokens covered by duplicated
    windows and value-hashes the reconstructed text; docs without
    windows pass through untouched, fully-covered docs empty out."""
    import hashlib

    from razulibs_spark.operators.dedup import substring_span_cut

    lic = "all rights reserved by the example archive trust"
    rows = [
        (1, f"{lic} unique tail one two three"),
        (2, f"prefix words here then {lic}"),
        (3, "a completely different text with eight unique tokens"),
        (4, f"{lic} {lic}"),
        (5, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    res = {r["doc_id"]: r for r in substring_span_cut(df, k=8).collect()}
    assert (res[1]["n_tokens"], res[1]["n_kept"]) == (13, 5)
    assert res[1]["clean_hash"] == hashlib.md5(
        b"unique tail one two three").hexdigest()
    assert (res[2]["n_tokens"], res[2]["n_kept"]) == (12, 4)
    assert res[2]["clean_hash"] == hashlib.md5(
        b"prefix words here then").hexdigest()
    # untouched doc: hash of the original text
    assert res[3]["n_kept"] == 8
    assert res[3]["clean_hash"] == hashlib.md5(rows[2][1].encode()).hexdigest()
    # fully duplicated doc empties out (md5 of "")
    assert (res[4]["n_tokens"], res[4]["n_kept"]) == (16, 0)
    assert res[4]["clean_hash"] == hashlib.md5(b"").hexdigest()
    # sub-window doc passes through whole
    assert (res[5]["n_tokens"], res[5]["n_kept"]) == (2, 2)


def test_substring_span_multik_separates_block_lengths(spark):
    """Multi-k sweep: a 16-token shared block is duplicated at k=8 AND
    k=16 but invisible at k=32; an 8-token shared phrase only trips
    k=8; docs shorter than a k emit no (doc, k) row; and no cross-k
    leakage (a k=8 duplicate must not mark k=16 windows)."""
    from razulibs_spark.operators.dedup import substring_span_multik

    blk16 = " ".join(f"blk{i}" for i in range(16))   # 16 tokens
    phr8 = " ".join(f"phr{i}" for i in range(8))     # 8 tokens
    uniq = " ".join(f"u{i}" for i in range(16))      # filler, unique
    rows = [
        (1, f"{blk16} {uniq}"),          # 32 tokens
        (2, f"{uniq.replace('u', 'v')} {blk16}"),    # 32 tokens
        (3, f"{phr8} " + " ".join(f"w{i}" for i in range(8))),  # 16 tokens
        (4, f"{phr8} " + " ".join(f"x{i}" for i in range(24))),  # 32 tokens
        (5, " ".join(f"y{i}" for i in range(10))),   # 10 tokens: k=8 only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["k"]): (r["n_spans"], r["n_dup_spans"])
        for r in substring_span_multik(df, ks=(8, 16, 32)).collect()
    }
    # row existence: doc 5 (10 tokens) only reaches k=8; docs 1/2/4
    # (32 tokens) reach every k; doc 3 (16 tokens) reaches 8 and 16.
    assert (5, 8) in got and (5, 16) not in got and (5, 32) not in got
    assert (3, 16) in got and (3, 32) not in got
    # k=8: the 16-token block contributes 9 aligned windows in each of
    # docs 1 and 2; the phrase contributes 1 in docs 3 and 4.
    assert got[(1, 8)] == (25, 9)
    assert got[(2, 8)] == (25, 9)
    assert got[(3, 8)][1] == 1 and got[(4, 8)][1] == 1
    # k=16: only the full 16-token block collides (1 aligned window
    # in each of docs 1 and 2); the 8-token phrase is invisible.
    assert got[(1, 16)] == (17, 1)
    assert got[(2, 16)] == (17, 1)
    assert got[(3, 16)][1] == 0 and got[(4, 16)][1] == 0
    # k=32: nothing is duplicated at this width.
    assert got[(1, 32)][1] == 0
    assert got[(2, 32)][1] == 0
    assert got[(4, 32)][1] == 0
    assert got[(5, 8)] == (3, 0)



def test_zorder_prunes_both_dimensions(spark):
    from pyspark.sql import functions as F

    from razulibs_spark.operators.layout import (
        layout_pruning_stats,
        zorder_key,
    )

    # pinned interleave vectors: z(1,0)=1, z(0,1)=2, z(3,5)=0b100111
    rows = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 5), (255, 255)], "a long, b long"
    ).select(zorder_key(F.col("a"), F.col("b")).alias("z"))
    assert [r["z"] for r in rows.collect()] == [1, 2, 39, 65535]

    # a full 256x256 grid: both layouts, same group budget; z-order
    # must prune the non-sort dimension where linear cannot
    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).alias("d1"),
        (F.col("id") / 256).cast("long").alias("d2"),
    )
    out = {
        r["layout"]: r
        for r in layout_pruning_stats(
            grid, F.col("d1"), F.col("d2"),
            bits=8, group_shift=10,
            d1_lo=32, d1_hi=47, d2_lo=100, d2_hi=131,
        ).collect()
    }
    z, lin = out["zorder"], out["linear_d2"]
    assert z["n_groups"] == 64 and lin["n_groups"] == 64
    assert lin["scanned_d1"] == 64          # linear: no pruning on d1
    assert z["scanned_d1"] < 64 // 4        # z-order: most groups skip
    assert z["scanned_both"] <= lin["scanned_both"]
    assert z["rows_total"] == lin["rows_total"] == 256 * 256
