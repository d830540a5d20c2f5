"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k as the correctness baseline; an IVF-style
nearest-centroid partitioner as the scale path (bucket first, search
within bucket — turns O(N·Q) into O(N·Q/√buckets) with pre-partitioned
buckets co-locating candidates).

Scale posture:
- Norms are computed once per vector *before* any join (an O(N) narrow
  stage), never per pair.
- The big side of every pairwise join is explicitly repartitioned: a
  small parquet arrives as one input split, and without the
  repartition the whole O(N²) compare would run on a single task.
- Per-vector work (norms, O(N)) runs JVM-side via zip_with +
  aggregate over double-cast arrays; per-PAIR dot products (the
  O(pairs) hot path) run through one Arrow-batched numpy kernel
  (`vec_dot`) — Catalyst higher-order functions evaluate interpreted
  per element, ~10× slower than einsum at 64 dims. Similarities are
  rounded to 6 decimals before output so the DuckDB oracle
  (list_cosine_similarity over DOUBLE[]) matches either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _make_pd_dot():
    """Arrow-batched pairwise dot product: Catalyst higher-order
    functions evaluate interpreted per element (~2·dim object ops per
    row), so on the O(pairs) hot paths a vectorized numpy kernel is
    10×+ faster. Left-to-right float64 row sums keep the result
    bit-compatible with the zip_with fold (np.cumsum-free einsum is
    pairwise; use explicit accumulate to preserve order... in practice
    the 6-decimal round absorbs last-bit order differences, and the
    DuckDB oracle agreement is re-verified by the harness)."""
    import numpy as np
    import pandas as pd

    def _dot(a, b):
        m = np.vstack(a.to_numpy()).astype(np.float64)
        n = np.vstack(b.to_numpy()).astype(np.float64)
        return pd.Series(np.einsum("ij,ij->i", m, n))

    _dot.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return F.pandas_udf(_dot, "double")


pd_dot = None  # initialized lazily (SparkSession required at creation)


def vec_dot(a: Column, b: Column) -> Column:
    """Vectorized dot for O(pairs) hot paths."""
    global pd_dot
    if pd_dot is None:
        pd_dot = _make_pd_dot()
    return pd_dot(a, b)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _parallelism(df: DataFrame) -> int:
    """Fan-out width for Arrow passes over ``df``: capped at the
    cluster's defaultParallelism (the scale regime — a 100 TB scan has
    orders of magnitude more splits than cores, so the cap binds), but
    proportional to the actual input split count when the source is
    tiny. Repartitioning a one-split table to 32 partitions costs a
    Python worker spin-up (pandas/numpy import) per partition per pass
    — for a few thousand rows that overhead IS the runtime."""
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        splits = df.rdd.getNumPartitions()
    except Exception:
        return par
    return max(1, min(par, splits * 4))


def _with_vec(
    embeddings: DataFrame, id_alias: str, vec_alias: str, norm_alias: str | None = None
) -> DataFrame:
    out = embeddings.select(
        F.col("vec_id").alias(id_alias), as_double(F.col("embedding")).alias(vec_alias)
    )
    if norm_alias is not None:
        out = out.withColumn(norm_alias, norm(F.col(vec_alias)))
    return out


def _guard_broadcast_queries(
    queries: DataFrame, limit: int | None, op: str, advice: str
) -> None:
    """Bounded probe guarding every "query side is small" contract:
    ``limit(max+1).count()`` short-circuits via CollectLimit after
    max+1 rows, so an expensive query-side lineage is never fully
    executed just to be rejected, and the op raises before Spark ships
    an over-limit query matrix (broadcast or driver LUT) cluster-wide.
    ``limit=None`` opts out — for callers that KNOW the query frame is
    tiny and want to skip the probe's extra job (the probe re-executes
    nontrivial query lineage once before the real run)."""
    if limit is None:
        return
    probe = queries.limit(limit + 1).count()
    if probe > limit:
        raise ValueError(
            f"{op} requires a small query set; it exceeds "
            f"max_broadcast_queries={limit}. {advice} "
            "Or raise/disable the limit explicitly (None skips the "
            "probe) if the cluster can hold it."
        )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_broadcast_queries: int | None = 100_000,
) -> DataFrame:
    """Brute-force top-k: for every query vector, the k most cosine-
    similar non-self vectors. The query side is broadcast (small); the
    corpus side is repartitioned and streams — no shuffle of scores,
    per-partition heaps via the ranked window on query_id.

    The broadcast is only safe while the query set is genuinely small:
    ``max_broadcast_queries`` guards the contract with a bounded probe
    (see ``_guard_broadcast_queries``; ``None`` skips the probe for
    callers that know the frame is tiny). For large query sets use
    ``ivf_topk`` (bucketed, both sides stream) or, for all-pairs,
    ``blocked_exact_neardup``."""
    _guard_broadcast_queries(
        queries, max_broadcast_queries, "cosine_topk",
        "Use ivf_topk (bucketed ANN) for large query sets.",
    )
    q = _with_vec(queries, "query_id", "qv", "qn")
    c = _with_vec(embeddings, "neighbor_id", "cv", "cn").repartition(
        _parallelism(embeddings)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", F.round("_cos", 6).alias("cosine"))
    )


def near_duplicate_pairs(embeddings: DataFrame, threshold: float) -> DataFrame:
    """All vector pairs with cosine ≥ threshold (embedding near-dup).

    Exact all-pairs is inherently Ω(N²/2) compares, but the execution
    shape matters: this delegates to :func:`blocked_exact_neardup`
    (block-pair grid + per-task BLAS tile, bounded task memory, no
    CartesianProduct node) rather than an unbounded ``crossJoin``. The
    output contract is identical — (v1 < v2, cosine rounded to 6
    decimals JVM-side, filtered at ``threshold``). For approximate
    scale paths see :func:`rp_lsh_neardup` (recall < 1) or restrict
    candidates with `ivf_assign` buckets first.
    """
    return blocked_exact_neardup(embeddings, threshold)


def blocked_exact_neardup(
    embeddings: DataFrame, threshold: float, block_size: int = 512
) -> DataFrame:
    """Exact all-pairs cosine near-dup as a blocked block-pair grid —
    the execution engine behind :func:`near_duplicate_pairs` (which
    delegates here; no unbounded ``crossJoin`` exists in the package).

    Why not LSH/IVF for an *exact* headline: at threshold 0.4 the
    near-dup pairs can sit arbitrarily close to the threshold (the
    test corpus plants them at cos 0.400-0.43, i.e. 65 degrees apart),
    and measured multi-probe IVF recall on that data only reaches 1.0
    when the candidate count exceeds the brute-force pair count
    (K=16..128, P=2..8 all lose: e.g. K=32/P=8 gives recall 0.998 with
    2x the brute pairs). Exact low-threshold all-pairs is
    Omega(N^2) compares on unstructured vectors; what CAN be fixed is
    the execution shape, which is what this operator does:

    - vectors are hashed into ``ceil(N / block_size)`` blocks; the
      B*(B+1)/2 block-pair grid is generated with ``sequence`` +
      ``explode`` (narrow ops — no CartesianProduct / BNLJ node ever
      enters the plan) and each grid row picks up its two member
      arrays via two broadcast-able equi-joins;
    - each task compares ONE block pair with a dense float64
      (m x d) @ (d x m) BLAS matmul in an Arrow ``mapInPandas`` — the
      O(pairs) inner loop runs at SIMD speed instead of one
      interpreted HOF fold per pair;
    - per-task memory is bounded by 2*block_size vectors + a
      block_size^2 score tile regardless of N, and the B^2/2 tasks
      spread across the cluster (the repartition between the two
      explodes keeps the grid itself distributed at large B).

    The UDF emits pairs above ``threshold - 1e-6``; the authoritative
    6-decimal round + threshold filter happens JVM-side with
    ``F.round`` so boundary semantics stay identical to the brute
    plan and the DuckDB oracle.
    """
    import math

    import numpy as np

    spark = embeddings.sparkSession
    n = embeddings.count()
    n_blocks = max(1, math.ceil(n / block_size))

    vecs = embeddings.select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("b"),
    )
    blocks = vecs.groupBy("b").agg(
        F.collect_list(F.struct("vec_id", "v")).alias("vs")
    )

    grid = (
        spark.range(1)
        .select(F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("b1"))
        .repartition(_parallelism(embeddings))
        .select(
            "b1",
            F.explode(
                F.sequence(F.col("b1"), F.lit(n_blocks - 1))
            ).alias("b2"),
        )
    )
    joined = (
        grid.join(blocks.select(F.col("b").alias("b1"), F.col("vs").alias("vs1")), "b1")
        .join(blocks.select(F.col("b").alias("b2"), F.col("vs").alias("vs2")), "b2")
        .select("b1", "b2", "vs1", "vs2")
    )

    pre_cut = threshold - 1e-6

    def _compare(batches):
        import pandas as pd

        for pdf in batches:
            out_v1, out_v2, out_cos = [], [], []
            for b1, b2, vs1, vs2 in zip(
                pdf["b1"], pdf["b2"], pdf["vs1"], pdf["vs2"]
            ):
                ids1 = np.fromiter((r["vec_id"] for r in vs1), dtype=np.int64)
                m1 = np.vstack([r["v"] for r in vs1]).astype(np.float64)
                n1 = np.sqrt(np.einsum("ij,ij->i", m1, m1))
                if b1 == b2:
                    ids2, m2, n2 = ids1, m1, n1
                else:
                    ids2 = np.fromiter((r["vec_id"] for r in vs2), dtype=np.int64)
                    m2 = np.vstack([r["v"] for r in vs2]).astype(np.float64)
                    n2 = np.sqrt(np.einsum("ij,ij->i", m2, m2))
                # dot / (|a|*|b|), not pre-normalized rows: same
                # operation order as the HOF/oracle cosine, so the
                # 6-decimal round sees the same float64 value.
                scores = (m1 @ m2.T) / np.outer(n1, n2)
                ii, jj = np.where(scores >= pre_cut)
                if b1 == b2:
                    keep = ids1[ii] < ids2[jj]
                else:
                    keep = np.ones(len(ii), dtype=bool)
                ii, jj = ii[keep], jj[keep]
                a, c = ids1[ii], ids2[jj]
                out_v1.append(np.minimum(a, c))
                out_v2.append(np.maximum(a, c))
                out_cos.append(scores[ii, jj])
            if out_v1:
                yield pd.DataFrame(
                    {
                        "v1": np.concatenate(out_v1),
                        "v2": np.concatenate(out_v2),
                        "cosine_raw": np.concatenate(out_cos),
                    }
                )

    raw = joined.mapInPandas(
        _compare, "v1 long, v2 long, cosine_raw double"
    )
    return (
        raw.select("v1", "v2", F.round("cosine_raw", 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_star_clusters(
    embeddings: DataFrame, threshold: float
) -> DataFrame:
    """Semantic dedup cluster assignment: every vector labelled with
    the smallest vec_id among its cosine-≥-threshold neighbourhood
    (itself included) — one-round star clustering over the exact
    near-dup graph.

    Semantic dedup (SemDeDup-style) needs a *cluster representative*
    per document, not a pair list: keep the representative, drop the
    rest. Full connected components is iterative (and its chained
    clusters put unrelated docs together); the star assignment is a
    single aggregation over the edge list — deterministic, one pass,
    and the standard choice when edges already mean "near-duplicate".

    Plan: exact pairs from :func:`blocked_exact_neardup` (equi-join
    block grid, no CartesianProduct), symmetrized with a union (narrow),
    then ONE min-aggregate keyed on vec_id. At 100 TB the edge list is
    sparse (near-dup graphs are), so the aggregate's shuffle carries
    edges, not the corpus; isolated vectors ride the identity branch
    straight through the same aggregate.
    """
    pairs = blocked_exact_neardup(embeddings, threshold).select("v1", "v2")
    edges = (
        pairs.select(F.col("v1").alias("vec_id"), F.col("v2").alias("nbr"))
        .union(pairs.select(F.col("v2").alias("vec_id"), F.col("v1").alias("nbr")))
        .union(
            embeddings.select(
                "vec_id", F.col("vec_id").alias("nbr")
            )
        )
    )
    return edges.groupBy("vec_id").agg(F.min("nbr").alias("cluster_rep"))


def rp_lsh_neardup(
    embeddings: DataFrame,
    threshold: float,
    n_bands: int = 12,
    band_bits: int = 3,
    seed: int = 7,
) -> DataFrame:
    """Random-hyperplane (signed random projection) LSH near-dup — the
    approximate scale path that replaces the exact Ω(N²/2) compare
    half-matrix of :func:`near_duplicate_pairs`.

    sign(v · h) per seeded hyperplane gives a SimHash bit; bits are
    grouped into ``n_bands`` bands of ``band_bits``; vectors sharing
    any band key become candidates (equi-join on the band key — hash-
    partitionable, never a cross product); candidates are verified
    with the exact cosine, so precision is 1.0 and only recall is
    approximate. With P(bit agree) = 1 - θ/π, recall per pair is
    1-(1-p^r)^b — tune bands/bits to the target threshold.

    Measured recall with the default 12x3 banding on pairs planted
    just above each threshold (tests/test_temporal.py::
    test_rp_lsh_neardup_recall_at_mid_thresholds, 200 pairs, theory
    in parens): 0.5 → 0.990 (0.988), 0.6 → 0.995 (0.995), 0.7 →
    1.000 (0.999), 0.8 → 1.000 (1.000), exact dups → 1.0. Below ~0.5
    the miss rate grows (0.4 → ~0.97) — route exact low-threshold
    jobs to blocked_exact_neardup instead.

    The signature stage is ONE Arrow-batched pandas UDF doing a dense
    (batch × dim) @ (dim × n_planes) matmul + bit-packing — the one
    place where a vectorized Python kernel beats Catalyst expressions
    (higher-order-function dot products are interpreted per element,
    ~96 planes × dim ops per row of object churn). The hyperplane
    matrix ships in the UDF closure (n_planes × dim doubles, tiny).
    """
    import numpy as np
    import pandas as pd

    dim = len(embeddings.select("embedding").first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bands * band_bits, dim))
    pow2 = 1 << np.arange(band_bits - 1, -1, -1)

    def _band_keys(embs):
        m = np.vstack(embs.to_numpy()).astype(np.float64)
        bits = (m @ planes.T) >= 0.0
        keys = bits.reshape(len(m), n_bands, band_bits) @ pow2
        return pd.Series(list(keys.astype(np.int64)))

    # plain-function wrap: `from __future__ import annotations`
    # stringifies hints, which pandas_udf's hint inference rejects
    _band_keys.__annotations__ = {"embs": pd.Series, "return": pd.Series}
    band_keys = F.pandas_udf(_band_keys, "array<long>")

    v = embeddings.select("vec_id", "embedding").repartition(
        _parallelism(embeddings)
    )
    banded = v.select(
        "vec_id", F.posexplode(band_keys("embedding")).alias("band", "key")
    )
    # Pairs are generated inside each bucket from ONE grouped pass
    # (collect_list + pairwise HOF) instead of a self-join: the UDF
    # and the shuffle run once, not once per join side. Bucket sizes
    # are the LSH-bounded quantity, so the m·(m-1)/2 expansion is the
    # candidate count itself — no hidden blow-up.
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(least(x, y) AS v1, greatest(x, y) AS v2))))"
    )
    candidates = (
        banded.groupBy("band", "key")
        .agg(F.collect_list("vec_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.v1", "p.v2")
        .distinct()
    )
    a = _with_vec(embeddings, "v1", "av", "an")
    b = _with_vec(embeddings, "v2", "bv", "bn")
    cos = dot(F.col("av"), F.col("bv")) / (F.col("an") * F.col("bn"))
    return (
        candidates.join(a, "v1")
        .join(b, "v2")
        .select("v1", "v2", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ivf_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF-style bucket assignment: each vector goes to its most
    cosine-similar centroid (broadcast the small centroid set, argmax
    via row_number). Downstream ANN joins become per-bucket joins."""
    c = _with_vec(centroids, "centroid_id", "cv", "cn")
    v = _with_vec(embeddings, "vec_id", "vv", "vn").repartition(
        _parallelism(embeddings)
    )
    scored = v.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "centroid_id",
        (dot(F.col("vv"), F.col("cv")) / (F.col("vn") * F.col("cn"))).alias("_cos"),
    )
    # argmax as a max_by hash aggregate — no per-vector window sort.
    # The ordering struct carries -centroid_id so ties on cosine break
    # toward the smallest centroid, identical to ORDER BY cos DESC,
    # centroid_id ASC in the oracle.
    return scored.groupBy("vec_id").agg(
        F.max_by(
            F.col("centroid_id"),
            F.struct(F.col("_cos"), (-F.col("centroid_id")).alias("nc")),
        ).alias("centroid_id")
    )


def ivf_topk(
    embeddings: DataFrame, assignments: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """IVF-bucketed ANN top-k — the scale path: each query searches
    only its own IVF bucket (assignments from ivf_assign), so the
    per-query candidate set shrinks by ~the bucket count and the
    compare never touches the full corpus.

    The query side is small by construction → broadcast; the corpus
    streams with its assignment joined in. Recall is approximate
    (bucket-boundary neighbors are missed) — that is the documented
    IVF trade; raise nprobe by unioning more buckets per query."""
    v = _with_vec(embeddings, "vec_id", "vv", "vn").join(assignments, "vec_id")
    q = (
        v.join(queries.select("vec_id"), "vec_id")
        .select(
            F.col("vec_id").alias("query_id"), F.col("centroid_id"),
            F.col("vv").alias("qv"), F.col("vn").alias("qn"),
        )
    )
    c = v.select(
        F.col("vec_id").alias("neighbor_id"), "centroid_id",
        F.col("vv").alias("cv"), F.col("vn").alias("cn"),
    ).repartition(_parallelism(embeddings))
    scored = (
        c.join(F.broadcast(q), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            (vec_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", F.round("_cos", 6).alias("cosine"))
    )


def label_centroids(embeddings: DataFrame, scale: int = 6) -> DataFrame:
    """Per-label centroid, one row per (label, dimension): posexplode
    the vectors, fixed-point mean per cell so the result is summation-
    order-independent (exact BIGINT sums) and engine-portable.

    At 100 TB this is the k-means update step: one combiner-friendly
    hash aggregate keyed (label, pos) — partial sums map-side, the
    shuffle carries n_labels × dim rows only. Returning the exploded
    (label, pos, value) layout avoids re-assembling arrays (the next
    IVF/assign step consumes it exploded anyway).
    """
    m = 10 ** scale
    cell = embeddings.select(
        "label", F.posexplode(as_double(F.col("embedding"))).alias("pos", "val")
    )
    return cell.groupBy("label", "pos").agg(
        (
            F.sum(F.floor(F.col("val") * m + F.lit(0.5)).cast("long"))
            / (F.count("*") * F.lit(float(m)))
        ).alias("centroid"),
        F.count("*").alias("n_vectors"),
    )


def knn_classify(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """k-NN majority-vote classification of the query vectors against
    the labeled corpus: brute-force top-k (cosine) → neighbor labels →
    arg-max vote with a deterministic (votes DESC, label ASC)
    tie-break. The vote is a tiny aggregate on top of the top-k plan;
    the corpus labels ride the existing broadcast."""
    from pyspark.sql.window import Window

    topk = cosine_topk(embeddings, queries, k=k)
    labels = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    votes = (
        topk.join(labels, "neighbor_id")
        .groupBy("query_id", "n_label")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("n_label")
    )
    winner = (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("query_id", F.col("n_label").alias("predicted_label"), "n_votes")
    )
    truth = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return winner.join(truth, "query_id").select(
        "query_id",
        "predicted_label",
        "n_votes",
        "true_label",
        (F.col("predicted_label") == F.col("true_label")).alias("is_match"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-side ANN scale path.
# ---------------------------------------------------------------------------

_PQ_KNUTH = 2654435761
_PQ_MOD = 4294967296


def pq_train_codebooks(
    embeddings: DataFrame, m: int = 8, k: int = 64, iters: int = 2
):
    """Train deterministic PQ codebooks: split the (unit-normalized)
    d-dim space into ``m`` subspaces and learn ``k`` centroids per
    subspace. Returns a numpy array of shape (m, k, d/m) — model
    state, like a fitted spark.ml estimator, small by construction
    (m·k·d floats regardless of corpus size).

    Seeding is hash-deterministic (the k vectors with the smallest
    Knuth-hashed vec_id — reproducible across runs/partitionings, no
    RNG); each Lloyd refinement runs DISTRIBUTED: assignment in one
    Arrow mapInPandas pass over the corpus, centroid update as a
    fixed-point grouped mean (exact BIGINT sums → summation-order
    independent, like label_centroids), only the m·k·(d/m) cell means
    ever reach the driver. Empty cells keep their previous centroid.
    """
    import numpy as np

    h = ((F.col("vec_id") + 1) * F.lit(_PQ_KNUTH)) % F.lit(_PQ_MOD)
    seed_rows = (
        embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
        .orderBy(h, "vec_id")
        .limit(k)
        .collect()
    )
    seeds = np.vstack([r.v for r in seed_rows]).astype(np.float64)
    seeds /= np.linalg.norm(seeds, axis=1, keepdims=True)
    d = seeds.shape[1]
    dsub = d // m
    books = np.stack(
        [seeds[:, j * dsub:(j + 1) * dsub] for j in range(m)]
    )  # (m, k, dsub)

    spark = embeddings.sparkSession
    scale = 10 ** 6
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(books)

        def _assign(batches):
            import pandas as pd

            cb = bc.value
            for pdf in batches:
                vecs = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
                vecs /= np.maximum(
                    np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12
                )
                out_j, out_code, out_pos, out_val = [], [], [], []
                for j in range(m):
                    sub = vecs[:, j * dsub:(j + 1) * dsub]
                    # argmin L2 to centroids: (b,k) distance matrix
                    d2 = (
                        (sub ** 2).sum(1)[:, None]
                        - 2.0 * sub @ cb[j].T
                        + (cb[j] ** 2).sum(1)[None, :]
                    )
                    code = d2.argmin(1)
                    b = len(sub)
                    out_j.append(np.full(b * dsub, j, dtype=np.int32))
                    out_code.append(np.repeat(code, dsub).astype(np.int32))
                    out_pos.append(np.tile(np.arange(dsub, dtype=np.int32), b))
                    out_val.append(sub.ravel())
                yield pd.DataFrame(
                    {
                        "j": np.concatenate(out_j),
                        "code": np.concatenate(out_code),
                        "pos": np.concatenate(out_pos),
                        "val": np.concatenate(out_val),
                    }
                )

        cells = (
            embeddings.select(as_double(F.col("embedding")).alias("v"))
            .repartition(_parallelism(embeddings))
            .mapInPandas(_assign, "j int, code int, pos int, val double")
            .groupBy("j", "code", "pos")
            .agg(
                (
                    F.sum((F.col("val") * scale).cast("long")) / F.count("*")
                    / scale
                ).alias("mean")
            )
            .collect()
        )
        books = books.copy()
        for r in cells:
            books[r.j, r.code, r.pos] = r.mean
    return books


def pq_encode(embeddings: DataFrame, books) -> DataFrame:
    """Encode every vector to its m-byte PQ code array (argmin-L2
    centroid per subspace, unit-normalized input). Narrow Arrow pass —
    at 100 TB the code table is ~d·4/m× smaller than the raw vectors
    (64-dim float → 8 bytes), the structure ANN serving keeps hot."""
    import numpy as np

    m, _, dsub = books.shape
    bc = embeddings.sparkSession.sparkContext.broadcast(books)

    def _enc(batches):
        import pandas as pd

        cb = bc.value
        for pdf in batches:
            vecs = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            vecs /= np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(vecs), m), dtype=np.int16)
            for j in range(m):
                sub = vecs[:, j * dsub:(j + 1) * dsub]
                d2 = (
                    (sub ** 2).sum(1)[:, None]
                    - 2.0 * sub @ cb[j].T
                    + (cb[j] ** 2).sum(1)[None, :]
                )
                codes[:, j] = d2.argmin(1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return (
        embeddings.select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        )
        .repartition(_parallelism(embeddings))
        .mapInPandas(_enc, "vec_id long, codes array<smallint>")
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 64,
    shortlist: int = 100,
    books=None,
    max_broadcast_queries: int | None = 100_000,
) -> DataFrame:
    """PQ-ADC approximate top-k with exact re-rank — the
    billion-vector serving shape (IVF-PQ's scoring half): corpus
    compressed to m-byte codes, queries score candidates with m table
    lookups instead of d multiplies, the top-``shortlist`` per query
    get exact cosine re-ranking, top-``k`` survive.

    Execution: ONE Arrow pass over the code table computes ADC scores
    against every (broadcast) query LUT and emits only each BATCH's
    local top-shortlist per query — the shuffle after it carries
    ≤ shortlist·n_queries rows per batch, never N·Q scores (local-topk
    → global-topk reduction). The re-rank joins ≤ shortlist·n_queries
    raw vectors. Recall < 1.0 by design (quantization loss before the
    shortlist cut); tests/test_sampling.py pins recall ≥ 0.9 vs the
    exact baseline at 500 vectors with default parameters (measured
    0.96 at n_codes=64/iters=2/shortlist=100; 1.0 at 64/3/150).
    """
    import numpy as np

    # The ADC LUT (nq × m × n_codes doubles) is built on the driver and
    # broadcast; feeding a corpus-sized frame as "queries" would OOM
    # the driver, so the contract is probe-guarded like cosine_topk —
    # BEFORE codebook training, so an over-limit caller pays nothing.
    _guard_broadcast_queries(
        queries, max_broadcast_queries, "pq_topk",
        "Batch the query set (chunk it and union the per-chunk top-k), "
        "or use ivf_topk where both sides stream.",
    )
    if books is None:
        books = pq_train_codebooks(embeddings, m=m, k=n_codes)
    m_, _, dsub = books.shape
    codes = pq_encode(embeddings, books)
    q_rows = (
        queries.select("vec_id", as_double(F.col("embedding")).alias("v"))
        .collect()
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.vstack([r.v for r in q_rows]).astype(np.float64)
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
    # LUT[q, j, c] = q_sub_j · centroid_{j,c}: approx cosine is the sum
    # of m gathers — built once per query set, broadcast to every task.
    luts = np.stack(
        [
            np.stack(
                [q_mat[:, j * dsub:(j + 1) * dsub] @ books[j].T for j in range(m_)],
                axis=1,
            )
        ]
    )[0]  # (nq, m, n_codes)
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, luts))

    def _adc(batches):
        import pandas as pd

        ids, lut = bc.value
        nq = len(ids)
        for pdf in batches:
            cmat = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            vids = pdf["vec_id"].to_numpy()
            b = len(vids)
            scores = np.zeros((nq, b))
            for j in range(lut.shape[1]):
                scores += lut[:, j, cmat[:, j]]
            take = min(shortlist, b)
            # local top-`take` per query (argpartition, then exact sort
            # happens globally)
            idx = np.argpartition(-scores, take - 1, axis=1)[:, :take]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, take),
                    "neighbor_id": vids[idx].ravel(),
                    "approx": np.take_along_axis(scores, idx, 1).ravel(),
                }
            )

    local = codes.mapInPandas(
        _adc, "query_id long, neighbor_id long, approx double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w_s = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id")
    )
    short = (
        local.withColumn("_r", F.row_number().over(w_s))
        .filter(F.col("_r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(short, embeddings, queries, k)


def _exact_rerank(
    short: DataFrame, embeddings: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, neighbor_id) shortlist:
    joins raw vectors back in (shortlist-sized, never corpus-sized),
    broadcast query side, deterministic (cos DESC, id ASC) top-k."""
    c = _with_vec(embeddings, "neighbor_id", "cv", "cn")
    q = _with_vec(queries, "query_id", "qv", "qn")
    rer = (
        short.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (vec_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias(
                "_cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id")
    )
    return (
        rer.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", F.round("_cos", 6).alias("cosine"))
    )


def ivfpq_topk(
    embeddings: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 64,
    shortlist: int = 100,
    books=None,
    max_broadcast_queries: int | None = 100_000,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composed billion-vector serving
    shape (the layout FAISS's IVFADC and every large ANN service use):
    a coarse quantizer prunes the corpus to each query's ``nprobe``
    nearest centroid buckets, PQ-ADC scores only the codes inside the
    probed buckets (m table lookups per candidate, raw vectors never
    touched), and the top-``shortlist`` survivors get exact cosine
    re-ranking.

    Execution: bucket probe is an equi-join of the code table against
    the broadcast (query_id, centroid_id) probe list — per-bucket
    fan-out, never corpus × queries; the ADC Arrow pass emits each
    batch's local top-shortlist per query so the downstream shuffle is
    shortlist-bounded. Cost per query ~ corpus/n_buckets · nprobe code
    lookups vs pq_topk's full-corpus scan and ivf_topk's full-vector
    arithmetic. Recall < 1.0 by design (bucket boundary + quantization
    loss); raise nprobe / shortlist to trade speed for recall.
    """
    import numpy as np

    # Same driver-LUT contract as pq_topk: guard before any heavy work.
    _guard_broadcast_queries(
        queries, max_broadcast_queries, "ivfpq_topk",
        "Batch the query set (chunk it and union the per-chunk top-k), "
        "or use ivf_topk where both sides stream.",
    )
    if books is None:
        books = pq_train_codebooks(embeddings, m=m, k=n_codes)
    m_, _, dsub = books.shape
    codes = pq_encode(embeddings, books).join(
        ivf_assign(embeddings, centroids), "vec_id"
    )

    # top-nprobe centroids per query: tiny × tiny, computed JVM-side
    cq = _with_vec(centroids, "centroid_id", "cv", "cn")
    qv = _with_vec(queries, "query_id", "qv", "qn")
    w_p = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("centroid_id")
    )
    probes = (
        qv.crossJoin(F.broadcast(cq))
        .select(
            "query_id", "centroid_id",
            (vec_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("_cos"),
        )
        .withColumn("_r", F.row_number().over(w_p))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "centroid_id")
    )

    q_rows = (
        queries.select("vec_id", as_double(F.col("embedding")).alias("v"))
        .collect()
    )
    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    q_mat = np.vstack([r.v for r in q_rows]).astype(np.float64)
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
    luts = np.stack(
        [q_mat[:, j * dsub:(j + 1) * dsub] @ books[j].T for j in range(m_)],
        axis=1,
    )  # (nq, m, n_codes)
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, luts))

    cand = codes.join(F.broadcast(probes), "centroid_id").select(
        "query_id", "vec_id", "codes"
    )

    def _adc(batches):
        import pandas as pd

        ids, lut = bc.value
        qpos = {int(q): i for i, q in enumerate(ids)}
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.vstack(pdf["codes"].to_numpy()).astype(np.int64)
            qidx = pdf["query_id"].map(qpos).to_numpy()
            score = np.zeros(len(pdf))
            for j in range(lut.shape[1]):
                score += lut[qidx, j, cmat[:, j]]
            out = pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["vec_id"].to_numpy(),
                    "approx": score,
                }
            )
            # local top-shortlist per query bounds the shuffle
            out = (
                out.sort_values(["query_id", "approx"], ascending=[True, False])
                .groupby("query_id", sort=False)
                .head(shortlist)
            )
            yield out

    local = cand.mapInPandas(
        _adc, "query_id long, neighbor_id long, approx double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w_s = Window.partitionBy("query_id").orderBy(
        F.col("approx").desc(), F.col("neighbor_id")
    )
    short = (
        local.withColumn("_r", F.row_number().over(w_s))
        .filter(F.col("_r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(short, embeddings, queries, k)


def projection_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic ±1 sign matrix for :func:`random_projection`:
    sign(j, i) = +1 iff the first hex digit of md5("i_j") is even.
    Hash-derived, not RNG-derived, for the same reason as
    operators/sampling.py — any engine (or the DuckDB oracle)
    regenerates the identical matrix from the formula alone."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    embeddings: DataFrame,
    in_dim: int = 64,
    out_dim: int = 16,
    scale: int = 10**6,
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection: reduce each
    embedding to ``out_dim`` dims via y_j = Σ_i v_i·s_ji / √in_dim
    with a hash-derived ±1 matrix (Achlioptas 2003's database-friendly
    projection) — the standard cheap first stage before clustering or
    ANN when 100 TB of float vectors won't fit the index budget.

    Execution: a pure narrow projection — the sign matrix is a literal
    in the plan (out_dim·in_dim ints), each output dim is one
    zip_with/aggregate HOF chain over the vector, no UDF, no shuffle,
    no driver state; Catalyst pipelines it straight into the scan.
    Per-element products are scaled to exact BIGINTs before the fold
    so the result is bit-identical regardless of evaluation order.
    Output is long-form (vec_id, dim, value) ready for a groupBy or a
    re-pivot to arrays.
    """
    signs = projection_signs(in_dim, out_dim)
    # SQL-string literal rendering assumes INT parameters: a float
    # would render as a decimal literal that Spark parses as DECIMAL
    # (unlike F.lit's DoubleType), silently changing arithmetic typing
    # (ADVICE r13). Pin the previous F.lit(int) semantics loudly; a
    # bool is an int to isinstance but renders as SQL `True`.
    if not isinstance(scale, int) or isinstance(scale, bool):
        raise TypeError(f"random_projection: scale must be int, got {scale!r}")
    # One F.expr parse for the whole out_dim·in_dim literal matrix:
    # the Column-builder form issued ~out_dim·(in_dim+3) py4j round
    # trips (~1000 at 16×64 — the same driver-overhead class as the
    # kmeans assign, r13). The double-cast vector is ALIASED in its
    # own producer projection so the 64-element cast runs once per
    # row instead of once per output dim (HOFs are CodegenFallback —
    # no subexpression elimination).
    dim_sql = ", ".join(
        "aggregate(zip_with(_v, array({sr}), "
        "(a, s) -> CAST(FLOOR(a * s * {scale} + 0.5D) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)".format(
            sr=", ".join(str(s) for s in signs[j]), scale=scale
        )
        for j in range(out_dim)
    )
    import math

    # No final round(): t / norm on exact operands is bit-identical in
    # every engine, while round-to-6 hits exact x.xxxxxx5 boundaries
    # (t/8e6 terminates in decimal) where Spark rounds the shortest
    # string repr and other engines round the binary value.
    norm = math.sqrt(in_dim) * scale
    return embeddings.select(
        "vec_id", as_double(F.col("embedding")).alias("_v")
    ).select(
        "vec_id", F.posexplode(F.expr(f"array({dim_sql})")).alias("dim", "t")
    ).select(
        "vec_id",
        F.col("dim").cast("int").alias("dim"),
        (F.col("t") / F.lit(norm)).alias("value"),
    )


def maxsim_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    group_col: str = "label",
) -> DataFrame:
    """Late-interaction (ColBERT MaxSim) retrieval: treat each
    ``group_col`` value as a multi-vector document and the query set
    as one multi-vector query; score(doc) = Σ over query vectors of
    the max cosine against any of the doc's vectors; return the top-k
    documents. The modern neural-retrieval scoring shape — one level
    finer than single-vector cosine, one level cheaper than full
    cross-attention.

    Execution: corpus × broadcast(query set) — linear in corpus
    vectors like cosine_topk — then a two-level aggregate (per
    (doc, query-vector) MAX with map-side combine, per-doc SUM), and a
    TakeOrdered top-k. Per-query maxes are rounded to the 1e-6 grid
    BEFORE the sum: grid values sit nowhere near round-half
    boundaries, so the final score is engine-portable without exact
    integer arithmetic. At 100 TB compose with IVF bucketing exactly
    like cosine_topk → ivf_topk.
    """
    c = embeddings.select(group_col, as_double(F.col("embedding")).alias("v"))
    q = queries.select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("qv")
    )
    per_q = (
        c.crossJoin(F.broadcast(q))
        .select(
            group_col,
            "qid",
            cosine(F.col("v"), F.col("qv")).alias("cos"),
        )
        .groupBy(group_col, "qid")
        .agg(F.round(F.max("cos"), 6).alias("m"))
    )
    scores = per_q.groupBy(group_col).agg(
        F.round(F.sum("m"), 6).alias("maxsim_score")
    )
    return scores.orderBy(
        F.col("maxsim_score").desc(), F.col(group_col)
    ).limit(k)


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    scale: int = 1000,
    shift: int = 1024,
) -> DataFrame:
    """Lloyd's k-means over the embedding column, engine-exact.

    The full iterative clustering loop (init → assign → update →
    re-assign), not just one update step (that's label_centroids).
    Arithmetic is fixed-point end to end so the result is
    bit-identical across engines and partitionings: vectors quantize
    to BIGINT (floor(x·scale + ½)), distances are exact integer
    squared-L2 between shift-scaled points and centroids, and the
    centroid update floors sum·shift/count through one IEEE double
    division (identical in Spark and DuckDB). Ties in the argmin break
    toward the smallest centroid id via the lexicographic (dist, cid)
    struct min. Init: the k smallest vec_ids' vectors (deterministic,
    reference-free). A cluster that attracts no points in a round is
    DROPPED (standard Lloyd behavior — the result can hold fewer than
    k clusters); callers that need exactly k must reseed empties as a
    policy on top.

    Scale posture: each iteration is ONE narrow map over the corpus
    (centroids ride along as k·dim literals — no shuffle join) plus a
    combiner-friendly (cluster, dim) hash aggregate whose shuffle
    carries ≤ k·dim rows; the driver holds k·dim ints per round,
    bounded and tiny. Lineage re-scans the source once per job (3
    scans at iters=2) — callers running many iterations should
    persist the upstream frame first. For k·dim beyond ~10⁵ the
    literal-array plan outgrows the Catalyst plan budget; switch to
    the exploded join-on-pos strategy (label_centroids layout) at
    that point.
    """
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    # shift is rendered into SQL text as an int literal (ADVICE r13 —
    # a float would parse as DECIMAL and change arithmetic typing; a
    # bool would render as `True`).
    if not isinstance(shift, int) or isinstance(shift, bool):
        raise TypeError(f"kmeans_lloyd: shift must be int, got {shift!r}")
    q = embeddings.select(
        "vec_id",
        F.transform(
            as_double(F.col("embedding")),
            lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"),
        ).alias("q"),
    )
    init = q.orderBy("vec_id").limit(k).collect()
    cents: dict[int, list[int]] = {
        int(r["vec_id"]): [int(v) * shift for v in r["q"]] for r in init
    }

    def _assign(frame: DataFrame) -> DataFrame:
        # The k·dim centroid literals are rendered into ONE SQL string
        # parsed by a single F.expr: the Column-builder form issued
        # ~k·(dim+2) py4j round-trips per call (~1000 at k=8/dim=64,
        # ≈2.5 s of pure driver time across the iterations — measured
        # r13), the parsed tree is identical.
        structs = ", ".join(
            "named_struct('dist', aggregate(zip_with(q, array({mv}), "
            "(a, b) -> (a * {shift} - b) * (a * {shift} - b)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x), "
            "'cid', CAST({cid} AS BIGINT))".format(
                mv=", ".join(str(m) for m in mvec), shift=shift, cid=cid
            )
            for cid, mvec in sorted(cents.items())
        )
        best = F.expr(f"array_min(array({structs}))")
        return frame.select(
            "vec_id",
            "q",
            best.getField("cid").alias("cluster_id"),
            best.getField("dist").alias("dist_scaled"),
        )

    assign = _assign(q)
    for _ in range(iters - 1):
        cells = (
            assign.select(
                "cluster_id", F.posexplode("q").alias("pos", "qv")
            )
            .groupBy("cluster_id", "pos")
            .agg(
                F.floor(
                    F.sum("qv").cast("double") * shift / F.count("*")
                )
                .cast("long")
                .alias("m")
            )
            .collect()
        )
        nxt: dict[int, dict[int, int]] = {}
        for r in cells:
            nxt.setdefault(int(r["cluster_id"]), {})[int(r["pos"])] = int(r["m"])
        cents = {
            cid: [dims[p] for p in sorted(dims)] for cid, dims in nxt.items()
        }
        assign = _assign(q)
    return assign.select("vec_id", "cluster_id", "dist_scaled")


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    label_col: str = "label",
    max_broadcast_queries: int | None = 100_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every
    anchor, the k most cosine-similar vectors with a DIFFERENT label.
    Random negatives are uninformative (the loss saturates); same-
    label neighbors are FALSE negatives that poison the objective —
    the training signal lives exactly in the near-but-wrong region
    this selects. Same broadcast-anchor shape as :func:`cosine_topk`
    with the label inequality applied BEFORE scoring, so excluded
    pairs never pay the dot product."""
    _guard_broadcast_queries(
        queries, max_broadcast_queries, "hard_negatives",
        "Mine negatives per IVF bucket (ivf_topk) for large anchor sets.",
    )
    q = queries.select(
        F.col("vec_id").alias("anchor_id"),
        as_double(F.col("embedding")).alias("qv"),
        F.col(label_col).alias("anchor_label"),
    ).withColumn("qn", norm(F.col("qv")))
    c = embeddings.select(
        F.col("vec_id").alias("negative_id"),
        as_double(F.col("embedding")).alias("cv"),
        F.col(label_col).alias("neg_label"),
    ).withColumn("cn", norm(F.col("cv"))).repartition(
        _parallelism(embeddings)
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "negative_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
            .alias("_cos"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("_cos").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "anchor_id", "negative_id", "rnk",
            F.round("_cos", 6).alias("cosine"),
        )
    )


def mips_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_broadcast_queries: int | None = 100_000,
) -> DataFrame:
    """Maximum-inner-product top-k via the Shrivastava–Li asymmetric
    transform — the retrieval objective when embeddings are NOT
    normalized (recommendation scores, unnormalized retrievers):
    append sqrt(M² − ‖x‖²) to every corpus vector (M = max corpus
    norm) and 0 to every query, and all transformed corpus vectors
    have norm exactly M — so cosine ranking in the lifted space IS
    inner-product ranking in the original. That reduction is what
    lets every cosine-only ANN structure (the IVF/LSH/PQ paths here)
    serve MIPS unchanged.

    The emitted ``dot`` is the ORIGINAL inner product (computed
    directly) and is also the RANKING key: the lifted cosine's
    denominator (sqrt(‖x‖²+aug²)) equals M only to ~1 ulp per corpus
    vector, so ranking by it can flip near-tied dot products against
    an oracle that ranks by the raw inner product — an intermittent,
    data-dependent hash mismatch (ADVICE r9). The lifted-space
    construction is still verified in-plan: every row asserts
    |lifted_norm − M| ≤ 1e-9·M (``assert_true`` — a wrong transform
    fails the job, not just the ranking). M rides a 1-row broadcast;
    everything else matches cosine_topk's
    broadcast-query/streaming-corpus shape."""
    _guard_broadcast_queries(
        queries, max_broadcast_queries, "mips_topk",
        "Bucket the corpus (ivf_topk on the lifted vectors) for "
        "large query sets.",
    )
    c0 = _with_vec(embeddings, "neighbor_id", "cv", "cn")
    m = c0.agg(F.max("cn").alias("m"))
    c = c0.crossJoin(F.broadcast(m)).withColumn(
        "aug",
        F.sqrt(
            F.greatest(
                F.col("m") * F.col("m") - F.col("cn") * F.col("cn"),
                F.lit(0.0),
            )
        ),
    ).repartition(_parallelism(embeddings))
    q = _with_vec(queries, "query_id", "qv", "qn")
    dot_qc = dot(F.col("qv"), F.col("cv"))
    # lifted norm over the ACTUAL augmented vectors: sqrt(‖x‖²+aug²),
    # not an assumed M. The theorem says it equals M exactly; float
    # arithmetic delivers it to ~1 ulp, so it is VERIFIED per-row
    # (assert_true: a wrong transform fails the job) but NOT used as
    # the ranking key — a 1-ulp denominator can flip near-tied dot
    # products against an oracle ranking by the raw inner product.
    lifted_norm = F.sqrt(
        F.col("cn") * F.col("cn") + F.col("aug") * F.col("aug")
    )
    norm_check = F.assert_true(
        F.abs(lifted_norm - F.col("m")) <= F.lit(1e-9) * F.col("m"),
        F.lit("mips lifted-norm identity violated"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(norm_check.isNull())
        .select(
            "query_id",
            "neighbor_id",
            dot_qc.alias("_dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_dot").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", "rnk",
            F.round("_dot", 6).alias("dot"),
        )
    )
