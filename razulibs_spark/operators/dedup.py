"""Deduplication operators for large-scale text corpora.

Beyond the reference's surface (BASELINE.json north star): exact
dedup, word-shingle n-gram Jaccard, MinHash+LSH banding, SimHash.

Scale design notes (100 TB posture):
- Exact dedup is one hash-aggregate on md5(content) — map-side partial
  aggregation makes the shuffle carry only distinct hashes.
- Shingling explodes each doc into (doc_id, shingle) rows; the
  candidate-pair join shuffles on `shingle` — the highest-cardinality
  key available, so it distributes well. Banded MinHash-LSH caps the
  pair blow-up: candidates come from 128-bit band-key equality joins
  instead of the full shingle×shingle join.
- All hashes are md5 hex strings (engine-portable, deterministic);
  a MinHash signature is the lexicographic min of the seeded-hash
  strings, so signatures are order-independent and exactly
  reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from razulibs_spark.operators.pinning import pin_iteration

N_MINHASH = 12
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS


def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """Exact dedup by content hash: one row per distinct content with
    the canonical (min) doc_id and the number of copies."""
    return (
        documents.select(F.md5(F.col("text")).alias("content_md5"), "doc_id")
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def incremental_dedup(
    documents: DataFrame, is_batch, key: str = "doc_id"
) -> DataFrame:
    """Incremental exact dedup: admit only the rows of the new batch
    whose content hash is absent from the existing corpus, keeping one
    canonical (min-key) row per distinct new content.

    The corpus side is reduced to DISTINCT hashes before the anti-join
    (no payload shuffled); at 100 TB the corpus hash set is the
    persisted dedup index a daily-ingest pipeline maintains — this
    plan is exactly "probe the index, keep the misses".
    """
    hashed = documents.select(
        F.col(key), F.md5(F.col("text")).alias("content_md5"), is_batch.alias("_b")
    )
    corpus = hashed.filter(~F.col("_b")).select("content_md5").distinct()
    batch = hashed.filter(F.col("_b")).drop("_b")
    return (
        batch.join(corpus, "content_md5", "left_anti")
        .groupBy("content_md5")
        .agg(F.min(key).alias(key), F.count("*").alias("n_in_batch"))
    )


def word_shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """Distinct (doc_id, shingle) pairs of word k-grams.

    Pure Catalyst: split → transform(sequence(...)) → explode; no UDF.
    Docs shorter than k words produce no shingles.
    """
    terms = ", ".join(f"w[i+{j}]" for j in range(k))
    expr = (
        f"transform(sequence(0, size(w) - {k}), i -> concat_ws(' ', {terms}))"
    )
    n = documents.sparkSession.sparkContext.defaultParallelism
    return (
        # Repartition by doc_id before the explode: a small parquet
        # arrives as one split, and everything downstream (signature
        # and count aggregates on doc_id) reuses this partitioning
        # without a second shuffle.
        documents.repartition(n, "doc_id")
        .select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= k)
        .select("doc_id", F.explode(F.expr(expr)).alias("shingle"))
        .distinct()
    )


def pair_common_counts(shingles: DataFrame, max_df: int) -> DataFrame:
    """(d1, d2, common, n1, n2) for every candidate pair sharing ≥1
    shingle with document frequency ≤ ``max_df`` — `common` is the
    EXACT full intersection size, `n1`/`n2` the docs' shingle counts.

    This is the shared count-based physical plan behind
    :func:`df_capped_jaccard` and :func:`containment_pairs` (they
    differ only in the final score): the rare-shingle posting lists
    produce the candidate pairs AND their rare-intersection counts in
    one pass (map-side partial counts, join bounded at
    |shingles|·max_df); the few hot shingles (df > max_df) are folded
    in as tiny per-doc arrays (≤ #distinct hot shingles each) via
    array_intersect, so common = rare_common + hot_common is the full
    intersection. The set-based alternative (collect full shingle
    sets per candidate doc) shuffles every candidate doc's whole
    shingle set — measured 3× slower at sf0.1 where the cap barely
    prunes, and strictly more data at any scale. Hot-set joins are
    left to AQE: at web scale every doc carries stop-shingles, so the
    hot_sets side is NOT force-broadcast.
    """
    # df per shingle as an unordered window count — annotates in one
    # shuffle instead of a groupBy + join back on the shingle key, and
    # keeps HOT shingles as rows (a posting-list groupBy over an
    # uncapped shingle would build one array per stop-shingle with df
    # entries — gigabytes for a universal shingle at web scale).
    ann = shingles.withColumn(
        "_df", F.count("*").over(Window.partitionBy("shingle"))
    )
    rare = ann.filter(F.col("_df") <= max_df).select("doc_id", "shingle")
    counts = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    # Rare-pair generation from bounded posting lists (arrays ≤ max_df
    # by construction), pairs via one HOF expansion — a single grouped
    # pass instead of a self-join that traverses `rare` twice. The
    # groupBy reuses the window's shingle partitioning (no reshuffle).
    posts = (
        rare.groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(least(x, y) AS d1, greatest(x, y) AS d2))))"
    )
    rare_common = (
        posts.select(F.explode(pair_expr).alias("p"))
        .select("p.d1", "p.d2")
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("rc"))
    )
    hot_sets = (
        ann.filter(F.col("_df") > max_df)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("hs"))
    )
    h1 = hot_sets.select(F.col("doc_id").alias("d1"), F.col("hs").alias("h1"))
    h2 = hot_sets.select(F.col("doc_id").alias("d2"), F.col("hs").alias("h2"))
    empty = F.array().cast("array<string>")
    joined = (
        rare_common.join(h1, "d1", "left")
        .join(h2, "d2", "left")
        .withColumn(
            "common",
            F.col("rc")
            + F.size(
                F.array_intersect(F.coalesce("h1", empty), F.coalesce("h2", empty))
            ),
        )
    )
    n1 = counts.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    n2 = counts.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    return (
        joined.join(n1, "d1")
        .join(n2, "d2")
        .select("d1", "d2", "common", "n1", "n2")
    )


def df_capped_jaccard(
    shingles: DataFrame, threshold: float, max_df: int
) -> DataFrame:
    """Df-capped near-dup pairs with EXACT Jaccard ≥ threshold — the
    headline plan behind ``dedup_ngram_jaccard``. Candidates and
    intersection counts come from :func:`pair_common_counts`; the cap
    bounds the pair join, the score is uncapped-exact."""
    pc = pair_common_counts(shingles, max_df)
    jac = F.round(
        F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 6
    ).alias("jaccard")
    return (
        pc.select("d1", "d2", jac).filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    shingles: DataFrame, threshold: float, max_df: int
) -> DataFrame:
    """Doc-in-doc detection: shingle CONTAINMENT ≥ threshold.

    Broder containment C(A,B) = |A∩B| / |A| is the asymmetric twin of
    Jaccard: a 100-word boilerplate notice pasted inside a 10k-word
    page scores J ≈ 0.01 (invisible to Jaccard dedup) but C = 1.0 from
    the small side. Web-corpus pipelines use it to drop wholly-
    contained documents (quote pages, syndicated snippets, templated
    wrappers) that survive symmetric near-dup passes. The reported
    score is max(C(A,B), C(B,A)) = common / min(n1, n2), with
    ``contained`` naming the doc whose shingle set is covered (ties →
    the larger doc_id, the later arrival in ingest order).

    Physical plan is exactly :func:`pair_common_counts` — df-capped
    posting-list pair generation, exact intersection via hot-shingle
    fold — so cost is bounded at |shingles|·max_df like the Jaccard
    headline; only the final projection differs.
    """
    pc = pair_common_counts(shingles, max_df)
    cont = F.round(
        F.col("common") / F.least(F.col("n1"), F.col("n2")), 6
    ).alias("containment")
    contained = (
        F.when(F.col("n1") < F.col("n2"), F.col("d1"))
        .otherwise(F.col("d2"))
        .alias("contained")
    )
    return (
        pc.select("d1", "d2", cont, contained)
        .filter(F.col("containment") >= threshold)
    )


def jaccard_pairs(
    shingles: DataFrame, threshold: float, candidates: DataFrame | None = None
) -> DataFrame:
    """Pairwise n-gram Jaccard similarity ≥ threshold.

    |A∪B| = n1 + n2 - |A∩B|. Two intersection strategies:

    - No `candidates` (brute-force baseline): self-join on the shingle
      key — cost is Σ over shingles of df², bounded by shingle
      cardinality, the highest-cardinality key available. Do NOT ship
      this path at scale: route through ``pair_common_counts`` (df
      cap), ``prefix_filter_pairs`` (exact AllPairs), or LSH banding.
    - With `candidates` (d1, d2) from LSH banding / df-cap / prefix
      filter: candidate-DRIVEN set intersection — per-doc shingle sets
      + array_intersect per candidate pair. Cost scales with the
      candidate pairs, never the O(n²) co-shingled pair space; this is
      what makes LSH pay off at 100 TB. (A semi-join filter *after* a
      full self-join would still materialize every co-shingled pair.)
    """
    if candidates is None:
        counts = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
        a = shingles.alias("a")
        b = shingles.alias("b")
        common = (
            a.join(b, on="shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
            .groupBy("d1", "d2")
            .agg(F.count("*").alias("common"))
        )
    else:
        # Per-doc shingle sets, built ONLY for docs that appear in a
        # candidate pair: the broadcast semi-join on candidate ids
        # keeps the collect_set from shuffling every doc's full
        # shingle set when candidates are sparse (at 100 TB the
        # no-filter version is a full-corpus set materialization).
        # Callers should persist `candidates` — it is traversed for
        # the id set and again for the pair join. |A∩B| =
        # array_intersect per pair — no shingle-level shuffle on the
        # candidate path.
        ids = (
            candidates.select(F.col("d1").alias("doc_id"))
            .union(candidates.select(F.col("d2").alias("doc_id")))
            .distinct()
        )
        sets = (
            shingles.join(F.broadcast(ids), "doc_id")
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("sh"))
        )
        a = sets.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
        b = sets.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
        pairs = a.join(F.broadcast(candidates), "d1").join(b, "d2")
        jac = F.round(
            F.size(F.array_intersect("sh1", "sh2"))
            / (F.size("sh1") + F.size("sh2") - F.size(F.array_intersect("sh1", "sh2"))),
            6,
        ).alias("jaccard")
        return (
            pairs.select("d1", "d2", jac).filter(F.col("jaccard") >= threshold)
        )
    n1 = counts.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    n2 = counts.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.round(
        F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 6
    ).alias("jaccard")
    return (
        common.join(n1, "d1")
        .join(n2, "d2")
        .select("d1", "d2", jac)
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Min-label connected components over a near-dup pair graph —
    the canonicalization step every dedup pipeline ends with (pairs →
    clusters → one keeper per cluster).

    Iterative min-label propagation on DataFrames: symmetrize the
    edges, then repeatedly set label(v) = min(label(v), min over
    neighbours' labels) until a fixpoint. Iterations needed = graph
    diameter — near-dup clusters are small and dense, so single
    digits in practice (``max_iter`` caps adversarial chains; the
    large-star/small-star algorithm is the published alternative when
    diameters are genuinely large). Each iteration is one shuffle on
    the node id; the frontier is pinned via ``pin_iteration``
    to keep lineage from growing per iteration.

    nodes: one column ``doc_id``; edges: ``(d1, d2)`` undirected.
    Returns ``(doc_id, component)`` with component = min doc_id
    reachable.
    """
    # Materialize the PAIR LIST once before symmetrizing (r13 10×
    # rehearsal finding): the union's two branches are separate plan
    # subtrees — Spark does no cross-branch CSE — so `edges` (often an
    # expensive candidate-pair pipeline: shingle prefix-filter joins,
    # LSH banding) would compute TWICE inside the sym job. At the sf1
    # rehearsal that doubled ~35 s of pair generation; the pinned pair
    # list is near-dup-pair sized (≪ corpus), so block storage holds
    # it trivially at any scale.
    e0 = edges.select("d1", "d2").transform(pin_iteration)
    sym = (
        e0.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .union(e0.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
        .distinct()
        # Pre-partition on the per-iteration join key: the persisted
        # edge table then never re-shuffles inside the loop (only the
        # label side moves each round).
        .repartition("src")
        .persist()
    )
    labels = nodes.select(
        F.col("doc_id"), F.col("doc_id").alias("component")
    ).persist()
    pinned_state = labels
    for _ in range(max_iter):
        neighbour_min = (
            sym.join(labels, sym.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component").alias("_nmin"))
        )
        # The convergence test rides the update itself: a label can
        # only DECREASE, and it decreases exactly when the neighbour
        # minimum beats the current label — so the changed flag is
        # computable in the same projection (no new-vs-old diff join,
        # which previously cost a second shuffle join per round).
        new_labels = (
            labels.join(neighbour_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"), F.coalesce("_nmin", F.col("component"))
                ).alias("component"),
                F.coalesce(
                    F.col("_nmin") < F.col("component"), F.lit(False)
                ).alias("_changed"),
            )
            .transform(pin_iteration)
        )
        # Narrow scan over the just-pinned state — no join, no shuffle.
        changed = new_labels.filter("_changed").limit(1).count()
        pinned_state.unpersist()
        pinned_state = new_labels
        labels = new_labels.select("doc_id", "component")
        if changed == 0:
            break
    sym.unpersist()
    return labels


def prefix_filter_pairs(
    shingles: DataFrame, threshold: float, order: str = "frequency"
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (AllPairs /
    PPJoin family) — same output as the brute-force shingle self-join,
    asymptotically far fewer candidates.

    Theory: J(A,B) ≥ t ⟹ |A∩B| ≥ ceil(t·|A|) and ≥ ceil(t·|B|). Order
    all shingles by one GLOBAL total order (ascending document
    frequency, tie-broken by the shingle itself); the rarest common
    shingle x of a qualifying pair has at most |A|−|A∩B| non-common
    shingles before it in A, so x sits within A's first
    |A| − ceil(t·|A|) + 1 shingles — and symmetrically within B's.
    Joining only those PREFIXES is therefore lossless, while the join
    keys are by construction the rarest shingles (Σ df² over rare
    tokens ≪ Σ df² over all tokens — the stop-word shingles that blow
    up the brute-force join never enter it).

    Any global total order is correct; the `order` strategy is a cost
    knob. "frequency" (classic AllPairs) makes prefixes maximally
    rare — it pays on real text whose shingle df is heavy-tailed, at
    the price of a df-count aggregate + a shingle-keyed join.
    "lexicographic" skips both (zero extra shuffles before the prefix
    join) — measured faster on corpora with near-uniform df, where
    frequency ordering buys nothing (Σ df² is already small).
    """
    if order == "frequency":
        freq = shingles.groupBy("shingle").agg(F.count("*").alias("_df"))
        ranked = shingles.join(freq, "shingle")
        per_doc = ranked.groupBy("doc_id").agg(
            F.sort_array(F.collect_list(F.struct("_df", "shingle"))).alias("_t")
        )
        toks = F.expr("transform(_t, x -> x.shingle)")
    else:
        per_doc = shingles.groupBy("doc_id").agg(
            F.sort_array(F.collect_list("shingle")).alias("_t")
        )
        toks = F.col("_t")
    n = F.size("_t")
    # EPS guards every ceil-of-double-product in the bounds below: the
    # product can land an ULP ABOVE its exact rational value (e.g.
    # 0.16*25 -> 4.000000000000001), and ceil of that overshoots the
    # exact integer bound — a too-short prefix / too-high threshold
    # would then DROP exact-boundary qualifying pairs. Subtracting eps
    # can only lower a bound by 1 in the ULP cases, which merely
    # admits extra candidates for the exact verify — lossless.
    EPS = 1e-9
    plen = (
        n - F.ceil(F.lit(float(threshold)) * n - F.lit(EPS)) + 1
    ).cast("int")
    # Carry (set size, 0-based prefix position) through the explode:
    # the PPJoin-style filters below need both per joined row.
    prefix = per_doc.select(
        F.col("doc_id"),
        n.alias("_n"),
        F.posexplode(F.slice(toks, F.lit(1), plen)).alias(
            "_pos", "shingle"
        ),
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    t = float(threshold)
    # PPJoin pruning on the joined stream, BEFORE the distinct (the
    # distinct is the expensive shuffle; on corpora where the prefix
    # alone barely prunes — near-uniform shingle df — these cut the
    # candidate set by an order of magnitude). All three are lossless:
    # - length: J(A,B) >= t forces t·|A| <= |B| (and symmetrically).
    # - overlap threshold: J >= t  <=>  |A∩B| >= ceil(t/(1+t)·(|A|+|B|)).
    # - positional: for a common shingle at 0-based sorted positions
    #   (i, j), |A∩B| <= min(i, j) + min(|A|-i, |B|-j) — commons
    #   before x stay before x in BOTH sets under the one global
    #   order, commons from x on are bounded by the shorter tail. A
    #   qualifying pair has overlap >= alpha, so every ubound passes
    #   and the pair always survives.
    alpha = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("a._n") + F.col("b._n")) - F.lit(EPS)
    )
    ubound = F.least(F.col("a._pos"), F.col("b._pos")) + F.least(
        F.col("a._n") - F.col("a._pos"), F.col("b._n") - F.col("b._pos")
    )
    candidates = (
        a.join(b, on="shingle")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b._n") >= F.ceil(F.lit(t) * F.col("a._n") - F.lit(EPS)))
            & (F.col("a._n") >= F.ceil(F.lit(t) * F.col("b._n") - F.lit(EPS)))
            & (ubound >= alpha)
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    # Lazy pin: jaccard_pairs traverses the candidate table twice (id
    # semi-join + pair join), so the prefix join must run once.
    return jaccard_pairs(
        shingles, threshold, candidates=pin_iteration(candidates, eager=False)
    )


def minhash_signatures(shingles: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """MinHash signature per doc: hash function h is the h%4-th
    DISJOINT 8-hex-char window of md5('{h//4}:' || shingle) — 3 md5
    evaluations per shingle row instead of 12 (md5 per seed was the
    dominant cost of the signature aggregate, and whole-stage codegen
    of 12 md5 calls is also brutally slow to JIT). Windows of one md5
    are non-overlapping, so the derived 32-bit hashes are independent;
    the lexicographic min over fixed-width hex strings remains the
    permutation-min analog. Engine-portable: the DuckDB oracle spells
    the identical substring derivation."""
    aggs = [
        F.min(
            F.substring(
                F.md5(F.concat(F.lit(f"{h // 4}:"), F.col("shingle"))),
                1 + 8 * (h % 4),
                8,
            )
        ).alias(f"sig{h}")
        for h in range(n_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def band_table(
    signatures: DataFrame,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(doc_id, band_id, band_hash) rows from a signature table — one
    explode over an array<struct> built in the same projection (not a
    per-band union of selects, which would recompute the signature
    aggregate once per band per consumer)."""
    band_structs = [
        F.struct(
            F.lit(bnd).alias("band_id"),
            F.md5(
                F.concat(*[
                    F.col(f"sig{bnd * rows_per_band + r}")
                    for r in range(rows_per_band)
                ])
            ).alias("band_hash"),
        )
        for bnd in range(n_bands)
    ]
    return signatures.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band_id", "bb.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Band the signature and emit distinct candidate pairs whose band
    key collides in any band. The join key is (band_id, band_hash) —
    a 2^128 space, so collisions are true LSH candidates.

    Bands are one explode over an array<struct> built in the same
    projection — NOT a 4-way union of selects, which would make the
    self-join below re-run the signature aggregation once per band per
    side. With identical subplans on both sides, AQE reuses the
    shuffle (ReusedExchange) instead of recomputing."""
    bands = band_table(signatures, n_bands, rows_per_band)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, on=["band_id", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )


def minhash_lsh_ml(
    documents: DataFrame,
    threshold: float,
    k: int = 3,
    num_hash_tables: int = 5,
    num_features: int = 1 << 18,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via spark.ml's MinHashLSH ``approxSimilarityJoin``
    — the built-in counterpart of the hand-rolled banding pipeline
    above (SURVEY §2.11 maps dedup to ``ml.feature.MinHashLSH``).

    Shingles hash into a ``num_features``-dim binary vector
    (HashingTF); Jaccard is computed on the hashed sets, so collisions
    can only *raise* similarity (colliding shingles shrink the union) —
    every true pair ≥ threshold is therefore reachable, and the fixed
    seed makes the candidate generation deterministic. The hand-rolled
    path stays the default: its md5 banding is engine-portable (DuckDB
    oracle-matched), while this one is rows-only verifiable.

    Returns (d1, d2, jaccard) with d1 < d2, jaccard = 1 - JaccardDistance.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = word_shingles(documents, k=k)
    docs = sh.groupBy("doc_id").agg(F.collect_list("shingle").alias("sh"))
    tf = HashingTF(
        inputCol="sh", outputCol="features", numFeatures=num_features, binary=True
    )
    # SELF-join: approxSimilarityJoin consumes `vecs` on both sides —
    # the shingle subtree computes twice. r13 tried persisting vecs to
    # deduplicate that work: measurably WORSE (8.9 -> 25 s at sf0.1) —
    # the InMemoryRelation hides runtime statistics, so the joins
    # inside approxSimilarityJoin lose their AQE broadcast conversion
    # and fall back to sort-merge. Persisting the PRE-HashingTF
    # aggregate instead (idle A/B, best-of-3) won at sf0.1/32-core
    # (8.9 -> 6.6 s) but REGRESSED sf0.01/8-core by ~40% (15.2 ->
    # 20.9 s) — the same stats-hiding failure mode surfaces at the
    # smaller scale, and the driver measures core-count scaling, so a
    # 32-core-only win is the wrong trade. Recomputing the subtree is
    # the cheaper side; left as-is deliberately (twice-measured
    # negative result).
    vecs = tf.transform(docs).select("doc_id", "features")
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=num_hash_tables, seed=seed,
    )
    model = lsh.fit(vecs)
    pairs = model.approxSimilarityJoin(
        vecs, vecs, 1.0 - threshold, distCol="dist"
    )
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("d1"),
            F.col("datasetB.doc_id").alias("d2"),
            F.round(1.0 - F.col("dist"), 6).alias("jaccard"),
        )
    )


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash over distinct words: per word take the first bits/4 hex
    chars of md5(word) as the bit source; each bit contributes ±1 to
    its position; the sign of the per-position sum forms the hash.

    All arithmetic (hex-nibble decode via position(), div/mod bit
    extraction, signed sums) is engine-portable — the DuckDB oracle
    reproduces it bit-for-bit.
    """
    n_nibbles = bits // 4
    n = documents.sparkSession.sparkContext.defaultParallelism
    words = (
        documents.repartition(n, "doc_id")
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .distinct()
        .withColumn("h", F.md5(F.col("w")))
    )
    for i in range(n_nibbles):
        words = words.withColumn(
            f"nib{i}",
            F.expr(f"instr('0123456789abcdef', substr(h, {i + 1}, 1)) - 1"),
        )
    bit_sums = []
    for j in range(bits):
        nib, off = divmod(j, 4)
        bit = (F.col(f"nib{nib}") / (2 ** off)).cast("long") % 2
        bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{j}"))
    sums = words.groupBy("doc_id").agg(*bit_sums)
    value = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") >= 0, F.lit(2 ** j)).otherwise(F.lit(0))
        value = term if value is None else value + term
    return sums.select("doc_id", value.cast("long").alias("simhash"))


def minhash_incremental(
    corpus: DataFrame, batch: DataFrame, threshold: float, k: int = 3
) -> DataFrame:
    """Incremental NEAR-dup admission: probe each new-batch document
    against the standing corpus's LSH band index and verify candidates
    with exact Jaccard — the daily-ingest shape where the corpus index
    is a persisted table and only the new batch is shingled fresh.

    Scale posture: the corpus side reduces to its band index
    (n_bands rows per doc — at 100 TB this is the precomputed,
    incrementally-maintained table); the batch is small by definition.
    The band join shuffles on (band_id, band_hash) — 2^128 key space,
    perfectly distributed; verification touches only candidate docs'
    shingle sets on either side. Nothing scans corpus text.

    Returns one row per batch doc: (doc_id, is_dup, matched_doc_id,
    jaccard) with the best corpus match (max jaccard, min doc_id tie).
    """
    sh_c = pin_iteration(word_shingles(corpus, k=k), eager=False)
    sh_b = pin_iteration(word_shingles(batch, k=k), eager=False)
    bands_c = band_table(minhash_signatures(sh_c)).select(
        F.col("doc_id").alias("d_corpus"), "band_id", "band_hash"
    )
    bands_b = band_table(minhash_signatures(sh_b)).select(
        F.col("doc_id").alias("d_new"), "band_id", "band_hash"
    )
    cand = pin_iteration(
        bands_b.join(bands_c, ["band_id", "band_hash"])
        .select("d_new", "d_corpus")
        .distinct(),
        eager=False,
    )
    sets_b = (
        sh_b.join(F.broadcast(cand.select(F.col("d_new").alias("doc_id")).distinct()),
                  "doc_id")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
        .select(F.col("doc_id").alias("d_new"), F.col("sh").alias("sh1"))
    )
    sets_c = (
        sh_c.join(F.broadcast(cand.select(F.col("d_corpus").alias("doc_id")).distinct()),
                  "doc_id")
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("sh"))
        .select(F.col("doc_id").alias("d_corpus"), F.col("sh").alias("sh2"))
    )
    inter = F.size(F.array_intersect("sh1", "sh2"))
    jac = F.round(
        inter / (F.size("sh1") + F.size("sh2") - inter), 6
    ).alias("jaccard")
    pairs = (
        cand.join(sets_b, "d_new")
        .join(sets_c, "d_corpus")
        .select("d_new", "d_corpus", jac)
        .filter(F.col("jaccard") >= threshold)
    )
    best = pairs.groupBy("d_new").agg(
        F.max_by(
            F.col("d_corpus"),
            F.struct(F.col("jaccard"), (-F.col("d_corpus")).alias("nd")),
        ).alias("matched_doc_id"),
        F.max("jaccard").alias("jaccard"),
    )
    return (
        batch.select("doc_id")
        .join(best, batch.doc_id == best.d_new, "left")
        .select(
            "doc_id",
            F.col("matched_doc_id").isNotNull().alias("is_dup"),
            "matched_doc_id",
            "jaccard",
        )
    )


def edit_distance_pairs(
    documents: DataFrame,
    length_bucket: int = 8,
    rel_threshold: float = 0.2,
    max_block: int = 10_000,
) -> DataFrame:
    """Fuzzy dedup by character edit distance: report doc pairs whose
    Levenshtein distance is at most ``rel_threshold`` of the longer
    text, candidates blocked on (lang, floor(n_chars/length_bucket)).

    Blocking rationale: Levenshtein is O(len²) per pair and admits no
    map-side sketch, so the only scalable shape is equi-join blocking
    that bounds BOTH the candidate count and the per-pair cost. Two
    texts with |len(a) − len(b)| > d have distance > d, so same-bucket
    blocking is a principled (if boundary-lossy — a pair straddling a
    bucket edge is missed, documented contract) candidate filter.
    The verify predicate runs JVM-side (``F.levenshtein`` in codegen,
    same classic-DP definition as DuckDB/Postgres ``levenshtein``).

    ``max_block``: blocks larger than this are dropped entirely (a
    degenerate block — thousands of same-language same-length docs —
    is boilerplate, better handled by exact/minhash dedup upstream);
    the cap bounds the self-join at |docs|·max_block like the df-cap
    in :func:`pair_common_counts`.

    Two lossless accelerations keep the O(len²) DP off the hot path
    (together ~40× on the bench: 44 s → ~1 s at sf0.1):

    - **histogram lower bound**: per doc, a 27-bin a..z+space character
      histogram computed once in codegen; one edit changes at most two
      bins by one each, so ``ceil(L1(h_a, h_b) / 2) ≤ levenshtein``.
      Pairs whose bound exceeds the threshold are pruned with cheap
      integer array math — no DP. Counting only a char subset keeps the
      bound sound (L1 over a subset ≤ total L1).
    - **banded DP**: survivors verify with the threshold form
      ``levenshtein(a, b, k)`` (−1 when distance > k), which runs the
      banded O(len·k) algorithm with early abort instead of the full
      O(len²) table.
    """
    blocked = documents.select(
        "doc_id",
        "text",
        "lang",
        F.floor(F.col("n_chars") / length_bucket).alias("_lb"),
        # a..z + space histogram: chr 97..122 then 32
        F.expr(
            "transform(concat(sequence(97, 122), array(32)), "
            "c -> length(text) - length(replace(text, char(c), '')))"
        ).alias("_hist"),
    )
    sizes = blocked.groupBy("lang", "_lb").agg(F.count("*").alias("_bn"))
    b = blocked.join(
        F.broadcast(sizes.filter(F.col("_bn") <= max_block)),
        ["lang", "_lb"],
    )
    left = b.select(
        "lang", "_lb", F.col("doc_id").alias("doc_id_1"),
        F.col("text").alias("_t1"), F.col("_hist").alias("_h1"),
    )
    right = b.select(
        "lang", "_lb", F.col("doc_id").alias("doc_id_2"),
        F.col("text").alias("_t2"), F.col("_hist").alias("_h2"),
    )
    thr = F.floor(
        rel_threshold * F.greatest(F.length("_t1"), F.length("_t2"))
    ).cast("int")
    l1 = F.expr(
        "aggregate(zip_with(_h1, _h2, (x, y) -> abs(x - y)), "
        "0, (acc, x) -> acc + x)"
    )
    banded = F.expr(
        f"levenshtein(_t1, _t2, cast(floor({rel_threshold} * "
        "greatest(length(_t1), length(_t2))) as int))"
    )
    # Catalyst inlines every post-join predicate (the l1 prefilter AND
    # the banded DP) into the join condition, so the verify runs where
    # the join runs. When the block side broadcasts (always at test
    # SFs — the corpus is one parquet split), the stream side's
    # partitioning IS the join's parallelism: round-robin it across
    # the cluster first or the whole DP grinds through one task.
    # (At 100 TB the join degrades to a shuffle join on (lang, _lb)
    # and AQE skew-splits hot blocks; the repartition is then a no-op
    # rebalance of the cheap side.)
    par = documents.sparkSession.sparkContext.defaultParallelism
    left = left.repartition(par)
    # One combined conjunction, cheapest-first: Catalyst keeps conjunct
    # order inside a single And chain, and a split .filter sequence got
    # reordered so the O(len·k) DP ran before the O(1) id comparison —
    # doubling the DP work (each unordered pair evaluated both ways).
    keep = (
        (F.col("doc_id_1") < F.col("doc_id_2"))
        & (l1 <= 2 * thr)
        & (banded >= 0)
    )
    return (
        left.join(right, ["lang", "_lb"])
        .filter(keep)
        .withColumn("edit_distance", banded.cast("long"))
        .select("doc_id_1", "doc_id_2", "lang", "edit_distance")
    )


def cross_source_fingerprints(documents: DataFrame, k: int = 3) -> DataFrame:
    """Near-dup content shared ACROSS sources: group the 1-hash MinHash
    fingerprint (min md5 shingle per doc) and keep fingerprints seen
    in ≥ 2 distinct sources — the train/eval overlap and syndicated-
    content report a multi-source corpus needs before mixing.

    Cost: the shingle fingerprint aggregate (keyed on doc_id, reusing
    the shingle pass every dedup op shares) + one doc_id join to carry
    the source + one fingerprint-keyed aggregate. Sources per group
    are emitted as a sorted comma-joined string (engine-portable,
    no array-representation skew between Spark and the oracle).
    """
    from razulibs_spark.operators.text import fingerprints

    fp = fingerprints(word_shingles(documents, k=k))
    return (
        fp.join(documents.select("doc_id", "source"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("first_doc_id"),
            F.array_join(F.sort_array(F.collect_set("source")), ",").alias(
                "sources"
            ),
        )
        .filter(F.col("n_sources") >= 2)
    )


def substring_span_stats(documents: DataFrame, k: int = 8) -> DataFrame:
    """Exact duplicated-substring detection at k-token granularity —
    the span-level member of the dedup family (document-level exact /
    MinHash / SimHash / containment live above). Corpus-duplicated
    SPANS inside otherwise-unique documents (boilerplate, licence
    blocks, syndicated paragraphs) are what document-level dedup
    cannot see; training-data pipelines cut them span-wise
    ("Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022 — the suffix-array pass, approximated here at
    fixed k so it distributes).

    A span is every k-token window (position-preserving, not
    distinct); a span is DUPLICATED iff its text occurs ≥ 2 times in
    the whole corpus (across or within documents). Per doc:
    total spans, duplicated-span positions, and the duplicated
    fraction — the score a span-cut or doc-drop policy thresholds on.

    Scale shape: one explode (rolling windows are a pure codegen
    ``transform(sequence, slice)``), spans keyed by md5 so the two
    hash-keyed shuffles move 32-byte keys instead of k-token strings;
    the occurrence count is a partial-aggregating groupBy (map-side
    combine absorbs hot boilerplate spans), membership comes back as
    one semi join, and the per-doc rollup re-keys on doc_id. Nothing
    is quadratic and no driver state exists.
    """
    n = documents.sparkSession.sparkContext.defaultParallelism
    spans = (
        # Repartition by doc_id BEFORE the window fan-out (the
        # word_shingles rationale: a small parquet arrives as one
        # split, and the per-doc rollups downstream reuse this
        # partitioning without a second shuffle).
        documents.repartition(n, "doc_id")
        .select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {k - 1}), "
                    f"i -> md5(concat_ws(' ', slice(w, i, {k}))))"
                )
            ).alias("h"),
        )
    )
    dup = (
        spans.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    per_doc = spans.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    dup_per_doc = (
        spans.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    return (
        per_doc.join(dup_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"), 6
            ).alias("dup_frac"),
        )
    )


def substring_span_cut(documents: DataFrame, k: int = 8) -> DataFrame:
    """Span-CUT companion to :func:`substring_span_stats`: remove
    every token covered by a corpus-duplicated k-token window and
    reconstruct the cleaned text (the actual dedup action of Lee et
    al. 2022 — document-level dedup keeps or drops whole docs; this
    surgically removes the boilerplate).

    Plan shape: the window fan-out + duplicate-hash membership reuse
    the stats operator's two hash-keyed shuffles; duplicated window
    STARTS then aggregate per doc (array, bounded by spans/doc), join
    back to the doc row, and the token mask + reassembly is pure
    codegen higher-order functions (filter/exists/transform over the
    split array — no UDF, no second pass over the corpus). The
    per-doc mask costs O(tokens × dup_starts); dup_starts is small
    for real corpora (boilerplate is a bounded fraction), and the
    whole step is map-side.
    """
    n = documents.sparkSession.sparkContext.defaultParallelism
    toks = (
        documents.repartition(n, "doc_id")
        .select("doc_id", "text", F.split(F.col("text"), " ").alias("w"))
    )
    spans = toks.filter(F.size("w") >= k).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(w) - {k - 1}), "
                f"i -> md5(concat_ws(' ', slice(w, i, {k}))))"
            )
        ).alias("pos0", "h"),
    )
    dup = (
        spans.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    starts = (
        spans.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.col("pos0") + 1)).alias("starts"))
    )
    joined = toks.join(starts, "doc_id", "left").select(
        "doc_id", "w",
        F.coalesce("starts", F.expr("array()")).alias("starts"),
    )
    kept = F.expr(
        f"filter(sequence(1, size(w)), p -> "
        f"NOT exists(starts, s -> p >= s AND p < s + {k}))"
    )
    return joined.select("doc_id", "w", kept.alias("kept")).select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.size("kept").cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ", F.expr("transform(kept, p -> element_at(w, p))")
            )
        ).alias("clean_hash"),
    )


def substring_span_multik(
    documents: DataFrame, ks: tuple[int, ...] = (8, 16, 32)
) -> DataFrame:
    """Multi-k sweep over :func:`substring_span_stats` — per-doc
    duplicated-span stats at EVERY window size in ``ks``, one scan.
    A single fixed k under-approximates Lee et al. 2022's
    suffix-array semantics (variable-length duplicated spans): a long
    duplicated block scores high at every k, while a short
    boilerplate phrase only trips the small k — the (doc_id, k)
    profile separates the two, which is what a cut policy actually
    needs.

    Scale shape: the token split happens ONCE; each k contributes its
    rolling windows to one flattened array (per-k guarded so a doc
    shorter than k contributes nothing — Spark's ``sequence(1, n)``
    DESCENDS for n < 1, which would fabricate windows), one explode,
    then the same two 32-byte-keyed shuffles as the fixed-k operator,
    now keyed (k, h) and (doc_id, k). Cost is the sum of the per-k
    span volumes — still linear in corpus tokens × |ks|, nothing
    quadratic, no driver state.
    """
    n = documents.sparkSession.sparkContext.defaultParallelism
    per_k = ", ".join(
        f"if(size(w) >= {k}, "
        f"transform(sequence(1, size(w) - {k - 1}), "
        f"i -> struct(cast({k} as bigint) as k, "
        f"md5(concat_ws(' ', slice(w, i, {k}))) as h)), "
        f"cast(array() as array<struct<k:bigint,h:string>>))"
        for k in ks
    )
    spans = (
        documents.repartition(n, "doc_id")
        .select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= min(ks))
        .select(
            "doc_id",
            F.explode(F.expr(f"flatten(array({per_k}))")).alias("kh"),
        )
        .select("doc_id", F.col("kh.k").alias("k"), F.col("kh.h").alias("h"))
    )
    dup = (
        spans.groupBy("k", "h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("k", "h")
    )
    per_doc = spans.groupBy("doc_id", "k").agg(
        F.count("*").alias("n_spans")
    )
    dup_per_doc = (
        spans.join(dup, ["k", "h"], "left_semi")
        .groupBy("doc_id", "k")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    return (
        per_doc.join(dup_per_doc, ["doc_id", "k"], "left")
        .select(
            "doc_id",
            "k",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.coalesce("n_dup_spans", F.lit(0)) / F.col("n_spans"), 6
            ).alias("dup_frac"),
        )
    )


def lsh_s_curve(
    spark,
    configs: list[tuple[int, int]] = ((4, 3), (6, 2), (8, 4)),
    grid_steps: int = 19,
) -> "DataFrame":
    """Banded-MinHash S-curve tuning report: for each (bands, rows)
    configuration, the candidate probability P(s) = 1 − (1 − s^r)^b
    over a Jaccard-similarity grid — the table an engineer reads to
    pick LSH parameters before a 100 TB dedup run (where does the
    curve cross 0.5, how much mass leaks below the target threshold).

    Pure literal fan-out (sequence → explode), no input tables; all
    powers are expanded by explicit repeated multiplication so the
    IEEE chain is deterministic and cross-engine stable (pow() with a
    float exponent is not).  Output is bounded by |configs|·grid.
    """
    grid = spark.range(1, grid_steps + 1).select(
        (F.col("id").cast("double") / F.lit(float(grid_steps + 1))).alias(
            "s"
        ),
    )
    parts = []
    for b, r in configs:
        # s^r and (1-s^r)^b by left-to-right repeated multiplication —
        # mirrored textually in the oracle SQL.
        sr = F.col("s")
        for _ in range(r - 1):
            sr = sr * F.col("s")
        q = F.lit(1.0) - sr
        qb = q
        for _ in range(b - 1):
            qb = qb * q
        p = F.lit(1.0) - qb
        parts.append(
            grid.select(
                F.lit(b).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                F.floor(
                    F.lit(1000000.0) * F.col("s") + F.lit(0.5)
                ).cast("long").alias("s_micro"),
                F.floor(F.lit(1000000.0) * p + F.lit(0.5))
                .cast("long")
                .alias("p_candidate_micro"),
            )
        )
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


def cluster_size_histogram(
    documents: "DataFrame", text_col: str = "text"
) -> "DataFrame":
    """Histogram of exact-duplicate cluster sizes — the shape report a
    dedup pass publishes (how much of the corpus is singletons vs
    mega-clusters, and how many rows deduplication will remove).

    Two map-side-combinable count aggregates (hash → cluster size →
    histogram); output is bounded by the number of distinct cluster
    sizes.  ``rows_removed`` = (size − 1)·clusters is the exact row
    reduction the dedup would deliver.
    """
    clusters = documents.groupBy(
        F.md5(F.col(text_col)).alias("h")
    ).agg(F.count("*").alias("cluster_size"))
    return (
        clusters.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "rows_removed"
            ),
        )
    )
