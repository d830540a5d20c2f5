"""Text-analysis operators (BASELINE.json north star): token counting,
quality scoring, language-ID heuristic, document fingerprinting.

Everything is built from Catalyst expressions (split / filter lambda /
regexp_count / md5) — no Python on the hot path, and every score uses
pure integer/rational arithmetic (no transcendentals) so the DuckDB
oracle matches bit-for-bit after round().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from razulibs_spark.session import map_rows

# BPE-ish token pattern: letter runs, digit runs, single punctuation.
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ("the", "a")

# marker-word profiles for the language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "a"),
    "es": ("data", "value"),
    "de": ("query", "join"),
}


def count_words_in(col_name: str, wanted: tuple[str, ...]) -> Column:
    """size(filter(split(text,' '), w -> w IN wanted)) as a pure expr."""
    in_list = ", ".join(f"'{t}'" for t in wanted)
    return F.expr(f"size(filter(split({col_name}, ' '), w -> w in ({in_list})))")


def token_stats(documents: DataFrame) -> DataFrame:
    """Whitespace token count, regex (BPE-ish) token count, char count."""
    return documents.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(TOKEN_RE)).cast("long").alias("re_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


def quality_score_col() -> Column:
    """The rounded quality score as a reusable pure expression, so
    consumers that need it next to OTHER columns (e.g.
    sampling.source_cap) compute it inline in one scan instead of
    joining back to quality_scores' projection."""
    n_words = F.size(F.split(F.col("text"), " "))
    n_stop = count_words_in("text", STOPWORDS)
    score = (F.lit(1.0) - n_stop / n_words) * F.least(
        F.lit(1.0), n_words / F.lit(100.0)
    )
    return F.round(score, 6)


def quality_scores(documents: DataFrame) -> DataFrame:
    """Length/stopword-ratio quality score in [0,1], rational arithmetic
    only: score = (1 - stop_ratio) * min(1, n_words/100). The score
    expression itself lives in quality_score_col so source_cap's
    ranking can never desynchronize from this projection."""
    n_words = F.size(F.split(F.col("text"), " "))
    n_stop = count_words_in("text", STOPWORDS)
    stop_ratio = n_stop / n_words
    return documents.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_stop.cast("long").alias("n_stopwords"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        quality_score_col().alias("quality_score"),
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Marker-word language-ID heuristic with a deterministic
    first-wins tie-break (en ≥ es ≥ de), compared to the labeled lang."""
    c_en = count_words_in("text", LANG_MARKERS["en"])
    c_es = count_words_in("text", LANG_MARKERS["es"])
    c_de = count_words_in("text", LANG_MARKERS["de"])
    predicted = (
        F.when((c_en >= c_es) & (c_en >= c_de), F.lit("en"))
        .when(c_es >= c_de, F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return documents.select(
        "doc_id",
        predicted.alias("predicted_lang"),
        F.col("lang").alias("labeled_lang"),
        (predicted == F.col("lang")).alias("is_match"),
    )


def corpus_prep(
    documents: DataFrame, min_quality: float = 0.2
) -> DataFrame:
    """Training-corpus preparation pipeline: quality scoring +
    language-ID agreement filter + exact dedup, composed in ONE scan.

    Everything is inlined into a single projection (no self-joins on
    doc_id), so at 100 TB the plan is: scan → filter (pushed) → one
    shuffle on the content hash for the keep-first dedup window.
    Keeps the lowest doc_id per md5(text) among docs whose predicted
    language agrees with the label and whose quality clears the bar.
    """
    from pyspark.sql.window import Window

    n_words = F.size(F.split(F.col("text"), " "))
    c_en = count_words_in("text", LANG_MARKERS["en"])
    c_es = count_words_in("text", LANG_MARKERS["es"])
    c_de = count_words_in("text", LANG_MARKERS["de"])
    predicted = (
        F.when((c_en >= c_es) & (c_en >= c_de), F.lit("en"))
        .when(c_es >= c_de, F.lit("es"))
        .otherwise(F.lit("de"))
    )
    quality = F.round(
        (F.lit(1.0) - c_en / n_words) * F.least(F.lit(1.0), n_words / F.lit(100.0)),
        6,
    )
    enriched = documents.select(
        "doc_id",
        predicted.alias("predicted_lang"),
        n_words.cast("long").alias("n_words"),
        quality.alias("quality_score"),
        F.md5("text").alias("content_hash"),
        F.col("lang").alias("_label"),
    ).filter(
        (F.col("quality_score") >= F.lit(min_quality))
        & (F.col("predicted_lang") == F.col("_label"))
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        enriched.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_label")
    )


def tfidf_top_terms(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k terms by TF-IDF with a deterministic
    (score DESC, term ASC) tie-break.

    tf = term count / doc length; idf = ln(N_docs / df). One explode,
    two aggregations keyed on `doc_id` (the second on `term`), the
    1-row corpus count broadcast — at 100 TB the term-df aggregate is
    the only wide shuffle and it is combiner-friendly (partial counts
    map-side). Scores are rounded to 6 decimals so the DuckDB oracle
    string-compares cleanly (identical IEEE inputs → identical
    doubles → identical round)."""
    from pyspark.sql.window import Window

    words = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf_cnt"))
    doc_len = words.groupBy("doc_id").agg(F.count("*").alias("doc_len"))
    df_ = words.distinct().groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(doc_len, "doc_id")
        .join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                (F.col("tf_cnt") / F.col("doc_len"))
                * F.log(F.col("n_docs") / F.col("df")),
                6,
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tfidf", "rnk")
    )


def ngram_contamination(
    documents: DataFrame, eval_source: str = "src19", k: int = 3
) -> DataFrame:
    """Test-set contamination check: for each document of the held-out
    source, the fraction of its word-k-gram shingles that appear
    anywhere in the training split (every other source).

    The train side is reduced to DISTINCT shingles before the join —
    the join key is the shingle itself (high cardinality, well
    distributed), and the probe is a LEFT SEMI join so no train
    payload is carried. At 100 TB this is the standard
    eval-decontamination sweep: one shuffle on shingle, one on doc_id.
    """
    from razulibs_spark.operators.dedup import word_shingles

    is_eval = F.col("source") == eval_source
    eval_sh = word_shingles(documents.filter(is_eval), k=k)
    train_sh = (
        word_shingles(documents.filter(~is_eval), k=k)
        .select("shingle")
        .distinct()
    )
    totals = eval_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        eval_sh.join(train_sh, "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_shingles"),
                6,
            ).alias("contamination_ratio"),
        )
    )


def bloom_leak_report(
    documents: DataFrame,
    eval_source: str = "src19",
    k: int = 3,
    m_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """Leaked-shingle report: every train-set word-k-gram that also
    appears in the held-out eval source, with the count of eval docs
    containing it — the shingle-level inverse of
    :func:`ngram_contamination`'s per-doc ratio.

    The membership test is accelerated by an explicit distributed
    Bloom bitmap — the materialized, reusable form of Spark's runtime
    bloom-filter join (`spark.sql.optimizer.runtime.bloomFilter.*`):

    - **build**: each DISTINCT train shingle sets ``n_hashes`` bit
      positions (seeded xxhash64 mod m_bits); positions fold into
      64-bit words with a grouped BIT_OR, so the bitmap is a
      ``(word_idx, bits)`` table of ≤ m_bits/64 rows regardless of
      corpus size. Built once, it serves any number of probe passes.
    - **probe**: each eval shingle checks its ``n_hashes`` bits via
      broadcast hash joins against the bitmap — zero shuffle of the
      probe side. Only bloom-positive shingles (true hits plus a
      ~(n/m_bits)^n_hashes false-positive sliver) continue.
    - **verify**: an exact LEFT SEMI join removes false positives.
      False negatives are impossible, so the result is EXACT — the
      oracle is the plain IN-subquery SQL.

    Vs the direct semi-join, which shuffles BOTH full shingle sides on
    the shingle key: here only the contaminated fraction of the eval
    side reaches the shuffle. At 100 TB size ``m_bits`` ~10× the
    distinct train-shingle count (2^33 bits = 1 GiB, still broadcast-
    able) and reuse the bitmap across eval sets.
    """
    from razulibs_spark.operators.dedup import word_shingles

    is_eval = F.col("source") == eval_source
    train = (
        word_shingles(documents.filter(~is_eval), k=k)
        .select("shingle")
        .distinct()
    )

    def _positions(col: Column) -> list[Column]:
        return [
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))
            for i in range(n_hashes)
        ]

    bitmap = (
        train.select(F.explode(F.array(*_positions(F.col("shingle")))).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("bitval"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bitval").alias("bits"))
    )

    probe = word_shingles(documents.filter(is_eval), k=k)
    for i, p in enumerate(_positions(F.col("shingle"))):
        bm = bitmap.select(
            F.col("word_idx").alias(f"_w{i}"), F.col("bits").alias(f"_bits{i}")
        )
        probe = (
            probe.withColumn(f"_w{i}", (p / 64).cast("long"))
            .withColumn(f"_b{i}", (p % 64).cast("int"))
            # inner join: a word no train shingle touched = bit unset
            .join(F.broadcast(bm), f"_w{i}")
            .filter(F.expr(f"(shiftright(_bits{i}, _b{i}) & 1L) = 1L"))
            .drop(f"_w{i}", f"_b{i}", f"_bits{i}")
        )
    return (
        probe.join(train, "shingle", "left_semi")
        .groupBy("shingle")
        .agg(F.count("*").alias("n_eval_docs"))
    )


def fingerprints(shingles: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprint: the minimum md5 over the
    doc's k-gram shingles (1-hash MinHash / winnowing-lite) plus the
    distinct-shingle count."""
    return shingles.groupBy("doc_id").agg(
        F.min(F.md5(F.col("shingle"))).alias("fingerprint"),
        F.count("*").alias("n_shingles"),
    )


def pack_sequences(
    documents: DataFrame, ctx_len: int = 512, part_col: str = "lang"
) -> DataFrame:
    """Concat-and-chop sequence packing (LM-pretraining layout): within
    each partition column value, documents are concatenated in doc_id
    order and chopped into fixed `ctx_len`-token context windows; each
    doc gets the bin it starts in and its token offset inside that bin.

    Pure integer window arithmetic — the cumulative sum is partitioned
    by `part_col` (never a global sort), so at 100 TB each language/
    shard packs independently; the bin id can drive a repartition so
    each training shard is written by one task.
    """
    from pyspark.sql.window import Window

    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy(part_col)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok")
    return (
        documents.select("doc_id", part_col, n_tokens.alias("n_tokens"))
        .select("doc_id", part_col, "n_tokens", start)
        .select(
            "doc_id",
            part_col,
            "n_tokens",
            F.floor(F.col("start_tok") / ctx_len).cast("long").alias("bin_id"),
            (F.col("start_tok") % ctx_len).cast("long").alias("bin_offset"),
        )
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-word
    ratio, most-frequent-word fraction, and top-bigram fraction —
    the standard filters against degenerate/boilerplate text in
    pretraining pipelines (Rae et al. 2021 §A1.1).

    Pure Catalyst: one explode per signal family, two hash aggregates
    keyed by doc_id (map-side combined; the doc_id key distributes
    perfectly). No collect, no UDF.
    """
    words = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    word_counts = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    word_agg = word_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_word_count"),
    )
    bigram_expr = (
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1]))"
    )
    bigrams = (
        documents.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select("doc_id", F.explode(F.expr(bigram_expr)).alias("bg"))
    )
    bigram_counts = bigrams.groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
    bigram_agg = bigram_counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bigram_count")
    )
    return (
        word_agg.join(bigram_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            F.round(F.col("n_distinct") / F.col("n_words"), 6).alias(
                "distinct_ratio"
            ),
            F.round(F.col("top_word_count") / F.col("n_words"), 6).alias(
                "top_word_frac"
            ),
            F.round(
                F.coalesce(F.col("top_bigram_count") / F.col("n_bigrams"), F.lit(0.0)),
                6,
            ).alias("top_bigram_frac"),
        )
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing pass: redact emails and IPv4 literals, report
    per-doc match counts. Both patterns are RE2-safe (no backrefs),
    so Spark's Java regex and external engines agree; the redaction
    runs in whole-stage codegen — no UDF on the hot path.
    """
    email_n = F.regexp_count(F.col(text_col), F.lit(PII_EMAIL_RE)).cast("long")
    scrubbed1 = F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>")
    ip_n = F.regexp_count(scrubbed1, F.lit(PII_IPV4_RE)).cast("long")
    scrubbed = F.regexp_replace(scrubbed1, PII_IPV4_RE, "<IP>")
    return documents.select(
        "doc_id",
        email_n.alias("n_emails"),
        ip_n.alias("n_ips"),
        scrubbed.alias("scrubbed_text"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
    )


def chunk_dedup(documents: DataFrame, chunk_tokens: int = 10) -> DataFrame:
    """Corpus-wide duplicate-span detection at sub-document
    granularity (the paragraph-dedup pass of web-corpus pipelines,
    done over fixed-size token chunks because the synthetic corpus has
    no paragraph breaks): split each doc into consecutive
    ``chunk_tokens``-token chunks, mark every chunk whose exact text
    already occurred earlier in corpus order (doc_id, then chunk
    index), and report per-doc totals plus the distinct-duplicate-span
    count.

    Shape: one narrow explode (slice fan-out via ``sequence`` — no
    UDF), one Exchange on the chunk text for the first-occurrence
    window, then a re-aggregate on doc_id. Chunk-text cardinality is
    the dedup key — the highest-cardinality key in the corpus — so
    the shuffle is skew-free except for genuinely viral spans, which
    AQE splits. Per-doc state is one window row; nothing collects.
    """
    from pyspark.sql.window import Window

    chunks = documents.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(split(text, ' ')) "
                f"/ {chunk_tokens}) as int) - 1), "
                f"i -> array_join(slice(split(text, ' '), "
                f"i * {chunk_tokens} + 1, {chunk_tokens}), ' '))"
            )
        ).alias("chunk_idx", "chunk_text"),
    )
    first_w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_idx")
    marked = chunks.withColumn(
        "is_dup", F.row_number().over(first_w) > 1
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_chunks"),
        F.count_distinct(
            F.when(F.col("is_dup"), F.col("chunk_text"))
        ).alias("n_dup_spans"),
    )


def word_symbol_table(documents: DataFrame) -> DataFrame:
    """(word, wc, syms) table for BPE training: whitespace words with
    corpus counts, each word split into single-character symbols.

    This one groupBy is the ONLY corpus-sized shuffle in BPE training:
    every merge round after it runs over the vocabulary-sized word
    table (millions of rows against a 100 TB corpus) — the word-count
    compression every industrial BPE trainer applies.
    """
    return (
        documents.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
        .withColumn("syms", F.expr("filter(split(word, ''), s -> s <> '')"))
    )


def bpe_pair_counts(symtab: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-symbol-pair counts — the argmax input
    of one BPE merge round. Narrow fan-out (transform + explode over
    the symbol arrays) then a partial/final SUM keyed by pair."""
    return (
        symtab.filter(F.size("syms") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(syms) - 2),"
                    " i -> concat(syms[i], ' ', syms[i+1]))"
                )
            ).alias("pair"),
            "wc",
        )
        .groupBy("pair")
        .agg(F.sum("wc").alias("n"))
    )


def bpe_apply_merge(symtab: DataFrame, a: str, b: str) -> DataFrame:
    """Apply one BPE merge (a, b) → ab to every word's symbol array:
    a left-to-right greedy fold as a pure Catalyst ``aggregate`` HOF
    (merge the leftmost occurrence, continue scanning after it —
    standard BPE application order). No Python, no shuffle."""

    def lit(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    merged = lit(a + b)
    expr = (
        "aggregate(syms, cast(array() as array<string>), "
        f"(acc, s) -> if(size(acc) > 0 and element_at(acc, -1) = {lit(a)} "
        f"and s = {lit(b)}, "
        f"concat(slice(acc, 1, size(acc) - 1), array({merged})), "
        "concat(acc, array(s))))"
    )
    return symtab.withColumn("syms", F.expr(expr))


def bpe_train(
    documents: DataFrame, n_merges: int = 10
) -> list[tuple[int, str, str, int]]:
    """BPE vocabulary induction: ``n_merges`` rounds of (count pairs →
    take the most frequent → merge it everywhere). Returns the learned
    merge table [(rank, pair, merged, count)].

    Deterministic: ties break (count DESC, pair ASC). Each round is
    one job over the vocabulary-sized word table — a 1-row argmax
    collect (TakeOrdered, no global sort) plus a narrow HOF rewrite;
    the table is re-persisted every round so plan depth stays O(1)
    instead of accumulating ``n_merges`` nested aggregates.
    """
    symtab = word_symbol_table(documents).persist()
    n_vocab = symtab.count()
    # Merge rounds run over the vocab table — size their parallelism
    # to IT, not to the corpus scan: a 31-word toy vocab should not
    # schedule 32 tasks × 2 jobs × n_merges (measured 9.4 s → 3.6 s at
    # sf0.1), while a 5M-word real vocab still fans out fully.
    par = documents.sparkSession.sparkContext.defaultParallelism
    width = max(1, min(par, -(-n_vocab // 50_000)))
    if width < par:
        resized = symtab.repartition(width).persist()
        resized.count()
        symtab.unpersist()
        symtab = resized
    merges: list[tuple[int, str, str, int]] = []
    # One job per round, not two (r13): the argmax collect is a
    # TakeOrdered over EVERY partition, so it fully materializes the
    # current round's persisted table as a side effect — the previous
    # round's table can then be released without a dedicated
    # materializing count job (which doubled the round's job count).
    prev = None
    try:
        for rank in range(n_merges):
            top = (
                bpe_pair_counts(symtab)
                .orderBy(F.col("n").desc(), F.col("pair"))
                .limit(1)
                .collect()
            )
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top:
                break
            pair, n = top[0].pair, top[0].n
            a, b = pair.split(" ", 1)
            merges.append((rank, pair, a + b, n))
            nxt = bpe_apply_merge(symtab, a, b).persist()
            prev, symtab = symtab, nxt
    finally:
        symtab.unpersist()
        if prev is not None:
            prev.unpersist()
    return merges


def filter_funnel(df: DataFrame, stages: list) -> DataFrame:
    """Sequential filter-cascade attribution: for an ordered list of
    ``(name, predicate)`` stages, report how many rows enter, drop at,
    and survive each stage — the debugging report every multi-stage
    corpus cleaning pipeline needs before anyone trusts its yield.

    Execution: ONE aggregation pass — stage i's survivor count is the
    conditional sum of the conjunction of predicates 1..i, so the
    whole funnel is a single map-side-combinable agg over one scan (no
    per-stage jobs, no materialized intermediates). The stage rows are
    then exploded from the 1-row aggregate, which is stage-count
    sized.
    """
    aggs = [F.count("*").alias("_n0")]
    cum = None
    for i, (_, pred) in enumerate(stages, 1):
        cum = pred if cum is None else (cum & pred)
        aggs.append(
            F.sum(F.when(cum, F.lit(1)).otherwise(F.lit(0))).alias(f"_n{i}")
        )
    row = df.agg(*aggs)
    per_stage = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_no"),
                F.lit(name).alias("stage"),
                F.col(f"_n{i-1}").alias("n_in"),
                (F.col(f"_n{i-1}") - F.col(f"_n{i}")).alias("n_dropped"),
                F.col(f"_n{i}").alias("n_out"),
            )
            for i, (name, _) in enumerate(stages, 1)
        ]
    )
    return row.select(F.explode(per_stage).alias("s")).select("s.*")


def lm_bigram_score(
    documents: DataFrame,
    eval_source: str = "src19",
    text_col: str = "text",
    log_scale: int = 10**5,
) -> DataFrame:
    """Count-based bigram-LM quality scoring: train add-1-smoothed
    bigram statistics on every source except ``eval_source``, then
    score each held-out document by its average negative log
    transition likelihood (perplexity = exp(avg_nll)) and its OOV
    prefix rate — the classic cheap-LM filter used to rank crawl text
    before an expensive model ever sees it.

    P(w2 | w1) = (c(w1,w2) + 1) / (c(w1·) + V), with V the train
    unigram vocabulary. Execution: two map-side-combinable count
    aggregates keyed by well-distributed word keys, one 1-row scalar
    (V) broadcast join, two LEFT broadcast-or-shuffle joins from the
    eval bigrams to the count tables, one doc-keyed rollup. Nothing
    driver-side, nothing quadratic; hot prefix keys ("the") reduce
    map-side before the shuffle.

    Determinism: each log-probability is scaled to an exact BIGINT
    before the per-doc sum, so the aggregate is summation-order
    independent; ln() itself may differ between engines by ≤1 ulp on
    isolated inputs, which the 1e-5 grid absorbs (a boundary hit needs
    the true value within ~1e-16 of a grid edge).
    """
    is_eval = F.col("source") == eval_source
    toks = documents.select(
        "doc_id", "source", F.split(F.col(text_col), " ").alias("ws")
    )
    bigrams = toks.filter(F.size("ws") >= 2).select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> struct(ws[i] AS w1, ws[i+1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "source", "b.w1", "b.w2")
    train_bg = bigrams.filter(~is_eval)
    c2 = train_bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = train_bg.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        toks.filter(~is_eval)
        .select(F.explode("ws").alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    p = (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1)) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")
    ).cast("double")
    scored = (
        bigrams.filter(is_eval)
        .join(c2, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(F.log(p) * F.lit(log_scale) + F.lit(0.5))
            .cast("long")
            .alias("t"),
            F.when(F.col("c1").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("oov"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(
            -F.sum("t") / (F.lit(float(log_scale)) * F.count("*")), 4
        ).alias("avg_nll"),
        F.round(
            F.sum("oov").cast("double") / F.count("*"), 6
        ).alias("oov_rate"),
    )


def bpe_encode(
    documents: DataFrame,
    merges: list[tuple[int, str, str, int]],
) -> DataFrame:
    """Apply a learned BPE merge table to the corpus and report
    per-document tokenization stats: character count, whitespace word
    count, BPE token count, and fertility (tokens per word) — the
    tokenizer-efficiency report run on every corpus before a training
    budget is committed.

    Execution mirrors training's word-count compression: encode each
    DISTINCT word once (the merge list applied as ``len(merges)``
    chained Catalyst HOF rewrites inside ONE projection over the
    vocabulary-sized table — no per-merge jobs), then map documents to
    per-word token counts with a broadcast-or-shuffle join and one
    doc-keyed sum. The corpus is never rewritten symbol-by-symbol.
    """
    vocab = word_symbol_table(documents)
    for _, pair, _, _ in merges:
        a, b = pair.split(" ", 1)
        vocab = bpe_apply_merge(vocab, a, b)
    word_tokens = vocab.select(
        "word", F.size("syms").alias("word_tokens")
    )
    doc_words = (
        documents.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .filter(F.length("word") > 0)
    )
    per_doc = (
        doc_words.join(word_tokens, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("word_tokens").alias("n_tokens"),
        )
    )
    return (
        documents.select("doc_id", F.length("text").alias("n_chars"))
        # LEFT join: a doc with no non-empty words still gets a report
        # row (0 words / 0 tokens, NULL fertility) instead of silently
        # vanishing from corpus-level fertility roll-ups.
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.round(
                F.col("n_tokens") / F.col("n_words").cast("double"), 6
            ).alias("fertility"),
        )
    )


def novelty_ratio(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document novelty: the fraction of a doc's word-k-gram
    shingles whose FIRST corpus occurrence (min doc_id) is this doc —
    the redundancy curve of a growing corpus. Appending near-identical
    scrapes drives novelty toward 0; curation dashboards watch this to
    decide when another crawl snapshot stops adding information.

    Two shingle-keyed shuffles (first-owner aggregate, ownership
    probe), one doc rollup — the same scale shape as the
    decontamination sweep; nothing quadratic, hot shingles reduce
    map-side in the MIN aggregate.
    """
    from razulibs_spark.operators.dedup import word_shingles

    sh = word_shingles(documents, k=k)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), F.lit(1)).otherwise(
        F.lit(0)
    )
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles"), 6
            ).alias("novelty_ratio"),
        )
    )


def vocab_coverage(
    documents: DataFrame, top_n: int = 50, text_col: str = "text"
) -> DataFrame:
    """Per-source coverage of the global top-N token vocabulary — the
    tokenizer-sizing report: what fraction of each source's token
    mass would an N-entry vocab cover (everything else becomes UNK)?

    One token-keyed global count, a deterministic top-N
    (TakeOrderedAndProject — count-desc with the token string as
    tie-break), then a broadcast semi-probe of the token stream and a
    source-keyed integer aggregate.  Coverage is emitted as a
    micro-floored exact division, bit-stable across engines.
    """
    toks = documents.select(
        "source",
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "tok")
        .limit(top_n)
        .select("tok")
    )
    marked = toks.join(
        F.broadcast(vocab).withColumn("_inv", F.lit(1)), "tok", "left"
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count("*").alias("total_tokens"),
            F.sum(F.coalesce(F.col("_inv"), F.lit(0))).alias(
                "covered_tokens"
            ),
        )
        .select(
            "source",
            "total_tokens",
            "covered_tokens",
            F.floor(
                F.lit(1000000.0)
                * (
                    F.col("covered_tokens").cast("double")
                    / F.col("total_tokens").cast("double")
                )
            )
            .cast("long")
            .alias("coverage_micro"),
        )
    )


HASH_CLF_BUCKETS = 4096
_HASH_CLF_KNUTH = 2654435761


def unigram_bigram_tokens(text_col: str = "text") -> Column:
    """Word unigram + '_'-joined bigram feature array as ONE Catalyst
    HOF expression (split → filter empties → zip_with shifted slices
    → concat) — the hashed-feature front end shared by
    hash_classifier and dsir_importance. No Python, one explode
    downstream."""
    words = f"filter(split({text_col}, ' '), w -> w != '')"
    # slice(x, 1, size-1) throws for size 0 (negative length), so the
    # bigram arm is gated: empty / whitespace-only documents yield an
    # empty feature array (and survive as n_features=0 rows via the
    # callers' doc-spine left joins) instead of killing the job.
    bigrams = (
        f"if(size({words}) < 2, cast(array() as array<string>), "
        f"zip_with(slice({words}, 1, size({words}) - 1), "
        f"slice({words}, 2, size({words}) - 1), "
        "(x, y) -> concat(x, '_', y)))"
    )
    return F.expr(f"concat({words}, {bigrams})")


def feature_bucket(tok: Column, n_buckets: int) -> Column:
    """Cross-engine-stable feature hash: md5 → first 8 hex digits →
    BIGINT → mod buckets (the DuckDB oracle recomputes the hex value
    per nibble)."""
    h = F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
    return h % F.lit(n_buckets)


def hash_classifier(
    documents: DataFrame, n_buckets: int = HASH_CLF_BUCKETS
) -> DataFrame:
    """fastText-shaped linear classifier INFERENCE at corpus scale —
    the quality-classifier curation step of C4/CCNet-style pipelines:
    word unigram + bigram features hashed into ``n_buckets`` buckets
    (md5 → first 8 hex digits → bucket), a deterministic integer
    weight per bucket standing in for the trained coefficient vector
    (swap in real weights as a broadcast join without touching the
    plan shape), per-document exact BIGINT score and keep/drop label.

    Scale shape: ONE pass — tokenization and bigram construction run
    entirely in Catalyst HOFs (split → filter → zip_with → a single
    explode), hash and weight are codegen expressions, and the score
    is a keyed SUM with map-side combine. No Python, no window, no
    second shuffle; documents with zero tokens survive via the left
    join back to the doc spine. All arithmetic is integer-exact, so
    the DuckDB oracle hash-matches bit-for-bit.

    Reference has no counterpart (LLM-pipeline north star;
    BASELINE.json).
    """
    from razulibs_spark.tables import widen_python_stage

    # The per-token md5 fan-out is the cost; widen the narrow doc
    # input iff the scan has fewer splits than cores (no-op at
    # cluster scale — guide §2.5).
    tok = widen_python_stage(documents.select("doc_id", "text")).select(
        "doc_id", F.explode(unigram_bigram_tokens()).alias("tok")
    )
    bucket = feature_bucket(F.col("tok"), n_buckets)
    weight = (bucket * F.lit(_HASH_CLF_KNUTH)) % F.lit(2001) - F.lit(1000)
    agg = tok.select("doc_id", weight.alias("_w")).groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_features"),
        F.sum("_w").cast("long").alias("score"),
    )
    return (
        documents.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_features"), F.lit(0)).cast("long").alias(
                "n_features"
            ),
            F.coalesce(F.col("score"), F.lit(0)).cast("long").alias("score"),
            F.when(F.coalesce(F.col("score"), F.lit(0)) > 0, "keep")
            .otherwise("drop")
            .alias("label"),
        )
    )


def dsir_importance(
    documents: DataFrame,
    target_lang: str = "en",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights for data selection
    (the importance-resampling curation step: score each raw-corpus
    document by how much more likely its hashed bigram features are
    under a target-domain distribution than under the raw corpus, so
    a downstream weighted sampler picks training data matched to the
    target). Target here = the ``lang == target_lang`` slice of the
    same corpus; swap in any seed DataFrame with the same two-column
    shape to retarget.

    weight(doc) = Σ_feat ln(p_t(bucket)/p_r(bucket)) with
    Laplace-smoothed bucket probabilities; emitted as ``micro_weight``
    = the sum of PER-BUCKET log-ratios pre-quantized to exact
    micro-log BIGINTs, so the per-doc aggregate is order-independent
    integer math — the only float op is a per-bucket constant (ln of
    an exactly-representable rational, < 2^53 products), never a
    per-token float sum.

    Scale shape: one HOF tokenization pass (shared front end with
    hash_classifier) → bucket id; the two bucket-count aggregates
    collapse to ≤ n_buckets rows with map-side combine and BROADCAST
    back onto the token stream; the corpus shuffles once (doc-keyed
    sum). Reference has no counterpart (LLM-pipeline north star).
    """
    from razulibs_spark.tables import widen_python_stage

    # The token stream is computed twice (counts + join side) by
    # design — recompute beats persisting a corpus-sized token table.
    # Widen the narrow doc input iff the scan has fewer splits than
    # cores so BOTH tokenize passes fan out (no-op at cluster scale —
    # guide §2.5).
    bucketed = widen_python_stage(
        documents.select("doc_id", "lang", "text")
    ).select(
        "doc_id", "lang", F.explode(unigram_bigram_tokens()).alias("tok")
    ).select(
        "doc_id", "lang", feature_bucket(F.col("tok"), n_buckets).alias("b")
    )
    counts = bucketed.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(
            F.when(F.col("lang") == target_lang, F.lit(1)).otherwise(F.lit(0))
        ).alias("ct"),
    )
    # Totals via a global window OVER THE COUNTS FRAME (bounded by
    # n_buckets rows — the one place a partition-less window is safe),
    # so the token-stream subplan under `counts` executes exactly once
    # instead of twice (a separate totals aggregate + crossJoin would
    # duplicate it).
    from pyspark.sql.window import Window

    wall = Window.partitionBy()
    # Per-bucket micro-log ratio, quantized ONCE per bucket: the ln
    # argument is a ratio of exact < 2^53 integer products, so the
    # double (and its rounding) is bit-identical across engines.
    ratio = (
        (F.col("ct") + F.lit(1.0))
        * (F.sum("cr").over(wall) + F.lit(n_buckets))
    ) / (
        (F.col("cr") + F.lit(1.0))
        * (F.sum("ct").over(wall) + F.lit(n_buckets))
    )
    weights = counts.select(
        "b",
        F.floor(F.log(ratio) * F.lit(1_000_000) + F.lit(0.5))
        .cast("long")
        .alias("micro_w"),
    )
    agg = (
        bucketed.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_features"),
            F.sum("micro_w").cast("long").alias("micro_weight"),
        )
    )
    return (
        documents.select("doc_id", "lang")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.col("n_features"), F.lit(0)).cast("long").alias(
                "n_features"
            ),
            F.coalesce(F.col("micro_weight"), F.lit(0)).cast("long").alias(
                "micro_weight"
            ),
        )
    )


def mojibake_repair(df: DataFrame, col: str = "text") -> DataFrame:
    """Mojibake detection + repair — the crawl-cleaning step between
    charset sniffing and any text operator: a page authored in UTF-8
    but served/transcoded through windows-1252 arrives DOUBLE-encoded
    ("naïve" → "naÃ¯ve"), and no amount of downstream filtering fixes
    tokens that are already garbage. The reverse transform is exact:
    re-encode the text as cp1252 and strictly decode the bytes as
    UTF-8 — if BOTH steps succeed and change the text, it was
    mojibake and the result is the original; if either fails (true
    non-ASCII text almost never re-encodes into valid UTF-8 byte
    sequences) the text is already clean. Deterministic, no
    heuristics, no confidence scores — the ftfy core rule.

    One Arrow pass appending ``was_mojibake`` + ``repaired``; ASCII
    rows short-circuit (the transform is the identity on ASCII).

    Scale: map-only, no shuffle; at 100 TB this rides the same
    mapInPandas stage as charset decoding."""
    from pyspark.sql.types import (
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    at = df.columns.index(col)

    def one(*row):
        t = str(row[at])
        repaired = t
        flag = False
        if not t.isascii():
            try:
                cand = t.encode("cp1252").decode("utf-8")
                if cand != t:
                    repaired, flag = cand, True
            except (UnicodeEncodeError, UnicodeDecodeError):
                pass
        return [(*row, flag, repaired)]

    out_schema = StructType(
        [
            *df.schema.fields,
            StructField("was_mojibake", BooleanType(), False),
            StructField("repaired", StringType(), False),
        ]
    )
    return map_rows(df, one, out_schema)


def markdown_to_text(col: Column) -> Column:
    """Markdown → plain text as ONE pure Column expression — the
    other big non-HTML text format LLM corpora arrive in (GitHub,
    docs sites, wikis). CommonMark subset, prose-preserving:

    - fenced code blocks dropped whole (code is not prose; the
      split-on-fence trick keeps even-index segments — no state),
    - ATX headers / blockquote markers / list bullets stripped at
      line start,
    - images removed, links collapsed to their text,
    - emphasis/strong/inline-code markers stripped,
    - lines right-trimmed, blank lines dropped, rejoined with \\n.

    Out of scope (documented, not silently wrong): setext headers,
    reference-style links, tables, nested fences inside indented
    blocks, intraword underscores (``snake_case`` loses its
    underscores — acceptable for prose extraction, fatal for code,
    which the fence rule already dropped).

    Scale: zero Python, zero shuffle — whole-stage codegen in the
    scan projection, like functions/urls.canonical_url."""
    segs = F.split(col, "```")
    kept = F.filter(segs, lambda s, i: i % 2 == F.lit(0))
    lines = F.split(F.array_join(kept, ""), "\n")

    def clean(line: Column) -> Column:
        line = F.regexp_replace(line, r"^#{1,6} *", "")
        line = F.regexp_replace(line, r"^> *", "")
        line = F.regexp_replace(line, r"^[-*+] +", "")
        line = F.regexp_replace(line, r"!\[[^\]]*\]\([^)]*\)", "")
        line = F.regexp_replace(line, r"\[([^\]]*)\]\([^)]*\)", "$1")
        line = F.regexp_replace(line, r"(\*\*|__|[*_`])", "")
        return F.rtrim(line)

    cleaned = F.transform(lines, clean)
    return F.array_join(
        F.filter(cleaned, lambda line: line != ""), "\n"
    )


def compression_signal(
    df: DataFrame, col: str = "text", level: int = 6
) -> DataFrame:
    """zlib compression ratio per document — the cheap
    information-density signal production quality filters run next to
    the Gopher word-ratios (RefinedWeb/Dolma both gate on it):
    machine-generated spam and template farms compress dramatically
    better than prose, and the signal needs no tokenizer, no
    vocabulary, no language model. Appends ``comp_len`` and
    ``ratio_permille`` = ⌊1000·compressed/raw⌋ (integer — exact and
    engine-stable; the raw float never leaves the stage).

    One Arrow pass, map-only, no shuffle. zlib level 6 pinned: the
    ratio must be a property of the TEXT, not of whichever level a
    fleet machine defaults to."""
    import zlib

    from pyspark.sql.types import LongType, StructField, StructType

    at = df.columns.index(col)

    def one(*row):
        b = str(row[at]).encode("utf-8")
        c = len(zlib.compress(b, level))
        return [(*row, c, 1000 * c // len(b) if b else 1000)]

    out_schema = StructType(
        [
            *df.schema.fields,
            StructField("comp_len", LongType(), False),
            StructField("ratio_permille", LongType(), False),
        ]
    )
    return map_rows(df, one, out_schema)
