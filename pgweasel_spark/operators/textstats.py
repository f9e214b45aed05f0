"""Text analysis operators for training-data pipelines: repetition and
Gopher quality gates, PII scrubbing, vocabulary and TF-IDF top terms,
document chunking, unigram-NLL scoring and per-source quantile gates.
All JVM higher-order functions — no Python in the hot path."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "a"],
}


def words(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def stopword_hits(text: Column, lang: str) -> Column:
    ws = STOPWORDS[lang]
    return F.size(F.filter(words(text), lambda w: w.isin(*ws)))


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    gram_words: int = 2,
) -> DataFrame:
    """Gopher-style repetition signals: per doc, the fraction of word
    n-gram occurrences taken by the single most frequent n-gram
    (``top_gram_frac``) and the fraction of occurrences whose n-gram
    appears more than once (``dup_gram_frac``) — the standard gates for
    boilerplate / degenerate repetition in training corpora.

    Shape: explode ALL (non-distinct) grams → count per (doc, gram) →
    per-doc aggregate. Two shuffles on uniform keys; the per-doc group
    is bounded by the doc's own length, so no skew beyond document size
    (which the quality length gate already bounds upstream)."""
    from pgweasel_spark.operators.dedup import words as _dedup_words

    # pre-split into an attribute column so the gram lambda slices an
    # existing array instead of re-splitting the text per element.
    # Tokenization is dedup's single-space split — the same convention
    # the n-gram dedup family and the t5 oracle use; textstats.words
    # (trim + \s+) would diverge on multi-space/leading-whitespace docs
    # (ADVICE r2).
    grams = F.expr(
        f"transform(sequence(0, size(_w) - {gram_words}),"
        f" i -> concat_ws(' ', slice(_w, i + 1, {gram_words})))"
    )
    ex = (
        df.select(key_col, _dedup_words(F.col(text_col)).alias("_w"))
        .where(F.size("_w") >= gram_words)
        .select(key_col, F.explode(grams).alias("g"))
    )
    per_gram = ex.groupBy(key_col, "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return (
        per_gram.groupBy(key_col)
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.max("cnt").alias("_top"),
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias(
                "_dup"
            ),
        )
        .select(
            key_col,
            F.col("n_grams").cast("long").alias("n_grams"),
            F.round(F.col("_top") / F.col("n_grams"), 4).alias(
                "top_gram_frac"
            ),
            F.round(F.col("_dup") / F.col("n_grams"), 4).alias(
                "dup_gram_frac"
            ),
        )
    )


#: PII patterns — RE2/Java-compatible subset so the DuckDB oracle can
#: state the identical expressions
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def pii_scrub(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """PII detection + scrubbing (emails, IPv4s): per-doc match counts
    and the text with matches replaced by typed placeholders — the
    standard pre-training privacy pass. Map-only (two codegen'd regex
    nodes per row), no shuffle; at 100 TB this pipelines into the scan
    like every other extraction."""
    t = F.col(text_col)
    return df.select(
        key_col,
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), 0))
        .cast("long")
        .alias("n_ipv4"),
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), IPV4_RE, "<IP>"
        ).alias("scrubbed"),
    )


#: first characters that mark a bullet line (Gopher/Dolma list-page
#: heuristic) and the symbol pattern (hash or ellipsis occurrences)
#: whose per-word ratio flags markup-heavy boilerplate
BULLET_CHARS = ("-", "*", "•")
SYMBOL_RE = r"#|\.\.\.|…"


def nonblank_lines(t: Column) -> Column:
    """The non-blank ``\\n`` splits — the line unit every line-level
    signal shares."""
    return F.filter(F.split(t, "\n"), lambda l: F.length(F.trim(l)) > 0)


def _line_signal_cols(t: Column, ws: Column, lines: Column) -> list[Column]:
    """Line-level Gopher/Dolma quality signals as map-only projections:
    symbol-to-word ratio, bullet-start and ellipsis-end line fractions,
    duplicate-line fraction and mean word length. ``ws``/``lines`` must
    be ATTRIBUTE columns materialized by a prior projection (the
    let-binding shape: CollapseProject won't inline a non-cheap alias
    referenced more than once, so each split runs once per doc instead
    of once per signal — the shingles_from_words lesson). Words are
    dedup's single-space split (the t5 oracle convention); lines the
    non-blank ``\\n`` splits. All JVM higher-order functions — the
    signals pipeline into the scan like every other extraction, no
    shuffle."""
    n_tokens = F.greatest(F.size(ws), F.lit(1))
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.trim(l), 1, 1).isin(*BULLET_CHARS),
        )
    )
    ellipsis = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).endswith("...") | F.trim(l).endswith("…"),
        )
    )
    symbols = F.size(F.regexp_extract_all(t, F.lit(SYMBOL_RE), 0))
    word_chars = F.aggregate(
        ws, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    return [
        F.round(symbols / n_tokens, 4).alias("symbol_word_ratio"),
        F.round(bullet / n_lines, 4).alias("bullet_line_frac"),
        F.round(ellipsis / n_lines, 4).alias("ellipsis_line_frac"),
        F.round(
            F.when(
                F.size(lines) > 0,
                F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_line_frac"),
        F.round(word_chars / n_tokens, 4).alias("mean_word_len"),
    ]


def gopher_gate(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    min_tokens: int = 20,
    max_top_gram_frac: float = 0.1,
    max_dup_gram_frac: float = 0.2,
    max_symbol_word_ratio: float | None = None,
    max_bullet_line_frac: float | None = None,
    max_ellipsis_line_frac: float | None = None,
    max_dup_line_frac: float | None = None,
    word_len_range: tuple[float, float] | None = None,
) -> DataFrame:
    """Composite Gopher-style keep/drop gate: document length +
    repetition occupancy — plus, when enabled, the line-level
    Gopher/Dolma signals — in one verdict; the shape every
    training-data pipeline runs between filtering and dedup.

    Signals share ONE tokenization (dedup's single-space split, the t5
    oracle convention): ``n_tokens`` counts tokens; ``top_gram_frac`` /
    ``dup_gram_frac`` come from :func:`repetition_stats` (left join —
    docs too short to have a bigram get 0.0). The five line-level
    signals (symbol-to-word ratio, bullet-start / ellipsis-end line
    fractions, duplicate-line fraction, mean word length — the rest of
    the public Gopher filter set) are opt-in: each threshold is None by
    default, so existing callers keep the exact legacy schema and
    verdicts; passing any threshold adds the signal columns
    (:func:`_line_signal_cols`) and its reject arm. The verdict is
    ``keep`` + a first-failing ``reason`` with fixed precedence
    (too_short → top_gram → dup_gram → symbol_ratio → bullet_lines →
    ellipsis_lines → dup_lines → word_len → NULL), so downstream
    rejection accounting is deterministic.

    Scale shape: repetition_stats' two uniform-key shuffles + one
    equi-join back to the corpus keyed on ``key_col`` — no new skew
    surface; the gate itself and all line signals are map-only
    projections computed in the same scan pass."""
    from pgweasel_spark.operators.dedup import words as _w

    line_enabled = any(
        p is not None
        for p in (
            max_symbol_word_ratio,
            max_bullet_line_frac,
            max_ellipsis_line_frac,
            max_dup_line_frac,
            word_len_range,
        )
    )
    if line_enabled:
        # let-binding projection: split words/lines once per doc, then
        # compute every signal from the attribute columns
        pre = df.select(
            key_col,
            F.col(text_col).alias("_t"),
            _w(F.col(text_col)).alias("_ws"),
            nonblank_lines(F.col(text_col)).alias("_ls"),
        )
        base = pre.select(
            key_col,
            F.size("_ws").cast("long").alias("n_tokens"),
            *_line_signal_cols(F.col("_t"), F.col("_ws"), F.col("_ls")),
        )
    else:
        base = df.select(
            key_col,
            F.size(_w(F.col(text_col))).cast("long").alias("n_tokens"),
        )
    rep = repetition_stats(df, text_col=text_col, key_col=key_col).select(
        key_col, "top_gram_frac", "dup_gram_frac"
    )
    line_names = (
        [
            "symbol_word_ratio",
            "bullet_line_frac",
            "ellipsis_line_frac",
            "dup_line_frac",
            "mean_word_len",
        ]
        if line_enabled
        else []
    )
    j = base.join(rep, key_col, "left").select(
        key_col,
        "n_tokens",
        F.coalesce("top_gram_frac", F.lit(0.0)).alias("top_gram_frac"),
        F.coalesce("dup_gram_frac", F.lit(0.0)).alias("dup_gram_frac"),
        *line_names,
    )
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(
            F.col("top_gram_frac") > max_top_gram_frac, F.lit("top_gram")
        )
        .when(
            F.col("dup_gram_frac") > max_dup_gram_frac, F.lit("dup_gram")
        )
    )
    if max_symbol_word_ratio is not None:
        reason = reason.when(
            F.col("symbol_word_ratio") > max_symbol_word_ratio,
            F.lit("symbol_ratio"),
        )
    if max_bullet_line_frac is not None:
        reason = reason.when(
            F.col("bullet_line_frac") > max_bullet_line_frac,
            F.lit("bullet_lines"),
        )
    if max_ellipsis_line_frac is not None:
        reason = reason.when(
            F.col("ellipsis_line_frac") > max_ellipsis_line_frac,
            F.lit("ellipsis_lines"),
        )
    if max_dup_line_frac is not None:
        reason = reason.when(
            F.col("dup_line_frac") > max_dup_line_frac,
            F.lit("dup_lines"),
        )
    if word_len_range is not None:
        lo, hi = word_len_range
        reason = reason.when(
            (F.col("mean_word_len") < lo) | (F.col("mean_word_len") > hi),
            F.lit("word_len"),
        )
    reason = reason.otherwise(F.lit(None).cast("string"))
    return j.select(
        key_col,
        "n_tokens",
        "top_gram_frac",
        "dup_gram_frac",
        *line_names,
        reason.isNull().alias("keep"),
        reason.alias("reason"),
    )


def vocab_top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 100,
    prefilter_sample: float | None = None,
) -> DataFrame:
    """Corpus-wide top-k word n-grams by occurrence count (vocabulary /
    boilerplate mining — the corpus-statistics sibling of the per-doc
    repetition gates). Counts EVERY occurrence, not distinct-per-doc.

    Scale shape: one split per doc (pre-split words attribute), gram
    explode is map-only, the count is a partial-aggregated groupBy on
    the (uniform) gram key, and the top-k is TakeOrderedAndProject —
    never a full sort. Ties broken (cnt DESC, gram ASC) so the result
    is a deterministic total order on every engine.

    ``prefilter_sample`` is the extreme-scale cut (opt-in): a
    deterministic-seed sample of ``prefilter_sample`` of the docs is
    counted first, and the k-th largest SAMPLED count becomes a
    threshold for the full pass. EXACTNESS IS PRESERVED BY
    CONSTRUCTION: sampled counts never exceed true counts, so each of
    the top-k sampled grams has true count >= its sampled count, hence
    the true k-th-largest count >= the sampled k-th-largest B — every
    true top-k gram passes ``cnt >= B``. The filter sits between the
    full count and the ordering, shrinking the TakeOrderedAndProject
    input from |vocab| to the few grams at/above B (the heap itself is
    per-partition, so the win is the final-agg + ordering input, and
    at 10^12 docs |vocab| is billions of grams). When the sample
    yields fewer than k grams the bound degrades to 1 (no pruning,
    still exact). One extra pass over the sampled fraction + one
    driver-side scalar collect."""
    grams = F.expr(
        f"transform(sequence(0, size(_w) - {n}),"
        f" i -> concat_ws(' ', slice(_w, i + 1, {n})))"
    )

    def counts(frame: DataFrame) -> DataFrame:
        return (
            frame.select(words(F.col(text_col)).alias("_w"))
            .where(F.size("_w") >= n)
            .select(F.explode(grams).alias("gram"))
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    full = counts(df)
    if prefilter_sample is not None:
        sampled_kth = (
            counts(df.sample(fraction=prefilter_sample, seed=42))
            .orderBy(F.col("cnt").desc(), F.col("gram"))
            .limit(k)
            .agg(F.when(F.count(F.lit(1)) >= k, F.min("cnt")).alias("b"))
            .first()["b"]
        )
        full = full.where(F.col("cnt") >= int(sampled_kth or 1))
    return full.orderBy(F.col("cnt").desc(), F.col("gram")).limit(k)


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    k: int = 5,
    n_docs: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Per-document top-k terms by TF-IDF (tf · ln(N/df)) — the classic
    corpus-statistics signal for keyword extraction / topic drift
    monitoring in curation pipelines. Ties broken (tfidf DESC, term
    ASC); tfidf rounded to 6 so any engine restates the value.

    Scale shape: tokenize + explode is map-only; term frequency is one
    partial-aggregated groupBy on the COMPOUND (doc, term) key (uniform
    — a stopword's rows spread across its documents); document
    frequency partial-aggregates the tf output on the term key; the
    tf⋈df join is a shuffle join on term (both sides pre-keyed; the
    vocab does NOT broadcast at crawl scale). The per-doc top-k is a
    bounded collect_list + array_sort + slice — per-group state is the
    doc's own distinct-term count, which the upstream length gates
    bound. ``n_docs`` skips the corpus count job when the caller knows
    N (manifest lineage). Words are the single-space split (t5/dedup
    convention).

    The tf frame feeds BOTH the df aggregation and the scored join, so
    it is persisted (memory+disk): without the cache the
    tokenize+explode+partial-agg subtree — the dominant map cost —
    materializes once per consumer (two full corpus passes; AQE's
    exchange reuse does not reliably collapse them once the input
    carries its own repartition). Same cache-lifetime contract as
    lsh_candidate_pairs: pass ``cache_registry`` in long-lived
    sessions; bench/selfcheck clear the cache between queries."""
    from pyspark import StorageLevel

    from pgweasel_spark.operators.dedup import words as _w

    if n_docs is None:
        n_docs = df.count()
    toks = df.select(
        key_col, F.explode(_w(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(key_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if cache_registry is not None:
        cache_registry.append(tf)
    docfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_cnt")
    )
    scored = tf.join(docfreq, "term").select(
        key_col,
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_cnt")), 6
        ).alias("tfidf"),
    )
    ranked = (
        scored.groupBy(key_col)
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("tfidf")).alias("neg"),
                            F.col("term").alias("term"),
                            F.col("tfidf").alias("tfidf"),
                        )
                    )
                ),
                1,
                k,
            ).alias("top")
        )
        .select(key_col, F.posexplode("top").alias("pos", "t"))
        .select(
            key_col,
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("t.term").alias("term"),
            F.col("t.tfidf").alias("tfidf"),
        )
    )
    return ranked


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    chunk_words: int = 100,
    overlap: int = 20,
) -> DataFrame:
    """Overlapping fixed-size word-window chunking — the RAG /
    context-length-packing preprocessing pass: chunk i covers words
    [i·stride + 1, i·stride + chunk_words] with stride = chunk_words −
    overlap, n_chunks = max(ceil((n − overlap) / stride), 1), so every
    word lands in ≥1 chunk, consecutive chunks share ``overlap`` words,
    and the final chunk absorbs the remainder (may be shorter). Output
    one row per (doc, chunk_no) with the chunk text and its token
    count.

    Scale shape: split once into a words attribute, build all chunk
    slices in one JVM transform, posexplode — map-only, no shuffle;
    the fan-out is ~n/stride rows per doc, the same class as the sink
    explode. Words are the single-space split (t5/dedup convention)."""
    from pgweasel_spark.operators.dedup import words as _w

    if overlap >= chunk_words:
        raise ValueError("overlap must be smaller than chunk_words")
    stride = chunk_words - overlap
    n = F.size(F.col("_w"))
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(float(stride))), F.lit(1)
    ).cast("int")
    chunks = F.expr(
        f"transform(sequence(0, _nc - 1),"
        f" i -> concat_ws(' ', slice(_w, i * {stride} + 1, {chunk_words})))"
    )
    return (
        df.select(key_col, _w(F.col(text_col)).alias("_w"))
        .withColumn("_nc", n_chunks)
        .select(key_col, F.posexplode(chunks).alias("chunk_no", "chunk_text"))
        .select(
            key_col,
            F.col("chunk_no").cast("int"),
            "chunk_text",
            F.size(F.split("chunk_text", " ")).cast("long").alias("n_tokens"),
        )
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    total_tokens: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Per-doc mean unigram negative log-probability under the corpus's
    OWN unigram distribution — the cheap perplexity proxy (the
    CCNet/RedPajama-style quality signal: boilerplate and gibberish
    score high, fluent in-distribution text scores low). Feed the score
    to :func:`quantile_quality_gate` for per-source normalization.

    score = Σ_terms tf(d,t) · (−ln(cnt(t)/total)) / Σ_terms tf(d,t),
    rounded to 6 — every intermediate is SQL-restatable, so the oracle
    checks values exactly.

    Scale shape: tf partial-aggregates on the compound (doc, term) key;
    the corpus unigram table partial-aggregates tf on term; the tf⋈freq
    join shuffles on term (the vocab never broadcasts at crawl scale);
    the per-doc mean is one more partial-agg groupBy. ``total_tokens``
    skips the total-count job when lineage already knows it (it is the
    sum the manifest's token accounting carries). Words are the
    single-space split (t5/dedup convention).

    Two r6 shape fixes, values unchanged: (a) the fallback total is a
    map-only Σ size(words) over the corpus — arithmetically identical
    to Σ_term cnt (every token counted exactly once either way; a
    focused test pins the equality) but one scan with no explode, no
    shuffle, instead of a full second tokenize+tf+freq pass; (b) tf is
    persisted because both the freq aggregation and the scored join
    consume it (same rationale and cache contract as
    tfidf_top_terms)."""
    from pyspark import StorageLevel

    from pgweasel_spark.operators.dedup import words as _w

    if total_tokens is None:
        total_tokens = (
            df.select(
                F.sum(F.size(_w(F.col(text_col)))).alias("n")
            ).first()["n"]
            or 0
        )
    toks = df.select(
        key_col, F.explode(_w(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(key_col, "term").agg(
        F.count(F.lit(1)).alias("tf")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if cache_registry is not None:
        cache_registry.append(tf)
    freq = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    scored = tf.join(freq, "term").select(
        key_col,
        F.col("tf"),
        (
            F.col("tf")
            * -F.log(F.col("cnt") / F.lit(float(total_tokens)))
        ).alias("nll"),
    )
    return scored.groupBy(key_col).agg(
        F.round(F.sum("nll") / F.sum("tf"), 6).alias("mean_nll"),
        F.sum("tf").cast("long").alias("n_tokens"),
    )


def quantile_quality_gate(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    q: float = 0.25,
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-group quantile quality gate: keep docs whose ``score_col`` is
    at or above their group's q-th percentile — per-domain quality
    normalization (an absolute threshold over-prunes weak domains and
    under-prunes strong ones; cutting each group's own bottom tail is
    the standard curation move).

    Scale shape: one partial-aggregated groupBy computes a single
    threshold row per group (Spark's exact ``percentile`` — the ANSI
    PERCENTILE_CONT definition, cross-engine checkable; it buffers each
    group's scores, the trade aggregates.value_percentiles describes,
    and ``approx_percentile`` is the scale path for unbounded group
    cardinality), then an explicitly-broadcast join
    tags every doc — the corpus side stays map-only, no second
    shuffle."""
    th = df.groupBy(group_col).agg(
        F.expr(f"percentile({score_col}, {q}D)").alias("_th")
    )
    return (
        df.join(F.broadcast(th), group_col)
        .select(
            key_col,
            group_col,
            F.col(score_col),
            F.round("_th", 6).alias("group_threshold"),
            (F.col(score_col) >= F.col("_th")).alias("keep"),
        )
    )
