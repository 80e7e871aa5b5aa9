"""Text-analysis operators for LLM-data pipelines (north-star set).

All native Spark expressions — token counting, quality scoring,
language ID, and fingerprinting run JVM-side inside whole-stage
codegen, so a 100 TB documents table never crosses the Python boundary.

Cross-engine determinism: every derived value is reproducible in ANSI
SQL (the DuckDB oracles recompute them), so hashes/ratios avoid
engine-specific RNG or hash functions — md5 for fingerprints,
regex-split token counts, fixed stopword lists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword marker sets for the n-gram/stopword
#: language-ID heuristic. Deliberately small and fixed: the heuristic
#: is the spec, and the oracle recomputes it verbatim.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "y", "es"],
    "ru": ["и", "в", "не", "на", "что"],
}

STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it"]


def widen_if_narrow(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Repartition a DataFrame whose scan is narrower than the cluster.

    Text operators do their expensive per-row work (normalize, split,
    md5, explode) INSIDE the scan stage, before any shuffle — so a
    parquet input with fewer splits than cores (the one-row-group small
    file) serializes the whole CPU cost through a handful of tasks.
    At real scale splits outnumber cores and this is a no-op; locally
    it is repeatedly a >2x win (q16, q21, q88 all hit it).
    """
    target = (
        min_parallelism
        if min_parallelism is not None
        else df.sparkSession.sparkContext.defaultParallelism
    )
    if target and split_count(df) < target:
        df = df.repartition(target)
    return df


def split_count(df: DataFrame) -> int:
    """Partitions of ``df``'s scan stage, without running a job.

    A plan with no exchange is not adaptive, and its executed plan's RDD
    has the scan's split count (``df.rdd`` would build a Python RDD for
    the same number). An adaptive plan only knows its final partition
    count after running its stages, so it keeps the ``df.rdd`` probe.
    """
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return df.rdd.getNumPartitions()
    return plan.execute().getNumPartitions()


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (array<string>); empty text -> empty array."""
    t = F.trim(F.col(text) if isinstance(text, str) else text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def word_tokens(
    text_col: str = "text", tokens_col: str | None = None
) -> Column:
    """The canonical lowercase ``[a-z]+`` word-token array shared by
    the whole vocabulary/statistics family (surprisal, drift, Zipf,
    PMI, burstiness, DSIR, BPE...). When the caller holds the
    materialized token corpus (plans.queries.tokens_table — the
    tokenize-once-per-snapshot layout), pass ``tokens_col`` to probe
    the precomputed array instead of re-running the regex over raw
    text; both forms are byte-identical by construction, so oracles
    recomputing from raw text keep certifying artifact contents."""
    if tokens_col:
        return F.col(tokens_col)
    return F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)")


def token_count(text: Column | str) -> Column:
    """Whitespace token count — regexp_count(\\S+), which equals
    size(split) without materializing the token array."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(t, F.lit(r"\S+"))


def bpe_ish_piece_count(text: Column | str) -> Column:
    """BPE-ish subword proxy: count of word/number/punct pieces, the
    way a byte-pair pre-tokenizer splits (letters runs, digit runs,
    punctuation singles). A cheap, deterministic token estimator —
    counted in one regex pass, no piece array materialized."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(t, F.lit(r"[\p{L}\p{N}_]+|[^\p{L}\p{N}_\s]"))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars / total chars (0.0 for empty) — one regex
    count pass instead of replace + two length scans."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    punct = F.regexp_count(t, F.lit(r"[^\p{L}\p{N}_\s]"))
    return F.when(n > 0, punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords (lowercased exact match)."""
    sw = F.array(*[F.lit(w) for w in (stopwords or STOPWORDS_EN)])
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    hits = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0,1]: length band + stopword signal
    + punctuation sanity. Fixed weights; the formula IS the contract."""
    n_tok = token_count(text).cast("double")
    len_component = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    sw_component = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    punct_penalty = F.least(punct_ratio(text) * 4.0, F.lit(1.0))
    return F.round(
        0.5 * len_component + 0.3 * sw_component + 0.2 * (1.0 - punct_penalty), 6
    )


def language_id(text: Column | str) -> Column:
    """Stopword-marker language ID: the language with the most marker
    hits wins; ties and zero hits -> 'und'. Deterministic tie-break by
    language code order of LANG_MARKERS."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    best_lang = F.lit("und")
    best_hits = F.lit(0)

    def contains(arr):
        return lambda x: F.array_contains(arr, x)

    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        hits = F.size(F.filter(toks, contains(markers)))
        improved = hits > best_hits
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(improved, hits).otherwise(best_hits)
    return best_lang


#: PII patterns, deliberately portable (no lookarounds, ASCII classes)
#: so Java regex and RE2 (DuckDB) agree token-for-token. Redaction
#: order matters and is part of the contract: urls first (emails can
#: appear inside urls), then emails, then phone-like number runs.
PII_PATTERNS: dict[str, str] = {
    "url": r"https?://[^\s]+",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9\-() ]{6,}[0-9]",
}


def pii_count(text: Column | str, kind: str) -> Column:
    """Occurrences of one PII pattern (one regex pass, JVM-side)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(t, F.lit(PII_PATTERNS[kind]))


def redact_pii(text: Column | str, replacement: str = "[PII]") -> Column:
    """Replace url -> email -> phone matches (in that order) with
    ``replacement``. Order is the contract — both engines must apply
    the same sequence for identical output."""
    t = F.col(text) if isinstance(text, str) else text
    for kind in ("url", "email", "phone"):
        t = F.regexp_replace(t, PII_PATTERNS[kind], replacement)
    return t


def remove_repeated_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Intra-document repetition REMOVAL (the cleaning-transform
    counterpart of with_repetition_stats' signal): split the text on
    ``sep``, keep the FIRST occurrence of each paragraph — matching on
    the lower(trim()) normalized form, emitting the original raw
    form — and reassemble. The standard corpus-cleaning step for
    scraped pages that repeat nav blocks, headers, or whole sections
    inside ONE document (cross-document boilerplate is
    boilerplate_ratio's job). Paragraphs whose trimmed length is
    below ``min_chars`` are never dedup-eligible, so blank-line
    structure survives; key equality implies equal trimmed length, so
    eligibility needs checking only on the candidate, never the
    earlier occurrence.

    Scale shape: a PURE PROJECTION — the whole transform is one
    higher-order array expression per row (split -> indexed filter
    whose predicate runs exists() over the element's prefix ->
    array_join), so the plan is a single codegen'd Project with ZERO
    shuffles at any corpus size. The per-paragraph prefix scan is
    O(paragraphs^2) WITHIN a document — bounded by document format,
    not corpus size — and stays entirely JVM-side.

    Output: (id, text cleaned, n_paragraphs, n_removed).
    """
    parts, kept = _segments_kept(F.col(text_col), sep, min_chars)
    # The cleaned text gets a TEMP alias: naming it ``text_col``
    # directly would lateral-alias-shadow the input column for the
    # stat expressions after it in the select list (Spark resolves
    # later select items against earlier aliases first), silently
    # computing the stats over the already-cleaned text.
    return df.select(
        F.col(id_col),
        F.array_join(kept, sep).alias("__cleaned"),
        F.size(parts).alias("n_paragraphs"),
        (F.size(parts) - F.size(kept)).alias("n_removed"),
    ).withColumnRenamed("__cleaned", text_col)


def _segments_kept(text: Column, sep: str, min_chars: int):
    """Shared kernel of the intra-document segment dedup: the
    ``(all segments, first-occurrence-kept segments)`` array pair
    over ``text`` split on ``sep``. Pure column expressions — callers
    compose it into projections (the funnel's cleaning stage) or the
    full (text, n_paragraphs, n_removed) report above."""
    import re as _re

    parts = F.split(text, _re.escape(sep))

    def _key(p):
        return F.lower(F.trim(p))

    def _keep(p, i):
        return (F.length(F.trim(p)) < min_chars) | ~F.exists(
            F.slice(parts, F.lit(1), i), lambda q: _key(q) == _key(p)
        )

    return parts, F.filter(parts, _keep)


def dedup_segments_text(
    text: Column | str, sep: str = "\n", min_chars: int = 1
) -> Column:
    """Expression form of :func:`remove_repeated_paragraphs`: the
    CLEANED text alone, as one composable column — the shape a
    multi-stage pipeline wants when the cleaning is one projection
    among many (pretraining_funnel's intra-doc stage) and the
    removal counts aren't part of the report."""
    t = F.col(text) if isinstance(text, str) else text
    _, kept = _segments_kept(t, sep, min_chars)
    return F.array_join(kept, sep)


def with_repetition_stats(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Gopher-style repetition signal: share of duplicate word n-gram
    occurrences per document, 1 - distinct/total (0.0 when fewer than
    ``n`` tokens). Boilerplate/spam shows high repetition; the ratio
    is a standard pretraining quality gate.

    Entirely per-row JVM expressions (sequence -> transform ->
    array_distinct): no explode, no shuffle — a 100 TB corpus scans
    once. The token array is materialized as a column first (HOF
    lambdas re-evaluate captured expression trees per element).
    """
    staged = df.withColumn("_rep_toks", tokens(F.col(text_col)))
    toks = F.col("_rep_toks")
    total = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ratio = F.when(
        total > 0,
        F.round(
            1.0 - F.size(F.array_distinct(grams)).cast("double") / total.cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return (
        staged.withColumn("n_ngrams", total)
        .withColumn("n_distinct_ngrams", F.size(F.array_distinct(grams)))
        .withColumn("repetition_ratio", ratio)
        .drop("_rep_toks")
    )


def normalized_text(text: Column | str) -> Column:
    """Dedup normalization: lowercase, strip non-word/space, collapse
    whitespace, trim."""
    t = F.lower(F.col(text) if isinstance(text, str) else text)
    t = F.regexp_replace(t, r"[^\p{L}\p{N}_\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text. md5 (not
    xxhash/murmur) so any engine can recompute it."""
    return F.md5(normalized_text(text))


def curate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.3,
    min_tokens: int = 50,
    langs: list[str] | None = None,
) -> DataFrame:
    """Composite curation stage — the canonical training-data filter
    chain in one distributed pass:

    1. exact dedup on the normalization fingerprint (keep min id);
    2. length floor (token count);
    3. quality floor (composite score);
    4. optional predicted-language allowlist.

    Output: kept (id, n_tokens, quality_score, lang_pred, fingerprint).
    One shuffle total (the dedup groupBy); every filter is a native
    expression evaluated in the same scan.
    """
    from pyspark.sql import Window

    staged = with_text_stats(df.select(F.col(id_col), F.col(text_col))).select(
        id_col, "n_tokens", "quality_score", "lang_pred", "fingerprint"
    )
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    deduped = staged.withColumn("_rk", F.row_number().over(w)).filter(
        F.col("_rk") == 1
    )
    out = deduped.filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("quality_score") >= min_quality)
    )
    if langs:
        out = out.filter(F.col("lang_pred").isin(langs))
    return out.select(id_col, "n_tokens", "quality_score", "lang_pred", "fingerprint")


def with_text_stats(
    df: DataFrame, text_col: str = "text", min_parallelism: int | None = None
) -> DataFrame:
    """Attach the full stat block to a documents-like DataFrame.

    Tokenizes ONCE into an intermediate column and derives every stat
    from it — the naive per-stat expressions re-split the text ~10x
    per row (same values, ~2x wall at sf0.1). Results are identical to
    the standalone functions (the SQL oracles recompute those).

    Regex stats are CPU-bound per row, so a scan narrower than the
    cluster (e.g. one small row group) is widened to
    ``min_parallelism`` (default: defaultParallelism) first. At real
    scale the input already has more splits than cores and this is a
    no-op — no shuffle is added.
    """
    df = widen_if_narrow(df, min_parallelism)
    staged = df.withColumn("_ltoks", tokens(F.lower(F.col(text_col))))

    def contains(arr):
        return lambda x: F.array_contains(arr, x)

    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    n_tok = token_count(text_col)
    n_ltok = F.size("_ltoks")
    sw_hits = F.size(F.filter(F.col("_ltoks"), contains(sw)))
    sw_ratio = F.when(
        n_ltok > 0, sw_hits.cast("double") / n_ltok.cast("double")
    ).otherwise(F.lit(0.0))
    p_ratio = punct_ratio(text_col)

    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        hits = F.size(F.filter(F.col("_ltoks"), contains(markers)))
        improved = hits > best_hits
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(improved, hits).otherwise(best_hits)

    quality = F.round(
        0.5 * F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
        + 0.3 * F.least(sw_ratio * 4.0, F.lit(1.0))
        + 0.2 * (1.0 - F.least(p_ratio * 4.0, F.lit(1.0))),
        6,
    )

    return (
        staged.withColumn("n_tokens", n_tok)
        .withColumn("n_pieces", bpe_ish_piece_count(text_col))
        .withColumn("punct_ratio", F.round(p_ratio, 6))
        .withColumn("stopword_ratio", F.round(sw_ratio, 6))
        .withColumn("quality_score", quality)
        .withColumn("lang_pred", best_lang)
        .withColumn("fingerprint", fingerprint(text_col))
        .drop("_ltoks")
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY: what fraction of a doc's distinct
    word n-grams first appear (minimum ``id_col`` over the corpus) in
    THIS doc — the standard "how much does this document add"
    curation signal (a doc whose grams all debuted elsewhere is quote/
    boilerplate/copy material even when no single pair-wise duplicate
    exists; novelty-ordered ingestion is how iterative corpus growth
    decides what to keep).

    Scale shape: ONE shuffle keyed on the shingle (a window min over
    the gram's partition — every occurrence of a gram lands in one
    partition, so the unordered min is exact), then one per-doc
    aggregate. No joins, no candidate pairs, no quadratic term; hot
    grams cost a wide window partition, not a blowup. Ordering by
    ``id_col`` makes the result deterministic and replayable — id is
    ingestion order in this corpus, the curation-relevant order.

    Output: (id, n_shingles, n_novel, novelty_rate) — docs with >= 1
    n-gram; novelty_rate rounded 6dp.
    """
    from pyspark.sql import Window

    from ursa_major_choir_etl_spark.operators.dedup import word_shingles

    sh = word_shingles(df, id_col=id_col, text_col=text_col, n=n)
    first = F.min(id_col).over(Window.partitionBy("shingle"))
    per_gram = sh.withColumn("_first", first)
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_first") == F.col(id_col)).cast("int")).alias(
                "n_novel"
            ),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel") / F.col("n_shingles").cast("double"), 6
            ).alias("novelty_rate"),
        )
    )


def boilerplate_sentences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    min_docs: int = 3,
    min_chars: int = 15,
) -> DataFrame:
    """Per-document boilerplate ratio via repeated-sentence detection:
    a sentence (split on '. ') of >= ``min_chars`` chars appearing in
    >= ``min_docs`` DISTINCT documents of the same ``group_col``
    (site/source/domain) is boilerplate — headers, footers, cookie
    banners, license blurbs. The per-source grouping is the web-scale
    trick: boilerplate is a property of a SITE template, and scoping
    the frequency count to the source keeps common-but-legitimate
    cross-site sentences out.

    Scale shape: sentence explode -> one shuffle keyed on
    (group, sentence) for the distinct-doc frequency (window count
    over the pre-deduped (group, sentence, doc) rows — exact, no join
    back), then one per-doc aggregate. Same no-pair-join layout as
    ngram_novelty; a viral template sentence is a wide window
    partition, never a quadratic term.

    Output: (id, n_sentences, n_boiler, boiler_ratio) for docs with
    >= 1 qualifying sentence; ratio rounded 6dp.
    """
    from pyspark.sql import Window

    sents = (
        widen_if_narrow(df)
        .select(
            F.col(id_col),
            F.col(group_col),
            F.explode(F.split(F.col(text_col), r"\. ")).alias("_s"),
        )
        .select(id_col, group_col, F.trim("_s").alias("_s"))
        .filter(F.length("_s") >= min_chars)
        .distinct()  # one vote per (doc, sentence)
    )
    n_docs = F.count(F.lit(1)).over(
        Window.partitionBy(group_col, "_s")
    )  # rows are distinct per doc => count == distinct docs
    return (
        sents.withColumn("_nd", n_docs)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum((F.col("_nd") >= min_docs).cast("int")).alias("n_boiler"),
        )
        .select(
            F.col(id_col),
            "n_sentences",
            "n_boiler",
            F.round(
                F.col("n_boiler") / F.col("n_sentences").cast("double"), 6
            ).alias("boiler_ratio"),
        )
    )


def unigram_surprisal_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """CCNet-style language-model quality scoring with a self-trained
    unigram LM: every token's surprisal under the corpus's own token
    distribution, averaged per document — the "does this read like
    the corpus" filter (wikipedia-LM perplexity filtering is the same
    computation with a nicer LM). High mean surprisal = rare-token
    soup (OCR noise, codes, lists); low = fluent, common prose.

    Determinism over libm: surprisal is the INTEGER floor(log2(N /
    count)) computed as length(bin(N DIV count)) - 1 — pure integer /
    string ops, bit-identical in any engine (the q60 integer-idf
    philosophy applied to perplexity: cross-engine ln() would leave
    every threshold comparison one ulp from disagreement). The
    quantization to whole bits is the honest price; ranking quality
    filters don't need sub-bit precision.

    Scale shape: ONE token explode into a per-(doc, term) count
    table; the global vocabulary counts, the corpus total N (one row,
    broadcast), and the per-doc probe all derive from it — the
    explode chain never runs twice (an earlier cut fed both the vocab
    aggregate and the probe join from the raw token stream, and the
    non-reusable exchanges re-ran the regex explode per branch). The
    probe join is doc-vocabulary-sized, strictly smaller than the
    token stream. No windows over the corpus, no UDFs.

    Output: (id, n_tokens, sum_surprisal, mean_surprisal) per doc
    with >= 1 token; mean rounded 6dp.
    """
    from ursa_major_choir_etl_spark.caching import stage

    # doc_term feeds three consumers (vocab counts, total N, probe
    # join) — stage it so the explode+aggregate runs once (tracked
    # persist, released by the caller via caching.release_staged).
    doc_term = stage(
        widen_if_narrow(df)
        .select(
            F.col(id_col),
            F.explode(
                word_tokens(text_col, tokens_col)
            ).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    counts = doc_term.groupBy("term").agg(F.sum("k").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("N"))
    scored = counts.crossJoin(F.broadcast(total)).select(
        "term",
        (F.length(F.bin(F.expr("N div cnt"))) - 1).alias("surprisal"),
    )
    return (
        doc_term.join(scored, "term")
        .groupBy(id_col)
        .agg(
            F.sum("k").alias("n_tokens"),
            F.sum(F.col("k") * F.col("surprisal")).alias("sum_surprisal"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            "sum_surprisal",
            F.round(
                F.col("sum_surprisal") / F.col("n_tokens").cast("double"), 6
            ).alias("mean_surprisal"),
        )
    )


def char_bigram_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    low_bits: float = 1.0,
    high_bits: float = 6.0,
) -> DataFrame:
    """Gibberish / repetition detector via character-bigram entropy.

    Character-level distributional signals catch what token-level
    filters miss: a doc of random base64 has plausible token counts
    but near-uniform bigrams (entropy ~ log2 of alphabet^2), while
    "aaaa..." spam collapses to ~0 bits. Flag both tails.

    Determinism over libm (the q115 unigram-surprisal playbook): each
    bigram's surprisal is the INTEGER floor(log2(m / count)) via
    length(bin(m DIV count)) - 1 — pure integer ops, bit-identical in
    any engine; the per-doc mean is the count-weighted average of
    whole-bit surprisals, rounded 6dp. Quantized to whole bits, which
    a tail-flag filter does not miss.

    Shape: bigrams are materialized per doc with one transform over a
    MATERIALIZED normalized-text column (substring inside the lambda
    re-reads the column, not the normalize chain), one explode, one
    (doc, bigram) count aggregate, one per-doc rollup. All scan-stage
    work before a single shuffle; no UDFs, no windows.

    Output: (id, n_bigrams, distinct_bigrams, mean_bits, suspicious).
    """
    df = widen_if_narrow(df)
    normed = df.select(
        F.col(id_col), normalized_text(text_col).alias("_norm")
    ).filter(F.length("_norm") >= 2)
    grams = normed.select(
        F.col(id_col),
        F.explode(
            F.expr("transform(sequence(1, length(_norm) - 1),"
                   " i -> substring(_norm, i, 2))")
        ).alias("bg"),
    )
    from ursa_major_choir_etl_spark.caching import stage

    # counts heads the bigram explode+aggregate and feeds BOTH the
    # per-doc totals and the surprisal join: stage it so the explode
    # chain runs once (released by the caller via release_staged).
    counts = stage(
        grams.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("k"))
    )
    # The surprisal needs the per-doc total m alongside each bigram
    # count: one per-doc total aggregate, joined back on the doc key
    # (both sides already hash-partitioned by the doc key, so AQE
    # plans the join without a second full shuffle of `counts`).
    totals = counts.groupBy(id_col).agg(F.sum("k").alias("m"))
    scored = (
        counts.join(totals, id_col)
        .select(
            F.col(id_col),
            "k",
            (F.length(F.bin(F.expr("m div k"))) - 1).alias("bits"),
        )
    )
    rollup = scored.groupBy(id_col).agg(
        F.sum("k").alias("n_bigrams"),
        F.count(F.lit(1)).alias("distinct_bigrams"),
        F.round(
            F.sum(F.col("k") * F.col("bits"))
            / F.sum("k").cast("double"),
            6,
        ).alias("mean_bits"),
    )
    return rollup.select(
        id_col,
        "n_bigrams",
        "distinct_bigrams",
        "mean_bits",
        (
            (F.col("mean_bits") <= F.lit(low_bits))
            | (F.col("mean_bits") >= F.lit(high_bits))
        ).alias("suspicious"),
    )


def vocab_drift_report(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    k: int = 50,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-source vocabulary drift: how much of each source's top-k
    token list overlaps the corpus-wide top-k — the cheap
    distribution-shift monitor a multi-source pipeline runs per
    ingest batch (a source whose frequent vocabulary diverges from
    the corpus is a different KIND of data: new language, format
    break, spam flood — all surface here before any model does).

    One token explode feeds a (source, term) count table; the global
    top-k is a k-row TakeOrdered (never a full sort), the per-source
    top-k runs through the bounded two-phase selection
    (curation.bounded_topn_per_key, term-salted), and the overlap is
    a semi-join of two k-row-per-source sets. Deterministic
    tie-breaks: count desc, term asc — both sides of the oracle.

    Output per source: (domain, n_top, n_overlap, overlap_ratio,
    top_term, top_term_count).
    """
    from ursa_major_choir_etl_spark.caching import stage
    from ursa_major_choir_etl_spark.operators.curation import (
        bounded_topn_per_key,
    )

    per_st = stage(
        widen_if_narrow(df)
        .select(
            F.col(domain_col).alias("domain"),
            F.explode(
                word_tokens(text_col, tokens_col)
            ).alias("term"),
        )
        .groupBy("domain", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top_global = (
        per_st.groupBy("term")
        .agg(F.sum("cnt").alias("gcnt"))
        .orderBy(F.col("gcnt").desc(), F.col("term").asc())
        .limit(k)
        .select("term")
    )
    top_src = bounded_topn_per_key(
        per_st,
        ["domain"],
        [F.col("cnt").desc(), F.col("term").asc()],
        cap=k,
        salt_on=F.col("term"),
    )
    overlap = (
        top_src.join(top_global, "term", "left_semi")
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    per_src = top_src.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_top"),
        F.min_by(
            F.col("term"), F.struct((-F.col("cnt")).alias("nc"), F.col("term"))
        ).alias("top_term"),
        F.max("cnt").alias("top_term_count"),
    )
    return (
        per_src.join(overlap, "domain", "left")
        .select(
            "domain",
            "n_top",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0))
                / F.col("n_top").cast("double"),
                6,
            ).alias("overlap_ratio"),
            "top_term",
            "top_term_count",
        )
    )


def zipf_slope_report(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
    k: int = 100,
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-source Zipf-law fit: the least-squares slope of
    ln(count) against ln(rank) over each source's top-``k`` tokens —
    the one-number "does this source look like natural language"
    check (natural text sits near -1; templated/generated floods
    flatten toward 0, key-value dumps fall steeper). The corpus-health
    sibling of vocab_drift_report: drift says a source's vocabulary
    CHANGED, the Zipf slope says its frequency SHAPE is wrong.

    slope = covar_pop(ln rank, ln count) / var_pop(ln rank) — closed
    form, no iterative fit. Ranks exist only on the top-k rows (the
    bounded two-phase selection supplies `rank` directly), so the
    ordered work per source is capped at k rows regardless of corpus
    size; the count table is the same one token explode every vocab
    op shares. ln/var/covar are IEEE double ops with identical
    semantics in DuckDB, rounded 6dp on output. Sources with a
    single distinct token carry no slope (var_pop = 0) and are
    excluded rather than emitting a cross-engine NaN.

    Output per source: (domain, n_terms, top_count, zipf_slope).
    """
    from ursa_major_choir_etl_spark.operators.curation import (
        bounded_topn_per_key,
    )

    per_st = (
        widen_if_narrow(df)
        .select(
            F.col(domain_col).alias("domain"),
            F.explode(
                word_tokens(text_col, tokens_col)
            ).alias("term"),
        )
        .groupBy("domain", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = bounded_topn_per_key(
        per_st,
        ["domain"],
        [F.col("cnt").desc(), F.col("term").asc()],
        cap=k,
        salt_on=F.col("term"),
    )
    pts = top.select(
        "domain",
        F.log(F.col("rank").cast("double")).alias("_lr"),
        F.log(F.col("cnt").cast("double")).alias("_lc"),
        "cnt",
    )
    return (
        pts.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.max("cnt").alias("top_count"),
            F.covar_pop("_lr", "_lc").alias("_cov"),
            F.var_pop("_lr").alias("_var"),
        )
        .filter(F.col("_var") > 0)
        .select(
            "domain",
            "n_terms",
            "top_count",
            F.round(F.col("_cov") / F.col("_var"), 6).alias("zipf_slope"),
        )
    )


def bigram_improbability(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style language-model quality signal: per-document mean
    inverse conditional bigram probability under an add-one-smoothed
    bigram model trained on the corpus itself.

    Per bigram occurrence (w1, w2): P(w2|w1) = (C2+1)/(C1+V) with C2
    the corpus bigram count, C1 the corpus unigram occurrence count of
    w1, V the distinct-token vocabulary. The per-occurrence score is
    the INTEGER ``((C1+V) * 1e6) DIV (C2+1)`` (inverse probability in
    ppm) so each doc's sum is exact-integer cross-engine — no
    float-sum ordering and no libm (the house q115 rule); the only
    float is one final exact division per doc. Formulaic docs full of
    corpus-common transitions score low; rare/garbled transitions
    score high — the fluency half of the CCNet perplexity bucket.

    Scale: one corpus scan explodes bigram (g, w1) structs once
    (staged), two counting aggregates over it, then two sort-merge
    joins keyed by gram/unigram — all shuffles are on token keys, no
    window, no collect except the vocabulary-size scalar anchor
    (an aggregate row count, model-state-sized).

    Output: (id, n_bigrams, improb) — improb = round(sum/1e6/n, 6),
    docs with < 2 tokens excluded (no bigram evidence).
    """
    from ursa_major_choir_etl_spark.caching import stage

    toked = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_t")
    ).filter(F.size("_t") >= 2)
    big = stage(
        toked.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - 2),
                    lambda i: F.struct(
                        F.concat_ws(
                            " ",
                            F.element_at("_t", (i + 1).cast("int")),
                            F.element_at("_t", (i + 2).cast("int")),
                        ).alias("g"),
                        F.element_at("_t", (i + 1).cast("int")).alias("w1"),
                    ),
                )
            ).alias("_b"),
        ).select(F.col(id_col), F.col("_b.g").alias("g"), F.col("_b.w1").alias("w1"))
    )
    c1 = stage(
        toked.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vocab_size = c1.count()  # scalar anchor: |vocab| rows, model state
    c2 = big.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        big.join(c2, "g")
        .join(c1, F.col("w1") == F.col("w"))
        .select(
            F.col(id_col),
            F.expr(f"((c1 + {vocab_size}L) * 1000000L) DIV (c2 + 1L)").alias("_s"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("_s") / (F.count(F.lit(1)) * F.lit(1_000_000)).cast("double"), 6
        ).alias("improb"),
    )


def kneser_ney_bigram_report(
    df: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """Interpolated Kneser–Ney smoothed bigram LM built over the
    corpus — the n-gram-LM estimator (Kneser & Ney 1995; Chen &
    Goodman 1998 eq. 4.25) every perplexity-based quality filter
    (CCNet-style) ultimately rests on. Reported for the ``top_n``
    most frequent bigram types:

        P_KN(w2|w1) = (c(w1,w2) - D) / c(w1·)
                      + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)

    with discount D = 3/4 so everything stays EXACT INTEGER
    (house q115/q143 rule — no float sums, no libm):

        p_kn_ppm = (4·c2 - 3)·1e6 DIV (4·c1)
                 + 3·n_fwd · (n_bwd·1e6 DIV B) DIV (4·c1)

    where c2 = bigram count, c1 = occurrences of w1 as a prefix,
    n_fwd = |{w : c(w1,w) > 0}| (continuation fan-out of w1),
    n_bwd = |{w : c(w,w2) > 0}| (KN continuation evidence for w2),
    B = total distinct bigram types. The nested floor is part of the
    spec and mirrored verbatim by the oracle.

    Scale: ONE corpus scan explodes bigram structs, then every
    aggregate/join is bigram-TYPE-sized (vocabulary-class state,
    orders of magnitude below corpus size at any SF); the only global
    sort is the top-n TakeOrdered. B is a type-count scalar anchor
    (model-state-sized, the q143 vocab_size precedent)."""
    toked = df.select(tokens(F.col(text_col)).alias("_t")).filter(
        F.size("_t") >= 2
    )
    big = (
        toked.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - 2),
                    lambda i: F.struct(
                        F.element_at("_t", (i + 1).cast("int")).alias("w1"),
                        F.element_at("_t", (i + 2).cast("int")).alias("w2"),
                    ),
                )
            ).alias("_b")
        )
        .select("_b.w1", "_b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    from ursa_major_choir_etl_spark.caching import stage

    big = stage(big)  # three aggregates + the join all read it
    c1 = big.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("n_fwd")
    )
    bwd = big.groupBy("w2").agg(F.count(F.lit(1)).alias("n_bwd"))
    n_bigram_types = big.count()  # scalar anchor: model-state-sized
    return (
        big.join(c1, "w1")
        .join(bwd, "w2")
        .select(
            "w1",
            "w2",
            "c2",
            "c1",
            "n_fwd",
            "n_bwd",
            F.expr(
                "CAST((4 * c2 - 3) * 1000000L DIV (4 * c1)"
                " + 3 * n_fwd"
                f"   * (n_bwd * 1000000L DIV {n_bigram_types}L)"
                "   DIV (4 * c1) AS BIGINT)"
            ).alias("p_kn_ppm"),
        )
        .orderBy(F.desc("c2"), "w1", "w2")
        .limit(top_n)
    )


#: Gopher rule-suite stopwords (Rae et al. 2021 §A1.1: "the, be, to,
#: of, and, that, have, with" — the doc must contain >= 2 of them).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style quality rule suite (Rae et al. 2021, §A1.1): the
    seven public document-level filters as independent flags plus the
    conjunction — the standard pretraining "repetition-free, mostly
    words, reads like prose" gate.

    Rules (each an integer cross-multiplied comparison — no float
    ratio ever compared to a threshold, so no ulp disagreement with
    the SQL oracle):
      f_word_count   min_words <= n_words <= max_words
      f_mean_len     3 <= word_chars/n_words <= 10
                     (as 3*n <= chars AND chars <= 10*n)
      f_symbol      (hash + ellipsis) / n_words <= 0.1
                     (as 10*n_sym <= n_words)
      f_bullet       lines starting with a bullet <= 90%
                     (as 10*n_bullet <= 9*n_lines)
      f_ellipsis     lines ending with ellipsis <= 30%
                     (as 10*n_ell_lines <= 3*n_lines)
      f_alpha        words containing an alphabetic char >= 80%
                     (as 10*n_alpha >= 8*n_words)
      f_stopwords    contains >= 2 distinct Gopher stopwords

    Scale shape: pure per-row column expressions — one corpus scan,
    zero shuffles, fully inside whole-stage codegen. The token array
    is materialized once per row and shared by the word rules.

    Output: (id, n_words, word_chars, n_symbols, n_alpha_words,
    n_stopwords, f_* x7, pass_gopher) — flags as int 0/1.
    """
    t = F.trim(F.col(text_col))
    toks = tokens(t)
    lines = F.split(F.col(text_col), r"\n")
    n_words = F.size(toks)
    word_chars = F.length(F.regexp_replace(t, r"\s", ""))
    n_symbols = F.regexp_count(t, F.lit(r"#|\.\.\.|…"))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    lowered = F.transform(toks, F.lower)
    n_stop = sum(
        (F.array_contains(lowered, w).cast("int") for w in GOPHER_STOPWORDS),
        start=F.lit(0),
    )
    n_lines = F.size(lines)
    trimmed_line = lambda x: F.ltrim(x)  # noqa: E731
    n_bullet = F.size(
        F.filter(lines, lambda x: trimmed_line(x).rlike(r"^([•\-\*])\s"))
    )
    n_ell = F.size(F.filter(lines, lambda x: F.rtrim(x).rlike(r"(\.\.\.|…)$")))
    flags = {
        "f_word_count": (n_words >= min_words) & (n_words <= max_words),
        "f_mean_len": (3 * n_words <= word_chars) & (word_chars <= 10 * n_words),
        "f_symbol": 10 * n_symbols <= n_words,
        "f_bullet": 10 * n_bullet <= 9 * n_lines,
        "f_ellipsis": 10 * n_ell <= 3 * n_lines,
        "f_alpha": 10 * n_alpha >= 8 * n_words,
        "f_stopwords": n_stop >= 2,
    }
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_symbols.cast("bigint").alias("n_symbols"),
        n_alpha.alias("n_alpha_words"),
        n_stop.cast("bigint").alias("n_stopwords"),
        *[c.cast("int").alias(name) for name, c in flags.items()],
    )
    all_pass = None
    for name in flags:
        cond = F.col(name) == 1
        all_pass = cond if all_pass is None else (all_pass & cond)
    return out.withColumn("pass_gopher", all_pass.cast("int"))


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    min_count: int = 5,
    k: int = 20,
    tokens_col: str | None = None,
) -> DataFrame:
    """Collocation mining: the top-``k`` adjacent word pairs per group
    ranked by pointwise mutual information — the phrases ("new york",
    "machine learning") a tokenizer team promotes to vocabulary units
    and a quality team watches for template floods (boilerplate pairs
    post enormous counts but near-zero PMI).

    PMI is scored in integer BITS with the house integer-log2
    (L(x) = length(bin(x)) - 1, as q115/q145):

        pmi_bits = L(c_ab) + L(n) - L(c_a) - L(c_b)

    — every term exact cross-engine, no libm. c_a/c_b are the left/
    right positional marginals of the bigram table and n its total,
    so the whole statistic derives from ONE bigram count; ties break
    on (pair count desc, words asc).

    Scale shape: one bigram explode + count keyed (group, w1, w2) is
    the only corpus-sized shuffle; marginals and totals aggregate the
    (much smaller) distinct-bigram table; the final selection runs
    through the salted bounded top-N, so a group's candidate set
    never lands in one task. min_count prunes the hapax tail before
    any join fan-out.
    """
    from ursa_major_choir_etl_spark.caching import stage
    from ursa_major_choir_etl_spark.operators.curation import (
        bounded_topn_per_key,
    )

    toked = df.select(
        F.col(group_col).alias("grp"),
        word_tokens(text_col, tokens_col).alias(
            "_t"
        ),
    ).filter(F.size("_t") >= 2)
    pairs = stage(
        toked.select(
            "grp",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_t") - 2),
                    lambda i: F.struct(
                        F.element_at("_t", (i + 1).cast("int")).alias("w1"),
                        F.element_at("_t", (i + 2).cast("int")).alias("w2"),
                    ),
                )
            ).alias("_p"),
        )
        .select("grp", "_p.w1", "_p.w2")
        .groupBy("grp", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    left = pairs.groupBy("grp", "w1").agg(F.sum("c_ab").alias("c_a"))
    right = pairs.groupBy("grp", "w2").agg(F.sum("c_ab").alias("c_b"))
    tot = pairs.groupBy("grp").agg(F.sum("c_ab").alias("n"))
    ilog2 = lambda c: F.length(F.bin(c)) - 1  # noqa: E731
    scored = (
        pairs.filter(F.col("c_ab") >= min_count)
        .join(left, ["grp", "w1"])
        .join(right, ["grp", "w2"])
        .join(tot, "grp")
        .select(
            "grp",
            "w1",
            "w2",
            F.col("c_ab").alias("pair_count"),
            (
                ilog2(F.col("c_ab"))
                + ilog2(F.col("n"))
                - ilog2(F.col("c_a"))
                - ilog2(F.col("c_b"))
            ).alias("pmi_bits"),
        )
    )
    return bounded_topn_per_key(
        scored,
        ["grp"],
        [
            F.col("pmi_bits").desc(),
            F.col("pair_count").desc(),
            F.col("w1").asc(),
            F.col("w2").asc(),
        ],
        cap=k,
        salt_on=F.concat_ws(" ", "w1", "w2"),
    ).select(
        F.col("grp").alias(group_col),
        "w1",
        "w2",
        "pair_count",
        "pmi_bits",
        "rank",
    )


def source_vocab_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    tokens_col: str | None = None,
) -> DataFrame:
    """Source-similarity matrix by vocabulary overlap: for every pair
    of sources, the exact Jaccard of their distinct alpha-token
    vocabularies in integer ppm — the cheap screen for syndicated /
    mirrored feeds (two sources sharing 90% of their vocabulary are
    usually one corpus wearing two names) before any per-doc fuzzy
    dedup runs.

    Scale shape: one explode + distinct builds the (group, token)
    vocabulary table — the only corpus-sized shuffle; intersections
    come from the vocabulary's self-join on the token key (fan-out
    bounded by n_groups^2 per token, independent of corpus size —
    this is a GROUP-pair matrix, not a doc-pair one); group vocab
    sizes are a group-cardinality table joined twice. Jaccard routes
    through DECIMAL(38,0).

    Output: (source_a, source_b, shared_tokens, vocab_a, vocab_b,
    jaccard_ppm) for pairs with >= 1 shared token, source_a <
    source_b.
    """
    vocab = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(
                word_tokens(text_col, tokens_col)
            ).alias("tok"),
        )
        .distinct()
    )
    sizes = vocab.groupBy("grp").agg(F.count(F.lit(1)).alias("vsize"))
    a = vocab.select(F.col("grp").alias("ga"), "tok")
    b = vocab.select(F.col("grp").alias("gb"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("shared_tokens"))
    )
    return (
        inter.join(sizes.withColumnRenamed("grp", "ga"), "ga")
        .withColumnRenamed("vsize", "vocab_a")
        .join(sizes.withColumnRenamed("grp", "gb"), "gb")
        .withColumnRenamed("vsize", "vocab_b")
        .select(
            F.col("ga").alias("source_a"),
            F.col("gb").alias("source_b"),
            "shared_tokens",
            "vocab_a",
            "vocab_b",
            F.expr(
                "CAST(CAST(shared_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV (vocab_a + vocab_b - shared_tokens) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


def positional_template_profile(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    n_positions: int = 10,
    tokens_col: str | None = None,
) -> DataFrame:
    """Template-lead detector: for each of the first ``n_positions``
    token slots per group, the modal token and its share — a source
    whose position-1..k modes hold 90%+ share is emitting templated
    leads ("BREAKING:", wire bylines, boilerplate openers) that
    per-doc dedup misses but positional statistics expose instantly.

    One explode of the first k tokens (bounded fan-out per doc) into
    a (group, position, token) count — the only corpus-sized
    shuffle — then a (group x k)-cardinality aggregate whose modal
    token resolves deterministically via max(struct(count, token)).
    share_ppm through DECIMAL(38,0).

    Output: (group, pos, top_token, top_count, n_docs_at_pos,
    share_ppm), pos 1-based.
    """
    toked = df.select(
        F.col(group_col).alias("grp"),
        F.slice(
            word_tokens(text_col, tokens_col),
            1,
            n_positions,
        ).alias("_t"),
    ).filter(F.size("_t") > 0)
    counts = (
        toked.select("grp", F.posexplode("_t").alias("_p0", "tok"))
        .select("grp", (F.col("_p0") + 1).alias("pos"), "tok")
        .groupBy("grp", "pos", "tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    return (
        counts.groupBy("grp", "pos")
        .agg(
            F.sum("_c").alias("n_docs_at_pos"),
            F.max(
                F.struct(F.col("_c").alias("c"), F.col("tok").alias("t"))
            ).alias("_top"),
        )
        .select(
            F.col("grp").alias(group_col),
            "pos",
            F.col("_top.t").alias("top_token"),
            F.col("_top.c").alias("top_count"),
            "n_docs_at_pos",
            F.expr(
                "CAST(CAST(_top.c AS DECIMAL(38,0)) * 1000000"
                " DIV n_docs_at_pos AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


def burstiness_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    min_df: int = 5,
    k: int = 20,
    tokens_col: str | None = None,
) -> DataFrame:
    """Church-Gale burstiness: for each group's top-``k`` tokens by
    collection frequency, the mean occurrences per CONTAINING doc
    (cf/df in integer ppm-of-occurrences) — content words burst
    (high cf/df: a doc about a topic repeats its terms), function
    words and templated boilerplate spread thin. The lexical
    statistic that separates topical vocabulary from glue.

    One tokenize pass builds per-(group, token, doc) counts; cf and
    df both aggregate from it (cf = sum of counts, df = row count),
    so raw text is read once. Selection runs the salted bounded
    top-N keyed by group. burst_ppm = cf * 1e6 DIV df.

    Output: (group, token, cf, df, burst_ppm, rank).
    """
    from ursa_major_choir_etl_spark.caching import stage
    from ursa_major_choir_etl_spark.operators.curation import (
        bounded_topn_per_key,
    )

    per_doc = stage(
        df.select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("_rid"),
            F.explode(
                word_tokens(text_col, tokens_col)
            ).alias("tok"),
        )
        .groupBy("grp", "_rid", "tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    stats = per_doc.groupBy("grp", "tok").agg(
        F.sum("_c").alias("cf"), F.count(F.lit(1)).alias("df")
    )
    scored = stats.filter(F.col("df") >= min_df).select(
        "grp",
        "tok",
        "cf",
        "df",
        F.expr("CAST(CAST(cf AS DECIMAL(38,0)) * 1000000 DIV df AS BIGINT)")
        .alias("burst_ppm"),
    )
    return bounded_topn_per_key(
        scored,
        ["grp"],
        [F.col("cf").desc(), F.col("tok").asc()],
        cap=k,
        salt_on=F.col("tok"),
    ).select(
        F.col("grp").alias(group_col), "tok", "cf", "df", "burst_ppm", "rank"
    )
