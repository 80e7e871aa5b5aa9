"""Data-quality operators (SURVEY §2.10, incl. the E5 `bad_cells`
quarantine the reference spec'd but never implemented —
docs/data_contract.md:195-206).

`bad_cells` is a side output: the same melt that feeds the facts,
filtered to cells that fail their parse rule, written append-mode so a
failed run leaves forensics behind. One row per invalid source cell:
(entity_type, tag, who, rehearsal_date, raw_value, error_reason, run_ts).
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.functions.columns import parse_decimal_comma
from ursa_major_choir_etl_spark.operators.dims import chorister_rows, song_rows
from ursa_major_choir_etl_spark.operators.facts import (
    date_columns_iso,
    raw_date_headers,
)
from ursa_major_choir_etl_spark.sources.io import local_frame

BAD_CELLS_COLUMNS = [
    "entity_type",
    "tag",
    "who",
    "rehearsal_date",
    "raw_value",
    "error_reason",
    "run_ts",
]


def build_bad_cells(raw: DataFrame, run_ts: str) -> DataFrame:
    """All source cells that violate their entity's parse contract.

    Chorister cells: non-empty must parse as a non-negative number
    (strict E1 rule). Song cells: non-numeric non-empty cells are
    quarantined (the reference silently skips them — here they become
    observable without changing fact_song_time's semantics).
    """
    spark = raw.sparkSession
    empty = local_frame(spark, [], ", ".join(f"{c} string" for c in BAD_CELLS_COLUMNS))
    if not {"Tag", "Who"} <= set(raw.columns):
        return empty

    def melt(rows: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
        m = rows.unpivot(
            ids=["_tag_out", "_who_out"],
            values=[f"`{h}`" for h, _ in pairs],
            variableColumnName="raw_header",
            valueColumnName="raw_value",
        )
        iso_map = F.create_map(
            *list(chain.from_iterable((F.lit(h), F.lit(d)) for h, d in pairs))
        )
        return m.withColumn("rehearsal_date", iso_map[F.col("raw_header")])

    parsed = parse_decimal_comma("raw_value")
    nonempty = F.col("raw_value").isNotNull() & (F.trim(F.col("raw_value")) != "")

    out = []
    iso_pairs = date_columns_iso(raw)
    if iso_pairs:
        ch = chorister_rows(raw).withColumn("_tag_out", F.col("_tag")).withColumn(
            "_who_out", F.col("full_name")
        )
        bad_ch = (
            melt(ch, iso_pairs)
            .filter(nonempty & (parsed.isNull() | (parsed < 0)))
            .select(
                F.lit("chorister").alias("entity_type"),
                F.col("_tag_out").alias("tag"),
                F.col("_who_out").alias("who"),
                "rehearsal_date",
                F.col("raw_value").cast("string").alias("raw_value"),
                F.when(parsed < 0, F.lit("negative hours"))
                .otherwise(F.lit("not a number"))
                .alias("error_reason"),
                F.lit(run_ts).alias("run_ts"),
            )
        )
        out.append(bad_ch)

    raw_pairs = [(h, h) for h in raw_date_headers(raw)]
    if raw_pairs:
        so = (
            song_rows(raw)
            .withColumn("_tag_out", F.trim("Tag"))
            .withColumn("_who_out", F.trim(F.coalesce(F.col("Who"), F.lit(""))))
        )
        bad_song = (
            melt(so, raw_pairs)
            .filter(nonempty & parsed.isNull())
            .select(
                F.lit("song").alias("entity_type"),
                F.col("_tag_out").alias("tag"),
                F.col("_who_out").alias("who"),
                "rehearsal_date",
                F.col("raw_value").cast("string").alias("raw_value"),
                F.lit("not a number").alias("error_reason"),
                F.lit(run_ts).alias("run_ts"),
            )
        )
        out.append(bad_song)

    if not out:
        return empty
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Table profile: per column, null count, distinct count, min and
    max — the pre-flight data-quality scan a pipeline runs before
    trusting a new drop of data.

    Two narrow hash-aggregate passes (nulls/min/max in one global
    agg; distincts via melt + two-phase distinct) joined on col_name
    — measured 2.5x faster than the single-agg form, whose
    multi-COUNT(DISTINCT) rewrite Expands every row (n_cols+1)-way
    into SortAggregates. min/max are taken on the native type, THEN
    cast to string for the uniform output schema — casting first
    would compare numbers lexically.
    ``exact_distinct=False`` swaps in approx_count_distinct (HLL) —
    at 100 TB the exact per-column distinct is usually not worth its
    shuffle; the default stays exact so results are oracle-checkable.

    Output: (col_name, n_rows, n_nulls, n_distinct, min_value,
    max_value), one row per profiled column.
    """
    cols = columns or df.columns
    # Pass 1: nulls/min/max for every column in one global aggregate.
    # Putting the countDistincts in the SAME agg would trigger the
    # multi-distinct rewrite: a (n_cols+1)-way Expand into triple
    # SortAggregate over composite keys (~2.5x slower measured).
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.extend(
            [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"_nn_{c}"),
                F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
                F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
            ]
        )
    wide = df.agg(*aggs)
    stack_args = list(
        chain.from_iterable(
            (
                F.lit(c),
                F.col(f"_nn_{c}"),
                F.col(f"_min_{c}"),
                F.col(f"_max_{c}"),
            )
            for c in cols
        )
    )
    base = wide.select(
        "n_rows",
        F.stack(F.lit(len(cols)), *stack_args).alias(
            "col_name", "n_nulls", "min_value", "max_value"
        ),
    )
    # Pass 2: distinct counts via melt -> two-phase hash aggregate
    # (partial distinct per partition, one shuffle of survivors).
    # Counting the STRING rendering == counting native values as long
    # as the cast is injective on the data (true for int/str/date/
    # timestamp; doubles except the -0.0/0.0 pair).
    melt_args = list(
        chain.from_iterable(
            (F.lit(c), F.col(c).cast("string")) for c in cols
        )
    )
    melted = df.select(
        F.stack(F.lit(len(cols)), *melt_args).alias("col_name", "value")
    )
    nd = F.countDistinct if exact_distinct else F.approx_count_distinct
    distincts = melted.groupBy("col_name").agg(nd("value").alias("n_distinct"))
    return (
        base.join(F.broadcast(distincts), "col_name")
        .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value")
    )


def robust_outlier_report(
    df: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    k: float = 3.0,
) -> DataFrame:
    """Median/MAD robust outlier screening per key — the data-quality
    monitor a pipeline runs over a metric stream before trusting it
    (mean/stddev break down exactly when the data is bad; the
    median/MAD pair has a 50% breakdown point).

    Two exact-percentile aggregation passes (median of the value,
    then median absolute deviation around it), then one scoring pass
    counting values with |v - med| > k * MAD. Both engines use the
    same interpolated exact median (Spark ``percentile`` == DuckDB
    ``quantile_cont``), and the outlier comparison quantizes both
    sides to 6dp first, so an exactly-on-threshold value cannot flip
    between engines on a last-ulp disagreement.

    Per-key medians are one row per key; the joins back onto the
    stream are key-equi joins Spark resolves as broadcasts while the
    key cardinality is small and as shuffle joins when it grows — no
    hard hint, deliberately.

    Output: (key, n_events, med_value, mad_value, n_outliers,
    max_abs_dev), 6dp.
    """
    # The median is ROUNDED 6dp BEFORE deviations are taken (and the
    # MAD likewise before the threshold product): the oracle, the
    # python mirror, and the streaming gate's persisted profile all
    # see the 6dp values, so the batch operator must derive its
    # deviations from the same quantized medians or sub-6dp inputs
    # diverge cross-engine (review finding, verified with DuckDB).
    med = df.groupBy(key_col).agg(
        F.round(F.percentile(value_col, F.lit(0.5)), 6).alias("_med")
    )
    with_med = df.join(med, key_col).withColumn(
        "_adev", F.abs(F.col(value_col) - F.col("_med"))
    )
    mad = with_med.groupBy(key_col).agg(
        F.round(F.percentile("_adev", F.lit(0.5)), 6).alias("_mad")
    )
    scored = with_med.join(mad, key_col)
    is_out = F.round(F.col("_adev"), 6) > F.round(F.lit(k) * F.col("_mad"), 6)
    return scored.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.min("_med"), 6).alias("med_value"),
        F.round(F.min("_mad"), 6).alias("mad_value"),
        F.sum(is_out.cast("bigint")).alias("n_outliers"),
        F.round(F.max("_adev"), 6).alias("max_abs_dev"),
    )


def _card_projection(
    df: DataFrame,
    text_col: str,
    domain_col: str,
) -> DataFrame:
    """The scored per-doc projection both card builders aggregate:
    ONE definition, so the batch dataset card and the streaming card
    store can never silently disagree on what the metrics mean
    (review finding — three copies previously had to be edited in
    lockstep)."""
    from ursa_major_choir_etl_spark.operators import text as t
    from ursa_major_choir_etl_spark.operators.text import normalized_text

    return df.select(
        F.col(domain_col).alias("_dom"),
        t.token_count(text_col).alias("_tc"),
        F.round(t.quality_score(text_col) * 1_000_000, 0)
        .cast("bigint")
        .alias("_qppm"),
        t.language_id(text_col).alias("_lang"),
        F.md5(normalized_text(text_col)).alias("_fp"),
        (
            (t.pii_count(text_col, "url")
             + t.pii_count(text_col, "email")
             + t.pii_count(text_col, "phone")) > 0
        ).cast("bigint").alias("_pii"),
    )


def stack_metrics(agg: DataFrame, metrics: list) -> DataFrame:
    """One wide aggregate row -> tall (metric, value) via stack: a
    single plan branch instead of an n-way union. Shared by the batch
    card and the streaming card store reader."""
    wide = agg.select(*[expr.alias(name) for name, expr in metrics])
    stack_args = ", ".join(f"'{name}', {name}" for name, _ in metrics)
    return wide.select(
        F.expr(f"stack({len(metrics)}, {stack_args}) AS (metric, value)")
    )


def dataset_card(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
) -> DataFrame:
    """The dataset card: the one-page metric table a corpus release
    publishes (docs/tokens, source/language breadth, quality,
    duplication, PII exposure) — every number derived in ONE pass
    over a staged scored projection plus a single global aggregate.

    Cross-engine exactness: every ratio is ONE IEEE division of
    exact integer aggregates (counts, integer-ppm quality sums) —
    no multi-term float accumulation whose order could differ
    between engines — rounded 6dp.

    Output: (metric, value) — tall, double-typed, stable order by
    metric name under the driver's sorted compare.
    """
    from ursa_major_choir_etl_spark.caching import stage

    scored = stage(_card_projection(df, text_col, domain_col))
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tc").alias("n_tokens"),
        F.count_distinct("_dom").alias("n_sources"),
        F.count_distinct("_lang").alias("n_langs"),
        F.sum((F.col("_lang") == "en").cast("bigint")).alias("n_en"),
        F.sum("_qppm").alias("q_ppm_sum"),
        F.count_distinct("_fp").alias("n_distinct_fp"),
        F.sum("_pii").alias("n_pii"),
    )
    nd = F.col("n_docs").cast("double")
    metrics = [
        ("n_docs", F.col("n_docs").cast("double")),
        ("n_tokens", F.col("n_tokens").cast("double")),
        ("mean_doc_tokens", F.round(F.col("n_tokens") / nd, 6)),
        ("n_sources", F.col("n_sources").cast("double")),
        ("n_langs_predicted", F.col("n_langs").cast("double")),
        ("pct_en_predicted", F.round(F.col("n_en") / nd, 6)),
        (
            "mean_quality",
            F.round(
                F.col("q_ppm_sum").cast("double") / (nd * 1_000_000.0), 6
            ),
        ),
        (
            "exact_dup_rate",
            F.round(1.0 - F.col("n_distinct_fp") / nd, 6),
        ),
        ("pii_doc_rate", F.round(F.col("n_pii") / nd, 6)),
    ]
    return stack_metrics(agg, metrics)


def card_batch_row(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    lgk: int = 12,
) -> DataFrame:
    """One mergeable dataset-card row: the ADDITIVE card components
    (doc/token/en/pii counts, integer-ppm quality sum) plus HLL
    sketches for the distinct-valued ones (sources, languages,
    content fingerprints). sum() the additive columns and
    hll_union_agg() the sketches across any set of rows and the
    merged row describes the union corpus — the shape a streaming
    card store persists per batch (see
    streaming.jobs.streaming_card_sink)."""
    scored = _card_projection(df, text_col, domain_col)
    return scored.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tc").alias("n_tokens"),
        F.sum((F.col("_lang") == "en").cast("bigint")).alias("n_en"),
        F.sum("_qppm").alias("q_ppm_sum"),
        F.sum("_pii").alias("n_pii"),
        F.hll_sketch_agg("_dom", F.lit(lgk)).alias("sources_hll"),
        F.hll_sketch_agg("_lang", F.lit(lgk)).alias("langs_hll"),
        F.hll_sketch_agg("_fp", F.lit(lgk)).alias("fp_hll"),
    )


def snapshot_delta_report(
    prev: DataFrame,
    curr: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    fp_col: str = "fp",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Corpus snapshot diff: per group, how version ``curr`` differs
    from version ``prev`` — the audit a training-data team publishes
    with every corpus release (what changed since the snapshot the
    last model was trained on).

    Inputs are two per-doc frames (id, group, content fingerprint,
    token count). Classification per id: in curr only -> added; in
    prev only -> removed; in both with differing fingerprints ->
    modified; else unchanged. The report aggregates counts, token
    flows (tokens_added from curr's side, tokens_removed from prev's
    side, net token_delta), and churn_ppm = docs touched per million
    docs in the union.

    Scale shape: ONE sort-merge full-outer join on the id — the only
    data-sized shuffle; both sides arrive hash-partitioned on the
    same key so no replan is needed — followed by a group-cardinality
    aggregate. No windows, no collects. churn_ppm routes through
    DECIMAL(38,0) so 100 TB token counts cannot overflow the ppm
    multiply.
    """
    p = prev.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_pg"),
        F.col(fp_col).alias("_pfp"),
        F.col(tokens_col).cast("bigint").alias("_pt"),
    )
    c = curr.select(
        F.col(id_col).alias("_id"),
        F.col(group_col).alias("_cg"),
        F.col(fp_col).alias("_cfp"),
        F.col(tokens_col).cast("bigint").alias("_ct"),
    )
    added = F.col("_pfp").isNull()
    removed = F.col("_cfp").isNull()
    modified = ~added & ~removed & (F.col("_pfp") != F.col("_cfp"))
    unchanged = ~added & ~removed & (F.col("_pfp") == F.col("_cfp"))
    return (
        p.join(c, "_id", "full_outer")
        .select(
            F.coalesce("_cg", "_pg").alias(group_col),
            added.cast("bigint").alias("_a"),
            removed.cast("bigint").alias("_r"),
            modified.cast("bigint").alias("_m"),
            unchanged.cast("bigint").alias("_u"),
            F.when(added, F.col("_ct")).otherwise(F.lit(0)).alias("_ta"),
            F.when(removed, F.col("_pt")).otherwise(F.lit(0)).alias("_tr"),
            (F.coalesce("_ct", F.lit(0)) - F.coalesce("_pt", F.lit(0))).alias(
                "_td"
            ),
        )
        .groupBy(group_col)
        .agg(
            F.sum("_a").alias("n_added"),
            F.sum("_r").alias("n_removed"),
            F.sum("_m").alias("n_modified"),
            F.sum("_u").alias("n_unchanged"),
            F.sum("_ta").alias("tokens_added"),
            F.sum("_tr").alias("tokens_removed"),
            F.sum("_td").alias("token_delta"),
        )
        .withColumn(
            "churn_ppm",
            F.expr(
                "CAST(CAST(n_added + n_removed + n_modified AS DECIMAL(38,0))"
                " * 1000000 DIV (n_added + n_removed + n_modified"
                " + n_unchanged) AS BIGINT)"
            ),
        )
    )


def rank_agreement_report(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str = "source",
) -> DataFrame:
    """Exact Spearman rank correlation between two bounded-integer
    signals, per group — the calibration check a curation team runs
    before trusting one quality signal as a proxy for another (e.g.
    does doc length actually rank like lexical diversity?).

    Ties use the statistically correct AVERAGE ranks (Pearson on
    ranks), kept exact by working in integer "double-ranks"
    (2 * avg_rank) and centering by the group size: for a value v
    with histogram count c and cumulative count cum, every row of v
    carries dx = 2*cum - c - n, an integer. Centered products then
    bound by n^2, so DECIMAL(38,0) sums survive 1e12-row groups —
    the n*Sxy - Sx*Sy textbook form would overflow 38 digits there.

    Scale shape: ranks come from the per-group VALUE HISTOGRAM
    (groupBy count), so the only windows run over histogram rows —
    bounded by the signal's domain, never corpus-sized — and per-doc
    ranks arrive via two probe joins on (group, value). One final
    group-cardinality aggregate; the single float op is the IEEE
    sqrt in rho.

    Output: (group, n, rho_ppm) — rho in parts-per-million, NULL when
    either signal is constant within the group.
    """
    sig = df.select(
        F.col(group_col).alias("grp"),
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())

    def centered(col: str, out: str) -> DataFrame:
        h = sig.groupBy("grp", col).agg(F.count(F.lit(1)).alias("cnt"))
        w = (
            Window.partitionBy("grp")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        hc = h.withColumn("cum", F.sum("cnt").over(w))
        n = h.groupBy("grp").agg(F.sum("cnt").alias("n"))
        return hc.join(n, "grp").select(
            "grp",
            F.col(col),
            (2 * F.col("cum") - F.col("cnt") - F.col("n")).alias(out),
        )
    joined = sig.join(centered("x", "dx"), ["grp", "x"]).join(
        centered("y", "dy"), ["grp", "y"]
    )
    d38 = "DECIMAL(38,0)"
    agg = joined.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr(f"CAST(dx AS {d38}) * dx")).alias("_sxx"),
        F.sum(F.expr(f"CAST(dy AS {d38}) * dy")).alias("_syy"),
        F.sum(F.expr(f"CAST(dx AS {d38}) * dy")).alias("_sxy"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n",
        F.when(
            (F.col("_sxx") > 0) & (F.col("_syy") > 0),
            F.expr(
                "CAST(round(CAST(_sxy AS DOUBLE) * 1000000.0"
                " / (sqrt(CAST(_sxx AS DOUBLE)) * sqrt(CAST(_syy AS DOUBLE))))"
                " AS BIGINT)"
            ),
        ).alias("rho_ppm"),
    )


def k_anonymity_report(
    df: DataFrame,
    qi_cols: list[str],
) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns: how many
    documents sit in equivalence classes so small they are
    re-identifiable — the governance report a corpus publisher runs
    before releasing "anonymized" data (a class of size 1 means its
    combination of quasi-identifiers singles a record out).

    Classes are the exact groupBy over ``qi_cols``; the report
    buckets class sizes into the standard risk tiers (1 / 2-4 / 5-9 /
    10+) with doc counts and docs_ppm per tier. Two aggregates — one
    corpus-sized shuffle on the QI tuple, one over the (much smaller)
    class table; ppm through DECIMAL(38,0).

    Output: (k_bucket, n_classes, n_docs, docs_ppm), k_bucket in
    {'1', '2-4', '5-9', '10+'}.
    """
    classes = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("_sz"))
    bucket = (
        F.when(F.col("_sz") == 1, F.lit("1"))
        .when(F.col("_sz") <= 4, F.lit("2-4"))
        .when(F.col("_sz") <= 9, F.lit("5-9"))
        .otherwise(F.lit("10+"))
    )
    tiers = classes.select(bucket.alias("k_bucket"), "_sz").groupBy(
        "k_bucket"
    ).agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("_sz").alias("n_docs"),
    )
    total = tiers.agg(F.sum("n_docs").alias("_t"))
    return tiers.crossJoin(F.broadcast(total)).select(
        "k_bucket",
        "n_classes",
        "n_docs",
        F.expr(
            "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 DIV _t"
            " AS BIGINT)"
        ).alias("docs_ppm"),
    )


def gini_concentration(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Exact Gini concentration of an integer quantity per group —
    the inequality number behind "is this event type driven by a
    handful of power users" / "do three domains own the corpus".

    Computed from the VALUE HISTOGRAM with tie-aware average ranks
    in integer double-rank form (the q150 machinery):

        gini_ppm = (sum(x * dr) * 1e6) DIV (n * sum(x))
                   - ((n + 1) * 1e6) DIV n

    where dr = 2*cum - cnt + 1 is twice the average ascending rank
    of value x. Equal distribution -> 0; total concentration ->
    ~1e6 * (n-1)/n. Every term is integer (DECIMAL(38,0) products),
    both engines floor identically, and windows only run over
    histogram rows.

    Output per group: (group, n_entities, total, gini_ppm) — groups
    with sum(x) = 0 report NULL.
    """
    vals = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("bigint").alias("_x"),
    )
    h = vals.groupBy("grp", "_x").agg(F.count(F.lit(1)).alias("_cnt"))
    w = (
        Window.partitionBy("grp")
        .orderBy("_x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hc = h.withColumn("_cum", F.sum("_cnt").over(w))
    return (
        hc.groupBy("grp")
        .agg(
            F.sum("_cnt").alias("n_entities"),
            F.sum(F.expr("CAST(_x AS DECIMAL(38,0)) * _cnt")).alias("_sx"),
            F.sum(
                F.expr(
                    "CAST(_x AS DECIMAL(38,0)) * _cnt"
                    " * (2 * _cum - _cnt + 1)"
                )
            ).alias("_sxdr"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_entities",
            F.expr("CAST(_sx AS BIGINT)").alias("total"),
            F.expr(
                "CASE WHEN _sx > 0 THEN CAST("
                " _sxdr * 1000000 DIV (n_entities * _sx)"
                " - CAST(n_entities + 1 AS DECIMAL(38,0)) * 1000000"
                "   DIV n_entities"
                " AS BIGINT) END"
            ).alias("gini_ppm"),
        )
    )


def fellegi_sunter_pattern_weights(
    df: DataFrame,
    fields: list[str],
    m_ppm: dict[str, int],
) -> DataFrame:
    """Fellegi–Sunter probabilistic record-linkage weights (Fellegi &
    Sunter 1969) computed WITHOUT materializing a single candidate
    pair: the count of record pairs whose agreement pattern is
    exactly S comes from inclusion–exclusion over "agree on at least
    T ⊇ S" counts, and each of those is just Σ C(n,2) over the group
    sizes of a GROUP BY T — all 2^k subsets in ONE cube pass. Pair
    enumeration is quadratic in block size and is the reason naive
    linkage dies at scale; this is the survey-methodology formulation
    that never leaves aggregate land (pair counts through
    DECIMAL(38,0), so 1e10-row inputs cannot overflow).

    u-probabilities (chance agreement among ALL pairs) are estimated
    from the data itself — u_i = A({i}) / A(∅), the value-frequency
    estimator — while m-probabilities (agreement given a true match)
    are the caller's model of the duplicate process, passed in ppm.
    The FS agreement weight for pattern S is the likelihood ratio

        W(S) = Π_{i∈S} m_i/u_i · Π_{i∉S} (1-m_i)/(1-u_i)

    reported as exact-integer milli (numerator/denominator products
    stay in DECIMAL(38,0); one floor division at the end).

    Output: one row per agreement pattern — (pattern, n_agree,
    n_pairs_exact, n_pairs_at_least, fs_weight_milli), ordered by
    n_agree desc then pattern. 2^k rows total.
    """
    from ursa_major_choir_etl_spark.caching import stage

    k = len(fields)
    full = (1 << k) - 1
    pairs = F.expr("CAST(_n AS DECIMAL(38,0)) * (_n - 1) DIV 2")
    at_least = stage(
        df.cube(*fields)
        .agg(
            F.grouping_id().alias("_gid"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select("_gid", pairs.alias("_p"))
        .groupBy("_gid")
        .agg(F.sum("_p").alias("_at"))
    )
    # Inclusion–exclusion over the subset lattice: gid bit=1 means
    # the field is ROLLED UP (absent from S), so T ⊇ S as field sets
    # ⇔ (gid_T & gid_S) == gid_T. 2^k x 2^k broadcast self-join.
    s = at_least.select(F.col("_gid").alias("_gs"))
    t = at_least.select(
        F.col("_gid").alias("_gt"), F.col("_at").alias("_att")
    )
    sign = F.when(
        F.pmod(F.bit_count("_gs") - F.bit_count("_gt"), F.lit(2)) == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    exact = (
        s.join(
            F.broadcast(t),
            F.col("_gt").bitwiseAND(F.col("_gs")) == F.col("_gt"),
        )
        .groupBy("_gs")
        .agg(F.sum(sign * F.col("_att")).alias("_ex"))
    )
    # One broadcast row of scalar model state: total pairs + the k
    # single-field "at least" counts -> u_i in ppm.
    urow = at_least.filter(F.col("_gid") == full).select(
        F.col("_at").alias("_tot")
    )
    for i in range(k):
        gi = full ^ (1 << (k - 1 - i))
        urow = urow.crossJoin(
            at_least.filter(F.col("_gid") == gi).select(
                F.col("_at").alias(f"_a{i}")
            )
        )
    urow = urow.select(
        *[
            F.expr(f"CAST(_a{i} * 1000000 DIV _tot AS BIGINT)").alias(
                f"_u{i}"
            )
            for i in range(k)
        ]
    )
    agree = [
        (
            F.shiftrightunsigned(F.col("_gs"), k - 1 - i)
            .bitwiseAND(F.lit(1))
            == 0
        )
        for i in range(k)
    ]
    num = F.lit(1).cast("decimal(38,0)")
    den = F.lit(1).cast("decimal(38,0)")
    for i, f in enumerate(fields):
        m = int(m_ppm[f])
        num = num * F.when(agree[i], F.lit(m)).otherwise(
            F.lit(1_000_000 - m)
        )
        den = den * F.when(agree[i], F.col(f"_u{i}")).otherwise(
            F.lit(1_000_000) - F.col(f"_u{i}")
        )
    pattern = F.concat_ws(
        ",",
        F.filter(
            F.array(
                *[
                    F.when(agree[i], F.lit(f)).otherwise(F.lit(None))
                    for i, f in enumerate(fields)
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    return (
        exact.join(at_least, F.col("_gs") == F.col("_gid"))
        .crossJoin(F.broadcast(urow))
        .select(
            pattern.alias("pattern"),
            (F.lit(k) - F.bit_count("_gs")).alias("n_agree"),
            F.expr("CAST(_ex AS BIGINT)").alias("n_pairs_exact"),
            F.expr("CAST(_at AS BIGINT)").alias("n_pairs_at_least"),
            (num * 1000).alias("_num"),
            den.alias("_den"),
        )
        .withColumn(
            "fs_weight_milli",
            F.expr(
                "CASE WHEN _den > 0 THEN CAST(_num DIV _den AS BIGINT) END"
            ),
        )
        .drop("_num", "_den")
        .orderBy(F.desc("n_agree"), "pattern")
    )


def eb_shrunk_rates(
    outcomes: DataFrame,
    group_col: str,
    event_col: str,
) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-group event
    rates — the small-sample correction every rate leaderboard needs
    (a supplier with 2/3 returns must not outrank one with 200/400):
    each group's raw rate is pulled toward the global mean with
    strength proportional to the method-of-moments prior, so
    low-volume groups shrink hard and high-volume groups barely move.

    Quantized method of moments, all integer (both engines floor
    identically so the output value-hashes):

        p_i     = x_i * 1e6 DIV n_i                  (raw rate, ppm)
        m       = sum(p_i) DIV G                     (prior mean, ppm)
        v       = sum((p_i - m)^2) DIV G             (rate variance, ppm^2)
        K_u     = m * (1e6 - m) * 1e6 DIV v - 1e6    (prior strength
                                                      alpha+beta, micro)
        alpha_u = m * K_u DIV 1e6
        shrunk  = (x_i * 1e6 + alpha_u) * 1e6 DIV (n_i * 1e6 + K_u)

    Degenerate guards: v == 0 (all groups share one rate) shrinks
    fully to m; K_u <= 0 (between-group variance at or above the
    binomial ceiling — the prior carries no information) leaves the
    raw rate untouched.

    100 TB shape: ONE data-sized shuffle (the group aggregate); the
    prior is two tiny passes over the group-cardinality frame, each
    reduced to a single broadcast row. Output: one row per group
    (group, n_obs, n_events, raw_ppm, shrunk_ppm).
    """
    from ursa_major_choir_etl_spark.caching import stage

    ev = F.col(event_col).cast("long")
    g = stage(
        outcomes.groupBy(F.col(group_col).alias("group_key")).agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum(ev).alias("n_events"),
        )
        .withColumn(
            "raw_ppm",
            F.expr(
                "CAST(CAST(n_events AS DECIMAL(38,0)) * 1000000"
                " DIV n_obs AS BIGINT)"
            ),
        )
    )
    s1 = g.agg(
        F.sum("raw_ppm").alias("_sp"), F.count(F.lit(1)).alias("_g")
    ).withColumn("_m", F.expr("_sp DIV _g"))
    g2 = g.crossJoin(F.broadcast(s1))
    s2 = g2.agg(
        F.sum(
            F.expr(
                "CAST(raw_ppm - _m AS DECIMAL(38,0)) * (raw_ppm - _m)"
            )
        ).alias("_ssd"),
        F.max("_g").alias("_g2"),
    ).withColumn("_v", F.expr("CAST(_ssd DIV _g2 AS DECIMAL(38,0))"))
    out = g2.crossJoin(F.broadcast(s2)).withColumn(
        "_ku",
        F.expr(
            "CASE WHEN _v > 0 THEN"
            " CAST(_m AS DECIMAL(38,0)) * (1000000 - _m) * 1000000"
            "   DIV _v - 1000000"
            " END"
        ),
    )
    return out.select(
        F.col("group_key").alias(group_col),
        "n_obs",
        "n_events",
        "raw_ppm",
        F.expr(
            "CASE"
            " WHEN _v = 0 THEN _m"
            " WHEN _ku <= 0 THEN raw_ppm"
            " ELSE CAST("
            "   (CAST(n_events AS DECIMAL(38,0)) * 1000000"
            "      + _m * _ku DIV 1000000) * 1000000"
            "   DIV (CAST(n_obs AS DECIMAL(38,0)) * 1000000 + _ku)"
            " AS BIGINT) END"
        ).alias("shrunk_ppm"),
    )


def isotonic_calibration(
    labeled: DataFrame,
    bin_col: str,
    label_col: str,
    n_bins: int,
    *,
    increasing: bool = True,
) -> DataFrame:
    """Monotone (isotonic/antitonic) calibration of a binned score
    against a binary label via the closed-form minimax (pool-adjacent-
    violators) solution — the PAVA fit a ranking team applies before a
    score threshold becomes a probability gate.

    ``bin_col`` must already be an integer bin in [0, n_bins); the
    weighted least-squares isotonic fit over bin means is

        iso_i = max_{a<=i} min_{b>=i} rate(a..b)

    (Robertson–Wright minimax characterization). Because floor is
    monotone and max/min over a finite set commute with monotone
    functions, quantizing every interval rate to floor-ppm FIRST
    yields exactly floor(1e6 * iso_i) — so the fit value-hashes across
    engines with no float ever computed. ``increasing=False`` fits a
    non-increasing curve by reflecting the bin index.

    100 TB shape: one data-sized histogram aggregate (n_bins rows);
    the interval grid is n_bins^2 rows and the (i, a, b) enumeration
    n_bins^3 — fixed by the bin count, independent of the corpus, and
    assembled from broadcast self-joins of the bounded histogram.
    Output: one row per bin (bin, n_obs, n_events, raw_ppm, iso_ppm).
    """
    lab = F.col(label_col).cast("long")
    b = F.col(bin_col).cast("int")
    order = b if increasing else (F.lit(n_bins - 1) - b)
    hist = labeled.groupBy(order.alias("_ob")).agg(
        F.max(b).alias("bin"),  # reflection-invariant original bin id
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(lab).alias("n_events"),
    )
    from ursa_major_choir_etl_spark.caching import stage

    hist = stage(hist)
    a = hist.select(
        F.col("_ob").alias("_a"),
        F.col("n_obs").alias("_na"),
        F.col("n_events").alias("_xa"),
    )
    # interval sums over [a..b]: join the bounded histogram to the
    # bounded (a, b) grid — every frame here is <= n_bins^2 rows.
    grid = (
        a.crossJoin(
            F.broadcast(hist.select(F.col("_ob").alias("_b")))
        ).filter(F.col("_a") <= F.col("_b"))
    )
    terms = grid.join(
        F.broadcast(
            hist.select(
                F.col("_ob").alias("_t"),
                F.col("n_obs").alias("_nt"),
                F.col("n_events").alias("_xt"),
            )
        ),
        (F.col("_t") >= F.col("_a")) & (F.col("_t") <= F.col("_b")),
    )
    rates = terms.groupBy("_a", "_b").agg(
        F.expr(
            "CAST(CAST(sum(_xt) AS DECIMAL(38,0)) * 1000000"
            " DIV sum(_nt) AS BIGINT)"
        ).alias("_rate")
    )
    spine = hist.select(
        F.col("_ob").alias("_i"),
        "bin",
        "n_obs",
        "n_events",
        F.expr(
            "CAST(CAST(n_events AS DECIMAL(38,0)) * 1000000"
            " DIV n_obs AS BIGINT)"
        ).alias("raw_ppm"),
    )
    # iso_i = max over a<=i of (min over b>=i of rate(a,b))
    inner = (
        spine.join(
            F.broadcast(rates),
            (F.col("_a") <= F.col("_i")) & (F.col("_b") >= F.col("_i")),
        )
        .groupBy("_i", "bin", "n_obs", "n_events", "raw_ppm", "_a")
        .agg(F.min("_rate").alias("_mn"))
    )
    return (
        inner.groupBy("_i", "bin", "n_obs", "n_events", "raw_ppm")
        .agg(F.max("_mn").alias("iso_ppm"))
        .select("bin", "n_obs", "n_events", "raw_ppm", "iso_ppm")
    )


def theil_sen_trend(
    series: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    *,
    slope_scale: int = 1000,
) -> DataFrame:
    """Theil–Sen robust trend per group: the median of all pairwise
    slopes (y_b - y_a) / (x_b - x_a), a <= 29.3% outlier-breakdown
    estimator that one corrupted month cannot swing the way OLS's
    single leverage point can (q59's regr_slope is the fragile
    counterpart).

    Integer contract: ``x_col``/``y_col`` are integers; each pairwise
    slope is quantized to floor-toward-zero ``dy * slope_scale DIV
    dx`` (both engines truncate integer division toward zero, verified
    for negative dy), and the reported slope is the LOWER MEDIAN —
    the element at row (n_pairs + 1) DIV 2 in slope order — so no
    half-valued float average of an even-count middle ever appears.

    Scale: intended for CALENDAR-BOUNDED series (monthly rollups —
    the pair blow-up is months^2 per group, fixed by the window, not
    the corpus). The pair join is a per-group equi-join, the median
    window is partitioned by group; neither is ever global.
    """
    pa = series.select(
        F.col(group_col).alias("_g"),
        F.col(x_col).alias("_xa"),
        F.col(y_col).alias("_ya"),
    )
    pb = series.select(
        F.col(group_col).alias("_g"),
        F.col(x_col).alias("_xb"),
        F.col(y_col).alias("_yb"),
    )
    pairs = pa.join(pb, "_g").filter(F.col("_xa") < F.col("_xb"))
    slopes = pairs.withColumn(
        "_s",
        F.expr(
            f"CAST(CAST(_yb - _ya AS DECIMAL(38,0)) * {slope_scale}"
            " DIV (_xb - _xa) AS BIGINT)"
        ),
    )
    w = Window.partitionBy("_g").orderBy(F.col("_s").asc())
    ranked = slopes.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_np", F.count(F.lit(1)).over(Window.partitionBy("_g"))
    )
    picked = ranked.filter(F.col("_rn") == F.expr("(_np + 1) DIV 2"))
    n_x = series.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).alias("n_points")
    )
    return picked.join(n_x, "_g").select(
        F.col("_g").alias(group_col),
        "n_points",
        F.col("_np").alias("n_pairs"),
        F.col("_s").alias("slope_scaled"),
    )


def kendall_tau_b(
    binned: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Tie-corrected Kendall rank correlation (tau-b) per group over
    PRE-BINNED integer signals — the concordance-probability
    companion to :func:`rank_agreement_report`'s Spearman rho (rho
    asks "are the rank LISTS linearly related", tau asks "if I take
    two random docs, how often do the two signals order them the same
    way" — the quantity a judge-agreement or ranker-vs-ranker readout
    actually wants).

    Binning is part of the contract: the pair counts come from the
    (x, y) CONTINGENCY CELLS, so work after the one histogram shuffle
    is |cells|² per group — bins² is fixed by the caller, independent
    of the corpus (the exact merge-sort tau needs a global sequential
    pass that doesn't distribute).

        C - D     = sum over cell pairs (a <x b) of n_a·n_b·sign
        tau-b     = (C - D) / sqrt((n0 - Tx)(n0 - Ty)),
        n0, Tx, Ty in DOUBLED form (n(n-1)) to stay integer

    The denominator isqrt uses the float-seeded two-correction
    pattern (q269): exact while (n0_2-Tx_2)(n0_2-Ty_2) < ~4e30, i.e.
    groups beyond ~5e7 rows drift sub-ppm — documented bound.
    Output: (group, n_rows, n_concordant, n_discordant, tau_b_ppm).
    """
    cells = binned.groupBy(
        F.col(group_col).alias("_g"),
        F.col(x_col).alias("_x"),
        F.col(y_col).alias("_y"),
    ).agg(F.count(F.lit(1)).alias("_n"))
    from ursa_major_choir_etl_spark.caching import stage

    cells = stage(cells)
    tots = cells.groupBy("_g").agg(F.sum("_n").alias("_nt"))
    mx = cells.groupBy("_g", "_x").agg(F.sum("_n").alias("_nx"))
    tx = mx.groupBy("_g").agg(
        F.sum(F.expr("CAST(_nx AS DECIMAL(38,0)) * (_nx - 1)")).alias(
            "_tx2"
        )
    )
    my = cells.groupBy("_g", "_y").agg(F.sum("_n").alias("_ny"))
    ty = my.groupBy("_g").agg(
        F.sum(F.expr("CAST(_ny AS DECIMAL(38,0)) * (_ny - 1)")).alias(
            "_ty2"
        )
    )
    a = cells.select("_g", F.col("_x").alias("_xa"), F.col("_y").alias("_ya"), F.col("_n").alias("_na"))
    b = cells.select("_g", F.col("_x").alias("_xb"), F.col("_y").alias("_yb"), F.col("_n").alias("_nb"))
    cd = (
        a.join(b, "_g")
        .filter(F.col("_xa") < F.col("_xb"))
        .groupBy("_g")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN _ya < _yb THEN"
                    " CAST(_na AS DECIMAL(38,0)) * _nb ELSE 0 END"
                )
            ).alias("_c"),
            F.sum(
                F.expr(
                    "CASE WHEN _ya > _yb THEN"
                    " CAST(_na AS DECIMAL(38,0)) * _nb ELSE 0 END"
                )
            ).alias("_d"),
        )
    )
    j = (
        tots.join(tx, "_g")
        .join(ty, "_g")
        .join(cd, "_g", "left")
        .withColumn("_c", F.coalesce("_c", F.lit(0)))
        .withColumn("_d", F.coalesce("_d", F.lit(0)))
        .withColumn(
            "_prod",
            F.expr(
                "(CAST(_nt AS DECIMAL(38,0)) * (_nt - 1) - _tx2)"
                " * (CAST(_nt AS DECIMAL(38,0)) * (_nt - 1) - _ty2)"
            ),
        )
        .withColumn(
            "_s0",
            F.expr("CAST(floor(sqrt(CAST(_prod AS DOUBLE))) AS DECIMAL(38,0))"),
        )
        .withColumn(
            "_s1",
            F.expr(
                "_s0 + (CASE WHEN (_s0 + 1) * (_s0 + 1) <= _prod"
                " THEN 1 ELSE 0 END)"
            ),
        )
        .withColumn(
            "_rt",
            F.expr("_s1 - (CASE WHEN _s1 * _s1 > _prod THEN 1 ELSE 0 END)"),
        )
    )
    return j.select(
        F.col("_g").alias(group_col),
        F.col("_nt").alias("n_rows"),
        F.expr("CAST(_c AS BIGINT)").alias("n_concordant"),
        F.expr("CAST(_d AS BIGINT)").alias("n_discordant"),
        F.expr(
            "CASE WHEN _rt > 0 THEN"
            " CAST((_c - _d) * 2000000 DIV _rt AS BIGINT) END"
        ).alias("tau_b_ppm"),
    )


def krippendorff_alpha_nominal(
    ratings: DataFrame,
    unit_col: str,
    value_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal metric) — inter-rater reliability
    that, unlike q218's two-rater Cohen kappa, handles ANY number of
    raters per unit INCLUDING missing ratings (a rater that abstains
    simply lowers that unit's m_u). ``ratings`` holds one row per
    (unit, rated value) occurrence; rater identity is irrelevant to
    alpha by construction.

    Quantized counting form (units with m_u >= 2 only):

        U_u  = m_u² - Σ_c n_uc²             (ordered disagreeing pairs)
        q_u  = U_u · 1e6 DIV (m_u - 1)      (per-unit micro term)
        S    = Σ_u q_u,  E = N² - Σ_c n_c²  (N = total ratings kept)
        alpha_ppm = 1e6 - S · (N - 1) DIV E

    The only non-exact step is the per-unit floor in q_u (sub-ppm per
    unit, identical in both engines — the Nelson–Aalen quantization
    rule). Shape: one (unit, value) aggregate, one unit aggregate,
    one value-marginal aggregate — all map-side-combinable; output is
    a single row (n_units, n_ratings, alpha_ppm).
    """
    uc = ratings.groupBy(
        F.col(unit_col).alias("_u"), F.col(value_col).alias("_v")
    ).agg(F.count(F.lit(1)).alias("_nuc"))
    from ursa_major_choir_etl_spark.caching import stage

    uc = stage(uc)
    per_u = (
        uc.groupBy("_u")
        .agg(
            F.sum("_nuc").alias("_mu"),
            F.sum(F.expr("CAST(_nuc AS DECIMAL(38,0)) * _nuc")).alias(
                "_sn2"
            ),
        )
        .filter(F.col("_mu") >= 2)
    )
    s = per_u.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("_mu").alias("_n"),
        F.sum(
            F.expr(
                "(CAST(_mu AS DECIMAL(38,0)) * _mu - _sn2) * 1000000"
                " DIV (_mu - 1)"
            )
        ).alias("_s"),
    )
    # value marginals over the SAME kept units
    nc = (
        uc.join(per_u.select("_u"), "_u")
        .groupBy("_v")
        .agg(F.sum("_nuc").alias("_nc"))
    )
    e = nc.agg(
        F.sum(F.expr("CAST(_nc AS DECIMAL(38,0)) * _nc")).alias("_se2")
    )
    return (
        s.crossJoin(F.broadcast(e))
        .withColumn(
            "_e", F.expr("CAST(_n AS DECIMAL(38,0)) * _n - _se2")
        )
        .select(
            "n_units",
            F.col("_n").alias("n_ratings"),
            F.expr(
                "CASE WHEN _e > 0 THEN"
                " CAST(1000000 - _s * (_n - 1) DIV _e AS BIGINT) END"
            ).alias("alpha_ppm"),
        )
    )


def rbo_topk(
    ranks: DataFrame,
    group_col: str,
    item_col: str,
    rank_a_col: str,
    rank_b_col: str,
    k: int = 10,
    p_tenths: int = 9,
) -> DataFrame:
    """Rank-biased overlap (Webber 2010) between two top-k rankings
    per group — the TOP-WEIGHTED list-similarity the rank-correlation
    pair (q150 Spearman, Kendall tau-b) cannot give: tau treats a
    swap at ranks 1-2 and a swap at ranks 99-100 identically, RBO
    weights depth d by p^(d-1), which is what "did the two scoring
    functions agree on the HEAD" actually asks.

    ``ranks`` holds one row per (group, item) with the item's rank
    under each ranking (NULL / absent = outside that top-k). The
    truncated RBO@k with p = p_tenths/10:

        overlap_d = |A_1..d  ∩  B_1..d|
                  = #items with max(rank_a, rank_b) <= d
        rbo_ppm   = sum_{d=1..k} overlap_d * 1e6 * (10-p10)
                                 * p10^(d-1)  DIV  (10^d * d)

    Every term is an exact integer floor (both engines agree), the
    per-term quantization rule shared with the Nelson-Aalen hazard.
    Shape: the depth enumeration is a k-row broadcast spine against
    the per-group max-rank histogram (<= k rows per group) — work
    after the ranking windows is groups x k^2, never data-sized.
    Output: (group, n_common, rbo_ppm) with n_common = overlap_k.
    """
    spark = ranks.sparkSession
    q = p_tenths
    m = (
        ranks.filter(
            F.col(rank_a_col).isNotNull() & F.col(rank_b_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("_g"),
            F.greatest(F.col(rank_a_col), F.col(rank_b_col)).alias("_m"),
        )
        .filter(F.col("_m") <= k)
        .groupBy("_g", "_m")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # The k-row depth spine is computed as EXACT Python integers and
    # shipped as literals: pow() is a float op, and a 1-ulp-low result
    # truncating on the BIGINT cast would silently break the
    # integer-exact contract for larger k / other p (round-11 ADVICE).
    # Python exponentiation is arbitrary-precision; createDataFrame
    # raises on a long overflow instead of truncating.
    depths = spark.createDataFrame(
        [
            (d, 1000000 * (10 - q) * q ** (d - 1), 10**d * d)
            for d in range(1, k + 1)
        ],
        "_d int, _num long, _den long",
    )
    terms = (
        m.join(F.broadcast(depths), F.col("_m") <= F.col("_d"))
        .groupBy("_g", "_d", "_num", "_den")
        .agg(F.sum("_c").alias("_ov"))
        .withColumn("_t", F.expr("_ov * _num DIV _den"))
    )
    groups = ranks.select(F.col(group_col).alias("_g")).distinct()
    agg = terms.groupBy("_g").agg(
        F.max(F.when(F.col("_d") == k, F.col("_ov"))).alias("n_common"),
        F.sum("_t").alias("rbo_ppm"),
    )
    return (
        groups.join(agg, "_g", "left")
        .select(
            F.col("_g").alias(group_col),
            F.coalesce("n_common", F.lit(0)).cast("long").alias("n_common"),
            F.coalesce("rbo_ppm", F.lit(0)).alias("rbo_ppm"),
        )
    )
