"""Deduplication operators for LLM-data pipelines (north-star set).

Five families, each distributed-by-construction:

- exact:       hash-groupBy on a normalization fingerprint (1 shuffle)
- minhash+LSH: shingle -> md5 minhash signature -> banded bucket join;
               only same-bucket pairs get a true-Jaccard verification
- simhash:     per-bit majority vote over token hashes; Hamming-near
               buckets join on rotated prefixes
- n-gram Jaccard: inverted shingle index self-join (classic candidate
               generation) with exact Jaccard on candidates
- embedding cosine: see operators/similarity.py
               (near_duplicate_pairs_blocked / _bucketed)

Determinism: all hashing is md5-derived (portable across engines) and
every window orders by an explicit key — no engine-native hash()/rand().

Scale notes: the shingle explode multiplies rows by ~tokens/doc; the
inverted-index join is the textbook quadratic risk, so hot shingles are
capped (df cap) exactly like production MinHash pipelines drop
stop-shingles. LSH band width tunes recall/cost without changing shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.operators.text import (
    normalized_text,
    tokens,
    widen_if_narrow,
    word_tokens,
)


def exact_duplicate_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized text: one row per distinct content,
    with the kept (minimum) id and the duplicate count."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_docs"),
        )
    )


def word_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    The token array is materialized as a column BEFORE the shingling
    lambda: referencing the raw tokenization expression inside
    transform() re-evaluates the whole normalize+split chain per array
    element (measured 32s -> <2s at sf0.1 for the same output). The
    normalize+shingle chain runs in the scan stage, so a narrow input
    is widened first (see text.widen_if_narrow).
    """
    df = widen_if_narrow(df)
    toked = df.select(
        F.col(id_col), tokens(normalized_text(text_col)).alias("_toks")
    )
    return (
        toked.select(
            F.col(id_col), F.explode(shingle_array(F.col("_toks"), n)).alias("shingle")
        )
        .distinct()
    )


def shingle_array(toks, n: int = 3):
    """Word n-gram array over a MATERIALIZED token-array column (see
    word_shingles on why the tokens must be a column, not an inline
    expression). Exposed separately so stateless consumers (the
    streaming decontamination probe) can shingle without the
    stream-incompatible global distinct()."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """MinHash signature per doc: minhash_k = min(md5(k || ':' || shingle)).

    md5-as-permutation is the portable stand-in for the (a*x+b) mod p
    family; lexicographic min over hex strings is a valid min-order.
    Output: (id, mh_0 .. mh_{num_hashes-1}).

    The k md5s are computed once per DISTINCT shingle and joined back,
    not per (doc, shingle) occurrence — shingle vocabulary is sublinear
    in corpus size, so this drops the md5 work by orders of magnitude
    at scale (measured ~2x wall at sf0.1). min() over identical values
    is unchanged, so the SQL oracle needs no adjustment.

    ``shingles`` feeds two branches (the distinct vocabulary and the
    join probe side); persisting it runs the shingle-generation
    expression chain once instead of twice.
    """
    from ursa_major_choir_etl_spark.caching import stage

    shingles = stage(shingles)
    hashed = shingles.select("shingle").distinct().select(
        "shingle",
        *[
            F.md5(F.concat_ws(":", F.lit(str(k)), F.col("shingle"))).alias(f"h_{k}")
            for k in range(num_hashes)
        ],
    )
    joined = shingles.join(hashed, on="shingle")
    return joined.groupBy(id_col).agg(
        *[F.min(f"h_{k}").alias(f"mh_{k}") for k in range(num_hashes)]
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Banded LSH: docs agreeing on ALL rows of any band become a
    candidate pair (id_a < id_b). One narrow explode + one equi-join
    per plan — the 100 TB path (no all-pairs comparison)."""
    from ursa_major_choir_etl_spark.caching import stage

    # The banded index is both sides of the self-join below; persist so
    # the signature pipeline (shingle + k md5 mins) runs once, not twice.
    # Size: docs x bands rows — small relative to the corpus. Tracked
    # via caching.stage so callers can release after materializing.
    signatures = stage(signatures)
    rows_per_band = num_hashes // bands
    band_cols = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
        ).alias("band_key")
        for b in range(bands)
    ]
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band_key")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def cross_corpus_contamination(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark-contamination check: which training documents share
    word n-grams with an evaluation/benchmark document, and how many.

    The standard pretraining hygiene pass (eval answers leaking into
    the training set). Shape: inverted-index equi-join on the shingle —
    the eval side is a benchmark (small by definition), so its shingle
    index is BROADCAST and the train corpus streams through map-side;
    no train-side shuffle at any corpus size. Output:
    (train_id, eval_id, n_shared) with n_shared >= ``min_shared``.
    """
    t_sh = word_shingles(train, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col).alias("train_id"), "shingle"
    )
    e_sh = word_shingles(eval_set, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col).alias("eval_id"), "shingle"
    )
    return (
        t_sh.join(F.broadcast(e_sh), on="shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def bloom_position_sql(j: int, col: str = "shingle", nibbles: int = 5) -> str:
    """Hash ``j``'s Bloom bit position of ``col`` as a PORTABLE SQL
    expression (identical text runs in Spark SQL and DuckDB): the
    first ``nibbles`` hex nibbles of md5('{j}:' || col), assembled by
    instr-based nibble arithmetic into an integer in [0, 16^nibbles).
    Shared by the Spark operator (via F.expr) and the DuckDB oracle,
    so the bit positions agree bit-for-bit by construction."""
    # Weights are BIGINT literals: with nibbles > 7 the int32 product
    # 15 * 16^7 overflows under ANSI mode; the cast keeps the whole
    # sum in long arithmetic for any nibble count (values unchanged
    # for the small-nibble callers).
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5('{j}:' || {col}), {i + 1}, 1)) - 1)"
        f" * CAST({16 ** (nibbles - 1 - i)} AS BIGINT)"
        for i in range(nibbles)
    )
    return f"({terms})"


def bloom_contamination(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
    k_hashes: int = 3,
    nibbles: int = 5,
) -> DataFrame:
    """Benchmark decontamination via a Bloom-filter membership probe —
    the sketch-based sibling of ``cross_corpus_contamination``.

    The eval corpus's word n-grams are folded into a Bloom filter of
    m = 16^``nibbles`` bits with ``k_hashes`` md5-derived hash
    functions; every training n-gram probes the filter and a gram is
    flagged when ALL k bits are set. Output per contaminated training
    doc: (train_id, n_flagged, n_grams, flag_rate), n_flagged >= 1.

    Why this exists next to the exact join (q78): at the 100 TB design
    point the exact variant broadcasts the eval GRAM STRINGS and joins
    train grams on strings; the Bloom filter compresses the eval side
    to a set of distinct INT bit positions (k per distinct gram,
    duplicates collapse) that is orders of magnitude smaller and joins
    on an integer key — the train corpus streams through map-side with
    AQE free to broadcast the bit set at any eval-benchmark size. The
    price is a deterministic false-positive rate (~(set_bits/m)^k),
    which for decontamination is the SAFE direction: it can only
    over-flag. Both the bit set and every probe are exact integer
    md5-nibble arithmetic (``bloom_position_sql``), so a SQL oracle
    reproduces the flags — false positives included — bit-for-bit.

    Scale the filter by raising ``nibbles`` (m multiplies by 16): the
    probe side's cost is unchanged (k md5s per distinct gram either
    way) and the bit set stays ~k x distinct-eval-grams ints.
    """
    t_sh = word_shingles(train, id_col=id_col, text_col=text_col, n=n).select(
        F.col(id_col).alias("train_id"), "shingle"
    )
    e_sh = word_shingles(eval_set, id_col=id_col, text_col=text_col, n=n).select(
        "shingle"
    ).distinct()
    pos_arr = F.array(
        *[F.expr(bloom_position_sql(j, "shingle", nibbles)) for j in range(k_hashes)]
    )
    bits = e_sh.select(F.explode(pos_arr).alias("pos")).distinct()
    probe = t_sh.select("train_id", "shingle", F.explode(pos_arr).alias("pos"))
    # ONE pass over the train grams: LEFT join against the bit set
    # keeps every probe row, so the same stream yields both the hit
    # counts and the per-doc gram totals — no second consumer, no
    # persist to leak (round-6 ADVICE: the old two-consumer layout
    # cached the shingle stage for the session lifetime). A gram is
    # flagged iff all k probes hit set bits. count of hits, not
    # count(distinct): if two hashes of one gram collide on a
    # position, the probe side carries that row twice and both match
    # — the hit count per (doc, gram) is k exactly when every probe
    # hit. The bit set stays a compact int table AQE can broadcast.
    per_gram = (
        probe.join(bits.withColumn("_hit", F.lit(1)), "pos", "left")
        .groupBy("train_id", "shingle")
        .agg((F.count("_hit") == k_hashes).cast("int").alias("_flagged"))
    )
    return (
        per_gram.groupBy("train_id")
        .agg(
            F.sum("_flagged").alias("n_flagged"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .filter(F.col("n_flagged") >= 1)
        .select(
            "train_id",
            "n_flagged",
            "n_grams",
            F.round(F.col("n_flagged") / F.col("n_grams"), 6).alias("flag_rate"),
        )
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Transitive closure of a near-duplicate pair list into dedup
    CLUSTERS: (node, component), component = min node id reachable.
    A pair list alone under-deduplicates (A~B, B~C but A!~C leaves two
    "keep" rows from the same cluster); training-data dedup needs the
    transitive groups.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; converges when a
    round changes nothing (<= graph diameter rounds — near-dup
    clusters are shallow). Each round is one shuffle join + one
    aggregate; ``localCheckpoint`` truncates the lineage so the plan
    doesn't grow per iteration (the classic iterative-Spark failure
    mode). For graphs with long chains at 100 TB, swap the propagation
    body for large-star/small-star (O(log n) rounds) — same driver
    loop, same contract.

    Only nodes that appear in ``pairs`` are labeled (singletons are
    their own trivial cluster and never needed the closure).
    """
    # Materialize the edge list ONCE — it is re-joined every round, and
    # without the checkpoint each round would re-execute the entire
    # upstream pair-generation pipeline (measured 13s -> ~3s at sf0.01
    # with shingle-jaccard pairs upstream).
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    # Seed labels with round 1 already folded in: from self-labels the
    # first propagation round yields exactly min(node, min neighbor),
    # which this single aggregate computes directly — one fewer
    # join+union round through the loop for the same fixpoint (the
    # propagation is monotone from ANY labeling >= the fixpoint).
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.col("src"), F.min("dst")).alias("component"))
        .localCheckpoint(eager=True)
    )
    # Convergence check: one cheap agg over the just-checkpointed
    # labels instead of a per-round labels-to-labels join. A bit_xor
    # of per-row 64-bit hashes is type-agnostic (a plain sum(component)
    # would be NULL for string ids, and NULL == NULL "converges" after
    # one round with under-merged clusters) and cannot overflow under
    # ANSI mode the way sum() can.
    def _state(lab):
        return lab.agg(
            F.count(F.lit(1)), F.expr("bit_xor(xxhash64(node, component))")
        ).first()

    def _propagate(lab):
        via_neighbor = edges.join(
            lab, edges["dst"] == lab["node"]
        ).select(F.col("src").alias("node"), F.col("component"))
        return (
            lab.unionByName(via_neighbor)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    # ONE scheduled job per round: the round's result is marked for a
    # LAZY localCheckpoint, and the convergence probe's agg action is
    # what materializes it — computing, checkpointing, and probing in
    # a single job. (An eager checkpoint + separate probe is 2 jobs
    # per round; batching 2 lazy rounds per checkpoint is worse still:
    # the un-materialized round-1 result feeds round 2's plan in
    # several branches, and without a materialization barrier those
    # branches re-execute round 1 unless exchange reuse happens to
    # fire — measured 11s vs 5s on the star variant at sf0.1.)
    prev_state = _state(labels)
    for _ in range(max_iterations):
        labels = _propagate(labels).localCheckpoint(eager=False)
        new_state = _state(labels)
        if new_state == prev_state:
            break
        prev_state = new_state
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    same contract as ``connected_components`` (node, component=min
    reachable id) but O(log n) rounds on ADVERSARIAL long chains,
    where min-label propagation needs O(diameter) rounds.

    Each round:
    - large-star: every node's larger neighbors re-attach to the
      minimum of its neighborhood (min(N(u) ∪ {u}));
    - small-star: every node and its smaller neighbors re-attach to
      the smallest of them.
    Both are one shuffle aggregate + one shuffle join over the edge
    list; the edge set monotonically flattens into stars rooted at
    component minima. Converges when the edge set stops changing
    (type-agnostic hash-sum check).
    """
    # canonical directed edges: u -> v with v < u, self-loops dropped
    a, b = F.col(id_a), F.col(id_b)
    edges = (
        pairs.filter(a != b)
        .select(F.greatest(a, b).alias("u"), F.least(a, b).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _state(e):
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (r["n"], r["h"])

    def _round(e: DataFrame) -> DataFrame:
        # ---- large-star on the symmetric view ----
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("_mn"))
        mins = mins.select("u", F.least(F.col("u"), F.col("_mn")).alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        e = large.filter(F.col("u") != F.col("v")).distinct()

        # ---- small-star on the directed (u > v) view ----
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        joined = e.join(mins, "u")
        small = joined.filter(F.col("v") != F.col("m")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).unionByName(joined.select("u", F.col("m").alias("v")))
        return small.filter(F.col("u") != F.col("v")).distinct()

    # ONE scheduled job per round (same pattern as connected_components
    # above): the round result is marked for a LAZY localCheckpoint and
    # the convergence probe's agg materializes it — compute, checkpoint,
    # and probe in a single job. The round body references its input in
    # four branches (sym twice, mins join, small union), so a
    # materialization barrier per round is mandatory: chaining two lazy
    # rounds re-executed round 1 through every branch (measured 11s vs
    # 5s warm at sf0.1).
    prev = _state(edges)
    for _ in range(max_iterations):
        edges = _round(edges).localCheckpoint(eager=False)
        cur = _state(edges)
        if cur == prev:
            break
        prev = cur

    # terminal state: stars — every node points at its component root
    roots = edges.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    labels = edges.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).unionByName(roots)
    # nodes appearing ONLY in self-pairs are their own trivial cluster
    # (contract parity with connected_components)
    self_only = (
        pairs.filter(a == b)
        .select(a.alias("node"))
        .distinct()
        .join(labels.select("node"), "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return labels.unionByName(self_only)


def merge_cc_labels(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Incremental connected-components maintenance: fold a batch of
    NEW near-dup pairs into an existing (node, component) label table
    without re-running the closure over the historical pair set — the
    label-side counterpart of the incremental pair probe (an arriving
    shard probes the postings index for its new pairs, then this
    merges them into the standing cluster labels).

    Reduction: an existing label row IS an edge (node -> its
    component representative), and connectivity inside old components
    is exactly preserved by those star edges. So
    ``CC(label_edges UNION new_pairs)`` equals a full
    ``CC(old_pairs UNION new_pairs)`` — including the component-id
    contract, because each old representative is the min id of its
    component and participates as an ordinary node, so min-reachable
    ids come out identical. New nodes appearing only in ``new_pairs``
    are labeled by the closure as usual; an empty batch returns the
    standing labels unchanged.

    Why this wins at 100 TB: the historical side enters as
    diameter-2 stars with ONE edge per labeled node (the corpus pair
    table has many pairs per node and arbitrary chain depth), so the
    fixpoint runs over a smaller edge list and its round count is
    bounded by the NEW batch's merge-graph diameter — a few rounds
    per arriving shard instead of a corpus-scale re-closure."""
    star_edges = labels.select(
        F.col("node").alias(id_a), F.col("component").alias(id_b)
    )
    return connected_components(
        star_edges.unionByName(
            new_pairs.select(F.col(id_a), F.col(id_b))
        ),
        id_a=id_a,
        id_b=id_b,
        max_iterations=max_iterations,
    )


def _postings_candidate_stats(
    doc_arrays: DataFrame, sizes: DataFrame, id_col: str, hot_shingle_cap: int
):
    """Shared inverted-index candidate machinery for the exact pair
    verifiers (jaccard_pairs, containment_pairs).

    Returns ``(pair_rare, szh_a, szh_b)``:
    - ``pair_rare``: (id_a, id_b, _n_rare_shared) for every pair of
      docs sharing >= 1 shingle whose document frequency is within
      ``hot_shingle_cap`` — postings list per shingle in ONE
      exchange, pair expansion array-side (<= cap^2 pairs per
      shingle), sorted postings give id_a < id_b for free;
    - ``szh_a``/``szh_b``: per-doc (id, _pn_* = n_shingles, _h_* =
      count of the doc's HOT shingles), the inputs every exact prune
      needs (hot shingles contribute at most min(_h_a, _h_b) to any
      true intersection).

    CANDIDATE CONTRACT (shared by both callers and their SQL
    oracles): a pair whose EVERY shared shingle is hot (df > cap) is
    never enumerated — the deliberate stop-shingle trade production
    dedup makes to kill the quadratic term. The prunes downstream are
    exact GIVEN this candidate set, not over all N^2 pairs.
    """
    flat = doc_arrays.select(F.col(id_col), F.explode("_sh").alias("shingle"))
    postings_all = flat.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("_ids")
    )
    postings = postings_all.filter(F.size("_ids").between(2, hot_shingle_cap))
    pair_expr = F.flatten(
        F.expr(
            "transform(_ids, (x, i) -> "
            "transform(slice(_ids, i + 2, size(_ids) - i - 1), "
            "y -> struct(x AS id_a, y AS id_b)))"
        )
    )
    pair_rare = (
        postings.select(F.explode(pair_expr).alias("_p"))
        .groupBy(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("_n_rare_shared"))
    )
    hot_counts = (
        postings_all.filter(F.size("_ids") > hot_shingle_cap)
        .select(F.explode("_ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n_hot"))
    )
    szh = sizes.join(hot_counts, on=id_col, how="left").select(
        F.col(id_col),
        F.col("n_shingles"),
        F.coalesce(F.col("_n_hot"), F.lit(0)).alias("_n_hot"),
    )
    szh_a = szh.select(
        F.col(id_col).alias("id_a"),
        F.col("n_shingles").alias("_pn_a"),
        F.col("_n_hot").alias("_h_a"),
    )
    szh_b = szh.select(
        F.col(id_col).alias("id_b"),
        F.col("n_shingles").alias("_pn_b"),
        F.col("_n_hot").alias("_h_b"),
    )
    return pair_rare, szh_a, szh_b


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    hot_shingle_cap: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs.

    Without ``candidates``, pairs come from the inverted shingle index
    — docs sharing >= 1 shingle WITH DOCUMENT FREQUENCY <=
    ``hot_shingle_cap`` (see _postings_candidate_stats: a pair whose
    every shared shingle is hot is never enumerated — the deliberate
    stop-shingle trade, mirrored by the SQL oracle). Hot shingles
    still count in the exact |intersection|/|union| arithmetic of
    every enumerated pair.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.

    ``shingles`` must hold DISTINCT (id, shingle) rows (word_shingles
    does). Everything downstream — sizes, doc-frequency, the inverted
    index, the intersection arrays — derives from ONE per-doc array
    aggregate that is persisted: without this the shingle-generation
    pipeline (normalize + split + n-gram explode, the most expensive
    expression chain in the module) executes once per branch — four
    times in this plan (measured ~7s -> ~3s at sf0.1). The persisted
    intermediate is corpus-token-sized, the natural staging table for
    this workload at any scale.
    """
    from ursa_major_choir_etl_spark.caching import stage

    # One shuffle: per-doc sorted shingle array; every branch below
    # reuses this (persisted, spills to disk if needed; tracked via
    # caching.stage so callers can release after materializing).
    doc_arrays = stage(
        shingles.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("shingle")).alias("_sh"))
    )
    sizes = doc_arrays.select(
        F.col(id_col), F.size("_sh").alias("n_shingles")
    )

    if candidates is None:
        # PPJoin-style EXACT prune (given the candidate contract of
        # _postings_candidate_stats) before the expensive
        # verification: the pair dedup shuffle doubles as a count of
        # shared RARE shingles (I_rare), and hot shingles can add at
        # most min(hot_a, hot_b) to the true intersection I. A pair
        # with
        #   (I_rare + min(hot_a, hot_b)) * (1 + t) < t * (n_a + n_b)
        # provably cannot reach J >= t, so it never touches the
        # array_intersect join (measured: 1,130,536 candidates -> 256
        # verified at sf0.1/t=0.5 with identical output — the
        # verification join was the dominant cost). The epsilon keeps
        # borderline pairs: the prune must never fire on float
        # round-off.
        pair_rare, szh_a, szh_b = _postings_candidate_stats(
            doc_arrays, sizes, id_col, hot_shingle_cap
        )
        candidates = (
            pair_rare.join(szh_a, "id_a")
            .join(szh_b, "id_b")
            .filter(
                (F.col("_n_rare_shared") + F.least("_h_a", "_h_b"))
                * (1.0 + threshold)
                >= threshold * (F.col("_pn_a") + F.col("_pn_b")) - 1e-9
            )
            .select("id_a", "id_b")
        )

    # Exact |A ∩ B| per CANDIDATE pair via array_intersect on the
    # per-doc sorted arrays — never a full shingle self-join over hot
    # shingles (that term is quadratic in their document frequency; at
    # sf0.1 this cut the query from 36s to a few seconds, and at larger
    # corpora it is the difference between feasible and not).
    arr_a = doc_arrays.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a")
    )
    arr_b = doc_arrays.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b")
    )
    inter = (
        candidates.join(arr_a, "id_a")
        .join(arr_b, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("_sh_a", "_sh_b")))
    )
    sz_a = sizes.select(
        F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a")
    )
    sz_b = sizes.select(
        F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "_j",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("_j") >= threshold)
        .select("id_a", "id_b", F.round("_j", 6).alias("jaccard"))
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every token k-gram, then keep the minimum
    hash of each sliding window of ``w`` consecutive k-gram hashes.

    Guarantees: any shared substring of >= w + k - 1 tokens yields at
    least one shared fingerprint, while storing only ~2/(w+1) of the
    k-gram hashes — the standard local-fingerprinting scheme for
    plagiarism/near-dup detection at corpus scale.

    Hashes are md5 hex strings (lexicographic min is a valid total
    order and is portable to the SQL oracle — same trick as
    minhash_signatures). Docs with fewer than ``w`` k-grams contribute
    their single global-min fingerprint (the scheme's short-doc rule).

    Output: DISTINCT (id, fingerprint) — the per-document fingerprint
    set, ready for an inverted-index self-join.

    Scale: everything is per-row array work (no shuffle at all until
    the caller aggregates); the token and hash arrays are materialized
    as columns before the HOF lambdas reference them (referencing the
    raw expression inside transform() re-evaluates it per element —
    the word_shingles lesson). Because the whole md5 pipeline runs in
    the SCAN stage, an input narrower than the cluster (one parquet
    row group) is widened first — a no-op at real scale where splits
    outnumber cores (the with_text_stats lesson: 11.4s -> task-parallel
    at sf0.1 otherwise).
    """
    df = widen_if_narrow(df)
    toked = df.select(
        F.col(id_col), tokens(normalized_text(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= k)
    toks = F.col("_toks")
    kgrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.md5(
            F.concat_ws(
                " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(k)]
            )
        ),
    )
    hashed = toked.select(F.col(id_col), kgrams.alias("_h"))
    h = F.col("_h")
    m = F.size(h)
    windows = F.transform(
        F.sequence(F.lit(1), m - (w - 1)),
        lambda j: F.array_min(
            F.array(*[F.element_at(h, (j + r).cast("int")) for r in range(w)])
        ),
    )
    fps = F.when(m >= w, F.array_distinct(windows)).otherwise(
        F.array(F.array_min(h))
    )
    return (
        hashed.select(F.col(id_col), F.explode(fps).alias("fingerprint"))
        .distinct()
    )


def fingerprint_overlap_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    hot_fp_cap: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints,
    via the inverted fingerprint index (equi-join on fingerprint — the
    bucketed, never-all-pairs path). Fingerprints present in more than
    ``hot_fp_cap`` documents are dropped from candidate generation
    (boilerplate fingerprints would reintroduce the quadratic term),
    mirroring jaccard_pairs' hot-shingle cap.

    Output: (id_a, id_b, n_shared) with id_a < id_b.
    """
    from ursa_major_choir_etl_spark.caching import stage

    fingerprints = stage(fingerprints)
    freq = fingerprints.groupBy("fingerprint").agg(F.count("*").alias("df"))
    rare = fingerprints.join(
        freq.filter(F.col("df") <= hot_fp_cap), on="fingerprint"
    ).select(id_col, "fingerprint")
    l, r = rare.alias("l"), rare.alias("r")
    return (
        l.join(
            r,
            (F.col("l.fingerprint") == F.col("r.fingerprint"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def simhash32(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document, engine-portable.

    Bit j of a token = (hex digit j of md5(token) >= 8) — i.e. the top
    bit of each md5 nibble. Document bit j = majority vote weighted by
    token frequency. Output: (id, simhash string of 32 bits).

    Not cryptographically ideal, but: pure md5 + substring + CASE, so
    an ANSI-SQL oracle reproduces it bit-for-bit.
    """
    tok = tokens(normalized_text(text_col))
    exploded = widen_if_narrow(df).select(F.col(id_col), F.explode(tok).alias("token"))
    hashed = exploded.withColumn("h", F.md5("token"))
    votes = [
        F.sum(
            F.when(
                F.instr(F.lit("89abcdef"), F.substring("h", j + 1, 1)) > 0, 1
            ).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(32)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    bits = F.concat(
        *[F.when(F.col(f"v_{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(32)]
    )
    return agg.select(F.col(id_col), bits.alias("simhash"))


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 40,
    stride: int = 1,
) -> DataFrame:
    """Exact duplicated-substring SPANS (the Lee et al. 'Deduplicating
    Training Data Makes Language Models Better' shape): every char
    k-gram is hashed; a gram whose hash occurs anywhere else in the
    corpus marks its position duplicated, and per-doc runs of
    duplicated positions merge into maximal spans — the actionable
    output (cut THESE char ranges), vs q88's winnowing which reports
    document-pair overlap.

    Scale shape: the duplicate test is one md5-groupBy COUNT (map-side
    combined, one shuffle keyed on the hash) joined back — no pair
    join, no quadratic term, no df cap needed. The island merge is a
    lag window PARTITIONED BY doc (never global).

    ``stride`` > 1 cuts the k-fold data amplification (the reason the
    paper reaches for suffix arrays at their scale) but ONLY detects
    copies whose offsets are congruent mod stride — near-useless for
    cross-doc duplicates. Keep stride=1 for the exact semantics and
    use winnowing (fingerprint_overlap_pairs) when sampling is needed:
    its window-minimum anchors are content-defined, so they land at
    the SAME text positions in both copies regardless of alignment.

    Output: (id, span_start, span_end, n_grams) — 0-based start,
    exclusive end, clamped to the doc length.
    """
    from pyspark.sql import Window

    x = F.col(text_col)
    grams = (
        widen_if_narrow(df)
        .select(F.col(id_col), x.alias("_t"))
        .filter(F.length("_t") >= k)
        .select(
            F.col(id_col),
            F.length("_t").alias("_len"),
            F.explode(
                F.sequence(F.lit(0), F.length("_t") - k, F.lit(stride))
            ).alias("pos"),
            F.col("_t"),
        )
        .select(
            F.col(id_col),
            "_len",
            "pos",
            F.md5(F.expr(f"substring(_t, pos + 1, {k})")).alias("_h"),
        )
    )
    # The duplicate test is a WINDOW count over the hash — one shuffle
    # keyed on _h, no aggregate+self-join, and crucially no persisted
    # staging table (round-6 ADVICE: the old two-consumer layout cached
    # the k-fold gram explode for the session lifetime). A hash
    # partition holds every occurrence of its grams, so the unordered
    # whole-partition count is exact; heavily-duplicated grams are the
    # hot keys either way, and here they cost one window partition
    # instead of a skewed join.
    wh = Window.partitionBy("_h")
    dup_pos = (
        grams.withColumn("_n", F.count(F.lit(1)).over(wh))
        .filter(F.col("_n") >= 2)
        .select(F.col(id_col), "_len", "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        dup_pos.withColumn("_prev", F.lag("pos").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k),
                1,
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w))
    )
    return islands.groupBy(F.col(id_col), F.col("_isl")).agg(
        F.min("pos").alias("span_start"),
        F.least(F.max("pos") + k, F.max("_len")).alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    ).drop("_isl")


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document, engine-portable: bits 0-31 are the
    md5(token) nibble-top-bit votes (IDENTICAL to ``simhash32``), bits
    32-63 the same votes over md5('#' || token) — two independent
    md5-derived hash functions per token, the standard way to widen a
    fingerprint past one digest's bits. 64 bits exist because 32 are
    not selective enough for pigeonhole blocking: on a templated
    corpus individual simhash bits are heavily biased (most documents
    vote the same way on shared vocabulary), and an 8-bit block key
    put 65% of one measured corpus into a single bucket; 16-bit keys
    from 64 bits are what Manku et al. run in production web dedup.

    Output: (id, simhash string of 64 bits).
    """
    tok = tokens(normalized_text(text_col))
    exploded = widen_if_narrow(df).select(F.col(id_col), F.explode(tok).alias("token"))
    hashed = exploded.withColumn("h0", F.md5("token")).withColumn(
        "h1", F.md5(F.concat(F.lit("#"), F.col("token")))
    )
    votes = [
        F.sum(
            F.when(
                F.instr(
                    F.lit("89abcdef"),
                    F.substring("h0" if j < 32 else "h1", (j % 32) + 1, 1),
                )
                > 0,
                1,
            ).otherwise(-1)
        ).alias(f"v_{j}")
        for j in range(64)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    bits = F.concat(
        *[
            F.when(F.col(f"v_{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(64)
        ]
    )
    return agg.select(F.col(id_col), bits.alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-duplicate PAIRS via the Manku/Jain/Sarma pigeonhole
    (the Google web-dedup layout): split each 64-bit simhash into
    ``bands`` equal blocks; two hashes within Hamming distance
    ``max_hamming`` < ``bands`` must agree EXACTLY on at least one
    block, so candidates are an equi-join on (block index, block bits)
    and only candidates pay the exact Hamming verification — never an
    all-pairs comparison.

    Plan shape, tuned on a measured blowup (first cut: 150 s at
    sf0.1; this layout: ~2 s, identical semantics):

    - the per-doc signature table is built ONCE and staged
      (caching.stage) — both explode sides and both verify joins read
      it, instead of re-running tokenize+md5+vote per branch;
    - 16-bit block keys (needs the 64-bit hash): 8-bit keys on a
      templated corpus put 3,253 of 5,000 docs in ONE bucket
      (5.3M pairs from a single key); 16-bit keys break template
      clumps apart;
    - candidates travel as (id_a, id_b) ONLY through the
      cross-block distinct — no hash strings in the shuffle;
    - Hamming is bit_count(xor) on the two 32-bit halves
      (conv(bits, 2, 10) once per doc in the staged table), one
      codegen'd integer op per pair instead of a 64-element zip.

    Output: (id_a, id_b, hamming) with id_a < id_b, hamming <=
    ``max_hamming``, deduped across blocks.
    """
    from ursa_major_choir_etl_spark.caching import stage

    assert max_hamming < bands, "pigeonhole needs max_hamming < bands"
    sh = stage(
        simhash64(df, id_col=id_col, text_col=text_col).select(
            F.col(id_col),
            F.col("simhash"),
            F.expr("CAST(conv(substring(simhash, 1, 32), 2, 10) AS BIGINT)").alias(
                "_hi"
            ),
            F.expr("CAST(conv(substring(simhash, 33, 32), 2, 10) AS BIGINT)").alias(
                "_lo"
            ),
        )
    )
    width = 64 // bands
    block_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("blk"),
                F.substring("simhash", b * width + 1, width).alias("key"),
            )
            for b in range(bands)
        ]
    )
    blocked = sh.select(F.col(id_col), F.explode(block_arr).alias("_b")).select(
        id_col, F.col("_b.blk").alias("blk"), F.col("_b.key").alias("key")
    )
    left = blocked.alias("l")
    right = blocked.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()  # a pair can share several blocks
    )
    sig_a = sh.select(
        F.col(id_col).alias("id_a"), F.col("_hi").alias("_hi_a"), F.col("_lo").alias("_lo_a")
    )
    sig_b = sh.select(
        F.col(id_col).alias("id_b"), F.col("_hi").alias("_hi_b"), F.col("_lo").alias("_lo_b")
    )
    hamming = F.bit_count(
        F.col("_hi_a").bitwiseXOR(F.col("_hi_b"))
    ) + F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def containment_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.6,
    hot_shingle_cap: int = 100,
) -> DataFrame:
    """Asymmetric CONTAINMENT dedup: pairs where the smaller shingle
    set is mostly inside the larger — C = |A ∩ B| / min(|A|, |B|).
    Jaccard misses these (a tweet quoted inside an article has tiny
    |A∩B|/|A∪B| but containment ~1); partial-copy and quote detection
    in pretraining pipelines thresholds containment, not Jaccard.

    Same sub-quadratic layout as ``jaccard_pairs`` — the candidate
    machinery is literally shared (``_postings_candidate_stats``),
    including its CANDIDATE CONTRACT: a pair whose every shared
    shingle is hot (df > ``hot_shingle_cap``) is never enumerated.
    That miss is more plausible for containment than for Jaccard (a
    short pure-boilerplate doc inside a bigger one shares only hot
    shingles), so choose the cap for the corpus: raising it admits
    more stop-shingles into candidate generation at quadratic cost in
    their document frequency. The SQL oracle mirrors the same
    contract. On top of the shared candidates, the
    containment-specific EXACT prune — hot shingles add at most
    min(hot_a, hot_b) to the true intersection, so a pair with
    (rare_shared + min(hot_a, hot_b)) < t * min(n_a, n_b) provably
    cannot reach C >= t — then array_intersect verification on the
    per-doc sorted arrays for exactly the surviving candidates.

    ``shingles`` must hold DISTINCT (id, shingle) rows (word_shingles
    does). Output: (id_a, id_b, n_inter, containment) with id_a <
    id_b, containment >= ``threshold``, rounded 6dp.
    """
    from ursa_major_choir_etl_spark.caching import stage

    doc_arrays = stage(
        shingles.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("shingle")).alias("_sh"))
    )
    sizes = doc_arrays.select(F.col(id_col), F.size("_sh").alias("n_shingles"))
    pair_rare, szh_a, szh_b = _postings_candidate_stats(
        doc_arrays, sizes, id_col, hot_shingle_cap
    )
    candidates = (
        pair_rare.join(szh_a, "id_a")
        .join(szh_b, "id_b")
        .filter(
            (F.col("_n_rare_shared") + F.least("_h_a", "_h_b"))
            >= threshold * F.least("_pn_a", "_pn_b") - 1e-9
        )
        .select("id_a", "id_b")
    )
    arr_a = doc_arrays.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
    arr_b = doc_arrays.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
    return (
        candidates.join(arr_a, "id_a")
        .join(arr_b, "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("_sh_a", "_sh_b")))
        .withColumn(
            "_c",
            F.col("n_inter")
            / F.least(F.size("_sh_a"), F.size("_sh_b")).cast("double"),
        )
        .filter(F.col("_c") >= threshold)
        .select("id_a", "id_b", "n_inter", F.round("_c", 6).alias("containment"))
    )


def incremental_dedup_probe(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingest exact dedup: every NEW document's
    normalization fingerprint probes the EXISTING corpus's
    fingerprint index — the shape of continuous corpus growth, where
    re-running whole-corpus dedup per arriving shard would rescan
    100 TB for a 100 GB delta. A doc is a duplicate when some
    existing doc has identical normalized content; fresh docs pass
    with a NULL ``dup_of``.

    Scale shape: the index side is one aggregate over the corpus —
    at scale it is the PERSISTED artifact (one (fingerprint, keep_id)
    row per distinct content, bucketed by fingerprint on disk), built
    once and probed by every arriving batch with a map-side join; the
    new shard never shuffles the corpus. First-wins keep_id (min id)
    matches exact_duplicate_groups' convention, so the incremental
    decision agrees with what a batch dedup would have decided.

    Output: (id, fingerprint, dup_of) — one row per new doc.
    """
    newf = new_docs.select(
        F.col(id_col), F.md5(normalized_text(text_col)).alias("fingerprint")
    )
    idx = (
        corpus.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("dup_of"))
    )
    return newf.join(idx, "fingerprint", "left").select(
        id_col, "fingerprint", "dup_of"
    )


def incremental_jaccard_probe(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    hot_shingle_cap: int = 100,
) -> DataFrame:
    """Incremental-ingest FUZZY dedup: every new document's word
    n-gram shingles probe the EXISTING corpus's inverted index, and
    only (new x touched-corpus-doc) candidates pay the exact Jaccard
    verification — the fuzzy sibling of :func:`incremental_dedup_probe`
    (exact fingerprints) for the continuous-growth shape where
    re-running whole-corpus pair generation per arriving shard would
    rescan 100 TB for a 100 GB delta.

    Scale shape: the corpus side is represented by exactly the two
    tables a production index persists — the per-doc sorted shingle
    array and its exploded postings list (at scale: the PERSISTED
    artifact, bucketed by shingle; here rebuilt from ``corpus`` and
    staged). The arriving shard shuffles only ITS OWN shingles plus
    the postings rows it actually touches; the corpus is never
    pair-joined against itself. Rareness (df <= ``hot_shingle_cap``)
    is a property of the CORPUS index — the same stop-shingle trade
    as ``jaccard_pairs``, deliberately measured against corpus
    document frequency alone (an index cannot know future shards).
    The batch operator's PPJoin prune is omitted: the candidate count
    is already bounded by |shard| x touched postings.

    Output: (new_id, corpus_id, jaccard) with jaccard >= ``threshold``
    — new-vs-corpus only; dedup WITHIN the arriving shard is the
    batch operator run on the (small) shard itself.
    """
    from ursa_major_choir_etl_spark.caching import stage

    sh_new = word_shingles(new_docs, id_col=id_col, text_col=text_col, n=n)
    sh_corp = word_shingles(corpus, id_col=id_col, text_col=text_col, n=n)
    new_arrays = stage(
        sh_new.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("shingle")).alias("_sh_n"))
    )
    corp_arrays = stage(
        sh_corp.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("shingle")).alias("_sh_c"))
    )
    postings = corp_arrays.select(
        F.col(id_col).alias("corpus_id"), F.explode("_sh_c").alias("shingle")
    )
    dfreq = postings.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    rare_postings = postings.join(
        dfreq.filter(F.col("_df") <= hot_shingle_cap), "shingle"
    ).select("corpus_id", "shingle")
    cand = (
        new_arrays.select(
            F.col(id_col).alias("new_id"), F.explode("_sh_n").alias("shingle")
        )
        .join(rare_postings, "shingle")
        .select("new_id", "corpus_id")
        .distinct()
    )
    verified = (
        cand.join(
            new_arrays.select(
                F.col(id_col).alias("new_id"), F.col("_sh_n")
            ),
            "new_id",
        )
        .join(
            corp_arrays.select(
                F.col(id_col).alias("corpus_id"), F.col("_sh_c")
            ),
            "corpus_id",
        )
        .withColumn("_ni", F.size(F.array_intersect("_sh_n", "_sh_c")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("_ni")
                / (F.size("_sh_n") + F.size("_sh_c") - F.col("_ni")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("new_id", "corpus_id", "jaccard")


def consensus_pairs(
    tagged: "dict[str, DataFrame]", min_votes: int = 2
) -> DataFrame:
    """Ensemble near-duplicate consensus: merge several independently
    computed pair sets (lexical Jaccard, SimHash Hamming, embedding
    cosine, ...) and keep pairs flagged by >= ``min_votes`` methods.
    Production dedup runs exactly this vote — every single method has
    a characteristic false-positive family (shared boilerplate for
    lexical, templated structure for simhash, topical-but-distinct
    for embeddings), and requiring agreement between two UNRELATED
    signal families suppresses all three.

    Shape: union-all of the tagged (id_a, id_b) sets -> ONE groupBy
    on the pair key with max() per method flag — no N-way outer
    joins, one shuffle however many methods vote. Inputs must use the
    same id space and the id_a < id_b convention (all pair operators
    here do).

    Output: (id_a, id_b, by_<method>..., n_methods), n_methods >=
    ``min_votes``.
    """
    from functools import reduce

    names = list(tagged)
    parts = []
    for i, (_, df) in enumerate(tagged.items()):
        parts.append(
            df.select("id_a", "id_b")
            .distinct()
            .select(
                "id_a",
                "id_b",
                *[
                    F.lit(1 if j == i else 0).alias(f"by_{n}")
                    for j, n in enumerate(names)
                ],
            )
        )
    u = reduce(lambda a, b: a.unionByName(b), parts)
    agg = u.groupBy("id_a", "id_b").agg(
        *[F.max(f"by_{n}").alias(f"by_{n}") for n in names]
    )
    votes = None
    for n in names:
        c = F.col(f"by_{n}")
        votes = c if votes is None else votes + c
    return agg.withColumn("n_methods", votes).filter(
        F.col("n_methods") >= min_votes
    )


def threshold_sensitivity(
    pairs: DataFrame,
    thresholds: list[float],
    score_col: str = "jaccard",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Dedup threshold tuning report: for each candidate threshold,
    how many pairs and how many distinct documents the cut would
    flag — computed from ONE candidate-pair pass (the scored pairs
    at the loosest threshold), never re-running the pipeline per
    setting. This is the table a curation owner reads before picking
    the threshold that survives to production.

    The pair set is replicated once per threshold via an array
    explode (|thresholds| is a handful; the pair list is already the
    small end of the pipeline), then two aggregates. Comparisons use
    the ROUNDED score both engines emit, so a boundary pair cannot
    split between Spark and the oracle.

    Output: (threshold, n_pairs, n_docs) for thresholds with >= 1
    pair (empty cuts drop out of the group-by on both sides alike).
    """
    from ursa_major_choir_etl_spark.caching import stage

    # Two aggregate branches read the replicated pair set; stage it
    # so the candidate pipeline upstream of `pairs` runs once.
    sel = stage(
        pairs.select(
            F.col(a_col), F.col(b_col), F.col(score_col),
            F.explode(
                F.array(*[F.lit(t) for t in thresholds])
            ).alias("threshold"),
        ).filter(F.col(score_col) >= F.col("threshold"))
    )
    n_pairs = sel.groupBy("threshold").agg(F.count(F.lit(1)).alias("n_pairs"))
    n_docs = (
        sel.select("threshold", F.col(a_col).alias("d"))
        .unionAll(sel.select("threshold", F.col(b_col).alias("d")))
        .groupBy("threshold")
        .agg(F.count_distinct("d").alias("n_docs"))
    )
    return n_pairs.join(n_docs, "threshold")


def near_dup_divergence_profile(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """How near are the near-duplicates? For every candidate pair,
    the symmetric difference of the two docs' distinct-token sets,
    bucketed into an edit-magnitude histogram — the report that says
    whether a corpus's duplication is trivial edits (timestamps,
    bylines: safe to collapse) or substantial rewrites (collapsing
    loses real content), which decides between hard dedup and soft
    down-weighting.

    Buckets: identical-vocab (0), touch-up (1-2 tokens), light edit
    (3-8), rewrite (9+). Work is PAIR-cardinality: two joins hang the
    token sets on each side of the pair table (shuffle on the id
    key), one array_intersect per pair, one 4-row aggregate;
    pairs_ppm through DECIMAL(38,0).

    Output: (divergence, n_pairs, pairs_ppm).
    """
    toks = docs.select(
        F.col(id_col).alias("_tid"),
        F.array_distinct(word_tokens(text_col, tokens_col)).alias("_ts"),
    )
    sided = (
        pairs.select("id_a", "id_b")
        .join(
            toks.select(
                F.col("_tid").alias("id_a"), F.col("_ts").alias("_ta")
            ),
            "id_a",
        )
        .join(
            toks.select(
                F.col("_tid").alias("id_b"), F.col("_ts").alias("_tb")
            ),
            "id_b",
        )
        .select(
            (
                F.size("_ta")
                + F.size("_tb")
                - 2 * F.size(F.array_intersect("_ta", "_tb"))
            ).alias("_sd")
        )
    )
    bucket = (
        F.when(F.col("_sd") == 0, F.lit("0_identical_vocab"))
        .when(F.col("_sd") <= 2, F.lit("1_touch_up"))
        .when(F.col("_sd") <= 8, F.lit("2_light_edit"))
        .otherwise(F.lit("3_rewrite"))
    )
    hist = sided.select(bucket.alias("divergence")).groupBy("divergence").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    total = hist.agg(F.sum("n_pairs").alias("_t"))
    return hist.crossJoin(F.broadcast(total)).select(
        "divergence",
        "n_pairs",
        F.expr(
            "CAST(CAST(n_pairs AS DECIMAL(38,0)) * 1000000 DIV _t"
            " AS BIGINT)"
        ).alias("pairs_ppm"),
    )


def capture_recapture_estimate(
    catch_a: DataFrame,
    catch_b: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Chapman capture–recapture estimate of the TRUE near-duplicate
    population from two independent dedup methods' catches — the
    coverage readout a curation team needs when no ground truth
    exists: method A caught n_a pairs, method B caught n_b, they
    agree on m, so the bias-corrected Lincoln–Petersen (Chapman 1951)
    population estimate is

        est = (n_a + 1)(n_b + 1) DIV (m + 1) - 1

    and each method's recall proxy is n/est. Integer-exact end to
    end. Caveat (documented, inherent to the method): the estimator
    assumes the two catches are INDEPENDENT samples; correlated
    detectors (two hash families over the same shingles) bias est
    low, so it reads as a LOWER bound on the missed-duplicate mass.

    Shape: two count aggregates plus one equi-join count on the pair
    key — runs on the materialized pair artifacts, so the marginal
    cost is pair-table-sized, never corpus-sized. Output single row:
    (n_pairs_a, n_pairs_b, n_both, est_total_pairs,
    coverage_a_ppm, coverage_b_ppm).
    """
    a = catch_a.select(*key_cols)
    b = catch_b.select(*key_cols)
    na = a.agg(F.count(F.lit(1)).alias("n_pairs_a"))
    nb = b.agg(F.count(F.lit(1)).alias("n_pairs_b"))
    m = a.join(b, key_cols).agg(F.count(F.lit(1)).alias("n_both"))
    est = (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(m))
        .withColumn(
            "est_total_pairs",
            F.expr(
                "CAST((CAST(n_pairs_a AS DECIMAL(38,0)) + 1)"
                " * (n_pairs_b + 1) DIV (n_both + 1) - 1 AS BIGINT)"
            ),
        )
    )
    return est.select(
        "n_pairs_a",
        "n_pairs_b",
        "n_both",
        "est_total_pairs",
        F.expr(
            "CASE WHEN est_total_pairs > 0 THEN"
            " CAST(CAST(n_pairs_a AS DECIMAL(38,0)) * 1000000"
            " DIV est_total_pairs AS BIGINT) END"
        ).alias("coverage_a_ppm"),
        F.expr(
            "CASE WHEN est_total_pairs > 0 THEN"
            " CAST(CAST(n_pairs_b AS DECIMAL(38,0)) * 1000000"
            " DIV est_total_pairs AS BIGINT) END"
        ).alias("coverage_b_ppm"),
    )
