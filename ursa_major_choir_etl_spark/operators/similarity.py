"""Similarity search over embedding columns (north-star set).

- cosine_topk:            brute-force exact top-k for a (small) query
                          set — broadcast the queries, scan the corpus
                          once, rank per query. The correctness
                          baseline.
- near_duplicate_pairs:   all-pairs cosine >= threshold (bounded input;
                          the reference the blocked and bucketed
                          scale paths are tested against)
- sign_lsh_topk / ivf_topk: the approximate scale paths — candidate
                          generation is a bucket join, not a cross
                          product.

Vector math stays in the JVM: dot products via F.zip_with +
F.aggregate over array<float> columns. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _cosine_matrix(lm, rm):
    """Pairwise cosine with the SAME association as the SQL oracles:
    dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) on UNNORMALIZED
    vectors. Normalize-then-GEMM perturbs every element by one rounding
    before the sum (up to dims ulps of drift vs the oracle), which can
    flip a pair sitting within ~1e-15 of the threshold or of a
    round-half boundary; dividing the raw GEMM by the norm product
    keeps the float op sequence aligned with the oracle's, shrinking
    the disagreement window to the dot-sum order alone."""
    import numpy as np

    num = lm @ rm.T
    ln = np.sqrt(np.einsum("ij,ij->i", lm, lm))
    rn = np.sqrt(np.einsum("ij,ij->i", rm, rm))
    return num / (ln[:, None] * rn[None, :])


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``queries`` is broadcast (a query batch is small by definition);
    the corpus is scanned once — at 100 TB this is one map-side pass
    plus a per-query top-k, no shuffle of the corpus itself.
    Self-matches (same id) are excluded.
    Output: (query_id, neighbor_id, cosine_sim, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", cosine(F.col("_qv"), F.col("_cv")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine_sim", 6).alias("cosine_sim"),
            "rank",
        )
    )


def near_duplicate_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_collect_rows: int = 200_000,
) -> DataFrame:
    """Embedding near-dup: pairs with cosine >= threshold, id_a < id_b.

    Vectorized all-pairs: the corpus (ids + float64 matrix) is
    broadcast once; each partition's rows multiply against
    it as ONE BLAS GEMM inside mapInPandas (Arrow-batched). That turns
    N² scalar expression evaluations into dense matrix math — 25s ->
    ~1s at sf0.1 (5k x 5k pairs). This is the intended use of the
    Pandas-UDF escape hatch: semantics the built-in operators can only
    express as a quadratic join.

    Scale note: valid while one side fits in a broadcast (~GBs). For
    an unbounded corpus this function REFUSES to run (see
    ``max_collect_rows``): use ``near_duplicate_pairs_blocked`` (exact,
    no collect) or ``near_duplicate_pairs_bucketed`` (sub-quadratic).
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    # Guard and collect are ONE bounded job: limit(max+1) stops the
    # scan as soon as the bound is provably exceeded, instead of the
    # old eager full-corpus count() that cost an extra scan even for a
    # 100-row input (round-7 verdict). The +1 row is the proof of
    # overflow; it is dropped with the rest when we raise.
    rows = (
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
        .limit(max_collect_rows + 1)
        .collect()
    )
    if len(rows) > max_collect_rows:
        raise ValueError(
            f"near_duplicate_pairs collects the corpus to the driver; "
            f"input exceeds max_collect_rows={max_collect_rows}. Use "
            "near_duplicate_pairs_blocked (exact, distributed) or "
            "near_duplicate_pairs_bucketed (sub-quadratic LSH) instead."
        )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def gemm(batches):
        all_ids, all_mat = b_ids.value, b_mat.value
        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batch
                continue
            left_ids = pdf[id_col].to_numpy(dtype=np.int64)
            left = np.array(list(pdf["_v"]), dtype=np.float64)
            sims = _cosine_matrix(left, all_mat)  # (batch, N)
            li, ri = np.nonzero(sims >= threshold)
            la, ra = left_ids[li], all_ids[ri]
            keep = la < ra  # id_a < id_b, also drops self-pairs
            yield pd.DataFrame(
                {
                    "id_a": la[keep],
                    "id_b": ra[keep],
                    "cosine_sim": np.round(sims[li, ri][keep], 6),
                }
            )

    src = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
    return src.mapInPandas(gemm, schema="id_a long, id_b long, cosine_sim double")


def deterministic_planes(n_planes: int, dims: int, seed: int = 42):
    """Integer LSH hyperplanes derived from md5("{seed}:{p}:{j}") —
    no RNG, no library version dependence.

    Coefficients are uniform in [-32768, 32767]. Combined with
    trunc-quantized embeddings (``quantize_micro``), every projection
    sign is exact int64 arithmetic — bit-reproducible in ANY engine,
    which is what lets the banded near-dup and sign-LSH ANN operators
    carry full SQL value oracles (the oracle embeds the same constants
    as literals). A uniform coordinate distribution is not spherically
    symmetric like the textbook gaussian sign-LSH family, but at
    d=64 the collision-vs-angle curve is indistinguishable in
    practice, and exact cross-engine verifiability is worth far more
    here than the last epsilon of theoretical recall.
    """
    import hashlib

    import numpy as np

    arr = np.empty((n_planes, dims), dtype=np.int64)
    for p in range(n_planes):
        for j in range(dims):
            h = hashlib.md5(f"{seed}:{p}:{j}".encode()).hexdigest()[:8]
            arr[p, j] = (int(h, 16) % 65536) - 32768
    return arr


def quantize_micro(mat):
    """trunc(x * 1e6) as int64 — the exact-reproducibility quantizer.

    trunc (not round) on the IEEE-exact product of identical doubles
    is bit-identical across engines with no tie-breaking mode to agree
    on; the ~1e-6 direction perturbation is far below any LSH band
    resolution."""
    import numpy as np

    return np.trunc(mat * 1_000_000.0).astype(np.int64)


def near_duplicate_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold with NO driver collect and
    NO corpus broadcast — the distributed form of the all-pairs GEMM.

    Block decomposition: vectors land in ``n_blocks`` deterministic
    blocks (id % n_blocks); every unordered block pair (i <= j) is one
    task group, and a cogrouped applyInPandas runs one BLAS GEMM per
    group (block_i x block_j). Each vector pair is evaluated in
    EXACTLY one group, so no post-dedup is needed and the result is
    identical to the naive all-pairs join — same oracle as q23.

    Scale: data is replicated n_blocks times (each block meets every
    other); compute is inherently O(N^2) because EXACT all-pairs is —
    but it is spread over n_blocks*(n_blocks+1)/2 independent tasks
    with bounded memory (pick n_blocks so N/n_blocks rows of the
    vector column fit a task: ~86 GB corpus / 64 blocks -> 1.3 GB per
    side per task). For sub-quadratic candidate generation use
    near_duplicate_pairs_bucketed; for a small corpus the broadcast
    GEMM (near_duplicate_pairs) is cheaper. This one is the exact
    answer at sizes where neither a driver collect nor an executor
    broadcast survives.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    pair_rows = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    # distinct column names per side: the two lineages share df, and
    # identically-named keys would trip the ambiguous-self-join check
    bp_l = spark.createDataFrame(pair_rows, schema="bi int, bj int")
    bp_r = spark.createDataFrame(pair_rows, schema="ci int, cj int")
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        # pmod, not %: Spark's % keeps the dividend's sign, so negative
        # ids would land outside [0, n_blocks) and silently vanish from
        # the "EXACT all-pairs" result
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    left = v.join(F.broadcast(bp_l), v["_blk"] == bp_l["bi"]).drop("_blk")
    right = (
        v.select(
            F.col("_id").alias("_rid"),
            F.col("_v").alias("_rv"),
            F.col("_blk").alias("_rblk"),
        )
        .join(F.broadcast(bp_r), F.col("_rblk") == bp_r["cj"])
        .drop("_rblk")
    )

    def block_gemm(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype=np.int64),
             "id_b": pd.Series(dtype=np.int64),
             "cosine_sim": pd.Series(dtype=np.float64)}
        )
        if len(l) == 0 or len(r) == 0:
            return empty
        same = l["bi"].iat[0] == l["bj"].iat[0]
        lids = l["_id"].to_numpy(dtype=np.int64)
        rids = r["_rid"].to_numpy(dtype=np.int64)
        lm = np.array(list(l["_v"]), dtype=np.float64)
        rm = np.array(list(r["_rv"]), dtype=np.float64)
        sims = _cosine_matrix(lm, rm)
        li, ri = np.nonzero(sims >= threshold)
        la, ra = lids[li], rids[ri]
        if same:
            keep = la < ra  # diagonal block: each pair appears twice
            la, ra, s = la[keep], ra[keep], sims[li, ri][keep]
        else:
            s = sims[li, ri]
            la, ra = np.minimum(la, ra), np.maximum(la, ra)
        return pd.DataFrame(
            {"id_a": la, "id_b": ra, "cosine_sim": np.round(s, 6)}
        )

    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("ci", "cj"))
        .applyInPandas(block_gemm, schema="id_a long, id_b long, cosine_sim double")
    )


def banded_signatures(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 8,
    n_bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(_id, _v, _band, _key) — one row per (vector, band), where _key
    is the band's sign pattern against the deterministic integer
    planes. One Arrow-batched narrow pass + a posexplode; shared by
    the banded near-dup and the sign-LSH ANN operators."""
    import numpy as np
    import pandas as pd

    n_planes = planes_per_band * n_bands

    def band_keys(batches):
        planes = None
        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batch: nothing to key
                continue
            mat = np.array(list(pdf["_v"]), dtype=np.float64)
            if planes is None:
                planes = deterministic_planes(n_planes, mat.shape[1], seed)
            # exact int64 projections: quantized vectors x integer
            # planes (|dot| < 2^42, no overflow) — the sign pattern is
            # reproducible bit-for-bit by the SQL oracle
            bits = (quantize_micro(mat) @ planes.T) > 0  # (batch, n_planes)
            weights = 1 << np.arange(planes_per_band, dtype=np.int64)
            out = {"_id": pdf["_id"], "_v": pdf["_v"]}
            for b in range(n_bands):
                block = bits[:, b * planes_per_band : (b + 1) * planes_per_band]
                out[f"_k{b}"] = block.astype(np.int64) @ weights
            yield pd.DataFrame(out)

    src = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    key_schema = "_id long, _v array<double>, " + ", ".join(
        f"_k{b} long" for b in range(n_bands)
    )
    keyed = src.mapInPandas(band_keys, schema=key_schema)
    return keyed.select(
        "_id",
        "_v",
        F.posexplode(F.array(*[F.col(f"_k{b}") for b in range(n_bands)])).alias(
            "_band", "_key"
        ),
    )


def near_duplicate_pairs_bucketed(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 8,
    n_bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-dup pairs WITHOUT collecting the corpus: random-
    hyperplane LSH buckets + a dense GEMM inside each bucket.

    The 100 TB path (near_duplicate_pairs broadcasts the whole corpus,
    valid only while it fits in a broadcast):

    1. band signatures: each vector's sign pattern against
       ``planes_per_band`` hyperplanes per band, ``n_bands`` bands.
       Computed in ONE Arrow-batched pass (X @ P.T > 0) over
       trunc-quantized int64 vectors and md5-derived int64 planes
       (``deterministic_planes``) — exact integer signs, so the bucket
       assignment is bit-reproducible by the SQL oracle. The plane
       matrix is regenerated deterministically inside each task from
       (seed, dims) — nothing is collected or broadcast.
    2. explode to (band_id, band_key) and shuffle-group each bucket;
       applyInPandas runs one BLAS GEMM per bucket — all-pairs only
       WITHIN a bucket, never across the corpus.
    3. pairs union'd across bands, deduped by (id_a, id_b).

    Approximate by construction: a pair sharing no bucket in any band
    is missed. P(caught) = 1-(1-p^b)^r with p = 1-angle/pi; the
    defaults target the >=0.9-cosine regime (~99.7% recall). For lower
    thresholds use fewer planes per band. Skew note: a degenerate
    bucket (everything identical) makes that one GEMM quadratic —
    cap it upstream by salting on a secondary band if a corpus has
    million-row exact-dup classes (exact dedup first is cheaper).
    """
    import numpy as np
    import pandas as pd

    banded = banded_signatures(
        df, id_col, vec_col, planes_per_band, n_bands, seed
    )

    def bucket_gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cosine_sim": np.float64}
            )
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["_v"]), dtype=np.float64)
        sims = _cosine_matrix(mat, mat)
        li, ri = np.nonzero(sims >= threshold)
        keep = ids[li] < ids[ri]
        return pd.DataFrame(
            {
                "id_a": ids[li][keep],
                "id_b": ids[ri][keep],
                "cosine_sim": np.round(sims[li, ri][keep], 6),
            }
        )

    pairs = banded.groupBy("_band", "_key").applyInPandas(
        bucket_gemm, schema="id_a long, id_b long, cosine_sim double"
    )
    # same pair may surface from several bands; the sim is identical
    # (same normalized arithmetic), max() just picks it deterministically
    return pairs.groupBy("id_a", "id_b").agg(
        F.max("cosine_sim").alias("cosine_sim")
    )


def semantic_dedup(
    emb: DataFrame,
    assignments: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup decisions: cluster the corpus
    (``assignments``: (id, cid) — e.g. kmeans_assignments_integer),
    then find exact-cosine near-neighbors ONLY within each cluster and
    emit one row per document to drop.

    Output: (cid, drop_id, keep_id, n_dups, max_sim) — a doc is
    dropped when a SMALLER-id same-cluster doc sits within the cosine
    threshold; keep_id is its smallest such neighbor, n_dups how many
    qualify, max_sim the closest (rounded 6dp).

    Scale shape: clustering bounds the quadratic — the GEMM runs per
    cluster (one applyInPandas task per cid), never across the corpus,
    so compute is sum over clusters of |c|^2 instead of N^2 and each
    task holds one cluster's vectors. With k sized so clusters fit a
    task, this is the standard embedding-dedup layout for pretraining
    corpora (an oversized cluster puts its whole |c|^2 in one task); cosine
    uses the oracle association (dot/(|a||b|), _cosine_matrix) so a
    SQL replay of cluster-restricted pairs value-matches.
    """
    import numpy as np
    import pandas as pd

    src = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).join(
        assignments.select(F.col(id_col).alias("_id"), "cid"), "_id"
    )

    def cluster_gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "cid": pd.Series(dtype=np.int64),
                "id_a": pd.Series(dtype=np.int64),
                "id_b": pd.Series(dtype=np.int64),
                "cosine_sim": pd.Series(dtype=np.float64),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["_v"]), dtype=np.float64)
        # Threshold on the 6dp-QUANTIZED cosine, not the raw GEMM value:
        # BLAS dot-sum association differs from a sequential fold, so a
        # raw `sims >= threshold` could disagree with a SQL replay for a
        # pair within ~1 ulp of the threshold. Quantizing first shrinks
        # the disagreement window to the (measure-zero-ish) half-boundary
        # of the 6th decimal, and the oracle applies the same
        # round-then-compare on its side.
        sims = np.round(_cosine_matrix(mat, mat), 6)
        li, ri = np.nonzero(sims >= threshold)
        keep = ids[li] < ids[ri]  # ordered pairs, drops the diagonal
        return pd.DataFrame(
            {
                "cid": np.full(int(keep.sum()), pdf["cid"].iat[0], dtype=np.int64),
                "id_a": ids[li][keep],
                "id_b": ids[ri][keep],
                "cosine_sim": sims[li, ri][keep],
            }
        )

    pairs = src.groupBy("cid").applyInPandas(
        cluster_gemm, schema="cid long, id_a long, id_b long, cosine_sim double"
    )
    return (
        pairs.groupBy("cid", F.col("id_b").alias("drop_id"))
        .agg(
            F.min("id_a").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.max("cosine_sim").alias("max_sim"),
        )
    )


def sign_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 4,
    n_bands: int = 16,
    seed: int = 42,
    corpus_keys: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via deterministic sign-LSH: candidates are
    corpus vectors sharing >= 1 band signature with the query; exact
    cosine ranks the candidates (JVM fold, no Python in the scoring
    path).

    Candidate generation is hash-bucket equi-joins, never a cross
    product, and the buckets come from ``deterministic_planes``, so
    the whole result is bit-reproducible in SQL and carries a full
    value oracle, not just a recall test. A query with < k bucket-mates
    returns < k rows (the honest ANN contract; recall targets are set
    by band geometry).

    Scale: the corpus side is one narrow signature pass + an explode
    keyed by (band, key); only ids travel through the candidate join,
    vectors are re-attached once per distinct candidate. The query
    side is broadcast (a query batch is small by definition).
    ``corpus_keys`` (columns vec_id/band/bkey) skips the corpus
    signature pass entirely — pass the materialized signature
    artifact so every consumer of one index probes the SAME built
    index instead of re-keying the corpus per query set (the IVF
    artifact rule).
    Output: (query_id, neighbor_id, cosine_sim, rank).
    """
    from pyspark.sql import Window

    if corpus_keys is not None:
        # A prebuilt index is only valid for the geometry it was keyed
        # with — probing it with different planes/bands/seed silently
        # degrades candidate recall instead of failing (round-11
        # ADVICE). The signature artifact stamps its build geometry
        # into the vec_id column metadata (survives the parquet
        # round-trip); when present it must match the call.
        meta = corpus_keys.schema["vec_id"].metadata
        if "planes_per_band" in meta:
            built = (
                meta["planes_per_band"],
                meta["n_bands"],
                meta["seed"],
            )
            if built != (planes_per_band, n_bands, seed):
                raise ValueError(
                    "corpus_keys artifact was built with (planes_per_"
                    f"band, n_bands, seed)={built}, but the query is "
                    f"keyed with {(planes_per_band, n_bands, seed)} — "
                    "mismatched geometry yields near-zero candidate "
                    "recall, not an error, so it is rejected here"
                )
        c_keys = corpus_keys.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("band").alias("_band"),
            F.col("bkey").alias("_key"),
        )
    else:
        c_keys = banded_signatures(
            corpus, id_col, vec_col, planes_per_band, n_bands, seed
        ).select(F.col("_id").alias("neighbor_id"), "_band", "_key")
    q_keys = banded_signatures(
        queries, id_col, vec_col, planes_per_band, n_bands, seed
    ).select(F.col("_id").alias("query_id"), "_band", "_key")

    cand = (
        c_keys.join(F.broadcast(q_keys), on=["_band", "_key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    scored = (
        cand.join(c, on="neighbor_id")
        .join(F.broadcast(q), on="query_id")
        .withColumn("cosine_sim", cosine(F.col("_qv"), F.col("_cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine_sim", 6).alias("cosine_sim"),
            "rank",
        )
    )


def ivf_assign(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str | None = None,
    n_cells: int = 8,
) -> DataFrame:
    """IVF build, stage 1: the coarse cell assignment
    ``(neighbor_id, cell, _cv)``.

    If ``cluster_col`` is given it is the coarse assignment; otherwise
    cells are built geometrically — the ``n_cells`` lowest-id vectors
    seed the cells and every vector joins its max-cosine seed
    (IVF-flat with deterministic seeds; production would run KMeans,
    same shape). At 100 TB this table is the persisted, cell-
    partitioned corpus layout every probe reads — see
    plans/queries.ivf_index_tables for the materialize-once wiring."""
    from pyspark.sql import Window

    arr = F.col(vec_col).cast("array<double>")
    if cluster_col is not None:
        return corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(cluster_col).alias("cell"),
            arr.alias("_cv"),
        )
    seeds = corpus.orderBy(id_col).limit(n_cells).select(
        F.col(id_col).alias("cell"), arr.alias("_seed")
    )
    base = corpus.select(F.col(id_col).alias("neighbor_id"), arr.alias("_cv"))
    w_seed = Window.partitionBy("neighbor_id").orderBy(
        cosine(F.col("_cv"), F.col("_seed")).desc(), F.col("cell").asc()
    )
    return (
        base.join(F.broadcast(seeds))
        .withColumn("_srk", F.row_number().over(w_seed))
        .filter(F.col("_srk") == 1)
        .select("neighbor_id", "cell", "_cv")
    )


def ivf_centroids(cell: DataFrame, dims: int | None = None) -> DataFrame:
    """IVF build, stage 2: per-cell mean centroids ``(cell,
    _centroid)`` from an :func:`ivf_assign` table.

    Coordinates are summed as micro-quantized int64 (CAST truncates
    toward zero — same op as quantize_micro), NOT as floats: integer
    sums are order-insensitive, so the centroid coordinate is
    bit-identical across engines and shuffle orders, and the n_probe
    cell ranking can never diverge from the SQL oracle on a near-tie
    between two cells' query cosines (float sums would make the
    tie-break summation-order-dependent). The ~1e-6 quantization is
    far below the inter-centroid angular resolution. Pass ``dims`` to
    keep the build single-job; the fallback probe is one limit(1)
    action."""
    if dims is None:
        dims = len(cell.select("_cv").first()["_cv"])
    sums = cell.groupBy("cell").agg(
        F.array(
            *[
                F.sum((F.col("_cv")[i] * F.lit(1_000_000.0)).cast("long"))
                for i in range(dims)
            ]
        ).alias("_isum"),
        F.count("*").alias("_n"),
    )
    return sums.select(
        "cell",
        F.transform(
            "_isum",
            lambda x: x.cast("double") / F.lit(1_000_000.0) / F.col("_n"),
        ).alias("_centroid"),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str | None = None,
    n_cells: int = 8,
    dims: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus into
    coarse cells, search only the ``n_probe`` cells whose centroids are
    nearest the query.

    ``index`` is an optional prebuilt ``(cell_assignments,
    centroids)`` pair (the :func:`ivf_assign` / :func:`ivf_centroids`
    outputs, e.g. read back from a materialized artifact) — the
    production shape: the index is built once per corpus snapshot and
    every search is probe-joins against the stored tables. Without it
    the index is derived inline from ``corpus``.

    The cell scan is the same broadcast top-k as cosine_topk,
    restricted by an equi-join on cell id — at scale the corpus stays
    partitioned BY cell on disk, so a probe reads only its cells
    (partition pruning).

    Approximate by construction (recall depends on n_probe) -> no SQL
    oracle; tested by containment against cosine_topk.
    """
    from pyspark.sql import Window

    arr = F.col(vec_col).cast("array<double>")

    if index is not None:
        cell, centroids = index
    else:
        cell = ivf_assign(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            cluster_col=cluster_col,
            n_cells=n_cells,
        )
        centroids = ivf_centroids(cell, dims=dims)

    q = queries.select(F.col(id_col).alias("query_id"), arr.alias("_qv"))
    # rank cells per query by centroid cosine; keep n_probe cells
    qc = q.join(F.broadcast(centroids))
    w_cell = Window.partitionBy("query_id").orderBy(
        cosine(F.col("_qv"), F.col("_centroid")).desc(), F.col("cell").asc()
    )
    probed = (
        qc.withColumn("_cell_rank", F.row_number().over(w_cell))
        .filter(F.col("_cell_rank") <= n_probe)
        .select("query_id", "_qv", "cell")
    )

    scored = probed.join(cell, on="cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        cosine(F.col("_qv"), F.col("_cv")).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_qv"), F.col("_cv")), 6).alias("cosine_sim"),
            "rank",
        )
    )


def quantize_int8_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Symmetric int8 quantization quality report per label group.

    Per vector: scale = max(|x|)/127, q_i = round(x_i/scale), and the
    reconstruction error e_i = x_i - q_i*scale. Every error term is
    integer-scaled to nano-units BEFORE any aggregation, so the group
    sums are exact bigint arithmetic — order-insensitive and therefore
    bit-identical across engines and shuffle orders (the cross-engine
    float-sum pitfall, avoided by construction).

    Output: (label, n_vecs, sum_sqerr_nano, sum_scale_nano) where
    sum_sqerr_nano = sum over all elements of (e_i * 1e9, rounded)^2
    and sum_scale_nano = sum of per-vector scales in nano-units.

    Scale: one narrow map stage + one partial-aggregated shuffle on
    label; all vector math is JVM higher-order functions over the
    materialized array column (no Python, no explode).
    """
    xs_df = emb.select(
        F.col(label_col).alias("label"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_xs"),
    )
    xs = F.col("_xs")
    scaled = xs_df.withColumn(
        "_scale", F.array_max(F.transform(xs, F.abs)) / F.lit(127.0)
    )
    sc = F.col("_scale")
    err = lambda x: F.when(sc > 0, x - F.round(x / sc, 0) * sc).otherwise(x)
    en_df = scaled.withColumn(
        "_en",
        F.transform(xs, lambda x: F.round(err(x) * F.lit(1e9), 0).cast("long")),
    )
    per_row = en_df.select(
        "label",
        F.aggregate(
            "_en", F.lit(0).cast("long"), lambda acc, e: acc + e * e
        ).alias("_row_sqerr"),
        F.round(sc * F.lit(1e9), 0).cast("long").alias("_scale_nano"),
    )
    return per_row.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.sum("_row_sqerr").alias("sum_sqerr_nano"),
        F.sum("_scale_nano").alias("sum_scale_nano"),
    )


def ann_recall_report(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k evaluation of an ANN index against exact top-k — the
    measurement every approximate-similarity deployment publishes
    before anyone trusts its candidate lists (q91 is the same idea
    for MinHash-vs-Jaccard; this closes the loop for the vector
    side).

    Inputs are the two result sets (query, neighbor[, ...]); the
    report is three aggregates + two query-keyed joins, all on
    query-cardinality data — evaluating recall costs nothing compared
    to producing either ranking, at any corpus size.

    Output per query: (query, n_exact, n_approx, n_overlap,
    recall) with recall = n_overlap / n_exact rounded 6dp.
    """
    from pyspark.sql import functions as F

    ex = exact.select(query_col, neighbor_col)
    ap = approx.select(query_col, neighbor_col)
    ov = (
        ex.join(ap, [query_col, neighbor_col])
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    exn = ex.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    apn = ap.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_approx"))
    return (
        exn.join(apn, query_col, "left")
        .join(ov, query_col, "left")
        .select(
            query_col,
            "n_exact",
            F.coalesce("n_approx", F.lit(0)).alias("n_approx"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)) / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def _pq_lloyd_all_subspaces(
    spark,
    xi_df: DataFrame,
    m: int,
    sub_dims: int,
    k_codes: int,
    iters: int,
    id_col: str,
):
    """Integer Lloyd rounds over ALL ``m`` subspaces batched into one
    corpus pass per iteration: the corpus is exploded once to
    (id, s, sx) rows and every round is ONE broadcast join against
    the (s, cid, c) centroid table + one argmin aggregate — m
    subspaces cost the same job count as one (an earlier cut looped
    subspaces serially: m x iters corpus jobs; this is iters).

    Returns (assigned, cents): ``assigned`` = (id, s, cid) of the
    FINAL assignment, ``cents`` = the {(s, cid): vec} dict it was
    computed against (NO trailing update — the set the ADC lookup
    tables must use, or codes and distances disagree). Per-subspace
    results are identical to independent runs (subspaces never
    interact): integer math, smallest-id seeds, trunc-div updates,
    (distance, cid) argmin ties — the operators/kmeans.py contract.
    """
    from pyspark.sql import functions as F

    from ursa_major_choir_etl_spark.caching import stage

    subs = stage(
        xi_df.select(
            F.col(id_col),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, {m - 1}),"
                    f" s -> slice(_xi, s * {sub_dims} + 1, {sub_dims}))"
                )
            ).alias("s", "_sx"),
        )
    )
    seed_rows = (
        xi_df.orderBy(id_col).limit(k_codes).collect()
    )
    cents: dict[tuple[int, int], list[int]] = {}
    for cid, row in enumerate(seed_rows):
        full = list(row["_xi"])
        for s in range(m):
            cents[(s, cid)] = full[s * sub_dims : (s + 1) * sub_dims]

    sqd = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    assigned = None
    for it in range(iters):
        cents_df = spark.createDataFrame(
            [(s, cid, v) for (s, cid), v in sorted(cents.items())],
            schema="s int, cid bigint, c array<bigint>",
        )
        scored = subs.join(F.broadcast(cents_df), "s").withColumn(
            "_d", sqd(F.col("_sx"), F.col("c"))
        )
        best = F.min(
            F.struct(
                F.col("_d").alias("d"),
                F.col("cid").alias("cid"),
                F.col("_sx").alias("sx"),
            )
        ).alias("m")
        assigned = (
            scored.groupBy(id_col, "s")
            .agg(best)
            .select(
                F.col(id_col),
                "s",
                F.col("m.cid").alias("cid"),
                F.col("m.sx").alias("_sx"),
            )
        )
        if it == iters - 1:
            break  # cents now matches this assignment — no update
        sums = (
            assigned.select("s", "cid", F.posexplode("_sx").alias("pos", "xd"))
            .groupBy("s", "cid", "pos")
            .agg(F.expr("sum(xd) DIV count(*)").alias("cv"))
            .collect()
        )
        by_key: dict[tuple[int, int], dict[int, int]] = {}
        for row in sums:
            by_key.setdefault((row["s"], row["cid"]), {})[row["pos"]] = row["cv"]
        cents = {
            key: (
                [by_key[key][d] for d in range(sub_dims)]
                if key in by_key
                else old
            )
            for key, old in cents.items()
        }
    return assigned.select(id_col, "s", "cid"), cents


def pq_recall_report(
    emb: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    k_nn: int = 5,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization ANN + its own recall evaluation — the
    fourth member of the ANN family (brute q22, sign-LSH q24, IVF
    q30, and now PQ): split vectors into ``m`` subspaces, learn a
    ``k_codes``-entry integer codebook per subspace (Lloyd), encode
    the corpus as m-byte codes, and answer queries by asymmetric
    distance computation (ADC) — per-query lookup tables of
    query-to-centroid distances, summed per subspace. Memory per
    corpus vector collapses from dims floats to m code ids; the
    query-time scan reads codes + a broadcast LUT, never the vectors.

    Every step is exact integer arithmetic on micro-scaled vectors
    (the operators/kmeans.py playbook), so codes, ADC distances, AND
    the recall numbers are bit-replayable in SQL.

    Distributed shape at 100 TB: codebooks/LUTs are model state
    (m * k_codes * sub_dims bigints; the LUT build collects the
    QUERY BATCH — bounded by contract, like the q22 broadcast side —
    never the corpus). The corpus is touched by: ONE batched
    assignment round per Lloyd iteration (all m subspaces against a
    broadcast (s, cid) centroid table — see _pq_lloyd_all_subspaces),
    and one ADC aggregation of the long-form code table x LUT; the
    per-query top-k runs through the bounded two-phase selection, so
    no window partition holds the corpus.

    Output per query: (query_id, n_exact, n_approx, n_overlap,
    recall) — PQ-ADC top-k measured against exact integer-L2 top-k.
    """
    from pyspark.sql import functions as F

    from ursa_major_choir_etl_spark.caching import stage
    from ursa_major_choir_etl_spark.operators.curation import (
        bounded_topn_per_key,
    )

    spark = emb.sparkSession
    if iters < 1:
        raise ValueError("iters must be >= 1")
    probe = emb.select(vec_col).first()
    if probe is None:  # empty corpus: empty report, not a crash
        return spark.createDataFrame(
            [],
            schema=(
                "query_id bigint, n_exact bigint, n_approx bigint,"
                " n_overlap bigint, recall double"
            ),
        )
    dims = len(probe[0])
    if dims % m:
        raise ValueError(f"dims {dims} not divisible by m {m}")
    sub_dims = dims // m
    xi_df = stage(
        emb.select(
            F.col(id_col),
            F.transform(
                vec_col,
                lambda x: F.round(x.cast("double") * scale, 0).cast("long"),
            ).alias("_xi"),
        )
    )
    q_rows = (
        xi_df.join(queries.select(id_col), id_col, "left_semi")
        .orderBy(id_col)
        .collect()
    )

    assigned, cents = _pq_lloyd_all_subspaces(
        spark, xi_df, m, sub_dims, k_codes, iters, id_col
    )
    lut_rows: list[tuple[int, int, int, int]] = []  # (query, s, cid, d)
    for qr in q_rows:
        full = list(qr["_xi"])
        for (s, cid), cvec in cents.items():
            qsub = full[s * sub_dims : (s + 1) * sub_dims]
            d = sum((qx - cx) * (qx - cx) for qx, cx in zip(qsub, cvec))
            lut_rows.append((qr[id_col], s, cid, d))
    lut = spark.createDataFrame(
        lut_rows, schema="query_id bigint, s int, cid bigint, d bigint"
    )
    adc = (
        assigned.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(lut), ["s", "cid"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    approx = bounded_topn_per_key(
        adc,
        ["query_id"],
        [F.col("adc_dist").asc(), F.col("neighbor_id").asc()],
        cap=k_nn,
        salt_on=F.col("neighbor_id"),
    ).select("query_id", "neighbor_id")

    q_df = spark.createDataFrame(
        [(qr[id_col], list(qr["_xi"])) for qr in q_rows],
        schema="query_id bigint, qx array<bigint>",
    )
    sqd_full = F.aggregate(
        F.zip_with(F.col("qx"), F.col("_xi"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    exact_scored = (
        xi_df.crossJoin(F.broadcast(q_df))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            sqd_full.alias("_ed"),
        )
    )
    exact = bounded_topn_per_key(
        exact_scored,
        ["query_id"],
        [F.col("_ed").asc(), F.col("neighbor_id").asc()],
        cap=k_nn,
        salt_on=F.col("neighbor_id"),
    ).select("query_id", "neighbor_id")
    return ann_recall_report(exact, approx)


def embedding_drift_ab(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 1_000_000,
    seed: int = 0,
) -> DataFrame:
    """Embedding-distribution drift monitor: split the corpus into
    two id-pure halves (md5-nibble parity — the A/B a monitoring job
    runs to estimate its own noise floor; pointed at two real
    snapshots, the same computation measures true temporal drift)
    and compare per-label centroids. A large shift on a stable split
    means the embedding space moved — re-index the ANN structures.

    Integer micro-unit centroids (sum DIV count per dimension — the
    operators/kmeans.py determinism playbook) make the squared-L2
    shift exact bigint math; the oracle replays it bit-for-bit.
    One explode-aggregate per half over (label, dim) cells — no
    windows, no joins bigger than label-cardinality.

    Output per label present in both halves: (label, n_a, n_b,
    l2sq_shift_micro) — squared centroid distance in micro^2 units.
    """
    from pyspark.sql import functions as F

    from ursa_major_choir_etl_spark.operators.dedup import bloom_position_sql

    pos = F.expr(bloom_position_sql(seed, f"CAST({id_col} AS STRING)", 5))
    xi = emb.select(
        F.col(label_col).alias("label"),
        F.pmod(pos, F.lit(2)).alias("half"),
        F.posexplode(
            F.transform(
                vec_col,
                lambda x: F.round(x.cast("double") * scale, 0).cast("long"),
            )
        ).alias("dim", "xv"),
    )
    from ursa_major_choir_etl_spark.caching import stage

    # cents (label x 2 x dims rows) feeds both join branches — stage
    # it so the corpus explode-aggregate runs once.
    cents = stage(
        xi.groupBy("label", "half", "dim")
        .agg(
            F.expr("sum(xv) DIV count(*)").alias("cv"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    a = cents.filter("half = 0").select(
        "label", "dim", F.col("cv").alias("ca"), F.col("n").alias("n_a")
    )
    b = cents.filter("half = 1").select(
        "label", "dim", F.col("cv").alias("cb"), F.col("n").alias("n_b")
    )
    return (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .alias("l2sq_shift_micro"),
        )
    )


def hard_negative_mining(
    emb: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector, the
    top-``k`` most-cosine-similar corpus vectors carrying a DIFFERENT
    label — the standard "closest wrong answers" batch construction
    for embedding-model / reranker training (harder negatives, better
    contrastive gradient).

    Scale shape: the anchor batch is broadcast (a training batch is
    small by definition) against one corpus scan — same layout as
    :func:`cosine_topk` — but the per-anchor selection runs through
    the salted two-phase bounded top-N instead of a raw window, so no
    single task ever sorts a corpus-sized partition: phase 1 keeps a
    per-salt top-k superset, phase 2 re-ranks <= k * n_salts rows per
    anchor. Label inequality is applied in the join condition, so
    same-label pairs never materialize.

    Output: (query_id, anchor_label, neighbor_id, neighbor_label,
    cosine_sim, rank) — cosine rounded 6dp for display, ranking on
    the raw double (identical IEEE fold order cross-engine).
    """
    from ursa_major_choir_etl_spark.operators.curation import (
        bounded_topn_per_key,
    )

    a = anchors.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    scored = c.join(
        F.broadcast(a), F.col("anchor_label") != F.col("neighbor_label")
    ).select(
        "query_id",
        "anchor_label",
        "neighbor_id",
        "neighbor_label",
        cosine(F.col("_qv"), F.col("_cv")).alias("_cs"),
    )
    return bounded_topn_per_key(
        scored,
        ["query_id"],
        [F.col("_cs").desc(), F.col("neighbor_id").asc()],
        cap=k,
        salt_on=F.col("neighbor_id"),
    ).select(
        "query_id",
        "anchor_label",
        "neighbor_id",
        "neighbor_label",
        F.round("_cs", 6).alias("cosine_sim"),
        "rank",
    )


def mrr_report(
    exact: DataFrame,
    approx: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Mean reciprocal rank of the TRUE nearest neighbor inside an
    approximate index's ranked list — the rank-aware companion to
    :func:`ann_recall_report` (recall@k says the truth was *found*;
    MRR says how far down the list a consumer must read to see it,
    which is what governs rerank-stage cost).

    ``exact`` supplies ground truth as its rank-1 rows; each truth
    row left-joins into the approx ranked list and contributes
    1e6 DIV found_rank (integer floor — exact cross-engine, no
    float division), or 0 when the truth is absent entirely.

    Query-cardinality work only: two query-keyed frames, one join,
    one global aggregate — evaluation costs nothing next to index
    construction at any corpus size.

    Output (one row): (n_queries, n_found, mrr_ppm).
    """
    truth = exact.filter(F.col(rank_col) == 1).select(
        query_col, neighbor_col
    )
    found = approx.select(
        query_col, neighbor_col, F.col(rank_col).alias("_fr")
    )
    hit = truth.join(found, [query_col, neighbor_col], "left")
    return hit.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.col("_fr").isNotNull().cast("bigint")).alias("n_found"),
        F.expr(
            "CAST(sum(CASE WHEN _fr IS NOT NULL THEN 1000000 DIV _fr"
            " ELSE 0 END) DIV count(1) AS BIGINT)"
        ).alias("mrr_ppm"),
    )


def label_centroid_confusion(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 1_000_000,
) -> DataFrame:
    """Nearest-centroid probe: assign every vector to its closest
    label centroid and cross-tabulate predicted vs true — the
    cheapest possible "are these embeddings linearly separable by
    class" diagnostic (a confusion matrix without training anything),
    the sanity check run before trusting labels for hard-negative
    mining or stratified sampling.

    Determinism contract: embeddings are first quantized to integer
    micro-units (round(x * scale) as bigint), so centroid NUMERATORS
    are exact order-insensitive integer sums; the only floats are
    s/n divisions and the squared-difference fold over the dimension
    array — a FIXED-ORDER sequential fold both engines replay
    identically (never a partition-order float sum). Distance ties
    break on the smaller label.

    Scale shape: one dimension-explode aggregate builds (label, dim)
    numerators — model-state-sized (labels x dims); centroids come
    back as per-label arrays and BROADCAST against one corpus scan;
    the confusion matrix is a (labels^2)-cardinality aggregate.

    Output: (label_true, label_pred, n_vectors).
    """
    q = emb.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("label_true"),
        F.expr(
            f"transform(CAST({vec_col} AS ARRAY<DOUBLE>),"
            f" x -> CAST(round(x * {scale}) AS BIGINT))"
        ).alias("_qv"),
    )
    dims = q.select(
        "label_true", F.posexplode("_qv").alias("dim", "v")
    )
    cent = (
        dims.groupBy(F.col("label_true").alias("_lc"), "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .groupBy("_lc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "s", "n"))
            ).alias("_c")
        )
        .select(
            "_lc",
            F.expr("transform(_c, e -> e.s / e.n)").alias("_cv"),
        )
    )
    scored = q.crossJoin(F.broadcast(cent)).select(
        "_id",
        "label_true",
        F.col("_lc").alias("label_pred"),
        F.expr(
            "aggregate(zip_with(_qv, _cv, (x, c) -> (x - c) * (x - c)),"
            " CAST(0.0 AS DOUBLE), (acc, d) -> acc + d)"
        ).alias("_d2"),
    )
    best = scored.groupBy("_id", "label_true").agg(
        F.min(F.struct(F.col("_d2"), F.col("label_pred"))).alias("_b")
    )
    return (
        best.select("label_true", F.col("_b.label_pred").alias("label_pred"))
        .groupBy("label_true", "label_pred")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def embedding_dim_health(
    emb: DataFrame,
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-dimension embedding health: exact integer mean and
    variance (in micro-units) for every vector dimension, with dead
    (zero-variance) and dominant flags — the table that catches
    collapsed or exploding dimensions before they poison cosine
    similarity downstream (a dead dim wastes index capacity; a
    dominant one silently owns every distance).

    Determinism: values quantize to integer micro-units first, so
    sum and sum-of-squares are exact order-insensitive DECIMAL(38,0)
    integers; mean_micro = S DIV n and var_micro2 = (n*S2 - S*S)
    DIV (n*n) are identical floor divisions in both engines — no
    float accumulation anywhere.

    Scale shape: one posexplode + (dim)-keyed aggregate — dims-many
    groups, corpus-sized shuffle input but constant agg state per
    dim. Output: (dim, n, mean_micro, var_micro2, is_dead).
    """
    d38 = "DECIMAL(38,0)"
    dims = emb.select(
        F.posexplode(
            F.expr(
                f"transform(CAST({vec_col} AS ARRAY<DOUBLE>),"
                f" x -> CAST(round(x * {scale}) AS BIGINT))"
            )
        ).alias("dim", "v")
    )
    return (
        dims.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(f"CAST(v AS {d38})")).alias("_s"),
            F.sum(F.expr(f"CAST(v AS {d38}) * v")).alias("_s2"),
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            "n",
            F.expr("CAST(_s DIV n AS BIGINT)").alias("mean_micro"),
            F.expr(
                "CAST((n * _s2 - _s * _s) DIV (CAST(n AS DECIMAL(38,0)) * n)"
                " AS BIGINT)"
            ).alias("var_micro2"),
            F.expr(
                "CAST(CASE WHEN n * _s2 - _s * _s = 0 THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("is_dead"),
        )
    )


def epsilon_neighborhood_spectrum(
    df: DataFrame,
    id_col: str = "vec_id",
    x_col: str = "x",
    y_col: str = "y",
    eps: float = 0.02,
    min_pts: int = 3,
) -> DataFrame:
    """DBSCAN's expensive half — the epsilon-neighborhood counting —
    as a GRID-BUCKETED pair join (the standard distributed spatial
    pattern: hash points to floor(coord/eps) cells, candidates live
    in the 3x3 neighbor block, exact distance verifies). Never
    all-pairs: each true pair is produced by exactly ONE (cell,
    offset) combination, so no dedup pass is needed. Dense-cell skew
    is the known failure mode at scale — cells are eps-sized so a
    dense region concentrates keys; AQE's skew-join split is the
    mitigation, and the exact-distance filter keeps correctness
    independent of it.

    Floats are safe here BECAUSE no float is ever summed: coordinate
    arithmetic ((x1-x2)² + (y1-y2)² <= eps², floor(x/eps)) is a fixed
    IEEE expression per pair, bit-identical in any engine; every
    aggregate is an integer count/sum.

    Output: the neighbor-count spectrum — (n_neighbors, n_points,
    sum_id, is_core) with is_core = n_neighbors >= ``min_pts``,
    zero-neighbor points included — the report that tunes (eps,
    min_pts) before a clustering run.
    """
    from ursa_major_choir_etl_spark.caching import stage

    pts = stage(
        df.select(
            F.col(id_col).alias("_id"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        )
        .withColumn(
            "_cx", F.expr(f"CAST(floor(_x / {eps!r}) AS BIGINT)")
        )
        .withColumn(
            "_cy", F.expr(f"CAST(floor(_y / {eps!r}) AS BIGINT)")
        )
    )
    spark = df.sparkSession
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "_dx long, _dy long",
    )
    a = (
        pts.crossJoin(F.broadcast(offs))
        .select(
            F.col("_id").alias("_ia"),
            F.col("_x").alias("_ax"),
            F.col("_y").alias("_ay"),
            (F.col("_cx") + F.col("_dx")).alias("_kx"),
            (F.col("_cy") + F.col("_dy")).alias("_ky"),
        )
    )
    b = pts.select(
        F.col("_id").alias("_ib"),
        F.col("_x").alias("_bx"),
        F.col("_y").alias("_by"),
        F.col("_cx").alias("_kx"),
        F.col("_cy").alias("_ky"),
    )
    dist2 = F.expr("(_ax - _bx) * (_ax - _bx) + (_ay - _by) * (_ay - _by)")
    pairs = (
        a.join(b, ["_kx", "_ky"])
        .filter(F.col("_ia") < F.col("_ib"))
        .filter(dist2 <= F.expr(f"{eps!r} * {eps!r}"))
        .select("_ia", "_ib")
    )
    nbrs = (
        pairs.select(F.col("_ia").alias("_id"))
        .union(pairs.select(F.col("_ib").alias("_id")))
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_nn"))
    )
    return (
        pts.join(nbrs, "_id", "left")
        .fillna(0, subset=["_nn"])
        .groupBy(F.col("_nn").alias("n_neighbors"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("_id").alias("sum_id"),
        )
        .withColumn("is_core", F.col("n_neighbors") >= min_pts)
        .orderBy("n_neighbors")
    )


def map_at_k_report(
    shortlist: DataFrame,
    query_labels: DataFrame,
    neighbor_labels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Mean average precision @ k of a ranked retrieval shortlist,
    with same-label membership as graded relevance — recall@k
    (:func:`ann_recall_report`) says the right items were found, MRR
    (:func:`mrr_report`) prices the FIRST hit; MAP grades the WHOLE
    ordering, penalizing every relevant item pushed below an
    irrelevant one. The triple completes the standard IR-eval suite
    for an embedding index.

    Integer quantization (registry value-hash contract):

        ap_u   = sum over relevant ranks r<=k of
                 (relcnt@r * 1e6 DIV r)        (P@r in floor-ppm)
        ap_ppm = ap_u DIV min(R_total, k)      (R_total = same-label
                                                corpus mates)
        map    = sum(ap_ppm) DIV n_queries     (per label)

    Both engines floor identically at each of the three steps, so the
    metric value-hashes; it differs from true MAP by < 1e-6 per term.

    Shape: the shortlist is query-cardinality x k; relevance counts
    are a per-query window over <= k rows (partitioned, never
    global); R_total comes from the label histogram — evaluation
    never touches the corpus beyond the one label-histogram
    aggregate. Output per label:
    (label, n_queries, n_relevant_total, map_ppm).
    """
    from pyspark.sql import Window

    ql = query_labels.select(
        F.col(query_col), F.col("label").alias("_qlabel")
    )
    nl = neighbor_labels.select(
        F.col(neighbor_col), F.col("label").alias("_nlabel")
    )
    sl = (
        shortlist.filter(F.col(rank_col) <= k)
        .join(nl, neighbor_col)
        .join(F.broadcast(ql), query_col)
        .withColumn(
            "_rel", (F.col("_nlabel") == F.col("_qlabel")).cast("long")
        )
    )
    w = (
        Window.partitionBy(query_col)
        .orderBy(F.col(rank_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    terms = sl.withColumn("_relcnt", F.sum("_rel").over(w)).withColumn(
        "_term",
        F.expr(f"CASE WHEN _rel = 1 THEN _relcnt * 1000000 DIV {rank_col}"
               " ELSE 0 END"),
    )
    ap_u = terms.groupBy(query_col).agg(F.sum("_term").alias("_ap_u"))
    # R_total per label: same-label corpus mates of a query = count-1
    lh = neighbor_labels.groupBy(F.col("label").alias("_qlabel")).agg(
        F.count(F.lit(1)).alias("_lc")
    )
    # every query scores, even those whose shortlist came back empty
    ap = (
        ql.join(ap_u, query_col, "left")
        .join(F.broadcast(lh), "_qlabel")
        .withColumn(
            "_r10", F.least(F.col("_lc") - 1, F.lit(k)).cast("long")
        )
        .withColumn(
            "_ap_ppm",
            F.expr(
                "CASE WHEN _r10 > 0 THEN"
                " coalesce(_ap_u, 0) DIV _r10 ELSE 0 END"
            ),
        )
    )
    return (
        ap.groupBy(F.col("_qlabel").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.max(F.expr("_lc - 1")).alias("n_relevant_total"),
            F.expr("CAST(sum(_ap_ppm) DIV count(1) AS BIGINT)").alias(
                "map_ppm"
            ),
        )
        .select("label", "n_queries", "n_relevant_total", "map_ppm")
    )
