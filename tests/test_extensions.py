"""Semantic unit tests for the LLM-pipeline extension operators —
hand-computable fixtures, independent of the DuckDB oracle harness."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),  # exact dup of 1
        (3, "the cat sat on the red mat"),  # near dup of 1
        (4, "completely different words entirely here now"),
        (5, "The cat sat, on the MAT!"),  # dup of 1 after normalization
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


class TestTextOps:
    def test_token_count(self, spark):
        df = spark.createDataFrame([("a b  c ",), ("",)], "text string")
        out = df.select(text.token_count("text").alias("n")).collect()
        assert [r["n"] for r in out] == [3, 0]

    def test_piece_count_splits_punct(self, spark):
        df = spark.createDataFrame([("don't stop!",)], "text string")
        out = df.select(text.bpe_ish_piece_count("text").alias("n")).collect()
        # don / ' / t / stop / ! -> 5 pieces
        assert out[0]["n"] == 5

    def test_language_id(self, spark):
        rows = [
            ("the quick fox and the dog of a farm",),
            ("der hund und die katze ist da",),
            ("le chat et la maison est grande",),
            ("xyzzy qwerty",),
        ]
        out = (
            spark.createDataFrame(rows, "text string")
            .select(text.language_id("text").alias("l"))
            .collect()
        )
        assert [r["l"] for r in out] == ["en", "de", "fr", "und"]

    def test_fingerprint_normalization_invariance(self, docs):
        fps = {
            r["doc_id"]: r["fp"]
            for r in docs.select("doc_id", text.fingerprint("text").alias("fp")).collect()
        }
        assert fps[1] == fps[2] == fps[5]
        assert fps[1] != fps[3]

    def test_quality_score_bounds(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import T

        docs = T(spark, "/root/testdata/sf0.001", "documents")
        mm = docs.select(
            F.min(text.quality_score("text")).alias("lo"),
            F.max(text.quality_score("text")).alias("hi"),
        ).collect()[0]
        assert 0.0 <= mm["lo"] <= mm["hi"] <= 1.0


class TestDedup:
    def test_exact_groups(self, docs):
        groups = dedup.exact_duplicate_groups(docs).collect()
        by_keep = {r["keep_id"]: r["n_docs"] for r in groups}
        assert by_keep[1] == 3  # docs 1, 2, 5 collapse
        assert by_keep[3] == 1
        assert by_keep[4] == 1

    def test_jaccard_finds_near_dup(self, docs):
        sh = dedup.word_shingles(docs)
        pairs = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.jaccard_pairs(sh, threshold=0.3).collect()
        }
        # identical docs -> jaccard 1.0
        assert pairs[(1, 2)] == 1.0
        assert pairs[(1, 5)] == 1.0
        # near dup shares "the cat sat", "cat sat on", "sat on the"
        assert (1, 3) in pairs
        assert 0.3 <= pairs[(1, 3)] < 1.0
        assert (1, 4) not in pairs

    def test_minhash_lsh_catches_exact_dups(self, docs):
        sh = dedup.word_shingles(docs)
        sigs = dedup.minhash_signatures(sh, num_hashes=8)
        cand = {
            (r["id_a"], r["id_b"])
            for r in dedup.lsh_candidate_pairs(sigs, num_hashes=8, bands=4).collect()
        }
        # identical shingle sets -> identical signatures -> always candidates
        assert (1, 2) in cand
        assert (1, 5) in cand
        assert (2, 5) in cand

    def test_simhash_identical_docs_equal(self, docs):
        hashes = {
            r["doc_id"]: r["simhash"] for r in dedup.simhash32(docs).collect()
        }
        assert hashes[1] == hashes[2] == hashes[5]
        assert len(hashes[1]) == 32
        assert set(hashes[1]) <= {"0", "1"}
        # near-dup differs in few bits from dup-group, far doc in many
        def hamming(a, b):
            return sum(x != y for x, y in zip(a, b))

        assert hamming(hashes[1], hashes[3]) < hamming(hashes[1], hashes[4])


class TestSimilarity:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # close to 0
            (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
            (3, [-1.0, 0.0, 0.0]),  # opposite of 0
            (4, [1.0, 0.05, 0.0]),  # closest to 0
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_exact_topk_order(self, vecs):
        out = similarity.cosine_topk(vecs, vecs.filter(F.col("vec_id") == 0), k=3)
        ranked = [
            r["neighbor_id"] for r in out.orderBy("rank").collect()
        ]
        assert ranked == [4, 1, 2]

    def test_cosine_values(self, vecs):
        out = {
            r["neighbor_id"]: r["cosine_sim"]
            for r in similarity.cosine_topk(
                vecs, vecs.filter(F.col("vec_id") == 0), k=4
            ).collect()
        }
        assert abs(out[4] - (1.0 / math.sqrt(1 + 0.05**2))) < 1e-4
        assert abs(out[2] - 0.0) < 1e-9
        assert abs(out[3] - (-1.0)) < 1e-9

    def test_near_dup_pairs_threshold(self, vecs):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in similarity.near_duplicate_pairs(vecs, threshold=0.99).collect()
        }
        assert (1, 4) in pairs  # cos ~ 0.9988
        assert (0, 4) in pairs  # cos ~ 0.9988
        assert (0, 2) not in pairs

    def test_ivf_recall_vs_brute(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import T

        emb = T(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.cosine_topk(emb, queries, k=3).collect()
        }
        ivf = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(emb, queries, k=3, n_probe=2).collect()
        }
        recall = len(exact & ivf) / len(exact)
        assert recall >= 0.5  # 2 of 3 cells probed; must be non-trivial


class TestMultimodal:
    def test_decode_schema_and_determinism(self, docs):
        blobs = multimodal.with_fake_blob(docs)
        out = multimodal.decode_image_metadata(blobs)
        assert out.columns == [
            "doc_id", "n_bytes", "format", "width", "height", "n_channels",
        ]
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1]["n_bytes"] == len("the cat sat on the mat".encode())
        assert rows[1]["width"] == rows[2]["width"]  # same payload -> same meta


class TestConnectedComponents:
    def test_chain_and_island_clusters(self, spark):
        from ursa_major_choir_etl_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 11)],
            "id_a long, id_b long",
        )
        got = {
            r["node"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 10}

    def test_converges_on_long_chain(self, spark):
        from ursa_major_choir_etl_spark.operators.dedup import connected_components

        n = 30  # chain 0-1-2-...-30: worst case for min propagation
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )
        got = connected_components(pairs, max_iterations=50)
        assert got.select("component").distinct().count() == 1
        assert got.count() == n + 1


class TestSampling:
    def test_hash_split_stable_under_growth(self, spark):
        from ursa_major_choir_etl_spark.operators.sampling import split_train_eval

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        half = docs.filter("doc_id % 2 = 0")
        _, ev_half = split_train_eval(half, 0.1, id_col="doc_id")
        train_full, ev_full = split_train_eval(docs, 0.1, id_col="doc_id")

        ids_half = {r["doc_id"] for r in ev_half.select("doc_id").collect()}
        ids_full = {r["doc_id"] for r in ev_full.select("doc_id").collect()}
        # growing the corpus never migrates an id across splits
        assert ids_half <= ids_full
        # disjoint + covering
        tr = {r["doc_id"] for r in train_full.select("doc_id").collect()}
        assert tr.isdisjoint(ids_full)
        assert len(tr) + len(ids_full) == docs.count()
        # eval rate near requested
        assert abs(len(ids_full) / docs.count() - 0.1) < 0.05


class TestGroupedMap:
    def test_minmax_normalize_bounds_and_constant_group(self, spark):
        from ursa_major_choir_etl_spark.operators.grouped import minmax_normalize

        df = spark.createDataFrame(
            [("a", 10.0), ("a", 20.0), ("a", 15.0), ("b", 7.0), ("b", 7.0)],
            "g string, v double",
        )
        out = minmax_normalize(df, ["g"], "v", out_col="norm")
        got = {(r["g"], r["v"]): r["norm"] for r in out.collect()}
        assert got[("a", 10.0)] == 0.0
        assert got[("a", 20.0)] == 1.0
        assert got[("a", 15.0)] == 0.5
        # constant group maps to midpoint, not null/nan
        assert got[("b", 7.0)] == 0.5
        # input df not corrupted by schema construction
        assert df.columns == ["g", "v"]


class TestCountMinSketch:
    def test_one_sided_and_exact_without_collisions(self, spark):
        from ursa_major_choir_etl_spark.operators import sketches as sk

        # 26 distinct values << width=4096: collisions are possible but
        # the one-sided bound (est >= true) holds unconditionally.
        df = spark.createDataFrame(
            [(chr(ord("a") + i % 26),) for i in range(500)], "v string"
        )
        sketch = sk.cm_sketch(df, "v", depth=4, width=4096)
        truth = df.groupBy("v").agg(F.count(F.lit(1)).alias("true_n"))
        est = {
            r["v"]: (r["true_n"], r["est_n"])
            for r in sk.cm_estimate(sketch, truth, "v").collect()
        }
        assert len(est) == 26
        for v, (t, e) in est.items():
            assert e >= t, (v, t, e)
        # depth=4 independent hash rows over 26 keys in 4096 buckets:
        # at least one collision-free row per key is overwhelmingly
        # likely, making the min exact.
        assert all(e == t for t, e in est.values())

    def test_unseen_value_estimates_zero_or_collision(self, spark):
        from ursa_major_choir_etl_spark.operators import sketches as sk

        df = spark.createDataFrame([("x",), ("y",)], "v string")
        sketch = sk.cm_sketch(df, "v", depth=4, width=4096)
        probe = spark.createDataFrame([("zzz", 0)], "v string, true_n int")
        [row] = sk.cm_estimate(sketch, probe, "v").collect()
        assert row["est_n"] == 0

    def test_merge_identity(self, spark):
        from ursa_major_choir_etl_spark.operators import sketches as sk

        whole = spark.createDataFrame(
            [(str(i % 40),) for i in range(1000)], "v string"
        )
        a = whole.filter(F.col("v").cast("int") < 20)
        b = whole.filter(F.col("v").cast("int") >= 20)
        merged = (
            sk.cm_sketch(a, "v").unionAll(sk.cm_sketch(b, "v"))
            .groupBy("d", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        direct = sk.cm_sketch(whole, "v")
        assert (
            merged.exceptAll(direct).count() == 0
            and direct.exceptAll(merged).count() == 0
        )

    def test_width_must_be_power_of_16(self, spark):
        from ursa_major_choir_etl_spark.operators import sketches as sk

        with pytest.raises(ValueError):
            sk.cms_bucket("v", 0, width=100)


class TestBucketedNearDup:
    """near_duplicate_pairs_bucketed: the no-broadcast scale path."""

    def test_containment_and_recall_vs_exact(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import T

        emb = T(spark, "/root/testdata/sf0.001", "embeddings")
        exact = {
            (r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in similarity.near_duplicate_pairs(emb, threshold=0.4).collect()
        }
        bucketed = {
            (r["id_a"], r["id_b"]): r["cosine_sim"]
            for r in similarity.near_duplicate_pairs_bucketed(
                emb, threshold=0.4, planes_per_band=4, n_bands=16
            ).collect()
        }
        # every reported pair is a true near-dup with the exact sim
        assert set(bucketed) <= set(exact)
        for pair, sim in bucketed.items():
            assert abs(sim - exact[pair]) < 1e-9
        # high-similarity pairs (the dedup regime) must all be caught
        hot = {p for p, s in exact.items() if s >= 0.9}
        assert hot <= set(bucketed)
        # and overall recall is non-trivial at the loose threshold
        assert len(bucketed) / max(len(exact), 1) >= 0.5

    def test_no_collect_in_plan(self, spark):
        """The bucketed path must not pull the corpus to the driver:
        its plan is mapInPandas -> explode -> FlatMapGroupsInPandas."""
        from ursa_major_choir_etl_spark.plans.queries import T

        emb = T(spark, "/root/testdata/sf0.001", "embeddings")
        df = similarity.near_duplicate_pairs_bucketed(emb)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" in plan
        assert "Generate" in plan  # the band explode


class TestBlockedExactNearDup:
    """near_duplicate_pairs_blocked: exact all-pairs with no driver
    collect and no corpus broadcast (block-pair cogroup GEMM)."""

    def test_identical_to_broadcast_gemm(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import T

        emb = T(spark, "/root/testdata/sf0.001", "embeddings")
        want = sorted(
            map(tuple, similarity.near_duplicate_pairs(emb, threshold=0.4).collect())
        )
        for n_blocks in (1, 3, 8):
            got = sorted(
                map(
                    tuple,
                    similarity.near_duplicate_pairs_blocked(
                        emb, threshold=0.4, n_blocks=n_blocks
                    ).collect(),
                )
            )
            assert got == want, f"n_blocks={n_blocks}"

    def test_no_collect_no_broadcast_of_corpus(self, spark):
        """Plan shape: cogrouped Arrow exec over the block-pair join;
        the only broadcasts are the tiny block-pair tables."""
        from ursa_major_choir_etl_spark.plans.queries import T

        emb = T(spark, "/root/testdata/sf0.001", "embeddings")
        df = similarity.near_duplicate_pairs_blocked(emb, threshold=0.4)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in plan


class TestSignLshTopk:
    """Deterministic sign-LSH ANN: bucket-join candidates, exact
    cosine ranking, bit-reproducible band keys."""

    def test_deterministic_planes_pinned(self):
        """The plane constants are part of the oracle contract: if
        this pin moves, every persisted band key and the q24/q76
        oracles move with it."""
        p = similarity.deterministic_planes(2, 3, seed=42)
        import hashlib

        def ref(pp, jj):
            h = hashlib.md5(f"42:{pp}:{jj}".encode()).hexdigest()[:8]
            return (int(h, 16) % 65536) - 32768

        assert [[ref(pp, jj) for jj in range(3)] for pp in range(2)] == p.tolist()

    def test_results_contained_in_exact_topk(self, spark):
        """Every ANN hit must be a true neighbor with its exact cosine:
        sign-LSH only FILTERS the candidate set, never rescores."""
        from ursa_major_choir_etl_spark.plans.queries import T

        emb = T(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        exact_all = {
            (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
            for r in similarity.cosine_topk(emb, queries, k=50).collect()
        }
        ann = similarity.sign_lsh_topk(
            emb, queries, k=3, planes_per_band=4, n_bands=16
        ).collect()
        assert len(ann) > 0
        for r in ann:
            key = (r["query_id"], r["neighbor_id"])
            assert key in exact_all
            assert abs(r["cosine_sim"] - exact_all[key]) < 1e-9

    def test_recall_vs_brute(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import T

        emb = T(spark, "/root/testdata/sf0.001", "embeddings")
        queries = emb.filter(F.col("vec_id") < 10)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.cosine_topk(emb, queries, k=3).collect()
        }
        ann = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.sign_lsh_topk(
                emb, queries, k=3, planes_per_band=4, n_bands=16
            ).collect()
        }
        assert len(exact & ann) / len(exact) >= 0.6

    def test_band_keys_invariant_to_partitioning(self, spark):
        """Band signatures are a pure per-row function: repartitioning
        (different Arrow batch boundaries, including tiny/empty
        partitions) must not change a single key. Pins the per-task
        plane-regeneration logic against batch-shape sensitivity."""
        from ursa_major_choir_etl_spark.plans.queries import T

        emb = T(spark, "/root/testdata/sf0.001", "embeddings")
        base = sorted(
            map(
                tuple,
                similarity.banded_signatures(emb)
                .select("_id", "_band", "_key")
                .collect(),
            )
        )
        for n_parts in (1, 7, 64):  # 64 > row groups: empty partitions
            got = sorted(
                map(
                    tuple,
                    similarity.banded_signatures(emb.repartition(n_parts))
                    .select("_id", "_band", "_key")
                    .collect(),
                )
            )
            assert got == base, f"n_parts={n_parts}"


class TestJaccardPruneProperty:
    """The PPJoin-style prune in jaccard_pairs is an UPPER-BOUND
    argument (I <= I_rare + min(hot_a, hot_b)); this pins it against a
    brute-force Python mirror of the documented contract on randomized
    inputs — small alphabets force shared and HOT shingles, small caps
    force the hot-path bookkeeping, thresholds hit borderline pairs.

    Contract mirrored: candidates = pairs sharing >= 1 shingle with
    document frequency <= cap; jaccard computed EXACTLY over the full
    shingle sets (hot ones included); keep jaccard >= threshold.
    """

    CASES = [
        # (n_docs, vocab, doc_len, n, cap, threshold, seed)
        (8, 5, 8, 2, 2, 0.3, 1),
        (10, 4, 10, 2, 3, 0.5, 2),
        (12, 6, 6, 3, 2, 0.2, 3),
        (9, 3, 12, 2, 100, 0.7, 4),
        (14, 5, 9, 2, 4, 0.45, 5),
    ]

    @pytest.mark.parametrize("n_docs,vocab,doc_len,n,cap,threshold,seed", CASES)
    def test_matches_bruteforce(
        self, spark, n_docs, vocab, doc_len, n, cap, threshold, seed
    ):
        import random

        rng = random.Random(seed)
        words = [f"w{i}" for i in range(vocab)]
        docs = [
            (i, " ".join(rng.choice(words) for _ in range(doc_len)))
            for i in range(n_docs)
        ]

        # --- brute-force reference on the raw shingle sets ----------
        def shingle_set(text):
            toks = text.split()
            return {
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            }

        sets = {i: shingle_set(t) for i, t in docs}
        df_count = {}
        for s in sets.values():
            for sh_ in s:
                df_count[sh_] = df_count.get(sh_, 0) + 1
        expected = {}
        for a in range(n_docs):
            for b in range(a + 1, n_docs):
                shared = sets[a] & sets[b]
                if not any(df_count[sh_] <= cap for sh_ in shared):
                    continue  # not a candidate under the contract
                union = len(sets[a] | sets[b])
                if union == 0:
                    continue
                j = len(shared) / union
                if j >= threshold:
                    expected[(a, b)] = round(j, 6)

        # --- engine under test --------------------------------------
        sdf = spark.createDataFrame(docs, "doc_id long, text string")
        sh = dedup.word_shingles(sdf, n=n)
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.jaccard_pairs(
                sh, threshold=threshold, hot_shingle_cap=cap
            ).collect()
        }
        assert got.keys() == expected.keys()
        for k in expected:
            assert abs(got[k] - expected[k]) < 1e-9, k


class TestStarConnectedComponents:
    """large-star/small-star CC: same contract as min-label, O(log n)
    rounds on chains; property-checked against a union-find oracle."""

    @staticmethod
    def _oracle(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    def _check(self, spark, pairs):
        from ursa_major_choir_etl_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        want = self._oracle(pairs)
        star = {r["node"]: r["component"]
                for r in connected_components_star(df).collect()}
        minl = {r["node"]: r["component"]
                for r in connected_components(df, max_iterations=60).collect()}
        assert star == want
        assert minl == want

    def test_chain_star_clique_random(self, spark):
        import random

        chain = [(i, i + 1) for i in range(40)]
        self._check(spark, chain)
        star_g = [(0, i) for i in range(1, 12)]
        clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
        self_loops = [(99, 99), (100, 101)]
        self._check(spark, star_g + [(50, 51)] + clique + self_loops)
        rng = random.Random(7)
        rand_g = [(rng.randrange(30), rng.randrange(30)) for _ in range(45)]
        self._check(spark, rand_g)

    def test_string_ids_converge(self, spark):
        """Regression: sum(component) over string ids is NULL, which
        used to short-circuit convergence after one round."""
        from ursa_major_choir_etl_spark.operators.dedup import (
            connected_components,
            connected_components_star,
        )

        pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")]
        df = spark.createDataFrame(pairs, "id_a string, id_b string")
        for fn in (connected_components, connected_components_star):
            got = {r["node"]: r["component"] for r in fn(df).collect()}
            assert got == {
                "a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x",
            }


class TestMultimodalAudioEmbed:
    def test_embed_unit_norm_and_pipeline(self, spark, docs):
        import math

        from ursa_major_choir_etl_spark.operators import multimodal
        from ursa_major_choir_etl_spark.plans.queries import QUERIES

        emb = multimodal.embed_blob_stub(multimodal.with_fake_blob(docs.limit(20)))
        for r in emb.collect():
            n = math.sqrt(sum(x * x for x in r["embedding"]))
            assert abs(n - 1.0) < 1e-5
            assert len(r["embedding"]) == 16
        out = QUERIES["q85_multimodal_pipeline"](spark, "/root/testdata/sf0.001")
        rows = out.collect()
        assert len(rows) == 9  # 3 queries x top-3
        assert all(-1.0 <= r["cosine_sim"] <= 1.0 for r in rows)


class TestWinnowing:
    def test_normalized_dups_share_fingerprint_set(self, docs):
        fps = dedup.winnowing_fingerprints(docs, k=2, w=2)
        by_doc: dict[int, set] = {}
        for r in fps.collect():
            by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
        # 1, 2 identical; 5 identical after normalization
        assert by_doc[1] == by_doc[2] == by_doc[5]
        assert by_doc[1].isdisjoint(by_doc[4])

    def test_short_doc_emits_single_global_min(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta")], "doc_id long, text string"
        )
        # 4 tokens, k=4 -> 1 kgram, below w=5 -> exactly one fingerprint
        out = dedup.winnowing_fingerprints(df, k=4, w=5).collect()
        assert len(out) == 1

    def test_shared_long_substring_guarantees_shared_fingerprint(self, spark):
        common = "one two three four five six seven eight nine ten"
        df = spark.createDataFrame(
            [
                (1, "prefix words here " + common),
                (2, common + " suffix tail words"),
            ],
            "doc_id long, text string",
        )
        # shared run of 10 tokens >= w + k - 1 = 8 -> >= 1 shared fp
        fps = dedup.winnowing_fingerprints(df, k=4, w=5)
        pairs = dedup.fingerprint_overlap_pairs(fps, min_shared=1).collect()
        assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]

    def test_overlap_pairs_threshold_and_order(self, docs):
        fps = dedup.winnowing_fingerprints(docs, k=2, w=2)
        pairs = {
            (r["id_a"], r["id_b"]): r["n_shared"]
            for r in dedup.fingerprint_overlap_pairs(fps, min_shared=1).collect()
        }
        assert (1, 2) in pairs and (1, 5) in pairs and (2, 5) in pairs
        assert all(a < b for a, b in pairs)


class TestQuantizeInt8:
    def test_exact_and_zero_vector_guard(self, spark):
        rows = [
            (0, [0.0, 0.0], 1),    # zero vector: scale 0, error = x = 0
            (1, [1.0, -1.0], 1),   # representable exactly: q = +-127
            (2, [0.5, 0.25], 2),
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = {
            r["label"]: r
            for r in similarity.quantize_int8_stats(df).collect()
        }
        assert out[1]["n_vecs"] == 2
        assert out[1]["sum_sqerr_nano"] == 0  # both rows quantize losslessly
        assert out[1]["sum_scale_nano"] == round(1.0 / 127.0 * 1e9)
        # label 2: scale = 0.5/127; x2/scale = 63.5 -> rounds to 64
        scale = 0.5 / 127.0
        e = 0.25 - round(0.25 / scale) * scale
        expected = round(e * 1e9) ** 2
        assert out[2]["sum_sqerr_nano"] == expected

    def test_registry_query_types_are_integral(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import q89_quantize_int8

        df = q89_quantize_int8(spark, "/root/testdata/sf0.001")
        kinds = dict(df.dtypes)
        assert kinds["sum_sqerr_nano"] == "bigint"
        assert kinds["sum_scale_nano"] == "bigint"


class TestKmeansLloyd:
    def _toy(self, spark):
        pts = [
            (0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1]),
            (3, [10.0, 10.0]), (4, [10.1, 10.0]), (5, [10.0, 10.1]),
        ]
        return spark.createDataFrame(pts, "vec_id long, embedding array<float>")

    def test_separates_obvious_clusters(self, spark):
        from ursa_major_choir_etl_spark.operators.kmeans import kmeans_lloyd_integer

        out = kmeans_lloyd_integer(
            spark, self._toy(spark), k=2, iters=2, out_dims=2
        ).collect()
        stats = {r["cid"]: r for r in out}
        # seeds are ids 0 and 1 (both in the left blob); after the first
        # update the two centroids split the blobs
        sizes = sorted(r["n_members"] for r in out)
        assert sizes == [3, 3]
        # the right-blob cluster's centroid is near 10.0 in micro-units
        far = max(stats.values(), key=lambda r: r["c_0"])
        assert abs(far["c_0"] - 10_033_333) < 1000
        assert far["sum_vec_id"] == 3 + 4 + 5

    def test_deterministic_across_runs(self, spark):
        from ursa_major_choir_etl_spark.operators.kmeans import kmeans_lloyd_integer

        a = sorted(
            map(tuple, kmeans_lloyd_integer(spark, self._toy(spark), k=2, iters=3, out_dims=2).collect())
        )
        b = sorted(
            map(tuple, kmeans_lloyd_integer(spark, self._toy(spark), k=2, iters=3, out_dims=2).collect())
        )
        assert a == b


class TestMinhashAccuracy:
    def test_estimate_error_invariants(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import q91_minhash_accuracy

        rows = q91_minhash_accuracy(spark, "/root/testdata/sf0.001").collect()
        assert rows, "candidate pairs expected at sf0.001"
        for r in rows:
            assert 2 <= r["n_match"] <= 8  # >=1 full band agreed
            assert 0.0 <= r["jaccard"] <= 1.0
            assert abs(r["est_err"] - round(abs(r["n_match"] / 8.0 - r["jaccard"]), 6)) < 1e-9
        exact_dups = [r for r in rows if r["jaccard"] == 1.0]
        for r in exact_dups:
            assert r["n_match"] == 8 and r["est_err"] == 0.0


class TestPitFeatureJoin:
    def test_no_future_leak(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import q92_pit_feature_join
        import os, tempfile

        rows = [
            # user 1: views at t=100 (low) and t=300 (high); purchases
            # at t=50 (before any view), t=200, t=400
            (1, 100_000_000, 1, "view", 5.0, "{}"),
            (2, 300_000_000, 1, "view", 500.0, "{}"),
            (3, 50_000_000, 1, "purchase", 1.0, "{}"),
            (4, 200_000_000, 1, "purchase", 1.0, "{}"),
            (5, 400_000_000, 1, "purchase", 1.0, "{}"),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.timestamp_micros(F.col("ts")))
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = {r["event_id"]: r for r in q92_pit_feature_join(spark, d).collect()}
        assert out[3]["tier"] is None and out[3]["version"] is None
        assert out[4]["tier"] == "low" and out[4]["version"] == 1
        assert out[5]["tier"] == "high" and out[5]["version"] == 2
        assert len(out) == 3  # one row per purchase, no fan-out


class TestPagerankInteger:
    def test_star_center_ranks_highest_and_mass_conserved(self, spark):
        from ursa_major_choir_etl_spark.operators.graph import SCALE, pagerank_integer

        pairs = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3), (0, 4)], "id_a long, id_b long"
        )
        out = {r["doc_id"]: r for r in pagerank_integer(pairs, iters=3).collect()}
        assert out[0]["degree"] == 4
        assert all(out[0]["pr"] > out[i]["pr"] for i in range(1, 5))
        total = sum(r["pr"] for r in out.values())
        # truncating division leaks at most a few units per edge/round
        assert abs(total - SCALE) < 1000

    def test_deterministic(self, spark):
        from ursa_major_choir_etl_spark.operators.graph import pagerank_integer

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "id_a long, id_b long"
        )
        a = sorted(map(tuple, pagerank_integer(pairs, iters=4).collect()))
        b = sorted(map(tuple, pagerank_integer(pairs, iters=4).collect()))
        assert a == b


class TestChunkDedup:
    def test_keep_first_across_and_within_docs(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import q95_chunk_dedup
        import os, tempfile

        block = " ".join(f"w{i}" for i in range(25))
        other = " ".join(f"x{i}" for i in range(25))
        rows = [
            (1, block + " " + block, "en", "a", 0),   # within-doc repeat
            (2, block + " " + other, "en", "a", 0),   # cross-doc repeat
            (3, other, "en", "a", 0),                 # dup of doc 2's chunk 2
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        out = {r["doc_id"]: r for r in q95_chunk_dedup(spark, d).collect()}
        assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 1  # 2nd copy dropped
        assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1  # block seen in doc 1
        assert out[3]["n_chunks"] == 1 and out[3]["n_kept"] == 0  # other seen in doc 2
        assert out[3]["kept_ppm"] == 0 and out[1]["kept_ppm"] == 500000


class TestScaleGuards:
    """Footgun guards added round 6: the bounded-corpus collect path
    refuses unbounded input, block decomposition survives negative
    ids, and Arrow batches over blob columns are BYTES-capped."""

    def test_near_duplicate_pairs_refuses_large_corpus(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import T

        emb = T(spark, "/root/testdata/sf0.001", "embeddings")
        with pytest.raises(ValueError, match="max_collect_rows"):
            similarity.near_duplicate_pairs(
                emb, threshold=0.4, max_collect_rows=10
            )

    def test_blocked_handles_negative_ids(self, spark):
        # id % n_blocks keeps the dividend's sign in Spark, so negative
        # ids would fall outside [0, n_blocks) and silently vanish from
        # the "EXACT" all-pairs result; pmod keeps them in range.
        v1 = [1.0, 0.0, 0.0, 0.0]
        v2 = [0.9, 0.1, 0.0, 0.0]
        v3 = [0.0, 0.0, 1.0, 0.0]
        rows = [(-5, v1), (-1, v2), (3, v3)]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        got = sorted(
            (r["id_a"], r["id_b"])
            for r in similarity.near_duplicate_pairs_blocked(
                emb, threshold=0.9, n_blocks=4
            ).collect()
        )
        assert got == [(-5, -1)]

    def test_arrow_batches_are_bytes_capped(self, spark):
        """12 x 8 MB blob rows in ONE partition: a rows-only batch cap
        would ship them as a single 96 MB Arrow batch; the bytes cap
        (64 MB, session.py) must split them."""
        import pandas as pd

        cap = int(spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch"))
        assert cap == 64 * 1024 * 1024

        df = spark.range(12).repartition(1).select(
            "id", F.repeat(F.lit("x"), 8 * 1024 * 1024).cast("binary").alias("blob")
        )

        def batch_stats(batches):
            for pdf in batches:
                yield pd.DataFrame(
                    {"n": [len(pdf)], "nbytes": [int(pdf["blob"].map(len).sum())]}
                )

        out = df.mapInPandas(batch_stats, "n long, nbytes long").collect()
        assert sum(r["n"] for r in out) == 12
        assert len(out) >= 2  # split — NOT one 96 MB batch
        # each batch stays in the cap's neighborhood (the writer closes
        # a batch when the limit is crossed, so allow one row of slack)
        assert all(r["nbytes"] <= cap + 8 * 1024 * 1024 for r in out)


class TestBloomContamination:
    @pytest.fixture(scope="class")
    def corpora(self, spark):
        train = spark.createDataFrame(
            [
                (10, "alpha beta gamma delta epsilon zeta"),
                (11, "alpha beta gamma delta entirely different tail"),
                (12, "nothing here overlaps with the benchmark at all"),
            ],
            "doc_id long, text string",
        )
        eval_set = spark.createDataFrame(
            [(90, "alpha beta gamma delta epsilon")],
            "doc_id long, text string",
        )
        return train, eval_set

    def test_no_false_negatives_vs_exact_join(self, corpora):
        """Bloom membership can over-flag (FPs) but NEVER under-flag:
        every doc the exact gram join finds must be flagged with at
        least as many grams."""
        train, eval_set = corpora
        exact = {
            r["train_id"]: r["n_shared"]
            for r in dedup.cross_corpus_contamination(
                train, eval_set, n=4
            ).collect()
        }
        bloom = {
            r["train_id"]: r
            for r in dedup.bloom_contamination(train, eval_set, n=4).collect()
        }
        assert exact  # fixture really overlaps
        for tid, n_shared in exact.items():
            assert tid in bloom
            assert bloom[tid]["n_flagged"] >= n_shared

    def test_rate_and_bounds(self, corpora):
        train, eval_set = corpora
        for r in dedup.bloom_contamination(train, eval_set, n=4).collect():
            assert 1 <= r["n_flagged"] <= r["n_grams"]
            assert r["flag_rate"] == round(r["n_flagged"] / r["n_grams"], 6)

    def test_position_expr_matches_hashlib(self, spark):
        """The SQL nibble arithmetic equals a reference hashlib
        computation of int(md5('j:gram')[:5], 16)."""
        import hashlib

        grams = ["alpha beta gamma delta", "x y z w"]
        df = spark.createDataFrame([(g,) for g in grams], "shingle string")
        for j in (0, 2):
            got = [
                r["p"]
                for r in df.select(
                    F.expr(dedup.bloom_position_sql(j)).alias("p")
                ).collect()
            ]
            want = [
                int(hashlib.md5(f"{j}:{g}".encode()).hexdigest()[:5], 16)
                for g in grams
            ]
            assert got == want


class TestFunnelDecontaminationParity:
    def test_funnel_drop_set_vs_bloom_probe(self, spark):
        """Parity for the FUNNEL COMPOSITION's decontamination stage:
        the docs pretraining_funnel drops between fuzzy_dedup and
        decontaminate are exactly the docs sharing an exact word
        4-gram with the eval set, and the Bloom probe
        (bloom_contamination) over the same corpus flags a SUPERSET of
        them (a Bloom filter admits false positives, never false
        negatives — so a Bloom pre-filter can gate ingestion without
        ever letting a funnel-dropped doc through)."""
        from ursa_major_choir_etl_spark.operators import curation

        train_rows = [
            # shares 'alpha beta gamma delta' (4-gram) with the eval set
            (1, "web", "alpha beta gamma delta epsilon zeta eta theta"),
            # shares a different eval 4-gram
            (2, "web", "totally fresh opening then omega psi chi phi closing"),
            # clean: overlaps eval by at most 3 consecutive words
            (3, "books", "alpha beta gamma DIFFERENT tail keeps this document"),
            (4, "books", "nothing in common with any benchmark text at all"),
        ]
        train = spark.createDataFrame(
            train_rows, "doc_id long, source string, text string"
        )
        eval_df = spark.createDataFrame(
            [
                (90, "alpha beta gamma delta unrelated ending"),
                (91, "intro words omega psi chi phi and more"),
            ],
            "doc_id long, text string",
        )
        no_pairs = spark.createDataFrame([], "id_a long, id_b long")

        funnel = {
            r["stage"]: r["n_docs"]
            for r in curation.pretraining_funnel(
                train,
                eval_df,
                no_pairs,
                quality_threshold=0.0,  # isolate the decontamination stage
                contam_n=4,
                domain_cap=100,
            ).collect()
        }
        # no quality/dedup attrition by construction; stage 5 drops
        # exactly the two exact-4-gram-sharing docs
        assert funnel["raw"] == 4
        assert funnel["fuzzy_dedup"] == 4
        assert funnel["decontaminate"] == 2

        # the same corpus through the Bloom probe
        flagged = {
            r["train_id"]
            for r in dedup.bloom_contamination(
                train, eval_df, n=4
            ).collect()
        }
        exact_dropped = {1, 2}
        # no false negatives: every funnel-dropped doc is flagged
        assert exact_dropped <= flagged
        # and the clean docs are not exact-contaminated (they may
        # appear in `flagged` only as Bloom false positives, which the
        # downstream exact verifier would clear)
        assert funnel["decontaminate"] == funnel["fuzzy_dedup"] - len(
            exact_dropped
        )


class TestSemanticDedup:
    def test_cluster_scoped_pairs_and_drop_decisions(self, spark):
        emb = spark.createDataFrame(
            [
                (1, [1.0, 0.0]),
                (2, [0.995, 0.1]),   # near-dup of 1, same cluster
                (3, [-1.0, 0.0]),    # same cluster, opposite direction
                (4, [0.0, 1.0]),
                (5, [0.0, 2.0]),     # cos 1.0 with 4, same cluster
                (6, [1.0, 0.0]),     # IDENTICAL to 1 but other cluster
            ],
            "vec_id long, embedding array<double>",
        )
        assign = spark.createDataFrame(
            [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)],
            "vec_id long, cid long",
        )
        out = {
            r["drop_id"]: r
            for r in similarity.semantic_dedup(emb, assign, threshold=0.9).collect()
        }
        # 2 drops (kept by 1); 5 drops (kept by 4); the cross-cluster
        # identical doc 6 survives — clustering scopes the dedup
        assert set(out) == {2, 5}
        assert out[2]["keep_id"] == 1 and out[2]["cid"] == 0
        assert out[5]["keep_id"] == 4 and out[5]["cid"] == 1
        assert out[5]["max_sim"] == 1.0
        assert out[2]["n_dups"] == 1

    def test_assignments_match_stats_members(self, spark):
        """kmeans_assignments_integer agrees with kmeans_lloyd_integer
        (same rounds): per-cid member counts and id-sums match."""
        from ursa_major_choir_etl_spark.operators.kmeans import (
            kmeans_assignments_integer,
            kmeans_lloyd_integer,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        stats = {
            r["cid"]: (r["n_members"], r["sum_vec_id"])
            for r in kmeans_lloyd_integer(spark, emb, k=4, iters=2).collect()
        }
        agg = {
            r["cid"]: (r["n"], r["s"])
            for r in kmeans_assignments_integer(spark, emb, k=4, iters=2)
            .groupBy("cid")
            .agg(F.count("*").alias("n"), F.sum("vec_id").alias("s"))
            .collect()
        }
        assert stats == agg


class TestWeightedSample:
    def test_exact_n_sorted_and_deterministic(self, spark):
        from ursa_major_choir_etl_spark.operators.sampling import (
            weighted_sample_sequential_poisson,
        )

        docs = spark.range(500).select(
            F.col("id").alias("doc_id"),
            F.repeat(F.lit("x"), (F.col("id") % 40 + 1).cast("int")).alias("text"),
        )
        out = weighted_sample_sequential_poisson(
            docs, weight=F.octet_length("text"), n=50
        )
        rows = out.collect()
        assert len(rows) == 50
        keys = [r["sample_key"] for r in rows]
        assert keys == sorted(keys)
        assert all(r["weight"] >= 1 for r in rows)
        assert rows == out.collect()  # bit-deterministic

    def test_heavy_docs_dominate(self, spark):
        """Inclusion probability tracks the weight: with 10 docs at
        weight 4000 vs 100 docs at weight 4, the heavy docs should
        fill most of a 10-doc sample (deterministic given the ids)."""
        from ursa_major_choir_etl_spark.operators.sampling import (
            weighted_sample_sequential_poisson,
        )

        light = spark.range(100).select(
            F.col("id").alias("doc_id"), F.lit("abcd").alias("text")
        )
        heavy = spark.range(1000, 1010).select(
            F.col("id").alias("doc_id"),
            F.repeat(F.lit("abcd"), 1000).alias("text"),
        )
        out = weighted_sample_sequential_poisson(
            light.unionByName(heavy), weight=F.octet_length("text"), n=10
        )
        n_heavy = sum(1 for r in out.collect() if r["doc_id"] >= 1000)
        assert n_heavy >= 7

    def test_plan_is_take_ordered(self, spark):
        """No global sort: the sample plans as TakeOrderedAndProject."""
        from ursa_major_choir_etl_spark.operators.sampling import (
            weighted_sample_sequential_poisson,
        )

        docs = spark.range(100).select(
            F.col("id").alias("doc_id"), F.lit("abc").alias("text")
        )
        plan = (
            weighted_sample_sequential_poisson(
                docs, weight=F.octet_length("text"), n=5
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan


class TestNewOpsEdgeCases:
    def test_bloom_empty_eval_flags_nothing(self, spark):
        from ursa_major_choir_etl_spark.operators import dedup as dd

        train = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
        )
        empty_eval = spark.createDataFrame([], "doc_id long, text string")
        assert dd.bloom_contamination(train, empty_eval, n=4).count() == 0

    def test_bloom_short_docs_no_grams(self, spark):
        from ursa_major_choir_etl_spark.operators import dedup as dd

        train = spark.createDataFrame(
            [(1, "too short"), (2, "")], "doc_id long, text string"
        )
        ev = spark.createDataFrame([(9, "too short")], "doc_id long, text string")
        # no 4-grams exist on either side -> empty, not an error
        assert dd.bloom_contamination(train, ev, n=4).count() == 0

    def test_semantic_dedup_singleton_clusters(self, spark):
        emb = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
        )
        assign = spark.createDataFrame(
            [(1, 0), (2, 1)], "vec_id long, cid long"
        )
        assert similarity.semantic_dedup(emb, assign, threshold=0.5).count() == 0

    def test_weighted_sample_n_exceeds_corpus(self, spark):
        from ursa_major_choir_etl_spark.operators.sampling import (
            weighted_sample_sequential_poisson,
        )

        docs = spark.createDataFrame(
            [(1, "abc"), (2, ""), (3, "defg")], "doc_id long, text string"
        )
        out = weighted_sample_sequential_poisson(
            docs, weight=F.octet_length("text"), n=10
        ).collect()
        # zero-weight doc excluded; the rest all sampled
        assert {r["doc_id"] for r in out} == {1, 3}


class TestLogQuantileSketch:
    def test_merge_identity(self, spark):
        """Sketches merge by addition: per-part sketches summed equal
        the whole-data sketch (the property that lets daily sketches
        roll up without rescanning)."""
        from ursa_major_choir_etl_spark.operators import sketches as sk

        df = spark.range(1, 5001).select((F.col("id") * 7 % 9973 + 1).alias("v"))
        a = sk.log_quantile_sketch(df.filter(F.col("v") % 2 == 0), "v")
        b = sk.log_quantile_sketch(df.filter(F.col("v") % 2 == 1), "v")
        merged = {
            r["bucket_lo"]: r["cnt"]
            for r in a.unionByName(b)
            .groupBy("bucket_lo")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        }
        whole = {
            r["bucket_lo"]: r["cnt"]
            for r in sk.log_quantile_sketch(df, "v").collect()
        }
        assert merged == whole

    def test_estimate_within_bucket_error_bound(self, spark):
        """est_lo <= exact disc quantile < est_lo + bucket width
        (relative error bounded by 2^-sub_bits = 12.5%)."""
        from ursa_major_choir_etl_spark.operators import sketches as sk

        vals = [(v,) for v in range(1, 2001)]
        df = spark.createDataFrame(vals, "v long")
        est = {
            r["q"]: r["est_lo"]
            for r in sk.log_quantile_estimates(
                sk.log_quantile_sketch(df, "v"), [0.5, 0.9, 0.99]
            ).collect()
        }
        import math

        n = 2000
        for q, lo in est.items():
            exact_disc = math.ceil(q * n)  # values are 1..2000
            assert lo <= exact_disc
            width = max(lo // 8, 1)
            assert exact_disc < lo + width * 2  # lo + width upper bound, slack 1 bucket


class TestBloomPositionFuzz:
    def test_positions_match_hashlib_on_random_strings(self, spark):
        """One DataFrame, 60 random-ish strings x 3 hashes: the shared
        SQL nibble arithmetic equals the hashlib reference everywhere
        (unicode included)."""
        import hashlib
        import random

        rng = random.Random(11)
        alphabet = "abc XYZ 0123 éüß 日本語 \t'-"
        grams = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(1, 30)))
            for _ in range(60)
        ]
        df = spark.createDataFrame([(g,) for g in grams], "shingle string")
        sel = df.select(
            "shingle",
            *[
                F.expr(dedup.bloom_position_sql(j)).alias(f"p{j}")
                for j in range(3)
            ],
        )
        for r in sel.collect():
            for j in range(3):
                want = int(
                    hashlib.md5(f"{j}:{r['shingle']}".encode()).hexdigest()[:5], 16
                )
                assert r[f"p{j}"] == want


class TestDuplicateSpans:
    def test_shared_substring_produces_merged_span(self, spark):
        """Copies at DIFFERENT offsets (5 vs 8 — not congruent mod any
        stride > 1) are still found at stride=1, covering exactly the
        shared region; a unique-content doc emits nothing."""
        import random

        rng = random.Random(3)
        uniq = lambda n: "".join(rng.choice("abcdefghijklmnop") for _ in range(n))
        shared = "the quick brown fox jumps over the lazy dog again and again"
        pre1, pre2 = "AAAA ", "CCCCCCC "
        docs = spark.createDataFrame(
            [
                (1, pre1 + shared + " " + uniq(50)),
                (2, pre2 + shared + " " + uniq(50)),
                (3, uniq(120)),  # unique content -> no spans
            ],
            "doc_id long, text string",
        )
        out = dedup.duplicate_spans(docs, k=20, stride=1)
        spans = {}
        for r in out.collect():
            spans.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"], r["n_grams"])
            )
        assert 3 not in spans
        assert set(spans) == {1, 2}
        for d, pre in ((1, pre1), (2, pre2)):
            assert len(spans[d]) == 1
            s, e, n = spans[d][0]
            # the true maximal shared substring is ' ' + shared + ' '
            # (both prefixes end in a space and both suffixes start
            # with one) — the span covers exactly that region
            assert s == len(pre) - 1
            assert e == len(pre) + len(shared) + 1
            assert n == (len(shared) + 2) - 20 + 1

    def test_within_doc_repeat_detected(self, spark):
        block = "abcdefghij" * 4  # 40 chars
        docs = spark.createDataFrame(
            [(7, block + "-" * 30 + block)], "doc_id long, text string"
        )
        out = dedup.duplicate_spans(docs, k=40, stride=10).collect()
        # the two copies of the block share 40-gram hashes at aligned
        # strides -> at least one duplicated span reported
        assert out and all(r["doc_id"] == 7 for r in out)

    def test_span_bounds_clamped(self, spark):
        docs = spark.createDataFrame(
            [(1, "pqr" * 20), (2, "pqr" * 20)], "doc_id long, text string"
        )
        for r in dedup.duplicate_spans(docs, k=40, stride=10).collect():
            assert 0 <= r["span_start"] < r["span_end"] <= 60


class TestDuplicateSpansBruteForce:
    def test_random_corpus_matches_python_mirror(self, spark):
        """30 random docs (with planted shared blocks and repeats):
        duplicate_spans equals an exact pure-Python recomputation of
        duplicated k-gram positions + island merge."""
        import random

        rng = random.Random(23)
        k, alphabet = 12, "abcd "
        blocks = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(15, 40)))
            for _ in range(5)
        ]

        def make_doc():
            parts = []
            for _ in range(rng.randrange(2, 5)):
                if rng.random() < 0.5:
                    parts.append(rng.choice(blocks))  # planted duplicate
                else:
                    parts.append(
                        "".join(
                            rng.choice(alphabet)
                            for _ in range(rng.randrange(10, 50))
                        )
                    )
            return "".join(parts)

        docs = [(i, make_doc()) for i in range(30)]

        # python mirror
        from collections import Counter

        counts = Counter()
        for _, t in docs:
            for p in range(len(t) - k + 1):
                counts[t[p : p + k]] += 1
        want = set()
        for did, t in docs:
            dup = [
                p
                for p in range(len(t) - k + 1)
                if counts[t[p : p + k]] >= 2
            ]
            if not dup:
                continue
            start, prev, n = dup[0], dup[0], 1
            for p in dup[1:]:
                if p - prev > k:
                    want.add((did, start, min(prev + k, len(t)), n))
                    start, n = p, 0
                prev = p
                n += 1
            want.add((did, start, min(prev + k, len(t)), n))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["doc_id"], r["span_start"], r["span_end"], r["n_grams"])
            for r in dedup.duplicate_spans(df, k=k, stride=1).collect()
        }
        assert want  # planted duplicates really exist
        assert got == want


class TestRound7AdviceFixes:
    """Round-6 ADVICE items: fractional sampling weights, quantized
    semantic-dedup threshold, oracle-independent Bloom positions, and
    released staging persists."""

    def test_weighted_sample_fractional_weights_kept(self, spark):
        """Weights in (0, 1) participate proportionally — an earlier
        revision cast to long, truncating them to 0 and silently
        excluding the docs."""
        from ursa_major_choir_etl_spark.operators.sampling import (
            weighted_sample_sequential_poisson,
        )

        docs = spark.createDataFrame(
            [(1, 0.5), (2, 0.25), (3, 400000.0)], "doc_id long, w double"
        )
        out = weighted_sample_sequential_poisson(
            docs, weight=F.col("w"), n=3, id_col="doc_id"
        ).collect()
        assert {r["doc_id"] for r in out} == {1, 2, 3}
        # huge weight => smallest key => sampled first
        assert out[0]["doc_id"] == 3

    def test_bloom_position_duckdb_independence(self, spark):
        """The oracle-side hex-cast derivation equals the operator's
        instr-arithmetic derivation for every probed value — in DuckDB
        (both expressions) and vs Spark's evaluation of the operator
        expression."""
        import duckdb

        from ursa_major_choir_etl_spark.plans.queries import (
            _bloom_position_duckdb,
        )

        con = duckdb.connect()
        for j in (0, 1, 7):
            op = dedup.bloom_position_sql(j, "s", 5)
            orc = _bloom_position_duckdb(j, "s", 5)
            n_bad = con.execute(
                "SELECT count(*) FROM (SELECT CAST(range AS VARCHAR) s "
                f"FROM range(2000)) WHERE ({op}) <> ({orc})"
            ).fetchone()[0]
            assert n_bad == 0
        # Spark evaluates the operator text to the same values
        spark_vals = [
            r["p"]
            for r in spark.range(50)
            .select(F.expr(dedup.bloom_position_sql(3, "CAST(id AS STRING)")).alias("p"))
            .collect()
        ]
        duck_vals = [
            r[0]
            for r in con.execute(
                "SELECT "
                + _bloom_position_duckdb(3, "CAST(range AS VARCHAR)")
                + " FROM range(50)"
            ).fetchall()
        ]
        assert spark_vals == duck_vals

    def test_semantic_dedup_thresholds_on_quantized_cosine(self, spark):
        """A pair whose raw GEMM cosine rounds DOWN across the
        threshold at 6dp must be excluded: both engines compare
        round(cos, 6) >= threshold, so the quantized value is the
        contract."""
        import numpy as np

        # cos = 0.2999999 < 0.3 after 6dp rounding (0.3 raw-adjacent)
        a = [1.0, 0.0]
        c = 0.29999949
        b = [c, float(np.sqrt(1 - c * c))]
        emb = spark.createDataFrame(
            [(1, a), (2, b)], "vec_id long, embedding array<double>"
        )
        assign = spark.createDataFrame([(1, 0), (2, 0)], "vec_id long, cid long")
        assert similarity.semantic_dedup(emb, assign, threshold=0.3).count() == 0
        # and one safely above the boundary is kept
        c2 = 0.3000005
        b2 = [c2, float(np.sqrt(1 - c2 * c2))]
        emb2 = spark.createDataFrame(
            [(1, a), (2, b2)], "vec_id long, embedding array<double>"
        )
        out = similarity.semantic_dedup(emb2, assign, threshold=0.3).collect()
        assert len(out) == 1 and out[0]["drop_id"] == 2

    def test_release_staged_unpersists(self, spark):
        """Operators that persist staging tables register them; after
        the consuming action, release_staged() frees every block so a
        long-lived session doesn't accumulate cache for its lifetime
        (round-6 ADVICE)."""
        from ursa_major_choir_etl_spark.caching import release_staged

        # Assert on the DELTA of persistent RDDs only: other fixtures
        # legitimately hold session-scoped caches (conftest.raw) and
        # iterative tests leave localCheckpoint blocks — evicting them
        # here would force recomputes under whatever session conf a
        # later test happens to set (observed: a multisplit re-scan
        # regenerating file-order ids under a shrunken
        # maxPartitionBytes).
        release_staged()  # drop any staging from earlier tests
        base = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(20)],
            "doc_id long, text string",
        )
        sh = dedup.word_shingles(docs, n=3)
        sigs = dedup.minhash_signatures(sh, num_hashes=8)
        sigs.count()  # materialize => the staged shingles are cached
        added = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - base
        assert added
        assert release_staged(blocking=True) >= 1
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        assert not (added & after)

    def test_bloom_contamination_has_no_persist(self, spark):
        """bloom_contamination and duplicate_spans were restructured to
        single-consumer plans: nothing persisted, nothing leaked."""
        docs = spark.createDataFrame(
            [(i, f"one two three four five six seven {i}") for i in range(10)],
            "doc_id long, text string",
        )
        base = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        dedup.bloom_contamination(
            docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"), n=4
        ).count()
        dedup.duplicate_spans(docs, k=10).count()
        after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        assert after - base == set()
