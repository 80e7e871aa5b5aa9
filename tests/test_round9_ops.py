"""Tests for the round-8 additions: the materialize-once artifact
layer and the six-stage pretraining funnel (q137).

Strategy (SURVEY §5 model): the funnel is replayed stage by stage in
plain Python on a hand-built fixture with known duplicates, a
transitive near-dup chain, a contaminated doc, a capped domain, and
multi-bin packing; the artifact layer is exercised for build-once,
reread, fingerprint invalidation, and stale-generation pruning."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


class TestArtifacts:
    def test_build_once_then_reread_and_invalidate(self, spark, tmp_path, monkeypatch):
        from ursa_major_choir_etl_spark import artifacts

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
        artifacts._VERIFIED.clear()
        src = tmp_path / "src.txt"
        src.write_text("v1")

        builds = []

        def builder():
            builds.append(1)
            return spark.range(5).withColumnRenamed("id", "doc_id")

        for _ in range(2):
            got = artifacts.materialize_once(
                spark, "t", "scope", 1, [str(src)], builder
            )
            assert got.count() == 5
        assert len(builds) == 1  # second call read the parquet

        # Changed source content/mtime -> new generation, old pruned.
        os.utime(src, (1, 1))
        artifacts._VERIFIED.clear()
        artifacts.materialize_once(spark, "t", "scope", 1, [str(src)], builder)
        assert len(builds) == 2
        gens = [d for d in os.listdir(tmp_path) if d.startswith("t__scope__")]
        assert len(gens) == 1  # superseded generation pruned

        # Version bump -> rebuild even with identical inputs.
        artifacts._VERIFIED.clear()
        artifacts.materialize_once(spark, "t", "scope", 2, [str(src)], builder)
        assert len(builds) == 3

    def test_scopes_do_not_collide(self, spark, tmp_path, monkeypatch):
        from ursa_major_choir_etl_spark import artifacts

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
        artifacts._VERIFIED.clear()
        a = artifacts.materialize_once(
            spark, "t", "s1", 1, [], lambda: spark.range(2)
        )
        b = artifacts.materialize_once(
            spark, "t", "s2", 1, [], lambda: spark.range(9)
        )
        # Publishing s2 must not prune s1 (prefix includes the scope).
        assert a.count() == 2 and b.count() == 9
        assert artifacts.materialize_once(
            spark, "t", "s1", 1, [], lambda: spark.range(99)
        ).count() == 2


class TestPretrainingFunnel:
    def _funnel(self, spark, **kw):
        from ursa_major_choir_etl_spark.operators.curation import (
            pretraining_funnel,
        )

        # 60-token body passes the quality length component; ids are
        # chosen so every stage drops something specific:
        #   2 = exact copy of 1            -> exact_dedup drop
        #   3,5 = near-dups of 1 (pairs)   -> fuzzy_dedup keeps min=1
        #   7 = shares a 4-gram with eval  -> decontaminate drop
        #   domain B has 2 survivors, cap=1 -> domain_cap drop
        body = " ".join(
            "the quick brown fox jumps over a lazy dog and it was then that"
            .split() * 5
        )
        mk = lambda i, dom, extra="": (i, dom, f"{body} tail{i} {extra}")
        eval_marker = "alpha beta gamma delta"
        train = spark.createDataFrame(
            [
                mk(1, "A"),
                (2, "A", f"{body} tail1 "),  # normalized-identical to 1
                mk(3, "A"),
                mk(5, "A"),
                mk(7, "B", eval_marker),
                mk(9, "B"),
                mk(11, "B"),
            ],
            "doc_id long, source string, text string",
        )
        evalset = spark.createDataFrame(
            [(50, "E", f"unrelated words only {eval_marker} here")],
            "doc_id long, source string, text string",
        )
        pairs = spark.createDataFrame(
            [(1, 3), (3, 5)], "id_a long, id_b long"
        )
        got = pretraining_funnel(train, evalset, pairs, **kw)
        return {r["stage"]: r for r in got.collect()}

    def test_stage_semantics(self, spark):
        st = self._funnel(
            spark, quality_threshold=0.0, domain_cap=1, pack_budget=70
        )
        assert [st[s]["stage_idx"] for s in (
            "raw", "quality_gate", "exact_dedup", "fuzzy_dedup",
            "decontaminate", "domain_cap", "pack",
        )] == [1, 2, 3, 4, 5, 6, 7]
        assert st["raw"]["n_docs"] == 7
        assert st["quality_gate"]["n_docs"] == 7  # threshold 0
        assert st["exact_dedup"]["n_docs"] == 6  # 2 dropped (copy of 1)
        # chain 1-3-5 collapses to min id 1; 7,9,11 unlabeled pass
        assert st["fuzzy_dedup"]["n_docs"] == 4
        assert st["decontaminate"]["n_docs"] == 3  # 7 contaminated
        # domain A has {1}, domain B has {9,11} -> cap 1 keeps 2 total
        assert st["domain_cap"]["n_docs"] == 2
        # each survivor is ~62 tokens > budget 70? 62 < 70, so each
        # domain packs into 1 bin -> 2 packed sequences
        assert st["pack"]["n_docs"] == 2
        assert st["pack"]["n_tokens"] == st["domain_cap"]["n_tokens"]

    def test_packing_splits_bins(self, spark):
        st = self._funnel(
            spark, quality_threshold=0.0, domain_cap=15, pack_budget=150
        )
        # domain B keeps 9 and 11 (~71 tokens each): the second doc's
        # cumulative start (71) < 150 -> same bin; with budget 70 the
        # start passes the boundary and they split.
        st2 = self._funnel(
            spark, quality_threshold=0.0, domain_cap=15, pack_budget=70
        )
        assert st2["pack"]["n_docs"] > st["pack"]["n_docs"]
        assert st2["pack"]["n_tokens"] == st["pack"]["n_tokens"]

    def test_empty_pair_table_passes_everyone_through_fuzzy(self, spark):
        from ursa_major_choir_etl_spark.operators.curation import (
            pretraining_funnel,
        )

        train = spark.createDataFrame(
            [(1, "A", "one two three four five six seven")],
            "doc_id long, source string, text string",
        )
        evalset = spark.createDataFrame(
            [], "doc_id long, source string, text string"
        )
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        st = {
            r["stage"]: r
            for r in pretraining_funnel(
                train, evalset, pairs, quality_threshold=0.0
            ).collect()
        }
        assert st["fuzzy_dedup"]["n_docs"] == 1
        assert st["decontaminate"]["n_docs"] == 1


class TestSemanticDedupSkew:
    def test_mega_cluster_matches_brute_force(self, spark):
        """Skew fixture (round-7 verdict hardening item): ONE k-means
        cluster holds 50% of the corpus. semantic_dedup must stay
        EXACT — the mega-cluster runs as one bounded GEMM task (sum of
        |c|^2 compute, |c| rows of task memory). This documents the
        operating envelope the docstring promises: when the largest
        cluster outgrows a task, re-cluster hierarchically (feed the
        mega-cluster's members back through kmeans and union the
        sub-assignments) — the DECISION semantics below are what any
        such split must preserve."""
        import itertools
        import math

        from ursa_major_choir_etl_spark.operators.similarity import (
            semantic_dedup,
        )

        n = 200
        rows = []
        for i in range(n):
            # half the corpus in a tight cone (cluster 0), the rest
            # spread over 4 small clusters
            if i % 2 == 0:
                v = [100.0, float(i % 7), 1.0, 0.0]
            else:
                c = i % 4
                v = [0.0, 0.0, float(c + 1) * 10.0, 100.0 + float(i % 5)]
            rows.append((i, v, 0 if i % 2 == 0 else 1 + (i % 4)))
        emb = spark.createDataFrame(
            [(i, v) for i, v, _ in rows],
            "vec_id long, embedding array<double>",
        )
        asg = spark.createDataFrame(
            [(i, c) for i, _, c in rows], "vec_id long, cid int"
        )
        got = {
            r["drop_id"]: (r["cid"], r["keep_id"], r["n_dups"])
            for r in semantic_dedup(emb, asg, threshold=0.9999).collect()
        }

        # Brute force per cluster.
        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return round(
                d
                / (
                    math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(x * x for x in b))
                ),
                6,
            )

        expect = {}
        clusters: dict[int, list[tuple[int, list[float]]]] = {}
        for i, v, c in rows:
            clusters.setdefault(c, []).append((i, v))
        for c, members in clusters.items():
            for (ia, va), (ib, vb) in itertools.combinations(
                sorted(members), 2
            ):
                if cos(va, vb) >= 0.9999:
                    cur = expect.get(ib)
                    if cur is None:
                        expect[ib] = (c, ia, 1)
                    else:
                        expect[ib] = (c, min(cur[1], ia), cur[2] + 1)
        assert set(got) == set(expect)
        for d in expect:
            assert got[d][:2] == expect[d][:2]
            assert got[d][2] == expect[d][2]
        # the mega-cluster actually contributed decisions
        assert any(v[0] == 0 for v in got.values())


class TestIncrementalJaccardProbe:
    def test_matches_brute_force_new_vs_corpus(self, spark):
        from ursa_major_choir_etl_spark.operators import dedup

        base = "alpha beta gamma delta epsilon zeta eta theta"
        corpus_rows = [
            (1, f"{base} one two three"),
            (2, f"{base} one two four"),
            (3, "totally different words entirely here now"),
        ]
        new_rows = [
            (101, f"{base} one two three"),   # near-identical to 1
            (102, "no overlap with anything at all"),
        ]
        corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
        new = spark.createDataFrame(new_rows, "doc_id long, text string")
        got = {
            (r["new_id"], r["corpus_id"]): r["jaccard"]
            for r in dedup.incremental_jaccard_probe(
                new, corpus, threshold=0.3
            ).collect()
        }

        def sh(t):
            w = t.split()
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        expect = {}
        for ni, nt in new_rows:
            for ci, ct in corpus_rows:
                a, b = sh(nt), sh(ct)
                j = round(len(a & b) / len(a | b), 6)
                if (a & b) and j >= 0.3:
                    expect[(ni, ci)] = j
        assert got == expect
        assert (101, 1) in got and got[(101, 1)] == 1.0

    def test_hot_shingles_do_not_generate_candidates(self, spark):
        from ursa_major_choir_etl_spark.operators import dedup

        # every corpus doc shares the same 3-gram -> df=4 > cap=3, so
        # a new doc touching ONLY that gram yields no candidates
        corpus = spark.createDataFrame(
            [(i, f"common shared gram tail{i} filler{i} more{i}") for i in range(4)],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(100, "common shared gram unique suffix words")],
            "doc_id long, text string",
        )
        got = dedup.incremental_jaccard_probe(
            new, corpus, threshold=0.0, hot_shingle_cap=3
        ).collect()
        assert got == []


class TestBpeOracleDegenerateGuard:
    def test_fewer_pairs_than_requested_merges_match_cross_engine(self, spark):
        """Round-7 ADVICE: a corpus with fewer distinct symbol pairs
        than requested merges used to collapse the oracle's vocabulary
        to zero rows (empty b{i} CROSS JOIN) while Spark early-broke
        with real totals. The LEFT JOIN + applied-count guard must
        make BOTH engines report the same real merge count and
        totals. Corpus: the single word 'ab' — exactly ONE mergeable
        pair exists, then none."""
        import duckdb

        from ursa_major_choir_etl_spark.operators.vocab import (
            bpe_compression_report,
        )
        from ursa_major_choir_etl_spark.plans.queries import _oracle_q128

        docs = spark.createDataFrame(
            [(1, "ab ab"), (2, "ab")], "doc_id long, text string"
        )
        got = bpe_compression_report(docs, n_merges=3).collect()[0]

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM (VALUES "
            "(1, 'ab ab'), (2, 'ab')) t(doc_id, text)"
        )
        want = con.execute(_oracle_q128(3)).fetchone()
        cols = [d[0] for d in con.description]
        want = dict(zip(cols, want))
        assert got["n_merges"] == want["n_merges"] == 1
        assert got["total_words"] == want["total_words"] == 3
        assert got["total_chars"] == want["total_chars"] == 6
        # one merge fuses a|b -> ab: one symbol per word
        assert got["total_symbols"] == want["total_symbols"] == 3
        assert float(got["compression"]) == float(want["compression"]) == 2.0


class TestIncrementalProbeBatchConsistency:
    def test_probe_equals_batch_pairs_restricted_to_shard_cross_corpus(
        self, spark
    ):
        """The invariant that makes the incremental path trustworthy:
        with a non-binding hot-shingle cap (where the corpus-df vs
        union-df rareness framings coincide), probe(new, corpus) must
        equal the BATCH jaccard_pairs over the union, restricted to
        (new x corpus) pairs. Seeded random corpora with heavy
        word-overlap so near-dups actually occur."""
        import random

        from ursa_major_choir_etl_spark.operators import dedup

        for seed in (3, 11):
            rng = random.Random(seed)
            words = [f"w{i}" for i in range(10)]
            rows = []
            for i in range(24):
                base = [rng.choice(words) for _ in range(rng.randint(5, 12))]
                rows.append((i, " ".join(base)))
                if rng.random() < 0.4:  # planted near-dup of doc i
                    mut = list(base)
                    if rng.random() < 0.5 and len(mut) > 5:
                        mut[rng.randrange(len(mut))] = rng.choice(words)
                    rows.append((100 + i, " ".join(mut)))
            df = spark.createDataFrame(rows, "doc_id long, text string")
            new = df.filter("doc_id % 3 = 0")
            corpus = df.filter("doc_id % 3 != 0")

            got = {
                (r["new_id"], r["corpus_id"]): r["jaccard"]
                for r in dedup.incremental_jaccard_probe(
                    new, corpus, threshold=0.4, hot_shingle_cap=10**6
                ).collect()
            }

            sh = dedup.word_shingles(df)
            batch = dedup.jaccard_pairs(
                sh, threshold=0.4, hot_shingle_cap=10**6
            ).collect()
            new_ids = {r[0] for r in rows if r[0] % 3 == 0}
            want = {}
            for r in batch:
                a, b = r["id_a"], r["id_b"]
                if (a in new_ids) != (b in new_ids):
                    ni, ci = (a, b) if a in new_ids else (b, a)
                    want[(ni, ci)] = r["jaccard"]
            assert got == want, f"seed {seed}: {got} != {want}"


class TestArtifactPublishRace:
    def test_lost_rename_race_reads_winner(self, spark, tmp_path, monkeypatch):
        """Two builders racing the same key: the loser's os.rename
        fails (dest exists), it discards its temp dir and reads the
        winner's table — simulated deterministically by publishing the
        winner's directory between the loser's build and rename."""
        import os
        import shutil

        from ursa_major_choir_etl_spark import artifacts

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
        artifacts._VERIFIED.clear()

        real_rename = os.rename
        state = {"fired": False}

        def racing_rename(src, dst):
            if not state["fired"] and "race__scope" in dst:
                state["fired"] = True
                # winner publishes first: an equivalent table appears
                # at the destination before our rename lands
                spark.range(7).write.mode("overwrite").parquet(dst + ".win")
                real_rename(dst + ".win", dst)
            return real_rename(src, dst)

        monkeypatch.setattr(os, "rename", racing_rename)
        got = artifacts.materialize_once(
            spark, "race", "scope", 1, [], lambda: spark.range(7)
        )
        assert state["fired"]
        assert got.count() == 7
        # exactly one generation on disk, no leftover temp dirs
        entries = [d for d in os.listdir(tmp_path) if d.startswith("race__")]
        assert len(entries) == 1 and ".tmp" not in entries[0]


class TestTemperatureMixture:
    def test_sqrt_weights_hand_computed(self, spark):
        from ursa_major_choir_etl_spark.operators.curation import (
            temperature_mixture_plan,
        )

        docs = spark.createDataFrame(
            [(1, "A", "w " * 100), (2, "B", "w " * 400)],
            "doc_id long, source string, text string",
        )
        got = {
            r["domain"]: r
            for r in temperature_mixture_plan(
                docs, budget_ppm_of_corpus=500_000
            ).collect()
        }
        # weights = floor(sqrt(100)), floor(sqrt(400)) = 10, 20
        assert got["A"]["weight"] == 10 and got["B"]["weight"] == 20
        # budget = 500 * 500000 // 1e6 = 250; targets 250*10//30, 250*20//30
        assert got["A"]["target_tokens"] == 83
        assert got["B"]["target_tokens"] == 166
        assert got["A"]["rate_ppm"] == 830_000
        assert got["B"]["rate_ppm"] == 415_000
        assert got["A"]["expected_tokens"] == 83
        assert got["B"]["expected_tokens"] == 166
        assert not got["A"]["underfilled"] and not got["B"]["underfilled"]
        # temperature property: the small domain's rate EXCEEDS the
        # big one's (sqrt flattening), while natural sampling would
        # give them equal rates
        assert got["A"]["rate_ppm"] > got["B"]["rate_ppm"]

    def test_underfilled_small_domain_caps_at_full_rate(self, spark):
        from ursa_major_choir_etl_spark.operators.curation import (
            temperature_mixture_plan,
        )

        docs = spark.createDataFrame(
            [(1, "tiny", "w w w"), (2, "big", "w " * 10_000)],
            "doc_id long, source string, text string",
        )
        got = {
            r["domain"]: r
            for r in temperature_mixture_plan(
                docs, budget_ppm_of_corpus=900_000
            ).collect()
        }
        assert got["tiny"]["underfilled"]
        assert got["tiny"]["rate_ppm"] == 1_000_000
        assert got["tiny"]["expected_tokens"] == 3


class TestZipfSlope:
    def test_exact_power_law_two_points_gives_minus_one(self, spark):
        from ursa_major_choir_etl_spark.operators.text import (
            zipf_slope_report,
        )

        # counts 4 and 2 at ranks 1 and 2: slope = ln(2/4)/ln(2) = -1
        docs = spark.createDataFrame(
            [(1, "S", "aa aa aa aa bb bb")],
            "doc_id long, source string, text string",
        )
        got = zipf_slope_report(docs, k=10).collect()
        assert len(got) == 1
        assert float(got[0]["zipf_slope"]) == -1.0
        assert got[0]["n_terms"] == 2 and got[0]["top_count"] == 4

    def test_matches_python_least_squares(self, spark):
        import math
        import random

        from ursa_major_choir_etl_spark.operators.text import (
            zipf_slope_report,
        )

        rng = random.Random(5)
        # alphabetic-only words: the operator tokenizes with [a-z]+,
        # so digits would collapse every wN into one term "w"
        words = ["".join(rng.choice("abcdefghij") for _ in range(4))
                 for _ in range(30)]
        body = " ".join(
            rng.choice(words) for _ in range(800)
        )
        docs = spark.createDataFrame(
            [(1, "S", body)], "doc_id long, source string, text string"
        )
        got = zipf_slope_report(docs, k=10).collect()[0]

        counts: dict[str, int] = {}
        for w in body.split():
            counts[w] = counts.get(w, 0) + 1
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        pts = [
            (math.log(r + 1), math.log(c)) for r, (_, c) in enumerate(top)
        ]
        mx = sum(p[0] for p in pts) / len(pts)
        my = sum(p[1] for p in pts) / len(pts)
        cov = sum((x - mx) * (y - my) for x, y in pts) / len(pts)
        var = sum((x - mx) ** 2 for x, _ in pts) / len(pts)
        assert abs(float(got["zipf_slope"]) - round(cov / var, 6)) < 1e-9
        assert got["n_terms"] == 10

    def test_single_token_source_excluded(self, spark):
        from ursa_major_choir_etl_spark.operators.text import (
            zipf_slope_report,
        )

        docs = spark.createDataFrame(
            [(1, "mono", "same same same"), (2, "多", "aa bb aa")],
            "doc_id long, source string, text string",
        )
        got = {r["domain"] for r in zipf_slope_report(docs).collect()}
        assert got == {"多"}  # 'mono' has var_pop(ln rank) = 0


class TestDomainDuplicationReport:
    def test_within_vs_cross_hand_computed(self, spark):
        from ursa_major_choir_etl_spark.operators.curation import (
            domain_duplication_report,
        )

        docs = spark.createDataFrame(
            [(1, "A"), (2, "A"), (3, "B"), (4, "B"), (5, "C")],
            "doc_id long, source string",
        )
        # (1,2) within A; (2,3) cross A-B; (3,4) within B; 5 clean
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
        )
        got = {
            r["domain"]: r
            for r in domain_duplication_report(docs, pairs).collect()
        }
        assert got["A"]["n_docs"] == 2 and got["A"]["n_dup_docs"] == 2
        assert got["A"]["dup_ppm"] == 1_000_000
        assert got["A"]["n_pairs_within"] == 1
        assert got["A"]["n_pairs_cross"] == 1
        assert got["B"]["n_pairs_within"] == 1
        assert got["B"]["n_pairs_cross"] == 1
        assert got["C"]["n_docs"] == 1 and got["C"]["n_dup_docs"] == 0
        assert got["C"]["dup_ppm"] == 0
        assert got["C"]["n_pairs_within"] == 0
        assert got["C"]["n_pairs_cross"] == 0


class TestHardNegativeMining:
    def test_hand_computed_topk_excludes_same_label(self, spark):
        from ursa_major_choir_etl_spark.operators.similarity import (
            hard_negative_mining,
        )

        # Unit-ish vectors laid out so cosine order is obvious: the
        # anchor points along +x; candidates rotate away from it.
        rows = [
            (0, [1.0, 0.0], "pos"),   # anchor
            (1, [1.0, 0.1], "pos"),   # closest of all — but same label
            (2, [1.0, 0.5], "neg"),   # closest wrong-label
            (3, [1.0, 1.0], "neg"),
            (4, [0.0, 1.0], "neg"),   # orthogonal
            (5, [-1.0, 0.0], "other"),  # opposite
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        )
        got = (
            hard_negative_mining(
                emb, emb.filter(F.col("vec_id") == 0), k=3
            )
            .orderBy("rank")
            .collect()
        )
        assert [r["neighbor_id"] for r in got] == [2, 3, 4]
        assert all(r["query_id"] == 0 for r in got)
        assert all(r["neighbor_label"] != "pos" for r in got)
        assert [r["rank"] for r in got] == [1, 2, 3]
        # cosine of (1,0)·(1,0.5)/|..| = 1/sqrt(1.25)
        assert abs(got[0]["cosine_sim"] - 0.894427) < 1e-6

    def test_ties_break_on_neighbor_id(self, spark):
        from ursa_major_choir_etl_spark.operators.similarity import (
            hard_negative_mining,
        )

        # Two identical wrong-label vectors: rank order must be the
        # deterministic id ascending, matching the oracle.
        rows = [
            (0, [1.0, 0.0], "a"),
            (7, [2.0, 0.0], "b"),
            (3, [4.0, 0.0], "b"),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string"
        )
        got = (
            hard_negative_mining(
                emb, emb.filter(F.col("vec_id") == 0), k=2
            )
            .orderBy("rank")
            .collect()
        )
        assert [r["neighbor_id"] for r in got] == [3, 7]
        assert [r["cosine_sim"] for r in got] == [1.0, 1.0]


class TestContextWindowFit:
    def test_hand_computed_truncate_vs_split(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q147_context_window_fit,
        )

        # Token counts 100, 128, 200, 5000 (whitespace tokens); one
        # empty doc must be excluded from every scenario.
        docs = spark.createDataFrame(
            [
                (1, " ".join(["w"] * 100)),
                (2, " ".join(["w"] * 128)),
                (3, " ".join(["w"] * 200)),
                (4, " ".join(["w"] * 5000)),
                (5, ""),
            ],
            "doc_id long, text string",
        )
        docs.write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet")
        )
        got = {
            r["context_len"]: r
            for r in q147_context_window_fit(spark, str(tmp_path)).collect()
        }
        assert set(got) == {128, 512, 2048}
        r = got[128]
        assert r["n_docs"] == 4 and r["n_fit"] == 2
        assert r["tokens_total"] == 5428
        assert r["tokens_truncated"] == (200 - 128) + (5000 - 128)
        # chunks: 1 + 1 + 2 + 40 (ceil(5000/128)=40); pad waste:
        # 28 + 0 + 56 + 120
        assert r["n_chunks_split"] == 44
        assert r["pad_waste_split"] == 44 * 128 - 5428
        assert r["fit_ppm"] == 500_000
        r = got[2048]
        assert r["n_fit"] == 3
        assert r["tokens_truncated"] == 5000 - 2048
        assert r["n_chunks_split"] == 3 + math_ceil(5000, 2048)
        assert r["fit_ppm"] == 750_000


def math_ceil(a: int, b: int) -> int:
    return -(-a // b)


class TestSnapshotDelta:
    def test_hand_computed_classification(self, spark):
        from ursa_major_choir_etl_spark.operators.quality import (
            snapshot_delta_report,
        )

        schema = "doc_id long, source string, fp string, tokens long"
        prev = spark.createDataFrame(
            [(1, "s", "f1", 10), (2, "s", "f2", 20), (3, "s", "f3", 30),
             (5, "t", "f5", 7)],
            schema,
        )
        curr = spark.createDataFrame(
            [(2, "s", "f2", 20), (3, "s", "f3x", 35), (4, "s", "f4", 40)],
            schema,
        )
        got = {
            r["source"]: r
            for r in snapshot_delta_report(prev, curr).collect()
        }
        s = got["s"]
        assert (s["n_added"], s["n_removed"], s["n_modified"],
                s["n_unchanged"]) == (1, 1, 1, 1)
        assert s["tokens_added"] == 40 and s["tokens_removed"] == 10
        assert s["token_delta"] == (20 + 35 + 40) - (10 + 20 + 30)
        assert s["churn_ppm"] == 750_000
        # removed-only group must survive the coalesce and report fully
        t = got["t"]
        assert (t["n_added"], t["n_removed"]) == (0, 1)
        assert t["token_delta"] == -7 and t["churn_ppm"] == 1_000_000


class TestPmiCollocations:
    def test_hand_computed_bits_and_ties(self, spark):
        from ursa_major_choir_etl_spark.operators.text import (
            pmi_collocations,
        )

        # "x y x y x y": c(x,y)=3, c(y,x)=2, n=5; both pairs score
        # pmi_bits = 1; the tie breaks on pair count.
        docs = spark.createDataFrame(
            [(1, "x y x y x y", "g")], "doc_id long, text string, source string"
        )
        got = (
            pmi_collocations(docs, min_count=2, k=5)
            .orderBy("rank")
            .collect()
        )
        assert [(r["w1"], r["w2"], r["pair_count"], r["pmi_bits"], r["rank"])
                for r in got] == [("x", "y", 3, 1, 1), ("y", "x", 2, 1, 2)]

    def test_collocated_pair_beats_frequent_independent_pair(self, spark):
        from ursa_major_choir_etl_spark.operators.text import (
            pmi_collocations,
        )

        # "new york" always adjacent; "the" pairs are everywhere, so
        # their marginals crush the PMI despite higher raw counts.
        rows = [(i, "the a the b the c new york", "g") for i in range(8)]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        got = pmi_collocations(docs, min_count=2, k=10).collect()
        by_pair = {(r["w1"], r["w2"]): r for r in got}
        # "c new" is also always-adjacent in this text, so it ties.
        assert by_pair[("new", "york")]["pmi_bits"] == 2
        assert by_pair[("new", "york")]["rank"] <= 2
        assert all(
            r["pmi_bits"] == 1 for r in got if "the" in (r["w1"], r["w2"])
        )


class TestRankAgreement:
    def _run(self, spark, rows):
        from ursa_major_choir_etl_spark.operators.quality import (
            rank_agreement_report,
        )

        df = spark.createDataFrame(rows, "source string, x long, y long")
        return {
            r["source"]: r for r in rank_agreement_report(df, "x", "y").collect()
        }

    def test_perfect_and_inverse_and_constant(self, spark):
        rows = (
            [("up", i, 10 * i) for i in range(1, 6)]
            + [("down", i, -i) for i in range(1, 6)]
            + [("flat", i, 7) for i in range(1, 6)]
        )
        got = self._run(spark, rows)
        assert got["up"]["rho_ppm"] == 1_000_000
        assert got["down"]["rho_ppm"] == -1_000_000
        assert got["flat"]["rho_ppm"] is None and got["flat"]["n"] == 5

    def test_ties_use_average_ranks(self, spark):
        # x=[1,2,2,3] vs y=[4,3,3,1]: average ranks mirror each other
        # exactly, so tie-aware Spearman is -1. The naive 6*sum(d^2)
        # shortcut would NOT give -1 here — this pins the Pearson-on-
        # ranks formula.
        rows = [("g", 1, 4), ("g", 2, 3), ("g", 2, 3), ("g", 3, 1)]
        got = self._run(spark, rows)
        assert got["g"]["rho_ppm"] == -1_000_000

        # Hand-computed non-degenerate tied case, python mirror:
        # x=[1,1,2,3], y=[1,2,3,4] -> dr_x=[3-5,3-5,...] etc.
        rows2 = [("h", 1, 1), ("h", 1, 2), ("h", 2, 3), ("h", 3, 4)]
        got2 = self._run(spark, rows2)
        # avg ranks: x=[1.5,1.5,3,4] y=[1,2,3,4]; pearson r =
        # cov/sd = 0.948683...
        assert got2["h"]["rho_ppm"] == 948_683


class TestTurnBudgetAssembly:
    def test_suffix_truncation_hand_computed(self, spark):
        import datetime as dt

        from ursa_major_choir_etl_spark.operators.events import (
            turn_budget_assembly,
        )

        t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
        rows = [
            # session 1: three turns, each cost pieces("m x")+4 = 6
            (1, t0, 1, "m", "x"),
            (1, t0 + dt.timedelta(minutes=1), 2, "m", "x"),
            (1, t0 + dt.timedelta(minutes=2), 3, "m", "x"),
            # 2h gap -> session 2, one turn
            (1, t0 + dt.timedelta(hours=2), 4, "m", "x"),
            # null props turn costs pieces("m")+4 = 5
            (2, t0, 5, "m", None),
        ]
        ev = spark.createDataFrame(
            rows,
            "user_id long, ts timestamp, event_id long, "
            "event_type string, props string",
        )
        got = {
            (r["user_id"], r["session_id"]): r
            for r in turn_budget_assembly(ev, budget_tokens=13).collect()
        }
        s1 = got[(1, 1)]
        # newest-first cumsum: 6, 12, 18 -> keep 2 of 3
        assert (s1["n_turns"], s1["n_kept"]) == (3, 2)
        assert (s1["tokens_total"], s1["tokens_kept"]) == (18, 12)
        assert s1["truncated"] == 1
        s2 = got[(1, 2)]
        assert (s2["n_turns"], s2["n_kept"], s2["truncated"]) == (1, 1, 0)
        s3 = got[(2, 1)]
        assert s3["tokens_total"] == 5 and s3["truncated"] == 0


class TestQualityDupCalibration:
    def test_hand_computed_bands_and_dup_rates(self, spark):
        from ursa_major_choir_etl_spark.operators.curation import (
            quality_duplication_calibration,
        )

        # Scores by construction (0.5*len + 0.3*stopword + 0.2*punct):
        #   doc 1: 100 non-stop words -> 0.5 + 0 + 0.2 = 0.70 -> band 3
        #   doc 2: 100 stopwords      -> 0.5 + 0.3 + 0.2 = 1.0 -> band 4
        #   doc 3: 10 non-stop words  -> 0.05 + 0 + 0.2 = 0.25 -> band 1
        docs = spark.createDataFrame(
            [
                (1, " ".join(["zzz"] * 100)),
                (2, " ".join(["the"] * 100)),
                (3, " ".join(["zzz"] * 10)),
            ],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
        got = {
            r["band"]: r
            for r in quality_duplication_calibration(docs, pairs).collect()
        }
        assert set(got) == {1, 3, 4}
        assert got[3]["n_docs"] == 1 and got[3]["n_dup_docs"] == 1
        assert got[3]["dup_ppm"] == 1_000_000
        assert got[3]["avg_q_ppm"] == 700_000
        assert got[4]["n_dup_docs"] == 0 and got[4]["avg_q_ppm"] == 1_000_000
        assert got[1]["n_dup_docs"] == 1 and got[1]["avg_q_ppm"] == 250_000


class TestShardManifest:
    def test_checksum_is_order_insensitive(self, spark):
        from ursa_major_choir_etl_spark.operators.layout import shard_manifest

        docs = spark.createDataFrame(
            [(i, f"doc body number {i} with words") for i in range(40)],
            "doc_id long, text string",
        )
        base = sorted(
            shard_manifest(docs, n_shards=4).collect(), key=lambda r: r["shard"]
        )
        shuffled = sorted(
            shard_manifest(docs.repartition(7).sortWithinPartitions("text"),
                           n_shards=4).collect(),
            key=lambda r: r["shard"],
        )
        assert [tuple(r) for r in base] == [tuple(r) for r in shuffled]

    def test_content_change_flips_only_owning_shard(self, spark):
        from ursa_major_choir_etl_spark.operators.layout import shard_manifest

        docs = spark.createDataFrame(
            [(i, f"doc body number {i} with words") for i in range(40)],
            "doc_id long, text string",
        )
        mutated = docs.withColumn(
            "text",
            F.when(F.col("doc_id") == 7, F.lit("tampered")).otherwise(
                F.col("text")
            ),
        )
        a = {r["shard"]: r for r in shard_manifest(docs, n_shards=4).collect()}
        b = {r["shard"]: r for r in shard_manifest(mutated, n_shards=4).collect()}
        changed = [s for s in a if a[s]["checksum"] != b[s]["checksum"]]
        assert len(changed) == 1
        s = changed[0]
        # counts and id range identical — only content moved
        assert a[s]["n_docs"] == b[s]["n_docs"]
        assert a[s]["min_id"] == b[s]["min_id"]
        assert a[s]["max_id"] == b[s]["max_id"]
        assert a[s]["n_tokens"] != b[s]["n_tokens"]  # 5 words -> 1


class TestSourceVocabOverlap:
    def test_hand_computed_jaccard(self, spark):
        from ursa_major_choir_etl_spark.operators.text import (
            source_vocab_overlap,
        )

        docs = spark.createDataFrame(
            [
                (1, "A", "aa bb cc"),
                (2, "A", "aa bb"),       # dups inside a source collapse
                (3, "B", "bb cc dd"),
                (4, "C", "xx"),
            ],
            "doc_id long, source string, text string",
        )
        got = source_vocab_overlap(docs).collect()
        assert len(got) == 1  # C shares nothing -> no row
        r = got[0]
        assert (r["source_a"], r["source_b"]) == ("A", "B")
        assert (r["shared_tokens"], r["vocab_a"], r["vocab_b"]) == (2, 3, 3)
        assert r["jaccard_ppm"] == 500_000


class TestJoinKeySkewProfile:
    def test_hand_computed_skew_and_salt_flag(self, spark):
        from ursa_major_choir_etl_spark.operators.skew import (
            join_key_skew_profile,
        )

        # col "hot": one key holds 20 of 24 rows over 5 distinct keys
        #   -> skew = 20 * 5 / 24 = 4.1666x mean; threshold 4 -> salt
        # col "uni": 24 rows over 4 keys, 6 each -> exactly 1.0x mean
        rows = [(0, i % 4) for i in range(20)] + [
            (k, k % 4) for k in (1, 2, 3, 4)
        ]
        df = spark.createDataFrame(rows, "hot long, uni long")
        got = {
            r["key_col"]: r
            for r in join_key_skew_profile(
                df, ["hot", "uni"], "t", salt_threshold_x_mean=4
            ).collect()
        }
        h = got["hot"]
        assert (h["n_rows"], h["n_distinct"], h["max_count"]) == (24, 5, 20)
        assert h["top_key"] == "0"
        assert h["skew_x_mean_ppm"] == 20 * 5 * 1_000_000 // 24
        assert h["salt_recommended"] == 1
        u = got["uni"]
        assert (u["n_distinct"], u["max_count"]) == (4, 6)
        assert u["skew_x_mean_ppm"] == 1_000_000
        assert u["salt_recommended"] == 0
        # count tie at 6 -> deterministic max-string tie-break
        assert u["top_key"] == "3"

    def test_null_keys_are_profiled_not_dropped(self, spark):
        from ursa_major_choir_etl_spark.operators.skew import (
            join_key_skew_profile,
        )

        df = spark.createDataFrame(
            [(None,), (None,), (None,), (1,)], "k long"
        )
        r = join_key_skew_profile(df, ["k"], "t").collect()[0]
        assert (r["n_rows"], r["n_distinct"], r["max_count"]) == (4, 2, 3)
        assert r["top_key"] == "NULL"


class TestAnnealPhasePlan:
    def test_hand_computed_allocations(self, spark):
        from ursa_major_choir_etl_spark.operators.curation import (
            anneal_phase_plan,
        )

        # quality by construction (see TestQualityDupCalibration):
        #   100 non-stop words -> 0.70 -> band 3 (HQ)
        #   100 stopwords -> 1.0 -> band 4 (HQ)
        #   10 words -> 0.25 -> band 1 (junk)
        hq = " ".join(["zzz"] * 100)
        docs = spark.createDataFrame(
            [
                (1, "A", hq), (2, "A", hq),
                (3, "B", " ".join(["the"] * 100)),
                (4, "C", " ".join(["zzz"] * 10)),
                (5, "C", " ".join(["zzz"] * 10)),
                (6, "C", " ".join(["zzz"] * 10)),
            ],
            "doc_id long, source string, text string",
        )
        got = {r["domain"]: r for r in anneal_phase_plan(docs).collect()}
        # t_all=330, t_hq=300; anneal budget = 33, main = 297
        a = got["A"]
        assert (a["tokens_total"], a["tokens_hq"]) == (200, 200)
        assert a["main_alloc"] == 297 * 200 // 330
        assert a["anneal_alloc"] == 33 * 200 // 300
        assert a["share_main_ppm"] == 200 * 1_000_000 // 330
        assert a["share_anneal_ppm"] == 200 * 1_000_000 // 300
        assert a["upweight_x_ppm"] == (
            (200 * 1_000_000 // 300) * 1_000_000 // (200 * 1_000_000 // 330)
        )
        c = got["C"]
        assert c["tokens_hq"] == 0 and c["anneal_alloc"] == 0
        # a junk-only domain vanishes from the cooldown: share 0
        assert c["share_anneal_ppm"] == 0 and c["upweight_x_ppm"] == 0
        b = got["B"]
        assert b["upweight_x_ppm"] == 1_100_000  # amplified in cooldown


class TestTransitiveDecontamination:
    def test_blast_radius_hand_computed(self, spark, tmp_path, monkeypatch):
        from ursa_major_choir_etl_spark import artifacts
        from ursa_major_choir_etl_spark.plans.queries import (
            q157_transitive_decontamination,
        )

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "wh"))
        artifacts._VERIFIED.clear()
        filler = " ".join(f"w{i}" for i in range(30))
        marker = "alpha beta gamma delta"
        docs = spark.createDataFrame(
            [
                # doc 1: near-dup of 2 (high 3-gram jaccard), NO marker
                (1, "s", filler),
                # doc 2: direct hit — shares the eval 4-gram
                (2, "s", f"{filler} {marker}"),
                # doc 3: clean and unrelated
                (3, "s", "completely different text about other things"),
                # doc 100: the eval slice (id % 50 == 0)
                (100, "s", f"{marker} plus totally unique eval words"),
            ],
            "doc_id long, source string, text string",
        )
        docs.write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet")
        )
        r = q157_transitive_decontamination(spark, str(tmp_path)).collect()
        assert len(r) == 1
        row = r[0]
        assert row["n_train"] == 3
        assert row["n_direct"] == 1       # doc 2
        assert row["n_transitive"] == 1   # doc 1, via the pair graph
        assert row["n_dropped"] == 2
        assert row["dropped_ppm"] == 666_666


class TestMrrReport:
    def test_hand_computed_reciprocal_ranks(self, spark):
        from ursa_major_choir_etl_spark.operators.similarity import (
            mrr_report,
        )

        exact = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (2, 20, 1), (3, 30, 1)],
            "query_id long, neighbor_id long, rank long",
        )
        # truth 10 found at rank 2; truth 20 at rank 1; truth 30 absent
        approx = spark.createDataFrame(
            [(1, 99, 1), (1, 10, 2), (2, 20, 1), (3, 77, 1)],
            "query_id long, neighbor_id long, rank long",
        )
        r = mrr_report(exact, approx).collect()[0]
        assert r["n_queries"] == 3 and r["n_found"] == 2
        # (500000 + 1000000 + 0) // 3
        assert r["mrr_ppm"] == 1_500_000 // 3


class TestRfmSegments:
    def test_exact_quartiles_hand_computed(self, spark):
        import datetime as dt

        from ursa_major_choir_etl_spark.operators.events import rfm_segments

        t0 = dt.datetime(2026, 1, 1)
        rows = []
        eid = 0
        # 4 users with distinct activity profiles:
        #  u1: 8 events, 4 purchases, last day 30  (top f/m, most recent)
        #  u2: 4 events, 2 purchases, last day 20
        #  u3: 2 events, 1 purchase,  last day 10
        #  u4: 1 event,  0 purchases, last day 0   (cold)
        profiles = [(1, 8, 4, 30), (2, 4, 2, 20), (3, 2, 1, 10), (4, 1, 0, 0)]
        for u, n, np_, day in profiles:
            for i in range(n):
                eid += 1
                typ = "purchase" if i < np_ else "view"
                rows.append((eid, u, t0 + dt.timedelta(days=day, hours=-i), typ))
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string"
        )
        got = {
            (r["r_q"], r["f_q"], r["m_q"]): r
            for r in rfm_segments(ev).collect()
        }
        # distinct values per dim, n=4 -> quartiles land 1,2,3,4 in
        # profile order (u4 lowest everywhere, u1 highest everywhere)
        assert set(got) == {(4, 4, 4), (3, 3, 3), (2, 2, 2), (1, 1, 1)}
        assert got[(4, 4, 4)]["n_users"] == 1
        assert got[(4, 4, 4)]["total_events"] == 8
        assert got[(1, 1, 1)]["total_events"] == 1

    def test_all_tied_dimension_lands_mid_quartile(self, spark):
        import datetime as dt

        from ursa_major_choir_etl_spark.operators.events import rfm_segments

        t0 = dt.datetime(2026, 1, 1)
        # every user identical -> average double-rank puts everyone in
        # the SAME quartile (the tie-aware property; naive ntile would
        # split them arbitrarily)
        rows = [(u, u, t0, "view") for u in range(1, 9)]
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string"
        )
        got = rfm_segments(ev).collect()
        assert len(got) == 1
        r = got[0]
        # (2*cum-cnt-1)*4 // (2n) with cum=n,cnt=n -> (n-1)*4//(2n)=1
        assert (r["r_q"], r["f_q"], r["m_q"]) == (2, 2, 2)
        assert r["n_users"] == 8


class TestKAnonymity:
    def test_hand_computed_risk_tiers(self, spark):
        from ursa_major_choir_etl_spark.operators.quality import (
            k_anonymity_report,
        )

        # classes: (a,x):1  (b,x):3  (c,x):5  (d,x):12 -> 21 docs
        rows = (
            [("a", "x")] * 1 + [("b", "x")] * 3 + [("c", "x")] * 5
            + [("d", "x")] * 12
        )
        df = spark.createDataFrame(rows, "g1 string, g2 string")
        got = {
            r["k_bucket"]: r
            for r in k_anonymity_report(df, ["g1", "g2"]).collect()
        }
        assert got["1"]["n_classes"] == 1 and got["1"]["n_docs"] == 1
        assert got["2-4"]["n_docs"] == 3
        assert got["5-9"]["n_docs"] == 5
        assert got["10+"]["n_docs"] == 12
        assert got["1"]["docs_ppm"] == 1_000_000 // 21
        assert got["10+"]["docs_ppm"] == 12 * 1_000_000 // 21


class TestSeasonalBaseline:
    def test_densified_lags_hand_computed(self, spark):
        import datetime as dt

        from ursa_major_choir_etl_spark.operators.events import (
            seasonal_baseline_report,
        )

        t0 = dt.datetime(2026, 1, 1, 0, 0)
        rows = []
        eid = 0
        # perfectly daily-periodic type: 2 events at hours 0,24,48;
        # hour 5 of each day has 1 event; everything else 0
        for day in range(3):
            for _ in range(2):
                eid += 1
                rows.append((eid, "daily", t0 + dt.timedelta(hours=24 * day)))
            eid += 1
            rows.append((eid, "daily", t0 + dt.timedelta(hours=24 * day + 5)))
        ev = spark.createDataFrame(
            rows, "event_id long, event_type string, ts timestamp"
        )
        r = seasonal_baseline_report(ev).collect()[0]
        # span: hour 0 .. hour 53 -> 54 hours; scored = 54 - 24 = 30
        assert r["n_hours"] == 54 and r["n_scored"] == 30
        # seasonal forecast is exact for a periodic series
        assert r["sae_seasonal"] == 0
        # persistence errors at each day boundary/spike: hours 24,25,
        # 29,30, 48,49, 53 -> |2-0|+|0-2|+|1-0|+|0-1| per day-ish
        assert r["sae_persist"] > 0
        assert r["seasonal_wins"] == 1

    def test_gap_hours_count_as_zero_not_skipped(self, spark):
        import datetime as dt

        from ursa_major_choir_etl_spark.operators.events import (
            seasonal_baseline_report,
        )

        t0 = dt.datetime(2026, 1, 1, 0, 0)
        # two events 30h apart: a row-shift lag would pair them;
        # a true time-shift must see 0-filled hours between
        ev = spark.createDataFrame(
            [(1, "t", t0), (2, "t", t0 + dt.timedelta(hours=30))],
            "event_id long, event_type string, ts timestamp",
        )
        r = seasonal_baseline_report(ev).collect()[0]
        assert r["n_hours"] == 31 and r["n_scored"] == 7
        # seasonal: hours 24..30 forecast hours 0..6 = [1,0,...,0];
        # actual [0,...,0,1] -> errors 1 (h24) + 1 (h30) = 2
        assert r["sae_seasonal"] == 2
        # persistence: only transition into h30 (0->1) among scored
        assert r["sae_persist"] == 1
        assert r["seasonal_wins"] == 0


class TestLabelCentroidConfusion:
    def test_separable_clusters_perfect_diagonal(self, spark):
        from ursa_major_choir_etl_spark.operators.similarity import (
            label_centroid_confusion,
        )

        rows = (
            [(i, [10.0 + (i % 3) * 0.1, 0.0], 1) for i in range(3)]
            + [(10 + i, [0.0, 10.0 + (i % 3) * 0.1], 2) for i in range(3)]
        )
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )
        got = {
            (r["label_true"], r["label_pred"]): r["n_vectors"]
            for r in label_centroid_confusion(emb).collect()
        }
        assert got == {(1, 1): 3, (2, 2): 3}

    def test_outlier_crosses_to_other_centroid(self, spark):
        from ursa_major_choir_etl_spark.operators.similarity import (
            label_centroid_confusion,
        )

        # one label-1 vector sits on label 2's centroid -> off-diagonal
        rows = [
            (1, [10.0, 0.0], 1),
            (2, [10.0, 0.0], 1),
            (3, [0.0, 10.0], 1),   # mislabeled / outlier
            (4, [0.0, 10.0], 2),
            (5, [0.0, 10.0], 2),
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int"
        )
        got = {
            (r["label_true"], r["label_pred"]): r["n_vectors"]
            for r in label_centroid_confusion(emb).collect()
        }
        assert got[(1, 2)] == 1 and got[(1, 1)] == 2 and got[(2, 2)] == 2


class TestRrfFusion:
    def test_hand_computed_rrf_with_ties(self, spark):
        from ursa_major_choir_etl_spark.operators.curation import (
            rrf_fusion_shortlist,
        )

        # one group, two signals:
        #   doc 1: s0 best (rank 1), s1 worst (rank 3)
        #   doc 2: s0/s1 middle but tied with doc 3 on s1
        #   doc 3: s0 worst, tied top on s1 with doc 2
        df = spark.createDataFrame(
            [(1, "g", 30, 1), (2, "g", 20, 5), (3, "g", 10, 5)],
            "doc_id long, source string, a long, b long",
        )
        got = {
            r["doc_id"]: r
            for r in rrf_fusion_shortlist(df, ["a", "b"], top=3).collect()
        }
        # double-ranks descending: s0: 30->dr2(r1), 20->dr4, 10->dr6
        # s1: {5,5} share avg rank 1.5 -> dr3; 1 -> dr6
        rrf = lambda *drs: sum(2_000_000 // (120 + d) for d in drs)
        assert got[1]["rrf_micro"] == rrf(2, 6)
        assert got[2]["rrf_micro"] == rrf(4, 3)
        assert got[3]["rrf_micro"] == rrf(6, 3)
        # tie-aware ranks: docs 2 and 3 share the s1 contribution,
        # and balanced doc 2 beats spiky doc 1 (rank fusion's point)
        assert got[2]["rrf_micro"] > got[3]["rrf_micro"]
        assert [got[i]["rank"] for i in (2, 1, 3)] == [1, 2, 3]


class TestDupDivergence:
    def test_hand_computed_buckets(self, spark):
        from ursa_major_choir_etl_spark.operators.dedup import (
            near_dup_divergence_profile,
        )

        docs = spark.createDataFrame(
            [
                (1, "aa bb cc"),
                (2, "cc bb aa aa"),          # same vocab as 1 -> sd 0
                (3, "aa bb dd"),             # vs 1: sd = 2 (cc,dd)
                (4, "pp qq rr ss tt uu vv"),  # vs 1: sd = 10 -> rewrite
            ],
            "doc_id long, text string",
        )
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
        )
        got = {
            r["divergence"]: r
            for r in near_dup_divergence_profile(docs, pairs).collect()
        }
        assert got["0_identical_vocab"]["n_pairs"] == 1
        assert got["1_touch_up"]["n_pairs"] == 1
        assert got["3_rewrite"]["n_pairs"] == 1
        assert got["3_rewrite"]["pairs_ppm"] == 333_333


class TestTemplateProfile:
    def test_modal_lead_token_share(self, spark):
        from ursa_major_choir_etl_spark.operators.text import (
            positional_template_profile,
        )

        docs = spark.createDataFrame(
            [
                (1, "s", "breaking news about cats"),
                (2, "s", "breaking news about dogs"),
                (3, "s", "quiet update about fish"),
            ],
            "doc_id long, source string, text string",
        )
        got = {
            r["pos"]: r
            for r in positional_template_profile(docs).collect()
        }
        assert got[1]["top_token"] == "breaking"
        assert got[1]["top_count"] == 2 and got[1]["n_docs_at_pos"] == 3
        assert got[1]["share_ppm"] == 666_666
        assert got[2]["top_token"] == "news"
        assert got[3]["top_token"] == "about"
        assert got[3]["share_ppm"] == 1_000_000
        # tie at pos 4 (cats/dogs/fish all 1) -> deterministic max
        assert got[4]["top_token"] == "fish"


class TestGiniConcentration:
    def _run(self, spark, rows):
        from ursa_major_choir_etl_spark.operators.quality import (
            gini_concentration,
        )

        df = spark.createDataFrame(rows, "g string, x long")
        return {
            r["g"]: r for r in gini_concentration(df, "x", "g").collect()
        }

    def test_equal_distribution_is_zero(self, spark):
        got = self._run(spark, [("e", 7)] * 10)
        assert got["e"]["gini_ppm"] == 0
        assert got["e"]["total"] == 70

    def test_total_concentration_approaches_one(self, spark):
        # 9 entities with 0, one with everything: G = (n-1)/n = 0.9
        got = self._run(spark, [("c", 0)] * 9 + [("c", 100)])
        assert got["c"]["gini_ppm"] == 900_000

    def test_hand_computed_mixed(self, spark):
        # x = [1, 3]: ranks 1,2 -> dr 1?? dr=2cum-cnt+1: x=1 ->
        # 2*1-1+1=2; x=3 -> 2*2-1+1=4. sxdr = 1*2 + 3*4 = 14; n=2,
        # sx=4 -> 14e6 // 8 = 1_750_000; (3*1e6)//2 = 1_500_000 ->
        # G = 250_000 (exact Gini of [1,3] = 0.25)
        got = self._run(spark, [("m", 1), ("m", 3)])
        assert got["m"]["gini_ppm"] == 250_000

    def test_zero_total_is_null(self, spark):
        got = self._run(spark, [("z", 0), ("z", 0)])
        assert got["z"]["gini_ppm"] is None


class TestReferentialIntegrity:
    def test_orphans_detected_and_counted(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q168_referential_integrity,
        )

        d = str(tmp_path)
        spark.createDataFrame(
            [(1, 10, 100, 1000, 0.0, 0.0, 0.0, 0.0, 1.0, "N", "O", None),
             (2, 10, 100, 1000, 0.0, 0.0, 0.0, 0.0, 1.0, "N", "O", None),
             (3, 99, 100, 1000, 0.0, 0.0, 0.0, 0.0, 1.0, "N", "O", None)],
            "l_orderkey long, x long, l_partkey long, l_suppkey long, "
            "a double, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp",
        ).selectExpr(
            "l_orderkey", "l_partkey", "l_suppkey", "1 AS l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate"
        ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
        spark.createDataFrame(
            [(1, 5), (2, 5)],  # orderkey 3 is missing -> orphan line
            "o_orderkey long, o_custkey long",
        ).selectExpr(
            "o_orderkey", "o_custkey", "'O' AS o_orderstatus",
            "1.0 AS o_totalprice", "CAST(NULL AS TIMESTAMP) AS o_orderdate",
            "'1-URGENT' AS o_orderpriority"
        ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
        spark.createDataFrame(
            [(100,)], "p_partkey long"
        ).write.mode("overwrite").parquet(os.path.join(d, "part.parquet"))
        spark.createDataFrame(
            [(1000, 7)], "s_suppkey long, s_nationkey long"
        ).write.mode("overwrite").parquet(os.path.join(d, "supplier.parquet"))
        spark.createDataFrame(
            [(5, 7)], "c_custkey long, c_nationkey long"
        ).write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))
        spark.createDataFrame(
            [(7,)], "n_nationkey long"
        ).write.mode("overwrite").parquet(os.path.join(d, "nation.parquet"))

        got = {
            r["relationship"]: r
            for r in q168_referential_integrity(spark, d).collect()
        }
        lo = got["lineitem->orders"]
        # orderkey 3 has no parent order -> 1 of 3 lines orphaned
        assert (lo["n_child"], lo["n_child_keys"], lo["n_orphans"]) == (3, 3, 1)
        assert lo["orphan_ppm"] == 333_333
        assert got["orders->customer"]["n_orphans"] == 0
        assert got["customer->nation"]["orphan_ppm"] == 0
        assert got["lineitem->part"]["n_orphans"] == 0

    def test_orphan_ppm_math(self, spark, tmp_path):
        # direct operator-shape check through a minimal rel: 1 of 4
        # child rows orphaned -> 250000 ppm
        from ursa_major_choir_etl_spark.plans import queries as Q

        child = spark.createDataFrame(
            [(1,), (1,), (2,), (9,)], "k long"
        )
        parent = spark.createDataFrame([(1,), (2,)], "pk long")
        # reuse the inner rel() through the public query is awkward;
        # assert the same math inline
        c = child.selectExpr("k AS _k")
        p = parent.selectExpr("pk AS _k").distinct()
        orphans = c.join(p, "_k", "left_anti").count()
        assert orphans == 1
        assert orphans * 1_000_000 // c.count() == 250_000


class TestScd2Build:
    def test_change_detection_and_intervals(self, spark):
        import datetime as dt

        from ursa_major_choir_etl_spark.operators.marts import (
            scd2_from_changelog,
        )

        t = lambda h: dt.datetime(2026, 1, 1, h)
        rows = [
            (1, 1, t(0), "bronze"),
            (2, 1, t(1), "bronze"),   # no change -> collapsed
            (3, 1, t(2), "silver"),   # change
            (4, 1, t(3), "silver"),   # no change
            (5, 1, t(4), "gold"),     # change
            (6, 2, t(0), "bronze"),   # second key independent
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
            "event_type string"
        )
        got = sorted(
            scd2_from_changelog(ev).collect(),
            key=lambda r: (r["user_id"], r["version"]),
        )
        u1 = [r for r in got if r["user_id"] == 1]
        assert [(r["version"], r["attr"]) for r in u1] == [
            (1, "bronze"), (2, "silver"), (3, "gold")
        ]
        assert u1[0]["valid_to"] == u1[1]["valid_from"]
        assert u1[1]["valid_to"] == u1[2]["valid_from"]
        assert [r["is_current"] for r in u1] == [0, 0, 1]
        assert u1[2]["valid_to"] is None
        u2 = [r for r in got if r["user_id"] == 2]
        assert len(u2) == 1 and u2[0]["is_current"] == 1


class TestPitSnapshot:
    def test_state_reconstruction_at_timestamp(self, spark):
        import datetime as dt

        from ursa_major_choir_etl_spark.operators.marts import (
            scd2_from_changelog,
        )
        from pyspark.sql import functions as F2

        t = lambda d: dt.datetime(2024, 1, d)
        rows = [
            (1, 1, t(1), "bronze"), (2, 1, t(10), "silver"),
            (3, 1, t(20), "gold"),
            (4, 2, t(5), "bronze"),
            (5, 3, t(16), "silver"),  # joins AFTER the snapshot
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
            "event_type string"
        )
        scd = scd2_from_changelog(ev)
        snap = "2024-01-15 00:00:00"
        live = scd.filter(
            (F2.col("valid_from") <= snap)
            & (F2.col("valid_to").isNull() | (F2.col("valid_to") > snap))
        )
        got = {
            (r["user_id"]): r["attr"] for r in live.collect()
        }
        # at Jan 15: user1 is silver (gold starts the 20th), user2
        # bronze, user3 not yet present
        assert got == {1: "silver", 2: "bronze"}


class TestMarkovTransitions:
    def test_hand_computed_probabilities(self, spark):
        import datetime as dt

        from ursa_major_choir_etl_spark.operators.events import (
            markov_transition_profile,
        )

        t0 = dt.datetime(2026, 1, 1)
        seq = ["a", "b", "a", "b", "c"]  # a->b x2, b->a, b->c
        rows = [
            (i + 1, 1, t0 + dt.timedelta(minutes=i), s)
            for i, s in enumerate(seq)
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
            "event_type string"
        )
        got = {
            (r["state"], r["next_state"]): r
            for r in markov_transition_profile(ev).collect()
        }
        assert got[("a", "b")]["n_transitions"] == 2
        assert got[("a", "b")]["prob_ppm"] == 1_000_000
        assert got[("b", "a")]["prob_ppm"] == 500_000
        assert got[("b", "c")]["prob_ppm"] == 500_000
        # terminal c has no outgoing row
        assert not any(s == "c" for s, _ in got)


class TestConversionHazard:
    def test_latency_buckets_and_nonconverts(self, spark):
        import datetime as dt

        from ursa_major_choir_etl_spark.operators.events import (
            conversion_hazard_report,
        )

        t0 = dt.datetime(2026, 1, 1)
        rows = [
            # u1: converts 10s after first view -> bucket L(11)-1 = 3
            (1, 1, t0, "view"),
            (2, 1, t0 + dt.timedelta(seconds=10), "purchase"),
            # u2: purchase BEFORE the first view only -> never
            (3, 2, t0, "purchase"),
            (4, 2, t0 + dt.timedelta(seconds=5), "view"),
            # u3: no view at all -> excluded entirely
            (5, 3, t0, "purchase"),
            # u4: instant convert (0s) -> bucket L(1)-1 = 0
            (6, 4, t0, "view"),
            (7, 4, t0, "purchase"),
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, "
            "event_type string"
        )
        got = {
            r["latency_bucket"]: r
            for r in conversion_hazard_report(ev).collect()
        }
        assert got[3]["n_users"] == 1    # 10s -> floor(log2(11)) = 3
        assert got[0]["n_users"] == 1    # 0s
        assert got[-1]["n_users"] == 1   # u2 never converts after view
        assert sum(r["n_users"] for r in got.values()) == 3  # u3 absent
        assert got[3]["users_ppm"] == 333_333


class TestEmbeddingDimHealth:
    def test_dead_and_varying_dims(self, spark):
        from ursa_major_choir_etl_spark.operators.similarity import (
            embedding_dim_health,
        )

        emb = spark.createDataFrame(
            [(1, [1.0, 0.5, -2.0]), (2, [1.0, 0.7, 2.0])],
            "vec_id long, embedding array<double>",
        )
        got = {r["dim"]: r for r in embedding_dim_health(emb).collect()}
        d0 = got[0]
        assert d0["is_dead"] == 1 and d0["var_micro2"] == 0
        assert d0["mean_micro"] == 1_000_000
        d1 = got[1]
        # values 500000/700000: mean 600000, var = 1e10 exactly
        assert d1["mean_micro"] == 600_000
        assert d1["var_micro2"] == 10_000_000_000
        assert d1["is_dead"] == 0
        d2 = got[2]
        assert d2["mean_micro"] == 0 and d2["is_dead"] == 0


class TestClusterSizeSpectrum:
    def test_log2_buckets_over_known_clusters(self, spark, tmp_path, monkeypatch):
        from ursa_major_choir_etl_spark import artifacts
        from ursa_major_choir_etl_spark.plans.queries import (
            q174_cluster_size_spectrum,
        )

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "wh"))
        artifacts._VERIFIED.clear()
        base = " ".join(f"w{i}" for i in range(30))
        other = " ".join(f"z{i}" for i in range(30))
        rows = (
            # chain of 4 near-dups -> one cluster of 4 (bucket 2)
            [(i, f"{base} tail{i}") for i in range(1, 5)]
            # pair -> cluster of 2 (bucket 1)
            + [(10, f"{other} tailA"), (11, f"{other} tailB")]
            # singleton: not in any pair, absent from the spectrum
            + [(20, "entirely unrelated text about nothing shared")]
        )
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).withColumn("source", F.lit("s")).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet")
        )
        got = {
            r["log2_size_bucket"]: r
            for r in q174_cluster_size_spectrum(spark, str(tmp_path)).collect()
        }
        assert got[2]["n_clusters"] == 1 and got[2]["n_docs"] == 4
        assert got[1]["n_clusters"] == 1 and got[1]["n_docs"] == 2
        assert got[2]["docs_ppm"] == 666_666
        assert got[1]["docs_ppm"] == 333_333
        assert set(got) == {1, 2}  # singleton doc contributes nothing


class TestBurstiness:
    def test_cf_df_hand_computed(self, spark):
        from ursa_major_choir_etl_spark.operators.text import (
            burstiness_profile,
        )

        # "topic" appears 3x in each of 2 docs (cf 6, df 2 -> 3.0);
        # "the" appears once in all 5 docs (cf 5, df 5 -> 1.0)
        rows = [
            (1, "s", "the topic topic topic"),
            (2, "s", "the topic topic topic"),
            (3, "s", "the filler"),
            (4, "s", "the filler"),
            (5, "s", "the filler"),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, source string, text string"
        )
        got = {
            r["tok"]: r
            for r in burstiness_profile(docs, min_df=2, k=10).collect()
        }
        assert got["topic"]["cf"] == 6 and got["topic"]["df"] == 2
        assert got["topic"]["burst_ppm"] == 3_000_000
        assert got["the"]["burst_ppm"] == 1_000_000
        assert got["topic"]["rank"] == 1  # cf 6 beats cf 5
        assert "filler" in got and got["filler"]["df"] == 3


class TestMarkovBaseline:
    def test_argmax_successor_accuracy(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q176_markov_baseline_accuracy,
        )

        t0 = dt.datetime(2026, 1, 1)
        seq = ["a", "b", "a", "b", "a", "c"]  # a->b x2, a->c, b->a x2
        rows = [
            (i + 1, 1, t0 + dt.timedelta(minutes=i), s)
            for i, s in enumerate(seq)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts timestamp, event_type string",
        ).selectExpr(
            "event_id", "ts", "user_id", "event_type",
            "CAST(0.0 AS DOUBLE) AS value", "'{}' AS props"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet")
        )
        got = {
            r["state"]: r
            for r in q176_markov_baseline_accuracy(
                spark, str(tmp_path)
            ).collect()
        }
        a = got["a"]
        assert a["predicted_next"] == "b"
        assert (a["n_transitions"], a["n_correct"]) == (3, 2)
        assert a["accuracy_ppm"] == 666_666
        b = got["b"]
        assert b["predicted_next"] == "a" and b["accuracy_ppm"] == 1_000_000


class TestReorderGapMedian:
    def test_tie_aware_lower_median(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q180_reorder_gap_median,
        )

        t0 = dt.datetime(2024, 1, 1)
        d = str(tmp_path)
        # customer 1: orders at days 0,1,3,10 -> gaps 1,2,7 (median 2)
        rows = [(k, 1, t0 + dt.timedelta(days=day))
                for k, day in [(1, 0), (2, 1), (3, 3), (4, 10)]]
        # customer 2 (same segment): days 0,4 -> gap 4
        rows += [(5, 2, t0), (6, 2, t0 + dt.timedelta(days=4))]
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_orderdate timestamp"
        ).selectExpr(
            "o_orderkey", "o_custkey", "'O' AS o_orderstatus",
            "1.0 AS o_totalprice", "o_orderdate",
            "'1-URGENT' AS o_orderpriority"
        ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
        spark.createDataFrame(
            [(1, "SEG"), (2, "SEG")],
            "c_custkey long, c_mktsegment string",
        ).selectExpr(
            "c_custkey", "'n' AS c_name", "0 AS c_nationkey",
            "0.0 AS c_acctbal", "c_mktsegment"
        ).write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))
        r = q180_reorder_gap_median(spark, d).collect()
        assert len(r) == 1
        # gaps pooled: [1,2,4,7], n=4 -> lower median (cum*2 >= 4) = 2
        assert r[0]["median_gap_days"] == 2 and r[0]["n_gaps"] == 4


class TestIntervalCoverage:
    def test_islands_merge_overlaps_exactly(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q181_interval_coverage,
        )

        t0 = dt.datetime(2024, 1, 1)
        # user 1: [0,10), [5,12) overlap -> island [0,12); [20,25)
        # disjoint; [12,13) adjacent (s == prev end) -> SAME island
        # (closed join at the boundary: s > prev_max is false).
        rows = [
            (1, 1, t0, 10.0),
            (2, 1, t0 + dt.timedelta(seconds=5), 7.0),
            (3, 1, t0 + dt.timedelta(seconds=12), 1.0),
            (4, 1, t0 + dt.timedelta(seconds=20), 5.0),
            # user 2: one interval
            (5, 2, t0, 2.5),
        ]
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        ).selectExpr(
            "event_id", "ts", "user_id", "'view' AS event_type",
            "value", "'{}' AS props"
        ).write.mode("overwrite").parquet(os.path.join(str(tmp_path), "events.parquet"))
        got = {r["user_id"]: r for r in
               q181_interval_coverage(spark, str(tmp_path)).collect()}
        u1 = got[1]
        # islands: [0,13) = 13s, [20,25) = 5s -> covered 18s
        assert u1["n_intervals"] == 4 and u1["n_islands"] == 2
        assert u1["covered_us"] == 18_000_000
        # raw durations 10+7+1+5 = 23s -> overlap 5s
        assert u1["overlap_us"] == 5_000_000
        u2 = got[2]
        assert (u2["n_islands"], u2["covered_us"], u2["overlap_us"]) == (
            1, 2_500_000, 0)


class TestBenfordAudit:
    def test_digit_extraction_and_constants(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q182_benford_audit,
        )

        # 9 orders with first digits 1,1,1,1,2,2,3,9 and one sub-dollar
        # price (0.47 -> cents 47 -> first digit 4).
        prices = [123.45, 1999.99, 10.0, 150.0, 23.4, 250.0, 3.99, 900.0,
                  0.47]
        rows = [(i, 1, p) for i, p in enumerate(prices)]
        spark.createDataFrame(
            rows, "o_orderkey long, o_custkey long, o_totalprice double"
        ).selectExpr(
            "o_orderkey", "o_custkey", "'O' AS o_orderstatus",
            "o_totalprice", "CAST('2024-01-01' AS DATE) AS o_orderdate",
            "'1-URGENT' AS o_orderpriority"
        ).write.mode("overwrite").parquet(os.path.join(str(tmp_path), "orders.parquet"))
        got = {r["digit"]: r for r in
               q182_benford_audit(spark, str(tmp_path)).collect()}
        assert got[1]["n_orders"] == 4 and got[2]["n_orders"] == 2
        assert got[4]["n_orders"] == 1  # 0.47 -> cents 47
        assert got[9]["n_orders"] == 1
        # ppm arithmetic: 4/9 -> 444444 (truncating div)
        assert got[1]["observed_ppm"] == 444_444
        assert got[1]["benford_ppm"] == 301_030
        assert got[1]["dev_ppm"] == 143_414
        # Benford constants sum to exactly 1e6 over d=1..9
        from ursa_major_choir_etl_spark.plans.queries import _BENFORD_CASE
        import re
        vals = [int(x) for x in re.findall(r"THEN (\d+)", _BENFORD_CASE)]
        vals.append(int(re.search(r"ELSE (\d+)", _BENFORD_CASE).group(1)))
        assert sum(vals) == 1_000_000 and len(vals) == 9


class TestKCore:
    def _core(self, spark, edges, k=2, rounds=8):
        from ursa_major_choir_etl_spark.operators.graph import (
            kcore_membership,
        )

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {
            r["node"]: r["core_degree"]
            for r in kcore_membership(df, k=k, rounds=rounds).collect()
        }

    def test_star_dissolves_triangle_survives(self, spark):
        # hub 1 with leaves 2,3,4 (star) + triangle 10-11-12
        edges = [(1, 2), (1, 3), (1, 4), (10, 11), (11, 12), (10, 12)]
        got = self._core(spark, edges)
        assert got == {10: 2, 11: 2, 12: 2}

    def test_chain_cascade_fully_peels(self, spark):
        # path 1-2-3-4-5-6: every 2-core peel cascades from the ends;
        # needs 3 rounds to empty - exercises the iteration, and an
        # 8-round run must agree with any later round (monotone).
        edges = [(i, i + 1) for i in range(1, 6)]
        assert self._core(spark, edges, rounds=8) == {}

    def test_fixed_rounds_match_after_convergence(self, spark):
        edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6), (4, 6),
                 (6, 7)]
        a = self._core(spark, edges, rounds=2)
        b = self._core(spark, edges, rounds=8)
        assert a == b
        # two triangles joined by a bridge: only pendant 7 peels; the
        # bridge 3-4 survives (both endpoints in-core), so its
        # endpoints carry degree 3
        assert a == {1: 2, 2: 2, 3: 3, 4: 3, 5: 2, 6: 2}


class TestEquidepthHistogram:
    def test_uniform_values_land_evenly(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q184_equidepth_histogram,
        )

        # 64 distinct uniform values -> every bucket holds exactly 8
        rows = [(i, float(100 + i)) for i in range(64)]
        spark.createDataFrame(
            rows, "l_orderkey long, l_extendedprice double"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "lineitem.parquet"))
        got = sorted(
            q184_equidepth_histogram(spark, str(tmp_path)).collect(),
            key=lambda r: r["bucket"],
        )
        assert [r["bucket"] for r in got] == list(range(8))
        assert all(r["n_rows"] == 8 for r in got)
        assert all(r["n_distinct"] == 8 for r in got)
        assert all(r["depth_dev_ppm"] == 0 for r in got)
        # ranges tile the value domain in order
        assert got[0]["lo"] == 100.0 and got[7]["hi"] == 163.0
        for a, b in zip(got, got[1:]):
            assert a["hi"] < b["lo"]


class TestIncrementalRollup:
    def test_merged_state_equals_full_recompute(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q185_incremental_rollup,
        )

        t0 = dt.datetime(2024, 3, 1, 10)
        rows = [
            (i, t0 + dt.timedelta(hours=i % 40), 1 + i % 3,
             "click" if i % 2 else "view", 1.0 + i, "{}")
            for i in range(200)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = q185_incremental_rollup(spark, str(tmp_path)).collect()
        assert len(got) > 1
        # the merge-vs-recompute proof is IN the result
        assert all(r["matches_full"] == 1 for r in got)
        assert sum(r["n_events"] for r in got) == 200


class TestTokenizerFertility:
    def test_ratios_exact(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q186_tokenizer_fertility,
        )

        rows = [
            # "ab cd" -> 2 tokens, 2 pieces, 5 chars
            (1, "ab cd", "en", "s", 5),
            # "a,b" -> 1 whitespace token, 3 pieces (a , b), 3 chars
            (2, "a,b", "en", "s", 3),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string,"
            " source string, n_chars long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        r = q186_tokenizer_fertility(spark, str(tmp_path)).collect()[0]
        assert (r["n_docs"], r["total_chars"]) == (2, 8)
        assert (r["total_tokens"], r["total_pieces"]) == (3, 5)
        assert r["chars_per_piece_ppm"] == 8 * 1_000_000 // 5
        assert r["pieces_per_token_ppm"] == 5 * 1_000_000 // 3


class TestTouchAttribution:
    def test_models_credit_expected_channels(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q187_touch_attribution,
        )

        t0 = dt.datetime(2024, 1, 1)
        s = lambda i: t0 + dt.timedelta(seconds=i)  # noqa: E731
        rows = [
            # user 1: view, click, purchase(100), purchase(50)
            (1, s(0), 1, "view", 1.00),
            (2, s(1), 1, "click", 1.00),
            (3, s(2), 1, "purchase", 100.00),
            (4, s(3), 1, "purchase", 50.00),
            # user 2: purchase with no prior touch
            (5, s(0), 2, "purchase", 9.00),
        ]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).selectExpr("event_id", "ts", "user_id", "event_type",
                     "value", "'{}' AS props").write.mode(
            "overwrite").parquet(os.path.join(str(tmp_path), "events.parquet"))
        got = {(r["model"], r["channel"]): r for r in
               q187_touch_attribution(spark, str(tmp_path)).collect()}
        # first-touch: both user-1 purchases credit 'view'
        assert got[("first_touch", "view")]["attributed_cents"] == 15000
        assert got[("first_touch", "none")]["attributed_cents"] == 900
        # last-touch: click is the latest NON-purchase before both
        # (the first purchase never credits the second)
        assert got[("last_touch", "click")]["attributed_cents"] == 15000
        assert got[("last_touch", "none")]["n_purchases"] == 1


class TestSourceTvDistance:
    def test_identical_and_disjoint_sources(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q188_source_tv_distance,
        )

        rows = [
            # srcA and srcB identical distributions; srcC disjoint
            (1, "aa bb", "en", "srcA", 5),
            (2, "aa bb", "en", "srcB", 5),
            (3, "cc dd", "en", "srcC", 5),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string,"
            " source string, n_chars long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"]: r for r in
               q188_source_tv_distance(spark, str(tmp_path)).collect()}
        # corpus: aa 2/6, bb 2/6, cc 1/6, dd 1/6
        # srcA: ps(aa)=.5 -> |500000-333333| * 2 plus absent mass
        # (166666*2) -> 2TV = 333334 + 333332 = 666666 -> TV = 333333
        assert got["srcA"]["tv_ppm"] == got["srcB"]["tv_ppm"] == 333333
        # srcC: present |500000-166666|*2 = 666668; absent 333333*2
        # -> 2TV = 1333334 -> TV = 666667
        assert got["srcC"]["tv_ppm"] == 666667
        assert got["srcA"]["n_terms"] == 2


class TestOrderReconciliation:
    def test_bands_and_missing_lineitems(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q189_order_reconciliation,
        )

        d = str(tmp_path)
        # order 1 reconciles exactly; order 2 off by 50%; order 3 has
        # no lineitems
        spark.createDataFrame(
            [(1, 100.0), (2, 100.0), (3, 10.0)],
            "o_orderkey long, o_totalprice double",
        ).selectExpr(
            "o_orderkey", "1 AS o_custkey", "'O' AS o_orderstatus",
            "o_totalprice", "CAST('2024-01-01' AS DATE) AS o_orderdate",
            "'1-URGENT' AS o_orderpriority"
        ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
        li = [
            (1, 100.0, 0.0, 0.0),
            (2, 100.0, 0.5, 0.0),  # charge 50 -> dev 50 -> 500000ppm
        ]
        spark.createDataFrame(
            li, "l_orderkey long, l_extendedprice double,"
            " l_discount double, l_tax double"
        ).selectExpr(
            "l_orderkey", "1 AS l_partkey", "1 AS l_suppkey",
            "1 AS l_linenumber", "1.0 AS l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "'N' AS l_returnflag",
            "'O' AS l_linestatus",
            "CAST('2024-01-02' AS DATE) AS l_shipdate"
        ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))
        got = {r["band"]: r for r in
               q189_order_reconciliation(spark, d).collect()}
        assert got["dev<=1e4ppm"]["n_orders"] == 1
        assert got["dev<=1e4ppm"]["abs_dev_cents"] == 0
        assert got["dev<=1e6ppm"]["abs_dev_cents"] == 5000
        assert got["no_lineitems"]["n_orders"] == 1
        assert got["no_lineitems"]["max_dev_ppm"] == 0


class TestTrigramJourneys:
    def test_paths_and_shares(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q190_trigram_journeys,
        )

        t0 = dt.datetime(2024, 1, 1)
        s = lambda i: t0 + dt.timedelta(seconds=i)  # noqa: E731
        # user 1: a b a b -> trigrams (a,b,a), (b,a,b); user 2: a b
        # (too short, contributes none)
        rows = [(1, s(0), 1, "a"), (2, s(1), 1, "b"), (3, s(2), 1, "a"),
                (4, s(3), 1, "b"), (5, s(0), 2, "a"), (6, s(1), 2, "b")]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).selectExpr("event_id", "ts", "user_id", "event_type",
                     "1.0 AS value", "'{}' AS props").write.mode(
            "overwrite").parquet(os.path.join(str(tmp_path), "events.parquet"))
        got = {(r["e1"], r["e2"], r["e3"]): r for r in
               q190_trigram_journeys(spark, str(tmp_path)).collect()}
        assert set(got) == {("a", "b", "a"), ("b", "a", "b")}
        assert got[("a", "b", "a")]["n_paths"] == 1
        assert got[("a", "b", "a")]["share_ppm"] == 500_000


class TestDecileShift:
    def test_known_shift(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q191_decile_shift,
        )

        t0 = dt.datetime(2024, 1, 1)
        rows = []
        # early week: purchase values 1..100; late week (day 21+):
        # values 2..200 (exactly doubled) -> every decile +100%
        for i in range(100):
            rows.append((i, t0 + dt.timedelta(hours=i % 24), 1,
                         "purchase", float(i + 1)))
            rows.append((1000 + i,
                         t0 + dt.timedelta(days=21, hours=i % 24), 1,
                         "purchase", float(2 * (i + 1))))
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).selectExpr("event_id", "ts", "user_id", "event_type",
                     "value", "'{}' AS props").write.mode(
            "overwrite").parquet(os.path.join(str(tmp_path), "events.parquet"))
        got = q191_decile_shift(spark, str(tmp_path)).collect()
        assert len(got) == 9
        for r in got:
            assert r["q_late_cents"] == 2 * r["q_early_cents"]
            assert r["shift_pct"] == 100.0


class TestLDiversity:
    def test_tiers(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q192_l_diversity,
        )

        t0 = dt.datetime(2024, 1, 1, 9)  # one (type,hour,dow) class each
        rows = []
        # class A (view@9): 1 user, 3 rows -> l=1
        rows += [(i, t0, 7, "view") for i in range(3)]
        # class B (click@9): 3 users -> l=2-4
        rows += [(10 + u, t0, u, "click") for u in range(3)]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).selectExpr("event_id", "ts", "user_id", "event_type",
                     "1.0 AS value", "'{}' AS props").write.mode(
            "overwrite").parquet(os.path.join(str(tmp_path), "events.parquet"))
        got = {r["l_tier"]: r for r in
               q192_l_diversity(spark, str(tmp_path)).collect()}
        assert got["l=1"]["n_classes"] == 1
        assert got["l=1"]["n_events"] == 3
        assert got["l=2-4"]["min_l"] == 3 and got["l=2-4"]["max_l"] == 3


class TestSkippingEffectiveness:
    def test_zorder_prunes_linear_does_not(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import (
            q193_skipping_effectiveness,
        )

        got = q193_skipping_effectiveness(
            spark, "/root/testdata/sf0.001"
        ).collect()
        by = {(r["layout"], r["lo"]): r for r in got}
        assert len(by) == 8
        for (layout, lo), r in by.items():
            assert 0 <= r["files_read"] <= r["n_files"]
        # in-span predicates: z-order must strictly dominate the
        # single-column layout (whose files mostly span the full date
        # domain; tiny sparse files can prune incidentally at
        # sf0.001, so compare aggregate pruning, not exact zeros)
        lin = [r for (lay, _), r in by.items() if lay == "linear_price"]
        zo = [r for (lay, _), r in by.items() if lay == "zorder"]
        lin_pruned = sum(r["pruned_ppm"] for r in lin)
        zo_pruned = sum(r["pruned_ppm"] for r in zo)
        assert zo_pruned > lin_pruned
        assert all(r["pruned_ppm"] >= 500_000 for r in zo)


class TestPreferencePairs:
    def test_argmax_argmin_with_tie_break(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q194_preference_pairs,
        )

        rows = [
            # srcA: doc 1 and 2 identical text (quality tie) -> lowest
            # doc_id wins both ends consistently (-id struct order);
            # doc 3 clearly worse (punct-heavy short)
            (1, "the quick brown fox jumps over the lazy dog today", "en", "srcA", 0),
            (2, "the quick brown fox jumps over the lazy dog today", "en", "srcA", 0),
            (3, "!!! ??? ### $$$", "en", "srcA", 0),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string,"
            " source string, n_chars long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        r = q194_preference_pairs(spark, str(tmp_path)).collect()[0]
        assert r["chosen_id"] == 1  # tie -> smaller doc_id
        assert r["rejected_id"] == 3
        assert r["quality_gap"] > 0
        assert r["n_docs"] == 3


class TestDemandDeclineRuns:
    def test_run_lengths(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q195_demand_decline_runs,
        )

        def rows_for(part, qtys):
            # one lineitem per quarter starting 2020Q1
            out = []
            for i, qty in enumerate(qtys):
                d = dt.date(2020 + i // 4, 1 + 3 * (i % 4), 15)
                out.append((part, float(qty), d))
            return out

        rows = (
            rows_for(1, [10, 8, 6, 9, 5])   # runs: 2 (10>8>6), 1 (9>5)
            + rows_for(2, [3, 4, 5])        # no decline
            + rows_for(3, [9, 7])           # run 1
        )
        spark.createDataFrame(
            rows, "l_partkey long, l_quantity double, l_shipdate date"
        ).selectExpr(
            "1 AS l_orderkey", "l_partkey", "1 AS l_suppkey",
            "1 AS l_linenumber", "l_quantity", "1.0 AS l_extendedprice",
            "0.0 AS l_discount", "0.0 AS l_tax", "'N' AS l_returnflag",
            "'O' AS l_linestatus", "l_shipdate"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "lineitem.parquet"))
        got = {r["max_run"]: r["n_parts"] for r in
               q195_demand_decline_runs(spark, str(tmp_path)).collect()}
        # part 1 max run 2; part 3 max run 1; part 2 absent (no runs)
        assert got == {2: 1, 1: 1}


class TestCellSuppression:
    def test_primary_and_complementary(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q196_cell_suppression,
        )

        t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
        rows = []
        eid = 0

        def add(et, hour, n):
            nonlocal eid
            for _ in range(n):
                rows.append((eid, t(hour), 1, et))
                eid += 1

        # type A: hours 0 (n=12), 1 (n=11), 2 (n=5, primary) ->
        # exactly one primary -> complementary suppresses hour 1
        add("A", 0, 12); add("A", 1, 11); add("A", 2, 5)
        # type B: two primaries (no complementary needed)
        add("B", 0, 20); add("B", 1, 3); add("B", 2, 4)
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).selectExpr("event_id", "ts", "user_id", "event_type",
                     "1.0 AS value", "'{}' AS props").write.mode(
            "overwrite").parquet(os.path.join(str(tmp_path), "events.parquet"))
        got = {r["event_type"]: r for r in
               q196_cell_suppression(spark, str(tmp_path)).collect()}
        a = got["A"]
        assert (a["n_primary"], a["n_complementary"]) == (1, 1)
        assert a["published_events"] == 12
        assert a["suppressed_events"] == 16
        b = got["B"]
        assert (b["n_primary"], b["n_complementary"]) == (2, 0)
        assert b["published_events"] == 20


class TestDedupSaturation:
    def test_late_duplicates_flatten_curve(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q197_dedup_saturation,
        )

        # 100 docs: ids 0-49 unique texts; ids 50-99 repeat text of
        # (id - 50) -> second half adds ZERO new uniques
        rows = [(i, f"unique document text number {i % 50}", "en", "s", 10)
                for i in range(100)]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string,"
            " source string, n_chars long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = sorted(q197_dedup_saturation(spark, str(tmp_path)).collect(),
                     key=lambda r: r["decile"])
        assert sum(r["n_docs"] for r in got) == 100
        assert sum(r["new_uniques"] for r in got) == 50
        # first-half deciles are all-new; second half adds nothing
        assert all(r["new_uniques"] == r["n_docs"]
                   for r in got if r["decile"] <= 4)
        assert all(r["new_uniques"] == 0 for r in got if r["decile"] >= 5)
        # cumulative ratio: 100% through decile 4, 500000ppm at the end
        assert got[4]["cum_unique_ppm"] == 1_000_000
        assert got[-1]["cum_unique_ppm"] == 500_000


class TestQualityAuc:
    def test_ties_and_perfect_separation(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q198_quality_auc,
        )

        # The dup label is corpus-wide (fingerprint counts), so every
        # text below is unique to its source.
        eq_a = "alpha beta gamma"  # 3 tokens -> 0.215
        eq_b = "delta epsilon zeta"  # same shape -> same score
        low2 = "aa bb"  # 2 tokens, no stopwords -> score 0.21
        hi2 = "the and is of to a in it aa bb"  # 8/10 stopwords -> high
        hi3 = "the and is of to a in it cc dd"  # distinct text, same shape
        low3 = "cc dd"
        rows = [
            # s1: dup pair and the unique doc share one score -> ties
            (1, eq_a, "s1"), (2, eq_a, "s1"), (3, eq_b, "s1"),
            # s2: duplicates score LOWER than the unique -> AUC 0
            (11, low2, "s2"), (12, low2, "s2"), (13, hi2, "s2"),
            # s3: duplicates score HIGHER -> AUC 1
            (21, hi3, "s3"), (22, hi3, "s3"), (23, low3, "s3"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"]: r for r in
               q198_quality_auc(spark, str(tmp_path)).collect()}
        for s in ("s1", "s2", "s3"):
            assert (got[s]["n_dup"], got[s]["n_uniq"]) == (2, 1)
        assert got["s1"]["auc_ppm"] == 500_000
        assert got["s2"]["auc_ppm"] == 0
        assert got["s3"]["auc_ppm"] == 1_000_000

    def test_degenerate_groups_report_null(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q198_quality_auc,
        )

        rows = [
            (1, "all same text", "alldup"), (2, "all same text", "alldup"),
            (3, "first unique text", "nodup"), (4, "second one here", "nodup"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"]: r for r in
               q198_quality_auc(spark, str(tmp_path)).collect()}
        assert got["alldup"]["n_uniq"] == 0
        assert got["alldup"]["auc_ppm"] is None
        assert got["nodup"]["n_dup"] == 0
        assert got["nodup"]["auc_ppm"] is None


class TestCusumChangepoint:
    def test_known_mean_shift(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q199_cusum_changepoint,
        )

        t0 = dt.datetime(2024, 3, 1, 12)
        rows = []
        eid = 0
        # click: 10/day for days 0-9, then 30/day for days 10-19
        for d in range(20):
            for _ in range(10 if d < 10 else 30):
                rows.append((eid, t0 + dt.timedelta(days=d), 1, "click"))
                eid += 1
        # view: constant 5/day -> dev 0 everywhere, earliest day wins
        for d in range(4):
            for _ in range(5):
                rows.append((eid, t0 + dt.timedelta(days=d), 1, "view"))
                eid += 1
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = {r["event_type"]: r for r in
               q199_cusum_changepoint(spark, str(tmp_path)).collect()}
        c = got["click"]
        assert (c["n_days"], c["total_events"]) == (20, 400)
        # argmax at k=10 (last low-regime day): |20*100 - 10*400| = 2000
        assert c["cp_date"] == dt.date(2024, 3, 10)
        assert c["max_dev"] == 2000
        assert c["mean_before_u"] == 10_000_000
        assert c["mean_after_u"] == 30_000_000
        v = got["view"]
        assert v["max_dev"] == 0
        assert v["cp_date"] == dt.date(2024, 3, 1)  # tie -> earliest
        assert v["mean_before_u"] == 5_000_000


class TestBlockingQuality:
    def test_completeness_counts_shingleless_misses(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q200_blocking_quality,
        )

        rows = [
            # dup pair with >=3 tokens: shingled, LSH finds it
            (1, "alpha beta gamma delta epsilon", "en", "s", 30),
            (2, "alpha beta gamma delta epsilon", "en", "s", 30),
            # dup pair under 3 tokens: no shingles, blocker misses it
            (3, "aa bb", "en", "s", 5),
            (4, "aa bb", "en", "s", 5),
            (5, "zeta eta theta iota kappa lambda", "en", "s", 32),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string,"
            " source string, n_chars long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        r = q200_blocking_quality(spark, str(tmp_path)).collect()[0]
        assert (r["n_docs"], r["n_truth"], r["n_hits"]) == (5, 2, 1)
        assert r["completeness_ppm"] == 500_000
        # reduction vs the 5-choose-2 = 10 comparison space
        assert r["reduction_ppm"] == 1_000_000 - r["n_cand"] * 1_000_000 // 10


class TestHtEstimation:
    def test_estimator_identity_and_rate(self, spark, tmp_path):
        import hashlib
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q201_ht_estimation,
        )

        # 800 docs, every doc exactly 10 tokens -> est = 8 * 10 * n_sampled
        rows = [(i, " ".join(f"tok{j}" for j in range(10)), "s")
                for i in range(800)]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        r = q201_ht_estimation(spark, str(tmp_path)).collect()[0]
        assert (r["n_docs"], r["true_tokens"]) == (800, 8000)
        assert r["est_tokens"] == 8 * 10 * r["n_sampled"]
        # python mirror of the md5-nibble inclusion rule
        expected = sum(
            1 for i in range(800)
            if int(hashlib.md5(f"7:{i}".encode()).hexdigest()[:5], 16)
            < 16 ** 5 // 8
        )
        assert r["n_sampled"] == expected
        err = abs(r["est_tokens"] - 8000) * 1_000_000 // 8000
        assert r["abs_err_ppm"] == err


class TestAbZtest:
    def test_arms_match_python_mirror_and_significance(self, spark, tmp_path):
        import datetime as dt
        import hashlib
        import os

        from ursa_major_choir_etl_spark.plans.queries import q202_ab_ztest

        def arm_a(uid: int) -> bool:
            pos = int(hashlib.md5(f"11:{uid}".encode()).hexdigest()[:5], 16)
            return pos < 16 ** 5 // 2

        # arm A users always purchase; arm B users never do
        t0 = dt.datetime(2024, 5, 1)
        rows = []
        for uid in range(200):
            et = "purchase" if arm_a(uid) else "view"
            rows.append((uid, t0, uid, et))
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        r = q202_ab_ztest(spark, str(tmp_path)).collect()[0]
        n_a = sum(1 for u in range(200) if arm_a(u))
        assert (r["n_a"], r["conv_a"]) == (n_a, n_a)
        assert (r["n_b"], r["conv_b"]) == (200 - n_a, 0)
        assert r["p_a_ppm"] == 1_000_000 and r["p_b_ppm"] == 0
        assert r["significant"] is True

    def test_no_effect_is_insignificant(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import q202_ab_ztest

        # nobody converts in either arm -> pooled p = 0 -> NULL z2
        t0 = dt.datetime(2024, 5, 1)
        rows = [(uid, t0, uid, "view") for uid in range(100)]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        r = q202_ab_ztest(spark, str(tmp_path)).collect()[0]
        assert r["z2_milli"] is None and r["significant"] is None


class TestChi2Independence:
    def test_independent_and_perfectly_associated(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q203_chi2_independence,
        )

        # independent: both sources have the same 50/50 lang mix
        rows = []
        i = 0
        for src in ("X", "Y"):
            for lang in ("en", "fr"):
                for _ in range(2):
                    rows.append((i, f"text {i}", lang, src))
                    i += 1
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"]: r for r in
               q203_chi2_independence(spark, str(tmp_path)).collect()}
        assert got["X"]["chi2_contrib_micro"] == 0
        assert got["Y"]["chi2_contrib_micro"] == 0

        # perfect association: X only en, Y only fr; n=8, E=2 per cell
        # -> each cell contributes (2)^2/2 = 2.0 -> 2e6 micro; per
        # source (observed + zero cell) = 4e6; total 8e6 = chi2 of 8
        rows = [(i, f"text {i}", "en", "X") for i in range(4)]
        rows += [(10 + i, f"more {i}", "fr", "Y") for i in range(4)]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"]: r for r in
               q203_chi2_independence(spark, str(tmp_path)).collect()}
        assert got["X"]["n_docs"] == 4
        assert got["X"]["chi2_contrib_micro"] == 4_000_000
        assert got["Y"]["chi2_contrib_micro"] == 4_000_000


class TestKsTest:
    def test_disjoint_and_identical_distributions(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import q204_ks_test

        d0 = dt.date(2024, 1, 1)
        cust = [(1, "BUILDING"), (2, "MACHINERY")]
        spark.createDataFrame(
            cust, "c_custkey long, c_mktsegment string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "customer.parquet"))
        # disjoint supports: BUILDING orders all 10.00, MACHINERY all
        # 20.00 -> at value 1000 cents cdf1=1, cdf2=0 -> D = 1e6
        orders = [(i, 1, 10.0, d0) for i in range(50)]
        orders += [(100 + i, 2, 20.0, d0) for i in range(50)]
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long,"
            " o_totalprice double, o_orderdate date"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "orders.parquet"))
        r = q204_ks_test(spark, str(tmp_path)).collect()[0]
        assert (r["n_building"], r["n_machinery"]) == (50, 50)
        assert r["ks_d_ppm"] == 1_000_000
        assert r["at_cents"] == 1000

        # identical distributions -> D = 0, argmax ties to the
        # smallest value
        orders = [(i, 1, float(v), d0)
                  for i, v in enumerate([10, 20, 30] * 10)]
        orders += [(1000 + i, 2, float(v), d0)
                   for i, v in enumerate([10, 20, 30] * 10)]
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long,"
            " o_totalprice double, o_orderdate date"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "orders.parquet"))
        r = q204_ks_test(spark, str(tmp_path)).collect()[0]
        assert r["ks_d_ppm"] == 0
        assert r["at_cents"] == 1000


class TestSplitLeakage:
    def test_leak_flagged_in_every_split_it_touches(self, spark, tmp_path):
        import hashlib
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q205_split_leakage,
        )

        def split_of(did: int) -> str:
            m = 16 ** 5
            pos = int(hashlib.md5(f"13:{did}".encode()).hexdigest()[:5], 16)
            if pos < m * 7 // 8:
                return "train"
            if pos < m * 15 // 16:
                return "val"
            return "test"

        # find two doc ids landing in different splits, give them the
        # SAME text -> both rows are leaked
        ids = list(range(400))
        by_split = {}
        for i in ids:
            by_split.setdefault(split_of(i), []).append(i)
        a = by_split["train"][0]
        b = by_split["val"][0]
        rows = [(i, f"unique text number {i}" if i not in (a, b)
                 else "the shared leaked text", "s") for i in ids]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["split"]: r for r in
               q205_split_leakage(spark, str(tmp_path)).collect()}
        assert got["train"]["n_docs"] == len(by_split["train"])
        assert got["train"]["n_leaked"] == 1
        assert got["val"]["n_leaked"] == 1
        assert got.get("test") is None or got["test"]["n_leaked"] == 0
        exp_ppm = 1_000_000 // len(by_split["train"])
        assert got["train"]["leaked_ppm"] == exp_ppm


class TestTopkChurn:
    def test_full_retention_and_full_churn(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import q206_topk_churn

        rows = []
        # month 1: parts 1..5; month 2: same parts (full retention);
        # month 3: parts 101..105 (full churn)
        for p in range(1, 6):
            rows.append((p, 10.0, dt.date(2024, 1, p)))
            rows.append((p, 10.0, dt.date(2024, 2, p)))
            rows.append((100 + p, 10.0, dt.date(2024, 3, p)))
        spark.createDataFrame(
            rows, "l_partkey long, l_quantity double, l_shipdate date"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "lineitem.parquet"))
        got = sorted(q206_topk_churn(spark, str(tmp_path)).collect(),
                     key=lambda r: r["midx"])
        assert len(got) == 3
        first, second, third = got
        assert first["n_prev"] is None and first["churn_ppm"] is None
        assert (second["n_retained"], second["churn_ppm"]) == (5, 0)
        assert (third["n_retained"], third["churn_ppm"]) == (0, 1_000_000)


class TestDecayedEngagement:
    def test_halving_per_week_and_cap(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q207_decayed_engagement,
        )

        anchor = dt.datetime(2024, 6, 1)
        rows = []
        # fresh: at the anchor -> weight 1
        rows += [(i, anchor, 1, "fresh", 1.0) for i in range(10)]
        # twoweeks: exactly 14 days old -> cents 100 -> 100 DIV 4 = 25
        rows += [(100 + i, anchor - dt.timedelta(days=14), 1,
                  "twoweeks", 1.0) for i in range(10)]
        # ancient: 100 weeks old -> capped at 40 halvings -> 0
        rows += [(200 + i, anchor - dt.timedelta(weeks=100), 1,
                  "ancient", 1.0) for i in range(10)]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = {r["event_type"]: r for r in
               q207_decayed_engagement(spark, str(tmp_path)).collect()}
        assert got["fresh"]["decayed_cents"] == 1000
        assert got["fresh"]["retention_ppm"] == 1_000_000
        assert got["twoweeks"]["decayed_cents"] == 250
        assert got["twoweeks"]["retention_ppm"] == 250_000
        assert got["ancient"]["decayed_cents"] == 0
        assert got["ancient"]["retention_ppm"] == 0


class TestCoEngagement:
    def test_jaccard_and_absent_pairs(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q208_co_engagement,
        )

        t0 = dt.datetime(2024, 1, 1)
        # u1: A,B ; u2: A (twice -> distinct) ; u3: B,C
        rows = [
            (1, t0, 1, "A"), (2, t0, 1, "B"),
            (3, t0, 2, "A"), (4, t0, 2, "A"),
            (5, t0, 3, "B"), (6, t0, 3, "C"),
        ]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = {(r["type_a"], r["type_b"]): r for r in
               q208_co_engagement(spark, str(tmp_path)).collect()}
        ab = got[("A", "B")]
        assert (ab["n_a"], ab["n_b"], ab["n_both"]) == (2, 2, 1)
        assert ab["jaccard_ppm"] == 333_333
        bc = got[("B", "C")]
        assert (bc["n_b"], bc["n_both"]) == (1, 1)
        assert bc["jaccard_ppm"] == 500_000
        assert ("A", "C") not in got  # zero-overlap pairs are absent


class TestDiscountLift:
    def test_lift_vs_zero_baseline(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q209_discount_lift,
        )

        rows = [(0.0, 10.0)] * 4 + [(0.10, 20.0)] * 4 + [(0.05, 5.0)] * 2
        spark.createDataFrame(
            rows, "l_discount double, l_quantity double"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "lineitem.parquet"))
        got = {r["disc_pct"]: r for r in
               q209_discount_lift(spark, str(tmp_path)).collect()}
        assert got[0]["avg_qty_milli"] == 10_000
        assert got[0]["lift_ppm"] == 0
        assert got[10]["avg_qty_milli"] == 20_000
        assert got[10]["lift_ppm"] == 1_000_000
        assert got[5]["avg_qty_milli"] == 5_000
        assert got[5]["lift_ppm"] == -500_000


class TestHeadTokenMass:
    def test_coverage_levels_and_small_vocab(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q210_head_token_mass,
        )

        # vocabulary of 3 terms: 'hot' x 70, 'warm' x 20, 'cold' x 10
        text = " ".join(["hot"] * 70 + ["warm"] * 20 + ["cold"] * 10)
        spark.createDataFrame(
            [(1, text)], "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["k"]: r for r in
               q210_head_token_mass(spark, str(tmp_path)).collect()}
        assert set(got) == {100, 1000, 10000}
        for k in got:
            # vocab smaller than every k -> full coverage, 3 terms
            assert got[k]["n_terms"] == 3
            assert got[k]["head_tokens"] == 100
            assert got[k]["total_tokens"] == 100
            assert got[k]["share_ppm"] == 1_000_000

    def test_head_share_with_large_vocab(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q210_head_token_mass,
        )

        # 150 distinct tail terms (1 occurrence each) + 1 head term
        # with 150 occurrences -> top-100 = head + 99 tail = 249 tokens
        words = ["head"] * 150 + [f"tail{i:03d}" for i in range(150)]
        spark.createDataFrame(
            [(1, " ".join(words))], "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["k"]: r for r in
               q210_head_token_mass(spark, str(tmp_path)).collect()}
        assert got[100]["n_terms"] == 100
        assert got[100]["head_tokens"] == 150 + 99
        assert got[100]["total_tokens"] == 300
        assert got[100]["share_ppm"] == (249 * 1_000_000) // 300
        assert got[1000]["n_terms"] == 151
        assert got[1000]["share_ppm"] == 1_000_000


class TestGiantComponent:
    def test_chain_forms_giant(self, spark, tmp_path, monkeypatch):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q211_giant_component,
        )

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS",
                           os.path.join(str(tmp_path), "art"))
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        toks = base.split()
        rows = []
        # docs 1-4: a transitive chain (each shares most tokens with
        # the next); docs 10-14: five isolated unique docs
        for i in range(4):
            body = " ".join(toks[i:] + toks[:i])  # rotations: high overlap
            rows.append((1 + i, body))
        for i in range(5):
            rows.append((10 + i, f"totally distinct text number{i} "
                                 f"with words w{i}a w{i}b w{i}c"))
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        r = q211_giant_component(spark, str(tmp_path)).collect()[0]
        assert r["n_docs"] == 9
        assert r["giant_size"] >= 2
        assert r["n_clustered"] >= r["giant_size"]
        assert r["giant_ppm"] == r["giant_size"] * 1_000_000 // 9
        assert r["clustered_ppm"] == r["n_clustered"] * 1_000_000 // 9


class TestQualityYieldCurve:
    def test_cumulative_from_top_and_totals(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q212_quality_yield_curve,
        )

        # 100 docs with 100 distinct score levels (token counts 1..100)
        rows = [(i, " ".join(["w"] * (i + 1))) for i in range(100)]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = sorted(q212_quality_yield_curve(spark, str(tmp_path)).collect(),
                     key=lambda r: -r["decile"])
        assert sum(r["n_docs"] for r in got) == 100
        total = sum(r["tokens"] for r in got)
        assert total == 5050
        # cumulative doc counts increase top-down and end at 100
        assert got[0]["cum_docs"] < got[-1]["cum_docs"] == 100
        assert got[-1]["cum_token_ppm"] == 1_000_000
        # the top decile holds the longest docs: its token share must
        # exceed its doc share
        top = got[0]
        assert top["cum_token_ppm"] * 100 > top["cum_docs"] * 1_000_000 // 100


class TestWindowFunnel:
    def test_depths_respect_order_and_hour_bound(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q213_window_funnel,
        )

        t0 = dt.datetime(2024, 7, 1, 10)
        m = dt.timedelta(minutes=1)
        rows = [
            # u1: full chain inside the hour windows -> depth 3
            (1, t0, 1, "view"), (2, t0 + 10 * m, 1, "click"),
            (3, t0 + 20 * m, 1, "purchase"),
            # u2: click comes 2h after the view -> depth 1
            (4, t0, 2, "view"), (5, t0 + 120 * m, 2, "click"),
            # u3: purchase BEFORE click -> depth 2 only
            (6, t0, 3, "view"), (7, t0 + 5 * m, 3, "purchase"),
            (8, t0 + 10 * m, 3, "click"),
            # u4: never viewed -> depth 0
            (9, t0, 4, "click"), (10, t0 + m, 4, "purchase"),
        ]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = {r["depth"]: r["n_users"] for r in
               q213_window_funnel(spark, str(tmp_path)).collect()}
        assert got == {3: 1, 1: 1, 2: 1, 0: 1}


class TestStickiness:
    def test_exact_ratio(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import q214_stickiness

        t0 = dt.datetime(2024, 8, 1, 9)
        rows = []
        eid = 0
        # 4 users active in the month; each of 2 days has 2 distinct
        # users -> dau_sum 4, n_days 2, mau 4 -> stickiness 500000
        for d, users in ((0, (1, 2)), (1, (3, 4))):
            for u in users:
                rows.append((eid, t0 + dt.timedelta(days=d), u, "view"))
                eid += 1
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        r = q214_stickiness(spark, str(tmp_path)).collect()[0]
        assert (r["n_days"], r["dau_sum"], r["mau"]) == (2, 4, 4)
        assert r["stickiness_ppm"] == 500_000
        assert r["month"] == "2024-08-01"


class TestFeatureHashCollisions:
    def test_identity_and_mirror(self, spark, tmp_path):
        import hashlib
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q215_feature_hash_collisions,
        )

        words = [f"word{i:04d}" for i in range(500)]
        text = " ".join(words * 2)  # every term has count 2
        spark.createDataFrame(
            [(1, text)], "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        r = q215_feature_hash_collisions(spark, str(tmp_path)).collect()[0]
        assert r["n_terms"] == 500
        assert r["total_tokens"] == 1000
        # python mirror of the bucket map
        buckets = {}
        for wd in words:
            b = int(hashlib.md5(f"17:{wd}".encode()).hexdigest()[:4], 16)
            buckets.setdefault(b, []).append(wd)
        collided = sum(len(v) for v in buckets.values() if len(v) > 1)
        assert r["n_buckets_used"] == len(buckets)
        assert r["collided_terms"] == collided
        assert r["collided_tokens"] == 2 * collided
        assert r["collided_mass_ppm"] == 2 * collided * 1_000_000 // 1000


class TestLangidConfusion:
    def test_shares_per_label(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q216_langid_confusion,
        )

        en = "the cat and the dog is in it"     # english markers
        und = "zzz qqq xxx"                      # no markers -> und
        rows = [
            (1, en, "en"), (2, en, "en"), (3, und, "en"),
            (4, und, "fr"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {(r["label"], r["pred"]): r for r in
               q216_langid_confusion(spark, str(tmp_path)).collect()}
        assert got[("en", "en")]["n"] == 2
        assert got[("en", "en")]["label_share_ppm"] == 666_666
        assert got[("en", "und")]["label_share_ppm"] == 333_333
        assert got[("fr", "und")]["label_share_ppm"] == 1_000_000


class TestTCloseness:
    def test_uniform_class_is_close_skewed_is_far(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q217_t_closeness,
        )

        t0 = dt.datetime(2024, 1, 1, 9)  # hour 9
        t1 = dt.datetime(2024, 1, 1, 10)  # hour 10
        rows = []
        eid = 0
        # class A (hour 9): 180 events uniform over 1..90 — it IS
        # most of the global mass, so its distribution nearly matches
        # the global one; class B (hour 10): 20 events all at the max
        # -> concentrated in the top decile, far from global
        for v in range(1, 91):
            for _ in range(2):
                rows.append((eid, t0, 1, "view", float(v))); eid += 1
        for _ in range(20):
            rows.append((eid, t1, 1, "view", 100.0)); eid += 1
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = {(r["event_type"], r["hour"]): r for r in
               q217_t_closeness(spark, str(tmp_path)).collect()}
        a = got[("view", 9)]
        b = got[("view", 10)]
        assert a["n_events"] == 180 and b["n_events"] == 20
        # the concentrated class is far from global; the dominant
        # class is close (its zero-mass top decile costs ~1/10)
        assert a["emd_ppm"] < 100_000
        assert b["emd_ppm"] > 300_000
        assert b["emd_ppm"] > 5 * a["emd_ppm"]

    def test_identical_classes_have_zero_emd(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q217_t_closeness,
        )

        t0 = dt.datetime(2024, 1, 1, 9)
        rows = []
        eid = 0
        for h in (9, 10):
            for v in range(1, 51):
                rows.append((eid, t0.replace(hour=h), 1, "view",
                             float(v)))
                eid += 1
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = q217_t_closeness(spark, str(tmp_path)).collect()
        assert all(r["emd_ppm"] == 0 for r in got)


class TestRaterKappa:
    def test_perfect_agreement_and_independence(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import q218_rater_kappa

        hi = " ".join(["the", "cat", "and"] * 40)  # 120 toks, stopwordy
        lo = "zz"                                   # 1 tok, low quality
        # both raters agree on every doc -> kappa = 1e6
        rows = [(i, hi) for i in range(10)] + [(100 + i, lo)
                                               for i in range(10)]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        r = q218_rater_kappa(spark, str(tmp_path)).collect()[0]
        assert (r["n11"], r["n00"], r["n10"], r["n01"]) == (10, 10, 0, 0)
        assert r["po_ppm"] == 1_000_000
        assert r["kappa_ppm"] == 1_000_000


class TestShareOfParent:
    def test_shares_sum_within_region(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q219_share_of_parent,
        )

        spark.createDataFrame(
            [(0, "EUROPE"), (1, "ASIA")], "r_regionkey long, r_name string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "region.parquet"))
        spark.createDataFrame(
            [(0, "FRANCE", 0), (1, "GERMANY", 0), (2, "JAPAN", 1)],
            "n_nationkey long, n_name string, n_regionkey long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "nation.parquet"))
        spark.createDataFrame(
            [(1, 0), (2, 1), (3, 2)], "c_custkey long, c_nationkey long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "customer.parquet"))
        d0 = dt.date(2024, 1, 1)
        orders = [(1, 1, 30.0, d0), (2, 2, 10.0, d0), (3, 3, 60.0, d0)]
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long,"
            " o_totalprice double, o_orderdate date"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "orders.parquet"))
        got = {r["nation"]: r for r in
               q219_share_of_parent(spark, str(tmp_path)).collect()}
        assert got["FRANCE"]["share_of_region_ppm"] == 750_000
        assert got["GERMANY"]["share_of_region_ppm"] == 250_000
        assert got["JAPAN"]["share_of_region_ppm"] == 1_000_000
        assert got["FRANCE"]["share_of_total_ppm"] == 300_000
        assert got["JAPAN"]["share_of_total_ppm"] == 600_000


class TestPeakConcurrency:
    def test_overlaps_and_handoff(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q220_peak_concurrency,
        )

        t0 = dt.datetime(2024, 9, 1, 12)
        m = dt.timedelta(minutes=1)
        rows = []
        # u1: session 12:00-12:10; u2: 12:05-12:15 (overlap of 2);
        # u3: starts exactly when u1 ends -> handoff counts as overlap
        rows += [(1, t0, 1), (2, t0 + 10 * m, 1)]
        rows += [(3, t0 + 5 * m, 2), (4, t0 + 15 * m, 2)]
        rows += [(5, t0 + 10 * m, 3), (6, t0 + 12 * m, 3)]
        # next day: one lone session -> peak 1
        t1 = t0 + dt.timedelta(days=1)
        rows += [(7, t1, 9)]
        spark.createDataFrame(
            [(eid, ts, uid, "view") for eid, ts, uid in rows],
            "event_id long, ts timestamp, user_id long, event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = {r["day"]: r for r in
               q220_peak_concurrency(spark, str(tmp_path)).collect()}
        d0 = got[dt.date(2024, 9, 1)]
        # at 12:10 u1 is ending, u2 running, u3 starting: starts
        # process first -> peak 3
        assert (d0["n_sessions"], d0["peak_concurrent"]) == (3, 3)
        d1 = got[dt.date(2024, 9, 2)]
        assert (d1["n_sessions"], d1["peak_concurrent"]) == (1, 1)


class TestSrmCheck:
    def test_balanced_split_passes(self, spark, tmp_path):
        import datetime as dt
        import hashlib
        import os

        from ursa_major_choir_etl_spark.plans.queries import q221_srm_check

        t0 = dt.datetime(2024, 5, 1)
        rows = [(u, t0, u, "view") for u in range(1000)]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        r = q221_srm_check(spark, str(tmp_path)).collect()[0]
        n_a = sum(
            1 for u in range(1000)
            if int(hashlib.md5(f"11:{u}".encode()).hexdigest()[:5], 16)
            < 16 ** 5 // 2
        )
        assert (r["n_users"], r["n_a"], r["n_b"]) == (1000, n_a, 1000 - n_a)
        assert r["chi2_micro"] == (2 * n_a - 1000) ** 2 * 1_000_000 // 1000
        assert r["srm_suspected"] is False  # md5 split is balanced


class TestIvfNprobeSweep:
    def test_recall_monotone_in_probe_depth(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q222_ivf_nprobe_sweep,
        )

        # 64 deterministic 8-dim vectors in 4 rough directions
        import numpy as np

        rng = []
        for i in range(64):
            base = np.zeros(8)
            base[i % 4] = 10.0
            base[4 + (i % 4)] = float(i % 7)
            base[(i * 3) % 8] += 1.0 + i * 0.01
            rng.append((i, [float(x) for x in base], i % 4))
        spark.createDataFrame(
            rng, "vec_id long, embedding array<float>, label int"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "embeddings.parquet"))
        got = {r["n_probe"]: r for r in
               q222_ivf_nprobe_sweep(spark, str(tmp_path)).collect()}
        assert set(got) == {1, 2, 4}
        assert all(r["n_exact"] == got[1]["n_exact"] for r in got.values())
        # recall must be monotone non-decreasing in probe depth
        assert got[1]["recall_ppm"] <= got[2]["recall_ppm"] \
            <= got[4]["recall_ppm"]
        assert got[4]["recall_ppm"] > 0


class TestDedupRepPolicy:
    def test_punctuation_variant_changes_winner(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q223_dedup_rep_policy,
        )

        clean = "hello world this is a fine sentence"
        noisy = "Hello!!! world??? this,,, is... a; fine: sentence!!!"
        same = "alpha beta gamma repeated words here"
        rows = [
            # group 1: identical docs -> same score -> keep-first wins
            (1, same), (2, same),
            # group 2: same fingerprint (normalization strips punct),
            # but the noisy copy has the smaller id and a LOWER score
            (3, noisy), (4, clean),
            (9, "some unique filler document"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        r = q223_dedup_rep_policy(spark, str(tmp_path)).collect()[0]
        assert r["n_groups"] == 2
        assert r["n_differ"] == 1
        assert r["differ_ppm"] == 500_000
        assert r["avg_gain_u"] > 0


class TestSyndicationMatrix:
    def test_cross_source_pair_counted_once(self, spark, tmp_path,
                                            monkeypatch):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q224_syndication_matrix,
        )

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS",
                           os.path.join(str(tmp_path), "art"))
        shared = "alpha beta gamma delta epsilon zeta"
        rows = [
            (1, shared, "srcA"),
            (2, shared, "srcB"),
            (3, "completely different words entirely unrelated", "srcA"),
            (4, "another unrelated document body text", "srcB"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {(r["src_a"], r["src_b"]): r for r in
               q224_syndication_matrix(spark, str(tmp_path)).collect()}
        assert set(got) == {("srcA", "srcB")}
        r = got[("srcA", "srcB")]
        assert r["n_pairs"] == 1
        assert r["avg_jaccard_ppm"] == 1_000_000


class TestLatencyTrend:
    def test_exact_slope(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q225_latency_trend,
        )

        orders, lines = [], []
        oid = 0
        # months 0..2: all lines ship 10/12/14 days after order
        for m, lat in ((0, 10), (1, 12), (2, 14)):
            for i in range(5):
                od = dt.date(2024, 1 + m, 3 + i)
                orders.append((oid, 1, 100.0, od))
                lines.append((oid, dt.datetime.combine(
                    od + dt.timedelta(days=lat), dt.time())))
                oid += 1
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long,"
            " o_totalprice double, o_orderdate date"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "orders.parquet"))
        spark.createDataFrame(
            lines, "l_orderkey long, l_shipdate timestamp"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "lineitem.parquet"))
        r = q225_latency_trend(spark, str(tmp_path)).collect()[0]
        assert r["n_months"] == 3
        assert r["first_month_milli"] == 10_000
        assert r["last_month_milli"] == 14_000
        assert r["slope_micro_per_month"] == 2_000_000


class TestTokenWeightedLengths:
    def test_heavy_doc_dominates_token_mass(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q226_token_weighted_lengths,
        )

        # 99 docs of 1 token + one doc of 901 tokens: total 1000
        # tokens, 90.1% in the big doc -> p50 and p90 land on 901,
        # while the doc-count median would be 1
        rows = [(i, "w") for i in range(99)]
        rows.append((100, " ".join(["w"] * 901)))
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["pct"]: r for r in
               q226_token_weighted_lengths(spark, str(tmp_path)).collect()}
        assert got[50]["total_tokens"] == 1000
        assert got[50]["doc_len_at"] == 901
        assert got[90]["doc_len_at"] == 901
        assert got[99]["doc_len_at"] == 901

    def test_uniform_lengths(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q226_token_weighted_lengths,
        )

        rows = [(i, " ".join(["w"] * 10)) for i in range(100)]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["pct"]: r["doc_len_at"] for r in
               q226_token_weighted_lengths(spark, str(tmp_path)).collect()}
        assert got == {50: 10, 90: 10, 99: 10}


class TestTopnWithOther:
    def test_other_folds_the_tail(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q227_topn_with_other,
        )

        rows = []
        did = 0
        # 8 sources: s0 gets 8 docs of 10 tokens, s1 gets 7, ... s7
        # gets 1 -> top-5 = s0..s4; OTHER = s5+s6+s7 = 6 docs
        for s in range(8):
            for _ in range(8 - s):
                rows.append((did, " ".join(["w"] * 10), f"s{s}"))
                did += 1
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"]: r for r in
               q227_topn_with_other(spark, str(tmp_path)).collect()}
        assert set(got) == {"s0", "s1", "s2", "s3", "s4", "OTHER"}
        assert got["OTHER"]["is_other"] == 1
        assert got["OTHER"]["tokens"] == (3 + 2 + 1) * 10
        total = 36 * 10
        assert got["s0"]["share_ppm"] == 80 * 1_000_000 // total
        assert sum(r["tokens"] for r in got.values()) == total

    def test_no_other_when_few_sources(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q227_topn_with_other,
        )

        rows = [(1, "w w", "only_a"), (2, "w", "only_b")]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"] for r in
               q227_topn_with_other(spark, str(tmp_path)).collect()}
        assert got == {"only_a", "only_b"}  # no empty OTHER row


class TestSalesGapDensify:
    def test_dark_months_and_runs(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q228_sales_gap_densify,
        )

        spark.createDataFrame(
            [(0, "EUROPE"), (1, "ASIA")], "r_regionkey long, r_name string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "region.parquet"))
        spark.createDataFrame(
            [(0, "FRANCE", 0), (1, "JAPAN", 1)],
            "n_nationkey long, n_name string, n_regionkey long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "nation.parquet"))
        spark.createDataFrame(
            [(1, 0), (2, 1)], "c_custkey long, c_nationkey long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "customer.parquet"))
        # span Jan..Jun (6 months). EUROPE sells Jan and Jun (4-month
        # hole); ASIA sells only in March -> zero runs of 2 and 3
        orders = [
            (1, 1, 10.0, dt.date(2024, 1, 5)),
            (2, 1, 10.0, dt.date(2024, 6, 5)),
            (3, 2, 10.0, dt.date(2024, 3, 5)),
        ]
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long,"
            " o_totalprice double, o_orderdate date"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "orders.parquet"))
        got = {r["region"]: r for r in
               q228_sales_gap_densify(spark, str(tmp_path)).collect()}
        eu, asia = got["EUROPE"], got["ASIA"]
        assert eu["n_months"] == 6 and asia["n_months"] == 6
        assert (eu["n_zero_months"], eu["longest_zero_run"]) == (4, 4)
        assert (asia["n_zero_months"], asia["longest_zero_run"]) == (5, 3)


class TestGrowthAccounting:
    def test_ledger_classes(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q229_growth_accounting,
        )

        # week boundaries: unix epoch weeks; use a Thursday anchor so
        # consecutive dt weeks are consecutive epoch weeks
        w0 = dt.datetime(2024, 1, 4, 12)

        def at_week(w):
            return w0 + dt.timedelta(weeks=w)

        rows = []
        eid = 0
        # u1: weeks 0,1,2 (new, retained, retained; churns after 2)
        for w in (0, 1, 2):
            rows.append((eid, at_week(w), 1, "view")); eid += 1
        # u2: weeks 0,2 (new; resurrected in 2; counted churning in 0)
        for w in (0, 2):
            rows.append((eid, at_week(w), 2, "view")); eid += 1
        # u3: week 1 only (new; churning in 1)
        rows.append((eid, at_week(1), 3, "view")); eid += 1
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = sorted(q229_growth_accounting(spark, str(tmp_path)).collect(),
                     key=lambda r: r["midx"])
        wk0, wk1, wk2 = got
        assert (wk0["n_active"], wk0["n_new"]) == (2, 2)
        assert wk0["n_churning"] == 1  # u2 skips week 1
        assert (wk1["n_active"], wk1["n_new"], wk1["n_retained"]) == (2, 1, 1)
        assert wk1["n_churning"] == 1  # u3 disappears
        assert (wk2["n_retained"], wk2["n_resurrected"]) == (1, 1)
        assert wk2["n_churning"] == 2  # final week: everyone


class TestLargestRemainderQuota:
    def test_quotas_sum_exactly_to_budget(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q230_largest_remainder_quota,
        )

        # 3 sources with token masses 1, 1, 1 -> 1000/3: bases 333,
        # remainders equal -> tie broken by name: sa gets the +1
        rows = [(1, "w", "sa"), (2, "w", "sb"), (3, "w", "sc")]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"]: r for r in
               q230_largest_remainder_quota(spark, str(tmp_path)).collect()}
        assert sum(r["quota"] for r in got.values()) == 1000
        assert got["sa"]["quota"] == 334
        assert got["sb"]["quota"] == 333 and got["sc"]["quota"] == 333

    def test_proportionality(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q230_largest_remainder_quota,
        )

        rows = [(1, " ".join(["w"] * 900), "big"),
                (2, " ".join(["w"] * 100), "small")]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"]: r["quota"] for r in
               q230_largest_remainder_quota(spark, str(tmp_path)).collect()}
        assert got == {"big": 900, "small": 100}


class TestParetoSkyline:
    def test_dominated_points_dropped(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q231_pareto_skyline,
        )

        parts = [
            (1, 10.00, 5),   # frontier (cheapest)
            (2, 12.00, 4),   # dominated: pricier AND smaller
            (3, 12.50, 9),   # frontier
            (4, 15.00, 9),   # dominated: same size, pricier
            (5, 20.00, 12),  # frontier
            (6, 10.00, 3),   # same price as 1, smaller -> folded away
        ]
        spark.createDataFrame(
            parts, "p_partkey long, p_retailprice double, p_size int"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "part.parquet"))
        got = sorted(
            (r["price_cents"], r["best_size"])
            for r in q231_pareto_skyline(spark, str(tmp_path)).collect()
        )
        assert got == [(1000, 5), (1250, 9), (2000, 12)]


class TestHhiConcentration:
    def test_monopoly_and_even_split(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q232_hhi_concentration,
        )

        spark.createDataFrame(
            [(0, "MONO"), (1, "SPLIT")], "r_regionkey long, r_name string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "region.parquet"))
        spark.createDataFrame(
            [(0, "A", 0), (1, "B", 1), (2, "C", 1), (3, "D", 1),
             (4, "E", 1)],
            "n_nationkey long, n_name string, n_regionkey long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "nation.parquet"))
        spark.createDataFrame(
            [(i, i) for i in range(5)], "c_custkey long, c_nationkey long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "customer.parquet"))
        d0 = dt.date(2024, 1, 1)
        orders = [(1, 0, 50.0, d0)]  # MONO: one nation owns it all
        # SPLIT: four nations with equal revenue
        orders += [(10 + i, 1 + i, 25.0, d0) for i in range(4)]
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long,"
            " o_totalprice double, o_orderdate date"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "orders.parquet"))
        got = {r["region"]: r for r in
               q232_hhi_concentration(spark, str(tmp_path)).collect()}
        assert got["MONO"]["hhi_ppm"] == 1_000_000
        assert got["SPLIT"]["n_nations"] == 4
        assert got["SPLIT"]["hhi_ppm"] == 250_000


class TestRecordDays:
    def test_records_and_plateau(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import q233_record_days

        t0 = dt.datetime(2024, 4, 1, 10)
        rows = []
        eid = 0
        # daily counts 3, 5, 5, 2, 7 -> records on days 0, 1, 4
        for d, c in enumerate((3, 5, 5, 2, 7)):
            for _ in range(c):
                rows.append((eid, t0 + dt.timedelta(days=d), 1, "click"))
                eid += 1
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        r = q233_record_days(spark, str(tmp_path)).collect()[0]
        assert (r["n_days"], r["n_record_days"]) == (5, 3)
        assert r["record_day"] == dt.date(2024, 4, 5)
        assert r["record_count"] == 7


class TestTierMigration:
    def test_transitions_and_churn(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q234_tier_migration,
        )

        gold, bronze = 400_000.0, 1_000.0
        orders = [
            # c1: gold in Jan, bronze in Feb
            (1, 1, gold, dt.date(2024, 1, 5)),
            (2, 1, bronze, dt.date(2024, 2, 5)),
            # c2: bronze in Jan, then nothing -> churned
            (3, 2, bronze, dt.date(2024, 1, 7)),
            # c3: bronze Jan, skips Feb, back in Mar -> churned (gap)
            (4, 3, bronze, dt.date(2024, 1, 9)),
            (5, 3, bronze, dt.date(2024, 3, 9)),
        ]
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long,"
            " o_totalprice double, o_orderdate date"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "orders.parquet"))
        got = {(r["tier"], r["tier_next"]): r["n_customers"] for r in
               q234_tier_migration(spark, str(tmp_path)).collect()}
        assert got[("gold", "bronze")] == 1
        # c2 churns, c3's Jan row churns (gap), c1's Feb row churns
        # (last), c3's Mar row churns (last)
        assert got[("bronze", "churned")] == 4
        assert ("bronze", "bronze") not in got


class TestContaminationNSweep:
    def test_rate_decreases_with_n(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q235_contamination_n_sweep,
        )

        # eval docs are doc_id % 50 == 0 -> ids 0, 50.
        # doc 0 shares a 16-gram with train doc 1 (fully contaminated
        # at every n); doc 50 shares only a 4-word phrase with train
        # doc 2 -> contaminated at n=4, clean at n=8/16.
        long = " ".join(f"w{i}" for i in range(20))
        phrase = "alpha beta gamma delta"
        rows = [
            (0, long),
            (1, long + " tail token"),
            (50, phrase + " unique ending here now"),
            (2, "different start words then " + phrase),
            (3, "totally unrelated filler content document"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["n"]: r for r in
               q235_contamination_n_sweep(spark, str(tmp_path)).collect()}
        assert all(r["n_eval"] == 2 for r in got.values())
        assert got[4]["n_contaminated"] == 2
        assert got[8]["n_contaminated"] == 1
        assert got[16]["n_contaminated"] == 1
        assert got[4]["contaminated_ppm"] == 1_000_000
        assert got[8]["contaminated_ppm"] == 500_000


class TestCharclassProfile:
    def test_exact_shares(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q236_charclass_profile,
        )

        # 10 chars: 4 letters, 2 digits, 2 spaces, 2 punct
        rows = [(1, "ab cd 12!?", "s")]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        r = q236_charclass_profile(spark, str(tmp_path)).collect()[0]
        assert r["n_chars"] == 10
        assert r["letter_ppm"] == 400_000
        assert r["digit_ppm"] == 200_000
        assert r["space_ppm"] == 200_000
        assert r["other_ppm"] == 200_000


class TestParetoCustomerMass:
    def test_concentrated_base(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q237_pareto_customer_mass,
        )

        d0 = dt.date(2024, 1, 1)
        # one whale with 800 revenue; 20 minnows with DISTINCT
        # revenues 1..20 (the report is tie-inclusive at histogram
        # resolution, so distinct values give per-customer counts).
        # total 1010: 50% -> whale alone; 80% (808) -> whale + the
        # 20-minnow; 95% (959.5) -> whale + minnows 20..10 = 12.
        orders = [(0, 0, 800.0, d0)]
        orders += [(1 + i, 1 + i, float(1 + i), d0) for i in range(20)]
        spark.createDataFrame(
            orders, "o_orderkey long, o_custkey long,"
            " o_totalprice double, o_orderdate date"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "orders.parquet"))
        got = {r["rev_pct"]: r for r in
               q237_pareto_customer_mass(spark, str(tmp_path)).collect()}
        assert got[50]["n_customers"] == 21
        assert got[50]["n_top_customers"] == 1
        assert got[80]["n_top_customers"] == 2
        assert got[95]["n_top_customers"] == 12
        assert got[50]["top_customer_ppm"] == 1_000_000 // 21


class TestBounceRate:
    def test_entry_attribution_and_bounces(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import q238_bounce_rate

        t0 = dt.datetime(2024, 10, 1, 9)
        m = dt.timedelta(minutes=1)
        rows = [
            # u1: session of 3 events entered via view -> not a bounce
            (1, t0, 1, "view"), (2, t0 + m, 1, "click"),
            (3, t0 + 2 * m, 1, "purchase"),
            # u1 second session (>30min later): lone click -> bounce
            (4, t0 + 60 * m, 1, "click"),
            # u2: lone view -> bounce
            (5, t0, 2, "view"),
        ]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = {r["entry_type"]: r for r in
               q238_bounce_rate(spark, str(tmp_path)).collect()}
        assert (got["view"]["n_sessions"], got["view"]["n_bounces"]) == (2, 1)
        assert got["view"]["bounce_ppm"] == 500_000
        assert (got["click"]["n_sessions"], got["click"]["n_bounces"]) == (1, 1)


class TestSingleSourceRisk:
    def test_buckets_and_mass(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q239_single_source_risk,
        )

        lines = [
            # part 1: one supplier, 100.00 revenue
            (1, 11, 100.0, 0.0),
            # part 2: two suppliers, 300.00 total
            (2, 21, 100.0, 0.0), (2, 22, 200.0, 0.0),
            # part 3: one supplier seen twice (still 1 distinct), 100
            (3, 31, 50.0, 0.0), (3, 31, 50.0, 0.0),
        ]
        spark.createDataFrame(
            lines, "l_partkey long, l_suppkey long,"
            " l_extendedprice double, l_discount double"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "lineitem.parquet"))
        got = {r["n_suppliers"]: r for r in
               q239_single_source_risk(spark, str(tmp_path)).collect()}
        assert got[1]["n_parts"] == 2
        assert got[1]["revenue_cents"] == 20_000
        assert got[2]["n_parts"] == 1
        assert got[1]["revenue_share_ppm"] == 400_000
        assert got[2]["revenue_share_ppm"] == 600_000


class TestMixedLanguageRate:
    def test_code_switch_flagged(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q240_mixed_language_rate,
        )

        pure_en = "the cat and the dog of a to the house"
        mixed = "the house of the cat le chat et la maison le les"
        weak = "the cat le chat runs fast today"  # fr hits: le=1 -> not mixed
        rows = [
            (1, pure_en, "s1"), (2, mixed, "s1"),
            (3, weak, "s2"), (4, pure_en, "s2"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"]: r for r in
               q240_mixed_language_rate(spark, str(tmp_path)).collect()}
        assert (got["s1"]["n_docs"], got["s1"]["n_mixed"]) == (2, 1)
        assert got["s1"]["mixed_ppm"] == 500_000
        assert got["s2"]["n_mixed"] == 0


class TestUshapeAttribution:
    def test_position_credits(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q241_ushape_attribution,
        )

        t0 = dt.datetime(2024, 11, 1, 9)
        m = dt.timedelta(minutes=1)
        rows = [
            # u1: 4 touches A,B,B,C then purchase ->
            # A: 400, B: 100+100, C: 400
            (1, t0, 1, "A"), (2, t0 + m, 1, "B"),
            (3, t0 + 2 * m, 1, "B"), (4, t0 + 3 * m, 1, "C"),
            (5, t0 + 4 * m, 1, "purchase"),
            # u2: single touch D -> 1000
            (6, t0, 2, "D"), (7, t0 + m, 2, "purchase"),
            # u3: touches but never purchases -> excluded
            (8, t0, 3, "A"), (9, t0 + m, 3, "B"),
        ]
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = {r["event_type"]: r["credit_milli"] for r in
               q241_ushape_attribution(spark, str(tmp_path)).collect()}
        assert got == {"A": 400, "B": 200, "C": 400, "D": 1000}


class TestClusterSourcePurity:
    def test_intra_vs_cross_source_clusters(self, spark, tmp_path,
                                            monkeypatch):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q242_cluster_source_purity,
        )

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS",
                           os.path.join(str(tmp_path), "art"))
        t1 = "alpha beta gamma delta epsilon zeta"
        t2 = "eta theta iota kappa lambda mu"
        rows = [
            # cluster 1: both docs in srcA -> 1 source
            (1, t1, "srcA"), (2, t1, "srcA"),
            # cluster 2: crosses srcA and srcB -> 2 sources
            (3, t2, "srcA"), (4, t2, "srcB"),
            (5, "unique unclustered text body here", "srcC"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["n_sources"]: r for r in
               q242_cluster_source_purity(spark, str(tmp_path)).collect()}
        assert got[1]["n_clusters"] == 1 and got[1]["n_docs"] == 2
        assert got[2]["n_clusters"] == 1 and got[2]["n_docs"] == 2


class TestAr1Persistence:
    def test_constant_series_and_alternating(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q243_ar1_persistence,
        )

        t0 = dt.datetime(2024, 2, 1, 12)
        rows = []
        eid = 0
        # trend: counts 1..10 over 10 consecutive days -> regressing
        # y=x+1 on x gives slope exactly 1 -> phi = 1e6
        for d in range(10):
            for _ in range(d + 1):
                rows.append((eid, t0 + dt.timedelta(days=d), 1, "up"))
                eid += 1
        # alternating 1,3,1,3... -> slope -1 -> phi = -1e6
        for d in range(10):
            for _ in range(1 if d % 2 == 0 else 3):
                rows.append((eid, t0 + dt.timedelta(days=d), 1, "alt"))
                eid += 1
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = {r["event_type"]: r for r in
               q243_ar1_persistence(spark, str(tmp_path)).collect()}
        assert got["up"]["n_pairs"] == 9
        assert got["up"]["phi_micro"] == 1_000_000
        assert got["alt"]["phi_micro"] == -1_000_000


class TestRevenueBridge:
    def test_pure_volume_and_pure_price_deltas(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q244_revenue_bridge,
        )

        lines = []
        # month 0: 10 units @ 2.00 = 20.00
        for i in range(10):
            lines.append((1.0, 2.0, 0.0, dt.date(2024, 1, 2 + i)))
        # month 1: 20 units @ 2.00 -> pure volume effect +20.00
        for i in range(20):
            lines.append((1.0, 2.0, 0.0, dt.date(2024, 2, 2 + i % 25)))
        # month 2: 20 units @ 3.00 -> pure price effect +20.00
        for i in range(20):
            lines.append((1.0, 3.0, 0.0, dt.date(2024, 3, 2 + i % 25)))
        spark.createDataFrame(
            lines, "l_quantity double, l_extendedprice double,"
            " l_discount double, l_shipdate date"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "lineitem.parquet"))
        got = sorted(q244_revenue_bridge(spark, str(tmp_path)).collect(),
                     key=lambda r: r["midx"])
        feb, mar = got
        assert feb["delta_cents"] == 2000
        assert feb["volume_effect_cents"] == 2000
        assert feb["price_effect_cents"] == 0
        assert feb["residual_cents"] == 0
        assert mar["delta_cents"] == 2000
        assert mar["volume_effect_cents"] == 0
        assert mar["price_effect_cents"] == 2000
        assert mar["residual_cents"] == 0


class TestRelationalDivision:
    def test_only_full_coverage_suppliers_pass(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q245_relational_division,
        )

        spark.createDataFrame(
            [(1, "B1"), (2, "B2"), (3, "B3"), (4, "B1")],
            "p_partkey long, p_brand string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "part.parquet"))
        lines = [
            # supplier 10 ships parts of all three brands
            (10, 1), (10, 2), (10, 3), (10, 4),
            # supplier 20 covers only B1/B2
            (20, 1), (20, 2), (20, 4),
        ]
        spark.createDataFrame(
            lines, "l_suppkey long, l_partkey long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "lineitem.parquet"))
        got = q245_relational_division(spark, str(tmp_path)).collect()
        assert len(got) == 1
        assert got[0]["l_suppkey"] == 10
        assert got[0]["n_brands_covered"] == 3
        assert got[0]["n_lines"] == 4


class TestDedupFixpoint:
    def test_fixpoint_holds(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q246_dedup_fixpoint,
        )

        rows = [(1, "same text"), (2, "same text"), (3, "same text"),
                (4, "another doc"), (5, "third body")]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        r = q246_dedup_fixpoint(spark, str(tmp_path)).collect()[0]
        assert (r["n_docs"], r["n_after_dedup"], r["n_removed"]) == (5, 3, 2)
        assert r["dup_groups_second_pass"] == 0
        assert r["is_fixpoint"] is True


class TestEffectiveSampleSize:
    def test_uniform_vs_whale_weights(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q247_effective_sample_size,
        )

        rows = [(i, " ".join(["w"] * 10), "uniform") for i in range(10)]
        # whale source: one 990-token doc + nine 1-token docs
        rows += [(100, " ".join(["w"] * 990), "whale")]
        rows += [(101 + i, "w", "whale") for i in range(9)]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["source"]: r for r in
               q247_effective_sample_size(spark, str(tmp_path)).collect()}
        u = got["uniform"]
        # equal weights -> ESS = n exactly
        assert u["n_docs"] == 10 and u["ess_milli"] == 10_000
        assert u["ess_ratio_ppm"] == 1_000_000
        w = got["whale"]
        # (999)^2 / (990^2 + 9) ~ 1.018 -> the source acts like ~1 doc
        assert w["n_docs"] == 10
        assert w["ess_milli"] == 999 * 999 * 1000 // (990 * 990 + 9)
        assert w["ess_ratio_ppm"] < 110_000


class TestSimpsonFlip:
    def test_reversed_within_groups(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q248_simpson_flip,
        )

        spark.createDataFrame(
            [(1, "B1"), (2, "B2")], "p_partkey long, p_brand string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "part.parquet"))
        # within each brand qty FALLS with discount (slope < 0), but
        # B2 has both higher discounts and higher volumes, so the
        # pooled slope RISES: the classic flip
        lines = []
        for x, y in ((0, 20), (5, 10)):     # B1: slope -2
            lines += [(1, float(x) / 100, float(y))] * 3
        for x, y in ((10, 60), (15, 50)):   # B2: slope -2, higher both
            lines += [(2, float(x) / 100, float(y))] * 3
        spark.createDataFrame(
            lines, "l_partkey long, l_discount double, l_quantity double"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "lineitem.parquet"))
        r = q248_simpson_flip(spark, str(tmp_path)).collect()[0]
        assert r["n_brands"] == 2
        assert r["aggregate_slope_micro"] > 0
        assert r["n_opposite_sign"] == 2
        assert r["simpson_suspected"] is True


class TestDepthConversion:
    def test_rates_per_bucket(self, spark, tmp_path):
        import datetime as dt
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q249_depth_conversion,
        )

        t0 = dt.datetime(2024, 12, 1, 9)
        m = dt.timedelta(minutes=1)
        rows = []
        eid = 0
        # two 1-event sessions (bucket 0): one converts
        rows.append((eid, t0, 1, "purchase")); eid += 1
        rows.append((eid, t0, 2, "view")); eid += 1
        # one 3-event session (bucket 1): converts
        for i, et in enumerate(("view", "click", "purchase")):
            rows.append((eid, t0 + i * m, 3, et)); eid += 1
        # one 4-event session (bucket 2): no purchase
        for i in range(4):
            rows.append((eid, t0 + i * m, 4, "view")); eid += 1
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "events.parquet"))
        got = {r["depth_log2"]: r for r in
               q249_depth_conversion(spark, str(tmp_path)).collect()}
        assert (got[0]["n_sessions"], got[0]["n_converted"]) == (2, 1)
        assert got[0]["conversion_ppm"] == 500_000
        assert (got[1]["n_sessions"], got[1]["n_converted"]) == (1, 1)
        assert (got[2]["n_sessions"], got[2]["n_converted"]) == (1, 0)


class TestSharedPrefixFamilies:
    def test_same_opening_different_bodies(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q250_shared_prefix_families,
        )

        opening = ("welcome to the example site this is boilerplate"
                   " navigation text here")  # > 64 normalized chars
        rows = [
            (1, opening + " body one entirely different content"),
            (2, opening + " body two other words and more stuff"),
            (3, "a totally different document opening and body"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["family_size_log2"]: r for r in
               q250_shared_prefix_families(spark, str(tmp_path)).collect()}
        # bucket 1 (size 2): the shared-opening family; bucket 0: the
        # singleton
        assert got[1]["n_families"] == 1 and got[1]["n_docs"] == 2
        assert got[0]["n_families"] == 1 and got[0]["n_docs"] == 1


class TestDedupQualityShift:
    def test_removed_mean_differs(self, spark, tmp_path):
        import os

        from ursa_major_choir_etl_spark.plans.queries import (
            q251_dedup_quality_shift,
        )

        clean = "hello world this is a fine sentence"
        noisy = "Hello!!! world??? this,,, is... a; fine: sentence!!!"
        rows = [
            # same fingerprint; the clean (higher-quality) copy has
            # the LOWER id -> kept; the noisy copy is removed
            (1, clean), (2, noisy),
            (5, "an unrelated unique document body"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet"))
        got = {r["kept"]: r for r in
               q251_dedup_quality_shift(spark, str(tmp_path)).collect()}
        assert got[1]["n_docs"] == 2
        assert got[0]["n_docs"] == 1
        # the removed copy is the noisy one -> lower mean quality
        assert got[0]["mean_quality_u"] < got[1]["mean_quality_u"]


class TestIndexArtifacts:
    """Round-9 index artifacts: the materialized IVF index and ANN
    ground-truth tables must be value-identical to a fresh build of
    the same operators (the oracle certifies them against DuckDB each
    round; this pins Spark-side build == Spark-side artifact)."""

    SF = "/root/testdata/sf0.001"

    def test_ivf_index_tables_match_fresh_build(
        self, spark, tmp_path, monkeypatch
    ):
        from ursa_major_choir_etl_spark import artifacts
        from ursa_major_choir_etl_spark.operators import similarity
        from ursa_major_choir_etl_spark.plans.queries import (
            T,
            ivf_index_tables,
        )

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
        artifacts._VERIFIED.clear()
        cells, cents = ivf_index_tables(spark, self.SF, n_cells=8)
        emb = T(spark, self.SF, "embeddings")
        fresh_cells = similarity.ivf_assign(emb, n_cells=8)
        got_cells = {
            (r["neighbor_id"], r["cell"]) for r in cells.collect()
        }
        want_cells = {
            (r["neighbor_id"], r["cell"]) for r in fresh_cells.collect()
        }
        assert got_cells == want_cells and got_cells
        fresh_cents = {
            r["cell"]: r["_centroid"]
            for r in similarity.ivf_centroids(fresh_cells).collect()
        }
        got_cents = {r["cell"]: r["_centroid"] for r in cents.collect()}
        assert set(got_cents) == set(fresh_cents)
        for c in got_cents:
            assert got_cents[c] == fresh_cents[c]  # exact: integer-sum build

    def test_ann_truth_table_matches_fresh_topk(
        self, spark, tmp_path, monkeypatch
    ):
        from pyspark.sql import functions as F

        from ursa_major_choir_etl_spark import artifacts
        from ursa_major_choir_etl_spark.operators import similarity
        from ursa_major_choir_etl_spark.plans.queries import (
            T,
            ann_truth_table,
        )

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
        artifacts._VERIFIED.clear()
        emb = T(spark, self.SF, "embeddings")
        fresh = similarity.cosine_topk(
            emb, emb.filter(F.col("vec_id") < 10), k=5
        )
        key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
        want = {
            key(r): (r["neighbor_id"], r["cosine_sim"])
            for r in fresh.collect()
        }
        got = {
            key(r): (r["neighbor_id"], r["cosine_sim"])
            for r in ann_truth_table(spark, self.SF, k=5).collect()
        }
        assert got == want and len(got) == 50

    def test_cc_labels_table_matches_fresh_closure(
        self, spark, tmp_path, monkeypatch
    ):
        """The materialized CC label table must equal a live
        min-label connected-components run over the same pair
        artifact (same contract as the IVF artifact tests: Spark
        build == Spark artifact; the driver oracle certifies both
        against DuckDB's recursive CTE)."""
        from ursa_major_choir_etl_spark import artifacts
        from ursa_major_choir_etl_spark.operators import dedup
        from ursa_major_choir_etl_spark.plans.queries import (
            cc_labels_table,
            jaccard_pairs_table,
        )

        monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path))
        artifacts._VERIFIED.clear()
        got = {
            (r["node"], r["component"])
            for r in cc_labels_table(spark, self.SF).collect()
        }
        fresh = dedup.connected_components(
            jaccard_pairs_table(spark, self.SF)
        )
        want = {
            (r["node"], r["component"]) for r in fresh.collect()
        }
        assert got == want and got
