"""Round-7 operators: n-gram novelty, 64-bit SimHash Hamming pairs,
Z-order layout, boilerplate sentences, per-group weighted sampling,
containment pairs."""

from __future__ import annotations

from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.operators import dedup, text


class TestNgramNovelty:
    def test_first_doc_fully_novel_copy_fully_stale(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),
                (2, "alpha beta gamma delta"),  # exact copy: zero novel
                (3, "epsilon zeta eta theta"),  # disjoint: fully novel
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in text.ngram_novelty(docs, n=3).collect()}
        assert out[1]["novelty_rate"] == 1.0
        assert out[2]["n_novel"] == 0 and out[2]["novelty_rate"] == 0.0
        assert out[3]["novelty_rate"] == 1.0
        assert out[1]["n_shingles"] == 2  # 4 tokens -> 2 trigrams

    def test_partial_overlap_counts(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "b c d e")],  # doc2 shares trigram "b c d"
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in text.ngram_novelty(docs, n=3).collect()}
        assert out[2]["n_shingles"] == 2
        assert out[2]["n_novel"] == 1  # "c d e" is new, "b c d" debuted in 1


class TestSimhash64:
    def test_prefix_is_simhash32(self, spark):
        docs = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "pack my box with jugs")],
            "doc_id long, text string",
        )
        h32 = {r["doc_id"]: r["simhash"] for r in dedup.simhash32(docs).collect()}
        h64 = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
        for k in h32:
            assert len(h64[k]) == 64
            assert h64[k][:32] == h32[k]

    def test_hamming_pairs_match_brute_force(self, spark):
        """Pigeonhole EXACTNESS: with max_hamming < bands the block
        index must find every qualifying pair — compare against the
        all-pairs Hamming over a templated corpus."""
        rows = []
        for i in range(24):
            base = "the shared template sentence about data pipelines"
            extra = f"variant {i % 6} token{i % 3}"
            rows.append((i, f"{base} {extra}"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dedup.simhash_hamming_pairs(docs, max_hamming=3).collect()
        }
        sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
        want = {}
        ids = sorted(sh)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                d = sum(1 for x, y in zip(sh[a], sh[b]) if x != y)
                if d <= 3:
                    want[(a, b)] = d
        assert got == want
        assert want  # non-vacuous: the template forces close pairs

    def test_no_persisted_leak_after_release(self, spark):
        from ursa_major_choir_etl_spark.caching import release_staged

        release_staged()
        base = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        docs = spark.createDataFrame(
            [(i, f"some words here {i}") for i in range(6)],
            "doc_id long, text string",
        )
        dedup.simhash_hamming_pairs(docs).count()
        added = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - base
        assert added
        assert release_staged(blocking=True) >= 1
        assert not (
            added & set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
        )


class TestZorder:
    def test_morton_key_matches_python(self, spark):
        from ursa_major_choir_etl_spark.operators.layout import morton_key

        def py_morton(x, y, bits):
            out = 0
            for i in range(bits):
                out |= ((x >> i) & 1) << (2 * i)
                out |= ((y >> i) & 1) << (2 * i + 1)
            return out

        df = spark.createDataFrame(
            [(x, y) for x in (0, 1, 5, 1023) for y in (0, 2, 7, 800)],
            "x long, y long",
        )
        rows = df.select(
            "x", "y", morton_key(F.col("x"), F.col("y"), bits=10).alias("z")
        ).collect()
        for r in rows:
            assert r["z"] == py_morton(r["x"], r["y"], 10)

    def test_bucket_ranges_are_tight_in_both_dims(self, spark):
        """The point of Z-order: each bucket (zkey >> shift) spans a
        bounded range of BOTH dimensions — here shift=8 over bits=8
        keys bounds each dim's in-bucket range by 2^4."""
        from ursa_major_choir_etl_spark.operators.layout import (
            zorder_bucket_stats,
        )

        df = spark.range(4096).select(
            (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
        )
        stats = zorder_bucket_stats(
            df, F.col("x"), F.col("y"), bits=8, bucket_shift=8
        ).collect()
        assert sum(r["n_rows"] for r in stats) == 4096
        for r in stats:
            assert r["x_max"] - r["x_min"] <= 15
            assert r["y_max"] - r["y_min"] <= 15


class TestBoilerplate:
    def test_template_flagged_within_source_only(self, spark):
        tpl = "subscribe to our newsletter for updates"
        docs = spark.createDataFrame(
            [
                (1, f"unique alpha content one. {tpl}", "siteA"),
                (2, f"unique beta content two. {tpl}", "siteA"),
                (3, f"unique gamma content three. {tpl}", "siteA"),
                (4, f"unique delta content four. {tpl}", "siteB"),  # < 3 in B
            ],
            "doc_id long, text string, source string",
        )
        out = {
            r["doc_id"]: r
            for r in text.boilerplate_sentences(
                docs, min_docs=3, min_chars=10
            ).collect()
        }
        assert out[1]["n_boiler"] == 1 and out[1]["n_sentences"] == 2
        assert out[1]["boiler_ratio"] == 0.5
        assert out[4]["n_boiler"] == 0  # template rare within siteB

    def test_short_fragments_ignored(self, spark):
        docs = spark.createDataFrame(
            [(i, "ok. tiny. this sentence is long enough to count", "s")
             for i in range(3)],
            "doc_id long, text string, source string",
        )
        out = text.boilerplate_sentences(docs, min_docs=3, min_chars=15).collect()
        assert all(r["n_sentences"] == 1 for r in out)  # "ok"/"tiny" dropped
        assert all(r["n_boiler"] == 1 for r in out)


class TestGroupedWeightedSample:
    def test_caps_per_group_and_orders_by_key(self, spark):
        from ursa_major_choir_etl_spark.operators.sampling import (
            grouped_weighted_sample,
        )

        rows = [(i, "en" if i % 3 else "de", (i % 7 + 1) * 10) for i in range(90)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, w long")
        out = grouped_weighted_sample(
            df, "lang", F.col("w"), n_per_group=5
        ).collect()
        by_lang = {}
        for r in out:
            by_lang.setdefault(r["lang"], []).append(r)
        assert set(by_lang) == {"en", "de"}
        for lang, rs in by_lang.items():
            assert len(rs) == 5
            keys = [r["sample_key"] for r in sorted(rs, key=lambda r: r["rn"])]
            assert keys == sorted(keys)

    def test_small_group_returns_all(self, spark):
        from ursa_major_choir_etl_spark.operators.sampling import (
            grouped_weighted_sample,
        )

        df = spark.createDataFrame(
            [(1, "fr", 5), (2, "fr", 3)], "doc_id long, lang string, w long"
        )
        assert grouped_weighted_sample(df, "lang", F.col("w"), 10).count() == 2


class TestContainmentPairs:
    def test_subset_doc_scores_one(self, spark):
        quote = "to be or not to be that is the question"
        article = (
            "the critic wrote a long analysis saying "
            + quote
            + " and then continued with commentary about staging choices"
        )
        docs = spark.createDataFrame(
            [(1, quote), (2, article), (3, "completely unrelated words here")],
            "doc_id long, text string",
        )
        sh = dedup.word_shingles(docs, n=3)
        out = dedup.containment_pairs(sh, threshold=0.6).collect()
        pairs = {(r["id_a"], r["id_b"]): r["containment"] for r in out}
        assert pairs == {(1, 2): 1.0}

    def test_matches_brute_force(self, spark):
        rows = []
        for i in range(20):
            shared = "common phrase block shared across docs"
            rows.append((i, f"{shared} filler{i % 4} extra{i % 5} tail{i}"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sh = dedup.word_shingles(docs, n=3)
        got = {
            (r["id_a"], r["id_b"]): (r["n_inter"], r["containment"])
            for r in dedup.containment_pairs(sh, threshold=0.5).collect()
        }
        arrs = {
            r["doc_id"]: set(r["sh"])
            for r in sh.groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("sh"))
            .collect()
        }
        want = {}
        ids = sorted(arrs)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                inter = len(arrs[a] & arrs[b])
                c = inter / min(len(arrs[a]), len(arrs[b]))
                if c >= 0.5:
                    want[(a, b)] = (inter, round(c, 6))
        assert got == want and want


class TestIncrementalDedup:
    def test_agrees_with_batch_dedup(self, spark):
        """The incremental decision for a shard equals what the batch
        exact dedup would decide about those docs."""
        rows = [(i, f"doc body {i % 4}") for i in range(12)]  # 4 contents
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        shard = docs.filter("doc_id >= 8")
        corpus = docs.filter("doc_id < 8")
        out = {
            r["doc_id"]: r["dup_of"]
            for r in dedup.incremental_dedup_probe(shard, corpus).collect()
        }
        # content i%4 first appears at doc_id = i%4 in the corpus
        assert out == {8: 0, 9: 1, 10: 2, 11: 3}

    def test_fresh_docs_pass_with_null(self, spark):
        shard = spark.createDataFrame(
            [(10, "completely new content")], "doc_id long, text string"
        )
        corpus = spark.createDataFrame(
            [(1, "old content")], "doc_id long, text string"
        )
        out = dedup.incremental_dedup_probe(shard, corpus).collect()
        assert len(out) == 1 and out[0]["dup_of"] is None


class TestCurriculumBins:
    def test_bins_partition_the_corpus(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import (
            q114_curriculum_bins,
        )

        out = q114_curriculum_bins(spark, "/root/testdata/sf0.001").collect()
        assert {r["bin"] for r in out} <= {0, 1, 2, 3}
        n_docs_in = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).count()
        assert sum(r["n_docs"] for r in out) == n_docs_in
        # monotone: higher bins hold longer docs
        by_bin = sorted(out, key=lambda r: r["bin"])
        for a, b in zip(by_bin, by_bin[1:]):
            assert a["max_tokens"] <= b["min_tokens"] or a["max_tokens"] <= b["max_tokens"]


class TestUnigramSurprisal:
    def test_rare_token_doc_scores_higher(self, spark):
        common = " ".join(["the"] * 20)
        rare = "zyxwv qponm lkjih gfedc babab"
        docs = spark.createDataFrame(
            [(1, common), (2, rare), (3, common)],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in text.unigram_surprisal_scores(docs).collect()
        }
        assert out[2]["mean_surprisal"] > out[1]["mean_surprisal"]
        assert out[1]["mean_surprisal"] == out[3]["mean_surprisal"]

    def test_integer_bit_surprisal_matches_python(self, spark):
        docs = spark.createDataFrame(
            [(1, "aa aa aa bb"), (2, "bb cc")], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r for r in text.unigram_surprisal_scores(docs).collect()
        }
        # corpus: aa x3, bb x2, cc x1; N=6
        s = lambda cnt: (6 // cnt).bit_length() - 1
        assert out[1]["sum_surprisal"] == 3 * s(3) + s(2)
        assert out[2]["sum_surprisal"] == s(2) + s(1)


class TestConsensusPairs:
    def test_requires_min_votes_across_methods(self, spark):
        a = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
        b = spark.createDataFrame([(1, 2), (5, 6)], "id_a long, id_b long")
        c = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
        out = {
            (r["id_a"], r["id_b"]): (
                r["by_m1"], r["by_m2"], r["by_m3"], r["n_methods"]
            )
            for r in dedup.consensus_pairs(
                {"m1": a, "m2": b, "m3": c}, min_votes=2
            ).collect()
        }
        assert out == {(1, 2): (1, 1, 1, 3), (3, 4): (1, 0, 1, 2)}
        # min_votes=1 keeps the singleton too
        assert (
            dedup.consensus_pairs({"m1": a, "m2": b, "m3": c}, min_votes=1).count()
            == 3
        )

    def test_duplicate_rows_within_method_count_once(self, spark):
        a = spark.createDataFrame([(1, 2), (1, 2)], "id_a long, id_b long")
        b = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        out = dedup.consensus_pairs({"x": a, "y": b}, min_votes=2).collect()
        assert len(out) == 1 and out[0]["n_methods"] == 2


class TestGradingWindowRotation:
    def test_window_leads_with_never_graded_then_stalest(self):
        """The grading window is the first 50 registry entries. Round-16
        policy: the round-15 window (q138-q187) was graded in
        CORRECTNESS_r15.json, so the window rotates to the 50
        now-stalest entries — q188-q236 (the rest of the round-10
        band) plus q10 as the one next-stalest wrap slot — in
        ascending q-number order, filling all 50 slots exactly."""
        from ursa_major_choir_etl_spark.plans.queries import (
            _head,
            _staleness,
            QUERIES,
        )

        window = list(QUERIES)[:50]
        assert len(window) == 50
        qnum = lambda k: int(k[1 : k.index("_")])  # noqa: E731
        assert window == sorted(_head, key=qnum)
        assert [qnum(window[0]), qnum(window[-1])] == [10, 236]
        # the rest of the round-10 band is in the window...
        assert all(188 <= qnum(k) <= 236 or qnum(k) == 10 for k in window)
        # ...freshly graded rows (r11-r15 bands) occupy no slot...
        assert not any(11 <= qnum(k) <= 187 or qnum(k) >= 237 for k in window)
        # ...and every window row is from the two stalest bands
        assert all(_staleness(k) <= 1 for k in window)

    def test_head_is_the_stalest_50_set(self):
        """Round-13 verdict #1 (generalizing round-12 #6): the
        rotation has two moving parts (_head and _staleness) plus two
        test pins; if a future round moves one without the other,
        this must fail loudly. The head must be THE 50 stalest
        entries under (_staleness, q-number) — the old contiguous-
        block form could not express a head that interleaves
        never-graded tail queries with early-numbered stale bands."""
        from ursa_major_choir_etl_spark.plans.queries import (
            _head,
            _names,
            _staleness,
        )

        qnum = lambda k: int(k[1 : k.index("_")])  # noqa: E731
        stalest = sorted(_names, key=lambda k: (_staleness(k), qnum(k)))
        assert sorted(_head, key=qnum) == sorted(stalest[:50], key=qnum)

    def test_staleness_table_reflects_latest_driver_grade(self):
        """The _staleness table is hand-maintained; the failure mode
        with teeth is forgetting to mark the JUST-GRADED band freshest
        after a round rotates. Read the highest-numbered
        CORRECTNESS_r*.json actually in the repo and assert every
        query it graded has strictly maximal staleness — i.e. none of
        them re-occupies a window slot."""
        import glob
        import json
        import os
        import re

        from ursa_major_choir_etl_spark.plans.queries import (
            _head,
            _staleness,
        )

        repo = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )
        records = {
            int(re.search(r"_r(\d+)\.json$", p).group(1)): p
            for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        }
        if not records:
            return  # fresh clone without driver records
        latest = records[max(records)]
        with open(latest) as f:
            graded = set(json.load(f))
        max_stale = max(_staleness(k) for k in graded)
        assert all(_staleness(k) == max_stale for k in graded), latest
        assert not graded & set(_head), (
            "just-graded queries re-occupy window slots"
        )


class TestRound7Properties:
    """Randomized (seeded) brute-force mirrors and conservation
    invariants for the round-7 operators — the property-test layer
    SURVEY §5 models, without per-example Spark-job blowup."""

    def _random_corpus(self, seed, n_docs=18, vocab=12):
        import random

        rng = random.Random(seed)
        words = [f"w{i}" for i in range(vocab)]
        return [
            (i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 14))))
            for i in range(n_docs)
        ]

    def test_novelty_matches_brute_force_and_conserves(self, spark):
        for seed in (0, 7):
            rows = self._random_corpus(seed)
            docs = spark.createDataFrame(rows, "doc_id long, text string")
            got = {
                r["doc_id"]: (r["n_shingles"], r["n_novel"])
                for r in text.ngram_novelty(docs, n=3).collect()
            }
            # python mirror
            shingles = {}
            for i, t in rows:
                toks = t.split()
                shingles[i] = {
                    " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
                }
            first = {}
            for i in sorted(shingles):
                for s in shingles[i]:
                    first.setdefault(s, i)
            want = {
                i: (len(sh), sum(1 for s in sh if first[s] == i))
                for i, sh in shingles.items()
                if sh
            }
            assert got == want
            # conservation: every distinct corpus shingle is novel in
            # exactly one doc
            assert sum(v[1] for v in got.values()) == len(first)

    def test_boilerplate_matches_brute_force(self, spark):
        import random

        for seed in (1, 5):
            rng = random.Random(seed)
            frags = [f"fragment number {i} with enough chars" for i in range(6)]
            rows = [
                (
                    i,
                    ". ".join(rng.choice(frags) for _ in range(rng.randint(1, 4))),
                    rng.choice(["sA", "sB"]),
                )
                for i in range(15)
            ]
            docs = spark.createDataFrame(
                rows, "doc_id long, text string, source string"
            )
            got = {
                r["doc_id"]: (r["n_sentences"], r["n_boiler"])
                for r in text.boilerplate_sentences(
                    docs, min_docs=3, min_chars=15
                ).collect()
            }
            # python mirror (trim -> len>=15 -> distinct per doc)
            per_doc = {}
            for i, t, src in rows:
                ss = {
                    s.strip()
                    for s in t.split(". ")
                    if len(s.strip()) >= 15
                }
                per_doc[i] = (src, ss)
            freq = {}
            for i, (src, ss) in per_doc.items():
                for s in ss:
                    freq[(src, s)] = freq.get((src, s), 0) + 1
            want = {
                i: (len(ss), sum(1 for s in ss if freq[(src, s)] >= 3))
                for i, (src, ss) in per_doc.items()
                if ss
            }
            assert got == want

    def test_morton_random_roundtrip(self, spark):
        import random

        rng = random.Random(3)
        from ursa_major_choir_etl_spark.operators.layout import morton_key

        pts = [(rng.randrange(4096), rng.randrange(4096)) for _ in range(64)]
        df = spark.createDataFrame(pts, "x long, y long")
        rows = df.select(
            "x", "y", morton_key(F.col("x"), F.col("y"), bits=12).alias("z")
        ).collect()
        for r in rows:
            # de-interleave recovers both inputs exactly (bijectivity)
            x = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(12))
            y = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(12))
            assert (x, y) == (r["x"], r["y"])

    def test_surprisal_token_conservation(self, spark):
        rows = self._random_corpus(9)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = text.unigram_surprisal_scores(docs).collect()
        total_tokens = sum(len(t.split()) for _, t in rows)
        assert sum(r["n_tokens"] for r in out) == total_tokens
        assert all(r["sum_surprisal"] >= 0 for r in out)
