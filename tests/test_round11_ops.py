"""Round-11 operator tests: Kneser–Ney bigram LM, Fellegi–Sunter
pattern weights without pair materialization, portable-HLL set
algebra, resource-allocation link prediction, Bradley–Terry MM,
grid epsilon-neighborhoods, and Neyman allocation.

Each test checks the MATH against an independent pure-Python
computation (never against another SQL engine — that's the oracle
harness's job) plus the operator-specific contracts: partition-layout
independence where sums are claimed exact, and the documented
degenerate-input behaviors.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from pyspark.sql import functions as F


class TestKneserNey:
    def test_matches_pure_python_kn(self, spark):
        """P_KN in ppm equals the hand-rolled integer formula on a
        small corpus with shared and unique continuations."""
        from ursa_major_choir_etl_spark.operators.text import (
            kneser_ney_bigram_report,
        )

        texts = [
            "a b c a b d",
            "a b c c",
            "x y",
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        rows = {
            (r["w1"], r["w2"]): r
            for r in kneser_ney_bigram_report(df, top_n=100).collect()
        }
        # python reference
        bigrams = Counter()
        for t in texts:
            ws = t.split()
            for i in range(len(ws) - 1):
                bigrams[(ws[i], ws[i + 1])] += 1
        c1 = Counter()
        n_fwd = Counter()
        n_bwd = Counter()
        for (w1, w2), c in bigrams.items():
            c1[w1] += c
            n_fwd[w1] += 1
            n_bwd[w2] += 1
        B = len(bigrams)
        for (w1, w2), c2 in bigrams.items():
            want = (4 * c2 - 3) * 1_000_000 // (4 * c1[w1]) + 3 * n_fwd[
                w1
            ] * (n_bwd[w2] * 1_000_000 // B) // (4 * c1[w1])
            got = rows[(w1, w2)]
            assert got["p_kn_ppm"] == want, (w1, w2)
            assert got["c2"] == c2 and got["c1"] == c1[w1]

    def test_probabilities_sum_below_one(self, spark):
        """For any prefix, the smoothed conditional mass over SEEN
        continuations stays below 1e6 ppm (the discount reserves mass
        for unseen words) — the property that makes KN a probability
        model rather than an MLE."""
        from ursa_major_choir_etl_spark.operators.text import (
            kneser_ney_bigram_report,
        )

        df = spark.createDataFrame(
            [("the cat sat on the mat the cat ran",)], "text string"
        )
        rows = kneser_ney_bigram_report(df, top_n=100).collect()
        by_w1 = Counter()
        for r in rows:
            by_w1[r["w1"]] += r["p_kn_ppm"]
        for w1, total in by_w1.items():
            assert total < 1_000_000, w1


class TestFellegiSunter:
    def test_pattern_counts_match_bruteforce_pairs(self, spark):
        """The inclusion–exclusion pattern counts equal brute-force
        pair enumeration on a small frame — the pair-free formulation
        is exact, not an approximation."""
        from ursa_major_choir_etl_spark.operators.quality import (
            fellegi_sunter_pattern_weights,
        )

        data = [
            (1, "A", 10),
            (1, "A", 10),
            (1, "B", 10),
            (2, "A", 20),
            (2, "A", 10),
            (1, "A", 20),
        ]
        df = spark.createDataFrame(data, "f1 int, f2 string, f3 int")
        out = {
            r["pattern"]: r
            for r in fellegi_sunter_pattern_weights(
                df,
                ["f1", "f2", "f3"],
                {"f1": 900_000, "f2": 900_000, "f3": 900_000},
            ).collect()
        }
        # brute force over all 15 pairs
        want = Counter()
        for i in range(len(data)):
            for j in range(i + 1, len(data)):
                s = tuple(
                    name
                    for name, a, b in zip(
                        ("f1", "f2", "f3"), data[i], data[j]
                    )
                    if a == b
                )
                want[",".join(s)] += 1
        for pattern, row in out.items():
            assert row["n_pairs_exact"] == want.get(pattern, 0), pattern
        assert sum(want.values()) == 15
        assert sum(r["n_pairs_exact"] for r in out.values()) == 15

    def test_full_agreement_weight_dominates(self, spark):
        """The all-fields-agree pattern carries the largest FS weight
        and disagreement on everything the smallest."""
        from ursa_major_choir_etl_spark.operators.quality import (
            fellegi_sunter_pattern_weights,
        )

        df = spark.createDataFrame(
            [(i % 3, str(i % 5), i % 2) for i in range(60)],
            "f1 int, f2 string, f3 int",
        )
        rows = fellegi_sunter_pattern_weights(
            df,
            ["f1", "f2", "f3"],
            {"f1": 950_000, "f2": 950_000, "f3": 950_000},
        ).collect()
        by_agree = {r["n_agree"]: r for r in rows if r["n_agree"] in (0, 3)}
        assert (
            by_agree[3]["fs_weight_milli"] > by_agree[0]["fs_weight_milli"]
        )


class TestPortableHll:
    def test_registers_match_hashlib(self, spark):
        """Every (bucket, rank) register equals the pure-Python md5
        computation — the portability contract the oracle rests on."""
        from ursa_major_choir_etl_spark.operators.sketches import (
            portable_hll_registers,
        )

        vals = [f"tok{i}" for i in range(200)]
        df = spark.createDataFrame(
            [("s", v) for v in vals], "g string, v string"
        )
        got = {
            (r["_bkt"], r["_r"])
            for r in portable_hll_registers(df, "g", "v").collect()
        }
        regs: dict[int, int] = {}
        for v in vals:
            h = hashlib.md5(v.encode()).hexdigest()
            bkt = int(h[:2], 16)
            tail = h[2:16]
            bits = bin(int(tail, 16))[2:].zfill(56)
            rho = (bits + "1").index("1") + 1
            regs[bkt] = max(regs.get(bkt, 0), rho)
        assert got == set(regs.items())

    def test_overlap_estimates_track_true_overlap(self, spark):
        """Identical groups estimate jaccard ~1e6; disjoint groups
        near 0; estimates within the standard ~1.04/sqrt(256) HLL
        error of the true cardinalities."""
        from ursa_major_choir_etl_spark.operators.sketches import (
            hll_overlap_matrix,
        )

        rows = (
            [("a", f"t{i}") for i in range(3000)]
            + [("b", f"t{i}") for i in range(3000)]  # identical to a
            + [("c", f"u{i}") for i in range(3000)]  # disjoint
        )
        df = spark.createDataFrame(rows, "g string, v string")
        out = {
            (r["source_a"], r["source_b"]): r
            for r in hll_overlap_matrix(df, "g", "v").collect()
        }
        ab = out[("a", "b")]
        assert ab["est_a"] == ab["est_b"] == ab["est_union"]
        assert ab["jaccard_ppm"] == 1_000_000
        assert abs(ab["est_a"] - 3000) < 3000 * 0.2
        ac = out[("a", "c")]
        assert ac["jaccard_ppm"] < 100_000
        assert abs(ac["est_union"] - 6000) < 6000 * 0.2


class TestResourceAllocation:
    def test_matches_networkx_style_reference(self, spark):
        """RA scores equal the pure-Python wedge computation on a
        small graph, and adjacent pairs never appear."""
        from ursa_major_choir_etl_spark.operators.graph import (
            resource_allocation_link_prediction,
        )

        edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (1, 5)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r["id_a"], r["id_b"]): (r["n_common"], r["score_ppm"])
            for r in resource_allocation_link_prediction(
                df, max_center_degree=10, top_n=100
            ).collect()
        }
        adj: dict[int, set[int]] = {}
        for s, d in edges:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        eset = {tuple(sorted(e)) for e in edges}
        want = {}
        nodes = sorted(adj)
        for i in nodes:
            for j in nodes:
                if i >= j or (i, j) in eset:
                    continue
                common = adj[i] & adj[j]
                if common:
                    want[(i, j)] = (
                        len(common),
                        sum(1_000_000 // len(adj[z]) for z in common),
                    )
        assert got == want

    def test_hub_centers_are_excluded(self, spark):
        """A center above the degree cap contributes no wedges — the
        documented recall trade."""
        from ursa_major_choir_etl_spark.operators.graph import (
            resource_allocation_link_prediction,
        )

        # star: center 0 with 5 leaves; cap 4 excludes the center
        edges = [(0, i) for i in range(1, 6)]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = resource_allocation_link_prediction(
            df, max_center_degree=4, top_n=100
        ).collect()
        assert out == []


class TestBradleyTerry:
    def test_matches_pure_python_mm(self, spark):
        """Ratings equal the same integer MM recursion in Python."""
        from ursa_major_choir_etl_spark.operators.curation import (
            bradley_terry_ratings,
        )

        duels = [(1, 2)] * 6 + [(2, 1)] * 2 + [(2, 3)] * 4 + [(3, 1)] * 1
        df = spark.createDataFrame(duels, "winner long, loser long")
        got = {
            r["entity"]: r
            for r in bradley_terry_ratings(df, n_iters=3).collect()
        }
        games: dict = {}
        wins: dict = {}
        for w, loser in duels:
            games[(w, loser)] = games.get((w, loser), 0) + 1
            games[(loser, w)] = games.get((loser, w), 0) + 1
            wins[w] = wins.get(w, 0) + 1
        ents = sorted({e for p in games for e in p})
        sp = {e: 1_000_000 for e in ents}
        for _ in range(3):
            d = {e: 0 for e in ents}
            for (i, j), n in games.items():
                d[i] += n * 10**12 // (sp[i] + sp[j])
            raw = {
                e: (wins.get(e, 0) * 10**12 // d[e]) if d[e] else 0
                for e in ents
            }
            tot = sum(raw.values())
            sp = {
                e: raw[e] * len(ents) * 1_000_000 // tot for e in ents
            }
        for e in ents:
            assert got[e]["rating_ppm"] == sp[e], e
            assert got[e]["n_wins"] == wins.get(e, 0)
        # the dominant player rates highest
        assert got[1]["rating_ppm"] == max(v["rating_ppm"] for v in got.values())

    def test_partition_layout_independent(self, spark):
        """Integer MM makes the ratings independent of input
        partitioning — the determinism claim."""
        from ursa_major_choir_etl_spark.operators.curation import (
            bradley_terry_ratings,
        )

        duels = [(i % 5, (i + 1 + i % 3) % 5) for i in range(200)]
        duels = [(w, l) for w, l in duels if w != l]
        df1 = spark.createDataFrame(duels, "winner long, loser long")
        df2 = df1.repartition(7)
        r1 = sorted(map(tuple, bradley_terry_ratings(df1).collect()))
        r2 = sorted(map(tuple, bradley_terry_ratings(df2).collect()))
        assert r1 == r2


class TestEpsilonNeighborhood:
    def test_matches_bruteforce_neighbor_counts(self, spark):
        """The grid join finds exactly the brute-force epsilon pairs
        — including pairs that straddle cell borders."""
        from ursa_major_choir_etl_spark.operators.similarity import (
            epsilon_neighborhood_spectrum,
        )

        pts = [
            (1, 0.00, 0.00),
            (2, 0.019, 0.00),   # within eps of 1, different cell
            (3, 0.05, 0.05),    # isolated
            (4, 0.001, 0.001),  # within eps of 1 and 2
            (5, -0.019, 0.00),  # within eps of 1, negative cell
        ]
        df = spark.createDataFrame(pts, "vec_id long, x double, y double")
        out = {
            r["n_neighbors"]: r
            for r in epsilon_neighborhood_spectrum(
                df, eps=0.02, min_pts=2
            ).collect()
        }
        # brute force
        nn = Counter()
        for i, (ia, xa, ya) in enumerate(pts):
            for ib, xb, yb in pts[i + 1:]:
                if (xa - xb) ** 2 + (ya - yb) ** 2 <= 0.02 * 0.02:
                    nn[ia] += 1
                    nn[ib] += 1
        spectrum = Counter(nn.get(i, 0) for i, _, _ in pts)
        assert {k: v["n_points"] for k, v in out.items()} == dict(spectrum)
        assert out[0]["is_core"] is False
        for k, v in out.items():
            assert v["is_core"] == (k >= 2)

    def test_each_pair_found_exactly_once(self, spark):
        """Two coincident points yield ONE pair (n_neighbors=1 for
        both), not a double-counted pair per overlapping offset."""
        from ursa_major_choir_etl_spark.operators.similarity import (
            epsilon_neighborhood_spectrum,
        )

        df = spark.createDataFrame(
            [(1, 0.5, 0.5), (2, 0.5, 0.5)], "vec_id long, x double, y double"
        )
        out = {
            r["n_neighbors"]: r["n_points"]
            for r in epsilon_neighborhood_spectrum(df, eps=0.02).collect()
        }
        assert out == {1: 2}


class TestNeymanAllocation:
    def test_matches_pure_python(self, spark):
        """Allocation equals the exact-integer Neyman formula with a
        true isqrt — verifying the float-seeded integer correction."""
        from ursa_major_choir_etl_spark.operators.sampling import (
            neyman_allocation,
        )

        rows = [("a", v) for v in (100, 200, 300, 400)] + [
            ("b", v) for v in (1000, 1000, 1000, 5000, 5000)
        ] + [("c", 700)]
        df = spark.createDataFrame(rows, "s string, cents long")
        got = {
            r["stratum"]: r
            for r in neyman_allocation(df, "s", "cents", 1000).collect()
        }
        by_s: dict[str, list[int]] = {}
        for s, v in rows:
            by_s.setdefault(s, []).append(v)
        w = {}
        for s, vs in by_s.items():
            n = len(vs)
            ssd = n * sum(v * v for v in vs) - sum(vs) ** 2
            w[s] = math.isqrt(ssd)
        tw = sum(w.values())
        for s, vs in by_s.items():
            assert got[s]["n_sigma_cents"] == w[s], s
            assert got[s]["alloc_n"] == 1000 * w[s] // tw
            assert got[s]["mean_cents"] == sum(vs) // len(vs)
        # the variable stratum out-allocates the bigger-but-constant
        assert got["b"]["alloc_n"] > got["a"]["alloc_n"]
        assert got["c"]["alloc_n"] == 0  # single constant row: sd 0

    def test_isqrt_correction_exact_on_large_values(self, spark):
        """Perfect squares and off-by-one values around them resolve
        to the exact integer sqrt despite the double seed."""
        from ursa_major_choir_etl_spark.operators.sampling import (
            neyman_allocation,
        )

        # two strata of two rows each: ssd = 2(a²+b²) - (a+b)² = (a-b)²
        # so n_sigma = |a - b| exactly — pick a large gap that a double
        # sqrt cannot represent exactly.
        gap = 3_037_000_499  # isqrt(2^63) neighborhood
        rows = [("s1", 0), ("s1", gap), ("s2", 0), ("s2", 12345)]
        df = spark.createDataFrame(rows, "s string, cents long")
        got = {
            r["stratum"]: r["n_sigma_cents"]
            for r in neyman_allocation(df, "s", "cents", 100).collect()
        }
        assert got == {"s1": gap, "s2": 12345}


class TestStreamingHllStore:
    def _write_src(self, spark, tmp, rows):
        spark.createDataFrame(rows, "source string, token string").repartition(
            2
        ).write.mode("overwrite").parquet(tmp)

    def test_drained_store_equals_batch_registers(
        self, spark, tmp_path_factory
    ):
        """After draining the stream (multiple micro-batches), the
        register store equals a one-shot batch build — the lossless
        MAX-merge property that makes HLL the right streaming
        sketch."""
        from ursa_major_choir_etl_spark.operators.sketches import (
            portable_hll_registers,
        )
        from ursa_major_choir_etl_spark.streaming import jobs

        src = str(tmp_path_factory.mktemp("hll_src"))
        wh = str(tmp_path_factory.mktemp("hll_wh"))
        rows = [("a", f"t{i}") for i in range(500)] + [
            ("b", f"t{i}") for i in range(0, 1000, 2)
        ]
        self._write_src(spark, src, rows)
        stream = (
            spark.readStream.schema("source string, token string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        jobs.streaming_hll_register_sink(
            stream, wh, "regs"
        ).awaitTermination(180)
        got = {
            (r["grp"], r["bkt"], r["r"])
            for r in jobs.read_hll_register_store(spark, wh, "regs").collect()
        }
        df = spark.createDataFrame(rows, "source string, token string")
        want = {
            (r["_g"], r["_bkt"], r["_r"])
            for r in portable_hll_registers(df, "source", "token").collect()
        }
        assert got == want and got

    def test_estimates_from_store_are_sane(self, spark, tmp_path_factory):
        """The store-side estimate lands within HLL error of truth."""
        from ursa_major_choir_etl_spark.operators.sketches import _hll_estimate_expr
        from ursa_major_choir_etl_spark.streaming import jobs

        src = str(tmp_path_factory.mktemp("hll_src2"))
        wh = str(tmp_path_factory.mktemp("hll_wh2"))
        rows = [("a", f"v{i}") for i in range(2000)] * 2  # dups no-op
        self._write_src(spark, src, rows)
        stream = (
            spark.readStream.schema("source string, token string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        jobs.streaming_hll_register_sink(
            stream, wh, "regs"
        ).awaitTermination(180)
        term = F.expr("CAST(shiftleft(1L, 57 - r) AS DECIMAL(38,0))")
        est = {
            r["grp"]: r["est"]
            for r in jobs.read_hll_register_store(spark, wh, "regs")
            .groupBy("grp")
            .agg(F.sum(term).alias("_ssum"), F.count(F.lit(1)).alias("_nbk"))
            .select("grp", F.expr(_hll_estimate_expr()).alias("est"))
            .collect()
        }
        assert abs(est["a"] - 2000) < 2000 * 0.2

    def test_missing_store_reads_empty(self, spark, tmp_path_factory):
        from ursa_major_choir_etl_spark.streaming import jobs

        wh = str(tmp_path_factory.mktemp("hll_wh3"))
        assert (
            jobs.read_hll_register_store(spark, wh, "nope").count() == 0
        )
