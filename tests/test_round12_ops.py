"""Round-12 additions: BM25 panel retrieval (q284), chi-square
independence (q285), integer HITS (q286), and the streaming
presence-store query (q283). Each new statistic is replicated by an
INDEPENDENT pure-python reference on sf0.001 — the oracle certifies
cross-engine SQL equality, these certify the math itself."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _docs_rows():
    return duckdb.sql(
        f"SELECT doc_id, lower(text) AS text, lang, source"
        f" FROM read_parquet('{SF}/documents.parquet')"
    ).fetchall()


class TestQ284Bm25:
    @pytest.fixture(scope="class")
    def result(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import QUERIES

        return QUERIES["q284_bm25_panel"](spark, SF).collect()

    def test_matches_pure_python_bm25(self, result):
        import re
        from collections import Counter

        tf: dict[tuple[int, str], int] = {}
        dl: dict[int, int] = {}
        df: Counter = Counter()
        for doc_id, text, _, _ in _docs_rows():
            toks = re.findall(r"[a-z]+", text or "")
            dl[doc_id] = len(toks)
            for term, k in Counter(toks).items():
                tf[(doc_id, term)] = k
                df[term] += 1
        top = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
        panel = {}  # term -> (query_id, df)
        for i, (term, d) in enumerate(top):
            panel[term] = (i // 2 + 1, d)
        tt = sum(v for v in dl.values())
        dd = sum(1 for v in dl.values() if v > 0)
        scores: dict[tuple[int, int], list[int]] = {}
        for (doc_id, term), k in tf.items():
            if term not in panel:
                continue
            qid, d = panel[term]
            s = (1_000_000 // d) * k * 22 * tt // (
                10 * k * tt + 3 * tt + 9 * dl[doc_id] * dd
            )
            scores.setdefault((qid, doc_id), []).append(s)
        want = set()
        by_q: dict[int, list] = {}
        for (qid, doc_id), parts in scores.items():
            by_q.setdefault(qid, []).append(
                (-sum(parts), doc_id, len(parts))
            )
        for qid, rows in by_q.items():
            for rank, (neg, doc_id, hits) in enumerate(
                sorted(rows)[:3], start=1
            ):
                want.add((qid, rank, doc_id, hits, -neg))
        got = {
            (
                r["query_id"],
                r["rank"],
                r["doc_id"],
                r["n_terms_hit"],
                r["score"],
            )
            for r in result
        }
        assert got == want and got

    def test_shape(self, result):
        by_q: dict[int, list[int]] = {}
        for r in result:
            assert r["n_terms_hit"] in (1, 2)
            assert r["score"] >= 0
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        for qid, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid


class TestQ285Chi2:
    def test_matches_pure_python_chi2(self, spark):
        from collections import Counter

        from ursa_major_choir_etl_spark.plans.queries import QUERIES

        cells: Counter = Counter()
        for _, _, lang, source in _docs_rows():
            cells[(lang, source)] += 1
        langs = sorted({k[0] for k in cells})
        sources = sorted({k[1] for k in cells})
        n = sum(cells.values())
        r = {
            lg: sum(v for (a, _), v in cells.items() if a == lg)
            for lg in langs
        }
        c = {
            s: sum(v for (_, b), v in cells.items() if b == s)
            for s in sources
        }
        chi2 = 0
        for lg in langs:
            for s in sources:
                o = cells.get((lg, s), 0)
                d = o * n - r[lg] * c[s]
                chi2 += d * d * 1_000_000 // (r[lg] * c[s] * n)
        row = QUERIES["q285_chi2_independence"](spark, SF).collect()[0]
        assert row["n_docs"] == n
        assert row["n_langs"] == len(langs)
        assert row["n_sources"] == len(sources)
        assert row["dof"] == (len(langs) - 1) * (len(sources) - 1)
        assert row["chi2_micro"] == chi2


class TestQ286Hits:
    def test_matches_pure_python_hits(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import QUERIES

        edges = set(
            duckdb.sql(
                f"""SELECT DISTINCT o_custkey, l_partkey
                FROM read_parquet('{SF}/lineitem.parquet') l
                JOIN read_parquet('{SF}/orders.parquet') o
                  ON l.l_orderkey = o.o_orderkey"""
            ).fetchall()
        )
        h = {cu: 1_000_000 for cu, _ in edges}
        ar: dict[int, int] = {}
        for _ in range(3):
            ar = {}
            for cu, p in edges:
                ar[p] = ar.get(p, 0) + h[cu]
            hr: dict[int, int] = {}
            for cu, p in edges:
                hr[cu] = hr.get(cu, 0) + ar[p]
            hm = max(hr.values())
            h = {cu: v * 1_000_000 // hm for cu, v in hr.items()}
        am = max(ar.values())
        a = {p: v * 1_000_000 // am for p, v in ar.items()}
        want = set()
        for node, score in sorted(
            a.items(), key=lambda kv: (-kv[1], kv[0])
        )[:10]:
            want.add(("authority", node, score))
        for node, score in sorted(
            h.items(), key=lambda kv: (-kv[1], kv[0])
        )[:10]:
            want.add(("hub", node, score))
        got = {
            (r["side"], r["node_id"], r["score"])
            for r in QUERIES["q286_hits_purchase_graph"](
                spark, SF
            ).collect()
        }
        assert got == want and len(got) == 20

    def test_normalized_max_is_million(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import QUERIES

        rows = QUERIES["q286_hits_purchase_graph"](spark, SF).collect()
        tops = {r["side"]: [] for r in rows}
        for r in rows:
            tops[r["side"]].append(r["score"])
        assert max(tops["authority"]) == 1_000_000
        assert max(tops["hub"]) == 1_000_000

    def test_empty_edge_list_degrades_to_empty_frames(self, spark):
        """ADVICE r12: max over zero groups is NULL; the old code
        crashed on int(None) (and a zero max would break the DIV).
        Contract now matches salsa_integer: empty in, empty out,
        with the (node, score) schema intact."""
        from ursa_major_choir_etl_spark.operators.graph import (
            hits_integer,
            salsa_integer,
        )

        edges = spark.createDataFrame([], "src int, dst int")
        for fn in (hits_integer, salsa_integer):
            a, h = fn(edges, iters=2)
            assert a.count() == 0 and h.count() == 0
            assert [f.name for f in a.schema] == ["dst", "a"]
            assert [f.name for f in h.schema] == ["src", "h"]
            assert a.schema["a"].dataType.simpleString() == "bigint"
            assert h.schema["h"].dataType.simpleString() == "bigint"


class TestQ288Salsa:
    def test_matches_pure_python_salsa(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import QUERIES

        edges = set(
            duckdb.sql(
                f"""SELECT DISTINCT o_custkey, l_partkey
                FROM read_parquet('{SF}/lineitem.parquet') l
                JOIN read_parquet('{SF}/orders.parquet') o
                  ON l.l_orderkey = o.o_orderkey"""
            ).fetchall()
        )
        dc: dict[int, int] = {}
        dp: dict[int, int] = {}
        for cu, p in edges:
            dc[cu] = dc.get(cu, 0) + 1
            dp[p] = dp.get(p, 0) + 1
        h = {cu: 1_000_000 for cu in dc}
        a: dict[int, int] = {}
        for _ in range(3):
            a = {}
            for cu, p in edges:
                a[p] = a.get(p, 0) + h[cu] // dc[cu]
            h = {}
            for cu, p in edges:
                h[cu] = h.get(cu, 0) + a[p] // dp[p]
        want = set()
        for node, score in sorted(
            a.items(), key=lambda kv: (-kv[1], kv[0])
        )[:10]:
            want.add(("authority", node, score))
        for node, score in sorted(
            h.items(), key=lambda kv: (-kv[1], kv[0])
        )[:10]:
            want.add(("hub", node, score))
        got = {
            (r["side"], r["node_id"], r["score"])
            for r in QUERIES["q288_salsa_purchase_graph"](
                spark, SF
            ).collect()
        }
        assert got == want and len(got) == 20

    def test_mass_is_conserved_within_truncation_dust(self, spark):
        """SALSA's defining property (and why it needs no global
        barrier): each half-step only redistributes score, so the
        total never grows and shrinks only by the per-edge DIV
        truncation dust (< 1 per edge per half-step)."""
        from ursa_major_choir_etl_spark.operators.graph import (
            salsa_integer,
        )

        edges = spark.createDataFrame(
            [(1, 10), (1, 11), (2, 10), (3, 12), (3, 10), (3, 11)],
            "src int, dst int",
        )
        a, h = salsa_integer(edges, iters=2)
        mass0 = 3 * 1_000_000
        mass_a = sum(r["a"] for r in a.collect())
        mass_h = sum(r["h"] for r in h.collect())
        for m in (mass_a, mass_h):
            assert m <= mass0
            assert m >= mass0 - 4 * 6 * 1  # half-steps x edges dust


class TestQ283PresenceStoreQuery:
    def test_report_fields_derive_from_bitmap(self, spark):
        from ursa_major_choir_etl_spark.plans.queries import QUERIES

        rows = QUERIES["q283_streaming_presence_store"](
            spark, SF
        ).collect()
        assert rows
        for r in rows:
            b = r["bitmap"]
            assert b > 0
            assert r["n_active_days"] == bin(b).count("1")
            assert r["first_day"] == (b & -b).bit_length() - 1
            assert r["last_day"] == b.bit_length() - 1
            assert 0 <= r["first_day"] <= r["last_day"] <= 62


def test_q284_plan_construction_triggers_no_job(spark):
    """ADVICE r12: the panel selection used a 20-row driver collect
    at plan-construction time, so explain-only callers (q284 is in
    tools/explain_plans.py HEADLINERS) executed real jobs. Round 13
    moved the panel into the plan as a post-LIMIT row_number —
    building and explaining q284 must now run ZERO Spark jobs.

    Scans take their schema from the parquet footer on the driver
    (sources.io.scan_parquet), so no footer-inference job runs; the
    probe builds the tokens_table artifact once before snapshotting,
    so the build's own jobs stay outside the measured group."""
    from ursa_major_choir_etl_spark.plans.queries import QUERIES, tokens_table

    tokens_table(spark, SF)  # build the artifact outside the probe
    spark.sparkContext.setJobGroup("q284-lazy-probe", "probe")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup("q284-lazy-probe"))
    try:
        df = QUERIES["q284_bm25_panel"](spark, SF)
        df._jdf.queryExecution().executedPlan().toString()
        after = set(tracker.getJobIdsForGroup("q284-lazy-probe"))
        assert after == before, after - before
    finally:
        spark.sparkContext.setJobGroup(None, None)
