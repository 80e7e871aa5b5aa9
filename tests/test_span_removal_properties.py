"""Round-8 hardening (round-7 verdict item 7): the q105 duplicate-span
detector's output contract and a heavy-skew fixture for semantic_dedup.

``duplicate_spans`` documents its spans as "sorted, non-overlapping,
in-bounds" per document; an end-to-end test runs the real q105
detector over the sf0.1 documents corpus and asserts the emitted spans
satisfy exactly that (per-doc sorted, disjoint and non-adjacent,
in-bounds).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from ursa_major_choir_etl_spark.operators import dedup, similarity


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.1"), reason="sf0.1 absent"
)
class TestDetectorSpanContract:
    def test_q105_spans_obey_contract(self, spark):
        docs = spark.read.parquet(
            "/root/testdata/sf0.1/documents.parquet"
        ).select("doc_id", "text")
        spans_df = dedup.duplicate_spans(docs, k=40, stride=1)
        spans = spans_df.collect()
        assert spans, "sf0.1 corpus contains no duplicated 40-gram?"
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}

        by_doc: dict[int, list[tuple[int, int]]] = {}
        for r in spans:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"])
            )
        for did, sp in by_doc.items():
            sp.sort()
            n = len(texts[did])
            prev_end = -1
            for s, e in sp:
                assert 0 <= s < e <= n, (did, s, e, n)
                assert s > prev_end, f"overlap/adjacency in doc {did}"
                prev_end = e


class TestSemanticDedupSkew:
    def test_one_cluster_holds_half_the_corpus(self, spark):
        """The docstring's skew caveat, exercised: cluster 0 holds 50%
        of all vectors (the giant-cluster case hierarchical splitting
        would relieve). The per-cluster GEMM must still return exactly
        the brute-force within-cluster decisions — correctness is
        unconditional; only the |c|^2 task cost grows."""
        rng = np.random.RandomState(7)
        n, dim = 240, 8
        vecs = rng.randint(-5, 6, size=(n, dim)).astype(float)
        vecs[vecs.sum(axis=1) == 0, 0] += 1  # no zero vectors
        # ids 0..119 -> cluster 0; rest spread over clusters 1..10
        cids = [0] * 120 + [1 + (i % 10) for i in range(n - 120)]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        assign = spark.createDataFrame(
            [(i, int(c)) for i, c in enumerate(cids)], "vec_id long, cid long"
        )
        got = {
            (r["cid"], r["drop_id"], r["keep_id"], r["n_dups"], r["max_sim"])
            for r in similarity.semantic_dedup(
                emb, assign, threshold=0.8
            ).collect()
        }

        norms = np.linalg.norm(vecs, axis=1)
        sims = np.round(
            (vecs @ vecs.T) / np.outer(norms, norms), 6
        )
        expect = set()
        for b in range(n):
            near = [
                a
                for a in range(n)
                if a < b and cids[a] == cids[b] and sims[a, b] >= 0.8
            ]
            if near:
                expect.add(
                    (
                        cids[b],
                        b,
                        min(near),
                        len(near),
                        round(float(max(sims[a, b] for a in near)), 6),
                    )
                )
        assert expect, "fixture produced no near-duplicates"
        assert got == expect
