"""Round-10 registrations: the portable-hash split mode, the
spec-built synthetic BMP/WAV payloads behind the q255/q256 decode
value gates, and the q252/q253 registry contracts."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


class TestPortableHashSplit:
    def test_matches_python_md5_nibble_arithmetic(self, spark):
        """The portable bucket must be exactly the first-5-nibble md5
        integer the oracle computes — cross-checked against hashlib,
        not against another SQL engine."""
        from ursa_major_choir_etl_spark.operators.sampling import (
            split_train_eval_cluster_pure,
        )

        docs = spark.createDataFrame(
            [(i,) for i in range(300)], "doc_id long"
        )
        labels = spark.createDataFrame([], "node long, component long")
        ef, seed = 0.25, 9
        train, ev = split_train_eval_cluster_pure(
            docs, labels, eval_fraction=ef, seed=seed, portable_hash=True
        )
        got_eval = {r["doc_id"] for r in ev.collect()}
        thresh = int(ef * 16**5)
        want_eval = {
            i
            for i in range(300)
            if int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:5], 16)
            < thresh
        }
        assert got_eval == want_eval
        assert train.count() + len(got_eval) == 300

    def test_portable_mode_is_cluster_pure(self, spark):
        from ursa_major_choir_etl_spark.operators.sampling import (
            split_train_eval_cluster_pure,
        )

        docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
        labels = spark.createDataFrame(
            [(i, i - i % 4) for i in range(100)], "node long, component long"
        )
        _, ev = split_train_eval_cluster_pure(
            docs, labels, eval_fraction=0.4, portable_hash=True
        )
        ev_ids = {r["doc_id"] for r in ev.collect()}
        for base in range(0, 100, 4):
            sides = {(base + k) in ev_ids for k in range(4)}
            assert len(sides) == 1, base  # whole cluster on one side


class TestSynthBlobs:
    def test_wrapper_schema_and_determinism(self, spark):
        from ursa_major_choir_etl_spark.operators import multimodal as m

        df = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
        for kind in ("bmp", "wav"):
            out = m.with_synth_blob(df, kind)
            assert out.columns == ["doc_id", "blob"]
            rows = {r["doc_id"]: bytes(r["blob"]) for r in out.collect()}
            assert len(rows) == 40
            builder = (
                m.synth_bmp_blob if kind == "bmp" else m.synth_wav_blob
            )
            for d, blob in rows.items():
                assert blob == builder(d), (kind, d)

    def test_invalid_slices_hit_the_degrade_path(self, spark):
        from ursa_major_choir_etl_spark.operators import multimodal as m

        df = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
        bmp = m.decode_bmp_stats(m.with_synth_blob(df, "bmp")).collect()
        assert {r["doc_id"] % 10 for r in bmp if not r["valid"]} == {3}
        for r in bmp:
            if not r["valid"]:
                assert r["width"] is None and r["mean_r"] is None
        wav = m.decode_wav_features(m.with_synth_blob(df, "wav")).collect()
        assert {r["doc_id"] % 10 for r in wav if not r["valid"]} == {7}

    def test_topdown_and_32bpp_decode_to_same_closed_form(self, spark):
        """doc_id 21 is top-down 24bpp; doc_id 30 is bottom-up 32bpp —
        both must decode to the SAME closed-form channel means the
        oracle computes (orientation-invariant means, alpha dropped)."""
        from ursa_major_choir_etl_spark.operators import multimodal as m

        df = spark.createDataFrame([(21,), (30,)], "doc_id long")
        rows = {
            r["doc_id"]: r
            for r in m.decode_bmp_stats(m.with_synth_blob(df, "bmp")).collect()
        }
        for d, r in rows.items():
            w, h = 1 + d % 7, 1 + d % 5
            assert (r["width"], r["height"]) == (w, h)
            assert r["bpp"] == (32 if d % 3 == 0 else 24)
            for c, ch in enumerate("bgr"):
                want = sum(
                    (d * 7 + y * 11 + x * 13 + c * 17) % 256
                    for y in range(h)
                    for x in range(w)
                ) / (w * h)
                assert r[f"mean_{ch}"] == want, (d, ch)


class TestRound10Registry:
    def test_new_queries_registered_behind_the_window(self, spark):
        """Round-16 ordering contract: the round-15 window
        (q138-q187) was graded in round 15
        (CORRECTNESS_r15.json), so the head is now the stalest-50 SET
        — q188-q236 (the rest of the round-10 band) plus the q10 wrap
        slot — in ascending q-number order."""
        from ursa_major_choir_etl_spark.plans.queries import ORACLES, QUERIES

        ks = list(QUERIES)
        assert len(ks) >= 299
        qnum = lambda k: int(k[1 : k.index("_")])  # noqa: E731
        head = [k for k in ks if 188 <= qnum(k) <= 236 or qnum(k) == 10]
        assert len(head) == 50
        assert ks[:50] == sorted(head, key=qnum)
        assert [k[:5] for k in ks[:3]] == ["q10_o", "q188_", "q189_"]
        for q in ("q252_", "q253_", "q254_", "q255_", "q256_", "q257_",
                  "q258_", "q259_", "q260_", "q261_", "q262_", "q263_",
                  "q264_", "q265_", "q266_", "q267_", "q268_", "q269_",
                  "q270_", "q271_", "q272_", "q273_", "q274_", "q275_",
                  "q276_", "q277_", "q278_", "q279_", "q280_",
                  "q281_", "q282_"):
            key = next(k for k in ks if k.startswith(q))
            assert ORACLES[key]  # full value oracle, not rows-only

    def test_q252_split_is_nondegenerate_and_q253_removes(self, spark):
        from ursa_major_choir_etl_spark.plans import queries as Q

        sf = "/root/testdata/sf0.001"
        pairs = Q.jaccard_pairs_table(spark, sf)
        par = (F.col("id_a") + F.col("id_b")) % 2
        assert pairs.filter(par == 0).count() > 0
        assert pairs.filter(par == 1).count() > 0
        d = Q.q253_intra_doc_dedup(spark, sf)
        assert d.filter("n_removed > 0").count() > 0
        assert d.filter("n_removed >= n_paragraphs").count() == 0
