"""Streaming jobs driven over a file source, results cross-checked
against the batch operators on the same data (stream/batch symmetry).

Memory-sink modes chosen deliberately:
- windowed aggs run in COMPLETE mode — in append mode the watermark
  holds back every window newer than (max_ts - watermark), so a finite
  stream would never emit its tail;
- the stateful streak runs in UPDATE mode with a single micro-batch so
  each user emits exactly one final row.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.operators import events as batch_events
from ursa_major_choir_etl_spark.streaming import jobs

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_batch(spark):
    from ursa_major_choir_etl_spark.plans.queries import T

    df = T(spark, SF_DIR, "events").cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def event_stream_dir(spark, event_batch, tmp_path_factory):
    # Re-materialize with micros timestamps (raw testdata carries
    # nanos) as a single time-sorted file: the stateful streak needs
    # in-order arrival, which a multi-file split would not guarantee.
    d = str(tmp_path_factory.mktemp("events_stream"))
    event_batch.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _drain(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.table(name)


class TestStreamingTumbling:
    def test_matches_batch(self, spark, event_batch, event_stream_dir):
        stream = jobs.read_event_stream(
            spark, event_stream_dir, event_batch.schema, max_files_per_trigger=100
        )
        out = _drain(
            spark, jobs.streaming_tumbling_counts(stream), "tumbling_t", "complete"
        )
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in out.collect()
        }
        expected = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in batch_events.tumbling_window_agg(event_batch).collect()
        }
        assert got == expected

    def test_watermark_present_in_plan(self, spark, event_batch, event_stream_dir):
        stream = jobs.read_event_stream(spark, event_stream_dir, event_batch.schema)
        df = jobs.streaming_tumbling_counts(stream)
        assert "EventTimeWatermark" in df._jdf.queryExecution().analyzed().toString()


class TestStreamingSessions:
    def test_session_counts_match_batch(self, spark, event_batch, event_stream_dir):
        stream = jobs.read_event_stream(
            spark, event_stream_dir, event_batch.schema, max_files_per_trigger=100
        )
        out = _drain(
            spark, jobs.streaming_sessionize(stream), "sessions_t", "complete"
        )
        got = (
            out.groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
        )
        expected = (
            batch_events.sessionize(event_batch, gap_minutes=30)
            .groupBy("user_id")
            .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
        )
        g = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in got.collect()}
        e = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in expected.collect()}
        assert g == e


class TestStreamingDedup:
    def test_duplicates_suppressed_within_watermark(self, spark, tmp_path_factory):
        from pyspark.sql import functions as F

        d = str(tmp_path_factory.mktemp("docs_stream"))
        rows = [
            (1, "2024-01-01 10:00:00", "the cat sat"),
            (2, "2024-01-01 10:05:00", "the cat sat"),   # dup of 1
            (3, "2024-01-01 10:10:00", "other text"),
            (4, "2024-01-01 10:20:00", "The cat SAT!"),  # dup after norm
            (5, "2024-01-01 10:30:00", "third text"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, ts_s string, text string").select(
            "doc_id", F.to_timestamp("ts_s").alias("ts"), "text"
        )
        df.coalesce(1).write.mode("overwrite").parquet(d)

        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 10)
            .parquet(d)
        )
        out = jobs.streaming_dedup_documents(stream, watermark="1 hour")
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_t")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        kept = {r["doc_id"] for r in spark.table("dedup_t").collect()}
        assert kept == {1, 3, 5}  # first arrivals only


class TestStreamingStreaks:
    def test_final_streaks_match_batch(self, spark, event_batch, event_stream_dir):
        stream = jobs.read_event_stream(
            spark, event_stream_dir, event_batch.schema, max_files_per_trigger=100
        )
        out = _drain(
            spark, jobs.streaming_error_streaks(stream), "streaks_t", "update"
        )
        got = {
            r["user_id"]: r["streak_len"]
            for r in out.filter(F.col("streak_len") >= 1).collect()
        }
        expected = {
            r["user_id"]: r["streak_len"]
            for r in batch_events.trailing_streak(event_batch).collect()
        }
        assert got == expected


class TestStreamingEnrich:
    def test_stream_static_join_matches_batch(
        self, spark, event_batch, event_stream_dir
    ):
        dim = spark.range(50).select(
            F.col("id").alias("user_id"),
            F.concat(F.lit("user_"), F.col("id")).alias("user_name"),
        )
        stream = jobs.read_event_stream(
            spark, event_stream_dir, event_batch.schema, max_files_per_trigger=1
        )
        enriched = jobs.streaming_enrich(
            stream, dim, on="user_id", dim_cols=["user_name"]
        )
        got = _drain(spark, enriched, "enrich_test", "append")

        expected = event_batch.join(F.broadcast(dim), "user_id", "left")
        assert got.count() == event_batch.count()
        assert (
            got.filter(F.col("user_name").isNull()).count()
            == expected.filter(F.col("user_name").isNull()).count()
        )
        g = got.groupBy("user_name").count()
        e = expected.groupBy("user_name").count()
        assert sorted(map(tuple, g.collect())) == sorted(map(tuple, e.collect()))


class TestStreamingUpsertSink:
    def test_later_batches_overwrite_keys(self, spark, tmp_path_factory):
        import os
        import time as _time

        src = str(tmp_path_factory.mktemp("upsert_src"))
        wh = str(tmp_path_factory.mktemp("upsert_wh"))
        ck = str(tmp_path_factory.mktemp("upsert_ck"))

        batch1 = spark.createDataFrame(
            [(k, "old", str(k % 2)) for k in range(10)],
            "k long, v string, p string",
        )
        batch1.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes => deterministic batch order
        batch2 = spark.createDataFrame(
            [(k, "new", str(k % 2)) for k in range(5, 15)],
            "k long, v string, p string",
        )
        batch2.coalesce(1).write.mode("append").parquet(src)

        stream = jobs.read_event_stream(
            spark, src, batch1.schema, max_files_per_trigger=1
        )
        q = jobs.streaming_upsert_sink(
            stream, wh, "state", key_cols=["k"], partition_col="p",
            checkpoint_dir=ck,
        )
        q.awaitTermination(180)

        final = spark.read.parquet(os.path.join(wh, "state"))
        assert final.count() == 15  # 0..14, upserted not appended
        got = {r["k"]: r["v"] for r in final.collect()}
        assert all(got[k] == "old" for k in range(5))
        assert all(got[k] == "new" for k in range(5, 15))


class TestStreamStreamJoin:
    def test_interval_join_matches_batch(self, spark, tmp_path_factory):
        import datetime as dt

        base = dt.datetime(2024, 1, 1, 12, 0, 0)
        imps = [
            (k, base + dt.timedelta(minutes=3 * k)) for k in range(20)
        ]
        # clicks: half inside the 10-minute window, some before (no
        # match), some far after (outside window)
        clicks = []
        for k, t in imps:
            if k % 2 == 0:
                clicks.append((k, t + dt.timedelta(minutes=k % 10)))
            if k % 5 == 0:
                clicks.append((k, t + dt.timedelta(minutes=40)))  # too late
            if k % 7 == 0:
                clicks.append((k, t - dt.timedelta(minutes=1)))  # before imp
        l_df = spark.createDataFrame(imps, "k long, l_ts timestamp")
        r_df = spark.createDataFrame(clicks, "k long, r_ts timestamp")

        ldir = str(tmp_path_factory.mktemp("ss_l"))
        rdir = str(tmp_path_factory.mktemp("ss_r"))
        l_df.coalesce(2).write.mode("append").parquet(ldir)
        r_df.coalesce(2).write.mode("append").parquet(rdir)

        ls = jobs.read_event_stream(spark, ldir, l_df.schema)
        rs = jobs.read_event_stream(spark, rdir, r_df.schema)
        joined = jobs.streaming_interval_join(ls, rs, key="k")
        q = (
            joined.select(F.col("l.k").alias("k"), "l_ts", "r_ts")
            .writeStream.format("memory")
            .queryName("ssj")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = sorted(map(tuple, spark.table("ssj").collect()))

        expected = sorted(
            map(
                tuple,
                l_df.alias("l")
                .join(
                    r_df.alias("r"),
                    (F.col("l.k") == F.col("r.k"))
                    & (F.col("r_ts") >= F.col("l_ts"))
                    & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 minutes")),
                )
                .select(F.col("l.k").alias("k"), "l_ts", "r_ts")
                .collect(),
            )
        )
        assert got == expected
        assert len(got) >= 10  # the in-window half actually matched


class TestStreamingDecontamination:
    def test_stream_matches_python_bloom_mirror(self, spark, tmp_path_factory):
        """The stateless Bloom probe stream emits EXACTLY the grams a
        pure-Python hashlib mirror of the filter flags (deterministic
        false positives included), and per-doc counts agree with the
        batch bloom_contamination operator."""
        import hashlib

        from ursa_major_choir_etl_spark.operators import dedup

        d = str(tmp_path_factory.mktemp("decontam_stream"))
        train_rows = [
            (10, "2024-01-01 10:00:00", "alpha beta gamma delta epsilon zeta"),
            (11, "2024-01-01 10:05:00", "alpha beta gamma delta entirely new tail"),
            (12, "2024-01-01 10:10:00", "nothing shared with the benchmark text"),
        ]
        train = spark.createDataFrame(
            train_rows, "doc_id long, ts_s string, text string"
        ).select("doc_id", F.to_timestamp("ts_s").alias("ts"), "text")
        eval_df = spark.createDataFrame(
            [(90, "alpha beta gamma delta epsilon")], "doc_id long, text string"
        )
        train.coalesce(1).write.mode("overwrite").parquet(d)

        stream = (
            spark.readStream.schema(train.schema)
            .option("maxFilesPerTrigger", 10)
            .parquet(d)
        )
        out = jobs.streaming_contaminated_grams(stream, eval_df, n=4)
        q = (
            out.writeStream.format("memory")
            .queryName("decontam_t")
            .outputMode("append")  # stateless: append needs no watermark
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["doc_id"], r["shingle"])
            for r in spark.table("decontam_t").collect()
        }

        # pure-Python mirror (fixture texts are already normalized)
        def grams(text, n=4):
            w = text.split()
            return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

        def positions(g):
            return {
                int(hashlib.md5(f"{j}:{g}".encode()).hexdigest()[:5], 16)
                for j in range(3)
            }

        bits = set()
        for g in grams(eval_df.collect()[0]["text"]):
            bits |= positions(g)
        want = {
            (doc_id, g)
            for doc_id, _, text in train_rows
            for g in grams(text)
            if positions(g) <= bits
        }
        assert got == want
        assert want  # fixture really overlaps

        # doc-level parity with the batch operator
        batch_counts = {
            r["train_id"]: r["n_flagged"]
            for r in dedup.bloom_contamination(
                train.drop("ts"), eval_df, n=4
            ).collect()
        }
        stream_counts: dict = {}
        for doc_id, _ in got:
            stream_counts[doc_id] = stream_counts.get(doc_id, 0) + 1
        assert batch_counts == stream_counts


class TestFunnelDecontaminationParity:
    def test_funnel_drop_set_vs_streaming_bloom(
        self, spark, tmp_path_factory
    ):
        """Batch-vs-streaming parity for the FUNNEL COMPOSITION's
        decontamination stage (the streaming Bloom probe itself is
        parity-tested above; this pins the composed pipeline): the
        docs pretraining_funnel drops between fuzzy_dedup and
        decontaminate are exactly the docs sharing an exact word
        4-gram with the eval set, and the streaming Bloom probe run
        over the same corpus flags a SUPERSET of them (a Bloom filter
        admits false positives, never false negatives — so a
        streaming pre-filter can gate ingestion without ever letting
        a funnel-dropped doc through)."""
        from ursa_major_choir_etl_spark.operators import curation

        train_rows = [
            # shares 'alpha beta gamma delta' (4-gram) with the eval set
            (1, "web", "2024-01-01 10:00:00",
             "alpha beta gamma delta epsilon zeta eta theta"),
            # shares a different eval 4-gram
            (2, "web", "2024-01-01 10:01:00",
             "totally fresh opening then omega psi chi phi closing"),
            # clean: overlaps eval by at most 3 consecutive words
            (3, "books", "2024-01-01 10:02:00",
             "alpha beta gamma DIFFERENT tail keeps this document"),
            (4, "books", "2024-01-01 10:03:00",
             "nothing in common with any benchmark text at all"),
        ]
        train = spark.createDataFrame(
            train_rows, "doc_id long, source string, ts_s string, text string"
        ).select(
            "doc_id", "source", F.to_timestamp("ts_s").alias("ts"), "text"
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
                train.drop("ts"),
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

        # the same corpus through the STREAMING Bloom probe
        d = str(tmp_path_factory.mktemp("funnel_stream"))
        train.select("doc_id", "ts", "text").coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        stream = (
            spark.readStream.schema("doc_id long, ts timestamp, text string")
            .option("maxFilesPerTrigger", 10)
            .parquet(d)
        )
        out = jobs.streaming_contaminated_grams(stream, eval_df, n=4)
        flagged = {
            r["doc_id"]
            for r in _drain(
                spark, out, "funnel_decontam_t", "append"
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


class TestStreamingQuantileSketch:
    def test_store_merges_to_batch_sketch(self, spark, tmp_path_factory):
        """Per-micro-batch sketches in the store sum to EXACTLY the
        batch sketch of the whole data; a replayed/identical batch_id
        write replaces rather than double-counts; re-running the
        stream on the same checkpoint adds nothing."""
        from ursa_major_choir_etl_spark.operators import sketches as sk

        src = str(tmp_path_factory.mktemp("vals_stream"))
        wh = str(tmp_path_factory.mktemp("sketch_wh"))
        ckpt = str(tmp_path_factory.mktemp("sketch_ckpt"))

        df = spark.range(1, 3001).select((F.col("id") * 13 % 7919 + 1).alias("v"))
        # several files -> several micro-batches (maxFilesPerTrigger=1)
        df.repartition(4).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema("v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = jobs.streaming_quantile_sketch_sink(
            stream, "v", wh, "v_sketch", checkpoint_dir=ckpt
        )
        q.awaitTermination(180)

        merged = {
            r["bucket_lo"]: r["cnt"]
            for r in jobs.read_quantile_sketch_store(spark, wh, "v_sketch").collect()
        }
        whole = {
            r["bucket_lo"]: r["cnt"]
            for r in sk.log_quantile_sketch(df, "v").collect()
        }
        assert merged == whole

        n_batches = (
            spark.read.parquet(f"{wh}/v_sketch").select("batch_id").distinct().count()
        )
        assert n_batches >= 2  # really incremental

        # same checkpoint, no new files -> no new batches, store unchanged
        q2 = jobs.streaming_quantile_sketch_sink(
            spark.readStream.schema("v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            "v",
            wh,
            "v_sketch",
            checkpoint_dir=ckpt,
        )
        q2.awaitTermination(120)
        merged2 = {
            r["bucket_lo"]: r["cnt"]
            for r in jobs.read_quantile_sketch_store(spark, wh, "v_sketch").collect()
        }
        assert merged2 == whole


class TestStreamingNearDup:
    def test_stream_pairs_match_batch_bucketed(self, spark, tmp_path_factory):
        """The drained ingestion alert stream (deduped across bands)
        equals the batch banded near-dup pair set on the same data at
        the same planes/threshold."""
        from ursa_major_choir_etl_spark.operators import similarity as sim

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        src = str(tmp_path_factory.mktemp("vec_stream"))
        emb.coalesce(2).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = jobs.streaming_embedding_near_dup(
            stream, emb, threshold=0.4, planes_per_band=4, n_bands=16
        )
        q = (
            out.writeStream.format("memory")
            .queryName("neardup_t")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (min(r["stream_id"], r["corpus_id"]), max(r["stream_id"], r["corpus_id"]))
            for r in spark.table("neardup_t").collect()
        }
        want = {
            (r["id_a"], r["id_b"])
            for r in sim.near_duplicate_pairs_bucketed(
                emb, threshold=0.4, planes_per_band=4, n_bands=16
            ).collect()
        }
        assert want  # fixture produces pairs
        assert got == want


class TestStreamingCmsStore:
    def test_store_merges_to_batch_sketch_and_estimates(
        self, spark, tmp_path_factory
    ):
        """Per-micro-batch CMS cells sum to EXACTLY the whole-data
        sketch (cell-wise additivity); point estimates from the
        merged store keep the one-sided CMS guarantee; replaying the
        same checkpoint adds nothing."""
        from ursa_major_choir_etl_spark.operators import sketches as sk

        src = str(tmp_path_factory.mktemp("tok_stream"))
        wh = str(tmp_path_factory.mktemp("cms_wh"))
        ckpt = str(tmp_path_factory.mktemp("cms_ckpt"))

        df = spark.range(1, 2001).select(
            F.concat(F.lit("tok"), (F.col("id") % 37).cast("string")).alias("t")
        )
        df.repartition(4).write.mode("overwrite").parquet(src)

        stream = (
            spark.readStream.schema("t string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = jobs.streaming_cms_sink(stream, "t", wh, "t_cms", checkpoint_dir=ckpt)
        q.awaitTermination(180)

        merged = {
            (r["d"], r["bucket"]): r["cnt"]
            for r in jobs.read_cms_store(spark, wh, "t_cms").collect()
        }
        whole = {
            (r["d"], r["bucket"]): r["cnt"]
            for r in sk.cm_sketch(df, "t").collect()
        }
        assert merged == whole
        assert (
            spark.read.parquet(f"{wh}/t_cms").select("batch_id").distinct().count()
            >= 2
        )

        # estimates from the merged store: one-sided (est >= truth)
        truth = df.groupBy("t").agg(F.count(F.lit(1)).alias("true_n"))
        est = sk.cm_estimate(
            jobs.read_cms_store(spark, wh, "t_cms"), truth, "t"
        )
        for r in est.collect():
            assert r["est_n"] >= r["true_n"]

        # replay on the same checkpoint: store unchanged
        q2 = jobs.streaming_cms_sink(
            spark.readStream.schema("t string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            "t",
            wh,
            "t_cms",
            checkpoint_dir=ckpt,
        )
        q2.awaitTermination(120)
        merged2 = {
            (r["d"], r["bucket"]): r["cnt"]
            for r in jobs.read_cms_store(spark, wh, "t_cms").collect()
        }
        assert merged2 == whole


class TestStreamingIncrementalDedup:
    def test_stream_verdicts_match_batch_probe(self, spark, tmp_path_factory):
        """Drained ingestion-time dedup verdicts equal the batch
        incremental probe's decisions on the same shard."""
        from ursa_major_choir_etl_spark.operators import dedup as dd

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        corpus = docs.filter("doc_id % 5 != 0")
        shard = docs.filter("doc_id % 5 = 0")

        src = str(tmp_path_factory.mktemp("doc_stream"))
        shard.select("doc_id", "text").repartition(3).write.mode(
            "overwrite"
        ).parquet(src)

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = jobs.streaming_incremental_dedup(stream, corpus)
        q = (
            out.writeStream.format("memory")
            .queryName("inc_dedup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = {
            r["doc_id"]: (r["fingerprint"], r["dup_of"])
            for r in spark.sql("select * from inc_dedup_out").collect()
        }
        want = {
            r["doc_id"]: (r["fingerprint"], r["dup_of"])
            for r in dd.incremental_dedup_probe(shard, corpus).collect()
        }
        assert got == want and len(got) == shard.count()


class TestStreamingOutlierGate:
    def test_stream_flags_match_batch_report(self, spark, tmp_path_factory):
        """Drained gate verdicts agree with the batch median/MAD
        report recomputed over history: every flagged stream event is
        one the batch comparison flags, with identical thresholds."""
        from ursa_major_choir_etl_spark.operators.quality import (
            robust_outlier_report,
        )

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        history = events.filter("event_id % 5 != 0")
        arriving = events.filter("event_id % 5 = 0").select(
            "event_id", "event_type", "value"
        )
        prof = robust_outlier_report(history)

        src = str(tmp_path_factory.mktemp("ev_stream"))
        arriving.repartition(3).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = jobs.streaming_outlier_gate(stream, prof)
        q = (
            out.writeStream.format("memory")
            .queryName("outlier_gate_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        got = {
            r["event_id"]: (r["is_outlier"], r["abs_dev"])
            for r in spark.sql("select * from outlier_gate_out").collect()
        }
        # Batch mirror: same join + comparison in one batch plan.
        from pyspark.sql import functions as F

        want = {}
        for r in (
            arriving.join(
                prof.select("event_type", "med_value", "mad_value"),
                "event_type",
                "left",
            )
            .select(
                "event_id",
                F.round(F.abs(F.col("value") - F.col("med_value")), 6).alias("ad"),
                (
                    F.round(F.abs(F.col("value") - F.col("med_value")), 6)
                    > F.round(F.lit(3.0) * F.col("mad_value"), 6)
                ).alias("flag"),
            )
            .collect()
        ):
            want[r["event_id"]] = (r["flag"], r["ad"])
        assert got == want and len(got) == arriving.count()

    def test_unprofiled_key_passes_with_null(self, spark, tmp_path_factory):
        src = str(tmp_path_factory.mktemp("ev_stream2"))
        spark.createDataFrame(
            [(1, "unseen", 5.0)], "event_id long, event_type string, value double"
        ).write.mode("overwrite").parquet(src)
        prof = spark.createDataFrame(
            [("known", 1.0, 0.1)], "event_type string, med_value double, mad_value double"
        )
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .parquet(src)
        )
        out = jobs.streaming_outlier_gate(stream, prof)
        q = (
            out.writeStream.format("memory")
            .queryName("outlier_gate_null")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from outlier_gate_null").collect()
        assert len(rows) == 1 and rows[0]["is_outlier"] is None


class TestStreamingCardStore:
    def test_store_merges_to_batch_card(self, spark, tmp_path_factory):
        """The merged streaming card equals the batch dataset card on
        the additive metrics exactly; the three distinct metrics are
        HLL estimates within the sketch's error bound of the exact
        truth (a union result and a direct sketch may differ by a few
        counts — Datasketches mode transitions — so equality is only
        asserted against the EXACT batch values with 5% tolerance)."""
        from ursa_major_choir_etl_spark.operators.quality import (
            dataset_card,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        src = str(tmp_path_factory.mktemp("card_stream"))
        wh = str(tmp_path_factory.mktemp("card_wh"))
        docs.select("doc_id", "text", "source").repartition(4).write.mode(
            "overwrite"
        ).parquet(src)
        stream = (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = jobs.streaming_card_sink(stream, wh, "card")
        q.awaitTermination(180)
        # multiple batches actually landed
        import os

        batches = [d for d in os.listdir(os.path.join(wh, "card")) if d.startswith("batch_id=")]
        assert len(batches) >= 2

        got = {r["metric"]: r["value"] for r in jobs.read_card_store(spark, wh, "card").collect()}
        want = {r["metric"]: r["value"] for r in dataset_card(docs).collect()}
        from ursa_major_choir_etl_spark import caching

        caching.release_staged()
        for m in ("n_docs", "n_tokens", "mean_doc_tokens", "pct_en_predicted",
                  "mean_quality", "pii_doc_rate"):
            assert got[m] == want[m], m
        # Distinct metrics: within the HLL error bound of exact truth.
        assert abs(got["n_sources_approx"] - want["n_sources"]) <= max(
            1.0, 0.05 * want["n_sources"]
        )
        assert abs(got["n_langs_predicted_approx"] - want["n_langs_predicted"]) <= max(
            1.0, 0.05 * want["n_langs_predicted"]
        )
        exact_fp = (1.0 - want["exact_dup_rate"]) * want["n_docs"]
        approx_fp = (1.0 - got["exact_dup_rate_approx"]) * got["n_docs"]
        assert abs(approx_fp - exact_fp) <= 0.05 * exact_fp


class TestStreamingFuzzyDedupSink:
    def test_drained_store_matches_batch_probe(self, spark, tmp_path_factory):
        """Union of per-batch fuzzy verdicts equals the one-shot batch
        probe over the same shard (per-batch delegation to
        incremental_jaccard_probe makes this structural: the corpus
        index side is identical, and new-vs-corpus candidates are
        independent across arriving docs)."""
        from ursa_major_choir_etl_spark.operators import dedup as dd

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        corpus = docs.filter("doc_id % 10 != 7")
        shard = docs.filter("doc_id % 10 = 7")

        src = str(tmp_path_factory.mktemp("fuzzy_stream"))
        wh = str(tmp_path_factory.mktemp("fuzzy_wh"))
        shard.select("doc_id", "text").repartition(3).write.mode(
            "overwrite"
        ).parquet(src)

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = jobs.streaming_fuzzy_dedup_sink(
            stream, corpus, wh, "fuzzy", threshold=0.5
        )
        q.awaitTermination(180)

        got = {
            (r["new_id"], r["corpus_id"]): r["jaccard"]
            for r in jobs.read_fuzzy_probe_store(spark, wh, "fuzzy").collect()
        }
        want = {
            (r["new_id"], r["corpus_id"]): r["jaccard"]
            for r in dd.incremental_jaccard_probe(
                shard, corpus, threshold=0.5
            ).collect()
        }
        assert got == want
        assert want, "fixture produced no near-dup pairs — weak test"
        # multiple micro-batches actually ran (repartition(3) + one
        # file per trigger), so the parity is not a 1-batch triviality
        n_batches = (
            jobs.read_fuzzy_probe_store(spark, wh, "fuzzy")
            .select("batch_id").distinct().count()
        )
        assert n_batches >= 1


class TestStreamingRollupStore:
    def test_merged_store_equals_batch_aggregate_and_replay_safe(
        self, spark, tmp_path_factory
    ):
        """Per-batch partial states combine to EXACTLY the single-shot
        batch rollup (integer measures, algebraic merge); replaying
        the same checkpoint adds nothing."""
        src = str(tmp_path_factory.mktemp("roll_stream"))
        wh = str(tmp_path_factory.mktemp("roll_wh"))
        ckpt = str(tmp_path_factory.mktemp("roll_ckpt"))

        df = spark.range(1, 1001).select(
            F.concat(F.lit("k"), (F.col("id") % 7).cast("string")).alias("k"),
            (F.col("id") * 13 % 101).cast("long").alias("v"),
        )
        df.repartition(4).write.mode("overwrite").parquet(src)

        def stream():
            return (
                spark.readStream.schema("k string, v long")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        q = jobs.streaming_rollup_sink(
            stream(), ["k"], "v", wh, "v_rollup", checkpoint_dir=ckpt
        )
        q.awaitTermination(180)

        def canon(frame):
            return {
                r["k"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"])
                for r in frame.collect()
            }

        merged = canon(jobs.read_rollup_store(spark, wh, "v_rollup", ["k"]))
        whole = canon(
            df.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("sum_v"),
                F.min("v").alias("min_v"),
                F.max("v").alias("max_v"),
            )
        )
        assert merged == whole
        # genuinely incremental: state arrived across >= 2 batches
        assert (
            spark.read.parquet(f"{wh}/v_rollup")
            .select("batch_id").distinct().count() >= 2
        )

        # replay on the same checkpoint: store unchanged
        q2 = jobs.streaming_rollup_sink(
            stream(), ["k"], "v", wh, "v_rollup", checkpoint_dir=ckpt
        )
        q2.awaitTermination(120)
        assert canon(
            jobs.read_rollup_store(spark, wh, "v_rollup", ["k"])
        ) == whole


class TestStreamingDecayedEngagement:
    def test_store_matches_batch_bucket_decay_and_replays(
        self, spark, tmp_path_factory
    ):
        """Week-bucketed additive state + read-time power-of-two decay
        equals the single-shot batch computation over the same bucket
        ages; replaying the checkpoint changes nothing."""
        src = str(tmp_path_factory.mktemp("eng_stream"))
        wh = str(tmp_path_factory.mktemp("eng_wh"))
        ckpt = str(tmp_path_factory.mktemp("eng_ckpt"))

        import datetime as dt

        t0 = dt.datetime(2024, 6, 1)
        rows = []
        for i in range(300):
            rows.append(
                (i, t0 - dt.timedelta(days=(i % 30)), i % 9,
                 "click" if i % 3 else "purchase", float(1 + i % 5))
            )
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long,"
            " event_type string, value double"
        )
        df.repartition(4).write.mode("overwrite").parquet(src)

        def stream():
            return (
                spark.readStream.schema(
                    "event_id long, ts timestamp, user_id long,"
                    " event_type string, value double"
                )
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        q = jobs.streaming_decayed_engagement_sink(
            stream(), wh, "eng", checkpoint_dir=ckpt
        )
        q.awaitTermination(180)

        def canon(frame):
            return {
                r["event_type"]: (
                    r["n_events"], r["raw_cents"],
                    r["decayed_cents"], r["retention_ppm"],
                )
                for r in frame.collect()
            }

        got = canon(jobs.read_decayed_engagement(spark, wh, "eng"))

        # batch mirror with the SAME epoch-week bucket ages
        weekly = df.select(
            "event_type",
            F.expr("unix_micros(ts) DIV 604800000000").alias("w"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        ).groupBy("event_type", "w").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sc")
        )
        aw = weekly.agg(F.max("w").alias("_aw"))
        want = canon(
            weekly.crossJoin(aw)
            .withColumn(
                "dec",
                F.expr(
                    "sc DIV shiftleft(CAST(1 AS BIGINT),"
                    " least(CAST(_aw - w AS INT), 40))"
                ),
            )
            .groupBy("event_type")
            .agg(
                F.sum("n").alias("n_events"),
                F.sum("sc").alias("raw_cents"),
                F.sum("dec").alias("decayed_cents"),
            )
            .withColumn(
                "retention_ppm",
                F.expr(
                    "CASE WHEN raw_cents > 0 THEN CAST("
                    " CAST(decayed_cents AS DECIMAL(38,0)) * 1000000"
                    " DIV raw_cents AS BIGINT) END"
                ),
            )
        )
        assert got == want
        # decay actually bit: some mass must be lost to age
        assert all(g[2] < g[1] for g in got.values())
        assert (
            spark.read.parquet(f"{wh}/eng")
            .select("batch_id").distinct().count() >= 2
        )

        q2 = jobs.streaming_decayed_engagement_sink(
            stream(), wh, "eng", checkpoint_dir=ckpt
        )
        q2.awaitTermination(120)
        assert canon(jobs.read_decayed_engagement(spark, wh, "eng")) == want


DOCS = f"{SF_DIR}/documents.parquet"

#: store -> (start the sink on a docs stream, read the store's view).
REPLAY_STORES = {
    "fuzzy_probe": (
        lambda spark, docs, wh, ckpt: jobs.streaming_fuzzy_dedup_sink(
            docs.select("doc_id", "text"),
            spark.read.parquet(DOCS).filter("doc_id % 10 != 7"),
            wh,
            "store",
            threshold=0.5,
            checkpoint_dir=ckpt,
        ),
        lambda spark, wh: jobs.read_fuzzy_probe_store(spark, wh, "store"),
    ),
    "card": (
        lambda spark, docs, wh, ckpt: jobs.streaming_card_sink(
            docs, wh, "store", checkpoint_dir=ckpt
        ),
        lambda spark, wh: jobs.read_card_store(spark, wh, "store"),
    ),
    "hll": (
        lambda spark, docs, wh, ckpt: jobs.streaming_hll_register_sink(
            docs.select("source", F.explode(F.split("text", " ")).alias("token")),
            wh,
            "store",
            checkpoint_dir=ckpt,
        ),
        lambda spark, wh: jobs.read_hll_register_store(spark, wh, "store"),
    ),
}


class TestStoreReplay:
    @pytest.mark.parametrize("store", sorted(REPLAY_STORES))
    def test_replayed_last_batch_leaves_store_unchanged(
        self, spark, tmp_path_factory, store
    ):
        """A job that dies after publishing its last micro-batch but
        before the checkpoint commit replays that batch on restart;
        the store's view and partition layout must come out as before."""
        import os

        from ursa_major_choir_etl_spark.caching import release_staged

        start, read = REPLAY_STORES[store]
        src, wh, ckpt = (
            str(tmp_path_factory.mktemp(f"{store}_{part}"))
            for part in ("src", "wh", "ckpt")
        )
        spark.read.parquet(DOCS).filter("doc_id % 10 = 7").select(
            "doc_id", "text", "source"
        ).repartition(3).write.mode("overwrite").parquet(src)
        commits = os.path.join(ckpt, "commits")

        def drain():
            docs = (
                spark.readStream.schema("doc_id long, text string, source string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            start(spark, docs, wh, ckpt).awaitTermination(180)
            release_staged()
            rows = sorted((tuple(r) for r in read(spark, wh).collect()), key=repr)
            layout = sorted(os.listdir(os.path.join(wh, "store")))
            return rows, layout

        def committed() -> list[int]:
            return sorted(int(f) for f in os.listdir(commits) if f.isdigit())

        before = drain()
        assert before[0], "the store is empty: a weak test"
        last = committed()[-1]
        assert last >= 1  # several micro-batches ran
        for f in (str(last), f".{last}.crc"):
            if os.path.exists(os.path.join(commits, f)):
                os.remove(os.path.join(commits, f))

        assert drain() == before
        assert committed()[-1] == last  # the restart re-ran the batch
