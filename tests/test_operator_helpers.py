"""Unit checks of small operator helpers that the query plans compose:
event streaks and as-of lookups, the count-table Count-Min build, the
vector arithmetic under the cosine kernels, and the text-quality and
PII column functions. Each is checked against a hand-computed answer
on a few rows."""

from __future__ import annotations

import math
from datetime import datetime

import numpy as np
from pyspark.sql import functions as F

from ursa_major_choir_etl_spark.operators import events, similarity, sketches, text

EVENTS_DDL = "event_id long, user_id long, ts timestamp, event_type string"


def _t(h, m=0):
    return datetime(2024, 1, 1, h, m)


class TestEvents:
    def test_trailing_streak_stops_at_first_other_event(self, spark):
        ev = spark.createDataFrame(
            [
                (1, 1, _t(1), "error"),
                (2, 1, _t(2), "click"),
                (3, 1, _t(3), "error"),
                (4, 1, _t(4), "error"),
                (5, 2, _t(1), "error"),
                (6, 2, _t(2), "error"),
                (7, 2, _t(3), "error"),
                (8, 3, _t(1), "error"),
                (9, 3, _t(2), "click"),  # latest is not an error: no streak
            ],
            EVENTS_DDL,
        )
        got = {
            r["user_id"]: r["streak_len"]
            for r in events.trailing_streak(ev).collect()
        }
        assert got == {1: 2, 2: 3}
        clicks = {
            r["user_id"]: r["streak_len"]
            for r in events.trailing_streak(ev, match_type="click").collect()
        }
        assert clicks == {3: 1}

    def test_asof_prior_event_takes_latest_at_or_before(self, spark):
        left = spark.createDataFrame(
            [
                (10, 1, _t(10), "view"),
                (11, 1, _t(8), "view"),  # before every right event
                (12, 2, _t(12), "view"),  # user has no right events
            ],
            EVENTS_DDL,
        )
        right = spark.createDataFrame(
            [
                (1, 1, _t(9), "buy"),
                (2, 1, _t(10), "buy"),  # same instant counts as prior
                (3, 1, _t(11), "buy"),
            ],
            EVENTS_DDL,
        )
        got = {
            r["event_id"]: (r["user_id"], r["prior_event_id"], r["prior_ts"])
            for r in events.asof_prior_event(left, right).collect()
        }
        assert got == {
            10: (1, 2, "2024-01-01 10:00:00"),
            11: (1, None, None),
            12: (2, None, None),
        }


class TestCountMinFromCounts:
    def test_matches_the_streaming_build(self, spark):
        values = ["a"] * 5 + ["b"] * 3 + ["c", "d", "e"] + ["f"] * 11
        stream = spark.createDataFrame([(v,) for v in values], "v string")
        counts = stream.groupBy("v").agg(F.count(F.lit(1)).alias("n"))

        def cells(df):
            return sorted(tuple(r) for r in df.select("d", "bucket", "cnt").collect())

        direct = cells(sketches.cm_sketch(stream, "v", depth=3, width=256))
        from_counts = cells(
            sketches.cm_sketch_from_counts(counts, "v", "n", depth=3, width=256)
        )
        assert from_counts == direct
        # every hash row accounts for every occurrence exactly once
        for d in range(3):
            assert sum(c for dd, _, c in from_counts if dd == d) == len(values)


class TestVectorArithmetic:
    def test_dot_l2_norm_and_cosine(self, spark):
        row = (
            spark.createDataFrame(
                [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>"
            )
            .select(
                similarity.dot(F.col("a"), F.col("b")).alias("dot"),
                similarity.l2_norm(F.col("a")).alias("na"),
                similarity.cosine(F.col("a"), F.col("b")).alias("cos"),
            )
            .first()
        )
        assert row["dot"] == 32.0
        assert row["na"] == math.sqrt(14.0)
        assert math.isclose(row["cos"], 32.0 / math.sqrt(14.0 * 77.0), rel_tol=1e-12)

    def test_quantize_micro_truncates_toward_zero(self):
        mat = np.array([[0.1234567, -0.1234567, 1.0, 2.5e-7, -2.5e-7]])
        got = similarity.quantize_micro(mat)
        assert got.dtype == np.int64
        assert got.tolist() == [[123456, -123456, 1_000_000, 0, 0]]


class TestTextColumns:
    def _one(self, spark, values, expr):
        df = spark.createDataFrame([(v,) for v in values], "t string")
        return [r["out"] for r in df.select(expr.alias("out")).collect()]

    def test_punct_ratio(self, spark):
        got = self._one(
            spark, ["a,b!", "", "héllo wörld", "___", "..."], text.punct_ratio("t")
        )
        # letters in any script, digits, "_" and whitespace are not punctuation
        assert got == [0.5, 0.0, 0.0, 0.0, 1.0]

    def test_stopword_ratio(self, spark):
        values = ["The cat and the hat", "", "cat"]
        assert self._one(spark, values, text.stopword_ratio("t")) == [0.6, 0.0, 0.0]
        custom = text.stopword_ratio("t", stopwords=["cat"])
        assert self._one(spark, values, custom) == [0.2, 0.0, 1.0]

    def test_pii_count_per_kind(self, spark):
        s = "mail bob@example.com or ann@x.org, call +1 (555) 123-4567, see https://x.org/a"
        df = spark.createDataFrame([(s,)], "t string")
        row = df.select(
            *[text.pii_count("t", k).alias(k) for k in ("url", "email", "phone")]
        ).first()
        assert (row["url"], row["email"], row["phone"]) == (1, 2, 1)

    def test_redact_pii_applies_url_then_email_then_phone(self, spark):
        values = [
            "mail bob@example.com, call +1 (555) 123-4567, see https://x.org/a",
            # the url swallows the address inside it: one redaction, not two
            "see https://a.io/x?u=bob@ex.com now",
            "no pii here, only 12 digits",
        ]
        assert self._one(spark, values, text.redact_pii("t")) == [
            "mail [PII], call [PII], see [PII]",
            "see [PII] now",
            "no pii here, only 12 digits",
        ]
        assert self._one(spark, values[1:2], text.redact_pii("t", "<x>")) == [
            "see <x> now"
        ]
