"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (q01 pricing summary) at sf0.001.
- ``queries()``: every implemented operator family from SURVEY.md §2
  plus the LLM-pipeline extensions, as (spark, sf_dir) -> DataFrame.
- ``oracle_sql()``: DuckDB SQL recomputing each query bit-for-bit —
  ALL 299 entries as of round 14, no omissions/rows-only.

Registry order: the first 50 entries are the driver's grading window,
rotated each round to the 50 stalest queries under the (_staleness,
q-number) ordering in plans/queries.py (round 16: q188–q236, the rest
of the round-10 band — the oldest surviving graded rows — plus the q10
wrap slot). Import-time asserts plus test pins fail loudly on a
half-done rotation.

Per-round additions (all value-oracled from birth; several with
deliberately INDEPENDENT oracle-side derivations — hex-cast vs instr
arithmetic, 0b-literal vs conv, arithmetic vs shift-builder Morton —
so a shared expression bug cannot hide on both sides):

- r14: every remaining streaming sink value-gated end to end — q291
  CDC upsert store (seq-mode last-write-wins vs a from-raw log
  oracle), q292 count-min store (per-batch grids, additive merge),
  q293 rollup store (algebraic n/sum/min/max combine), q294 decayed
  engagement store (week-bucket additive state, read-time integer
  half-life), q295 fuzzy-dedup verdict store (per-batch probe vs the
  q138 batch oracle), q296 dataset-card store (exact additive
  metrics), q297 HLL register store (generation MAX-merge, register
  for register); plus the training-split pair — q298 deterministic
  80/10/10 hash-split manifest and q299 contamination-safe
  family-level splitting with a naive-leak exposure report.
- r13: q289 streaming CC-label store (multi-batch incremental merge
  vs the from-raw recursive closure), q290 streaming quantile-sketch
  store (batch_id-keyed additive merge vs the one-shot log-histogram).
- r12: q283 streaming presence store (OR-merge generation store under
  a full value hash), q284 BM25 panel retrieval over the token-corpus
  artifact, q285 chi-square independence, q286/q288 integer HITS and
  barrier-free SALSA, q287 REAL FLAC decode with CRC-8/CRC-16/MD5-
  verified reconstruction.
- r11: survival/calibration/agreement/rank-statistics families
  (q263–q282).
- r10: round-9 families as value-gated queries (q252 incremental CC
  merge, q253 intra-doc segment dedup, q254 cluster-pure splits) plus
  REAL multimodal codecs with closed-form oracles (q255 BMP, q256 WAV
  PCM, q257 baseline JPEG, q258 PNG, q259 dhash, q260 thumbnail
  transcode chain, q261 audio fingerprint, q262 image near-dup).
- r8/9: q137 end-to-end pretraining funnel over the materialized
  candidate-pair artifact (eight stages; chained recursive-CTE
  oracle) and the q138–q186 curation/statistics band.
- r6/7: q101–q136 (Bloom decontamination, semantic dedup, weighted
  sampling, quantile sketch, duplicate spans, n-gram novelty, SimHash
  pairs, Z-order, boilerplate, containment, incremental dedup,
  curriculum bins, surprisal scoring, consensus dedup, domain quotas,
  BPE learn/compress, shard sizing, soft dedup, entropy, cluster
  representatives, outliers, triangles, mixture/funnel planning, ANN
  recall, PQ recall, span corruption + FIM, dataset card, holdout,
  drift). Formerly rows-only entries are value-oracled: q24/q76 via
  deterministic md5-derived integer LSH planes, q30 via full-SQL
  RNG-free geometric IVF, q85 via a hex-nibble stub-embedding
  histogram. Iterative ops (q90 k-means, q93 PageRank, q55/q77
  connected components) are integer-deterministic with chained-CTE /
  recursive oracles.

See ursa_major_choir_etl_spark/plans/queries.py for the registry and
the SURVEY §2 coverage map.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ursa_major_choir_etl_spark.plans.queries import q01_pricing_summary

    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from ursa_major_choir_etl_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from ursa_major_choir_etl_spark.plans.queries import ORACLES

    return {k: v for k, v in ORACLES.items() if v is not None}
