"""ursa_major_choir_etl_spark — a PySpark-native analytics engine.

A ground-up re-expression of the query/data-processing capabilities of
``risenroad/ursa-major-choir-etl`` (reference read-only at /root/reference)
as idiomatic Spark DataFrame/SQL transformations over Parquet, designed for
100 TB scale, plus the LLM-data-pipeline operator extensions (dedup,
similarity search, text analysis, multimodal plumbing).

Layout:
- ``session``     SparkSession factory with scale-ready defaults
- ``functions``   reusable Column functions (date parsing, flags, names)
- ``sources``     ingest (wide-sheet with stable row ids) + parquet IO
- ``operators``   dims / facts / marts / analytics / dedup / similarity /
                  text / events — all pure DataFrame -> DataFrame
- ``plans``       pipeline orchestration + audit log
- ``streaming``   Structured Streaming store sinks and ingestion gates
"""

__version__ = "0.1.0"
