"""spark-podcast-analytics — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference serverless podcast ETL
system (see SURVEY.md).  Everything is built on the DataFrame / SQL /
Structured Streaming stack so Catalyst + Tungsten own the physical
plan; Python UDFs appear only where semantics genuinely require them
(sentence tokenization, pluggable ML seams, multimodal decode stubs).

Layout:
    session     — tuned SparkSession factory
    schemas     — warehouse dimension + staging StructTypes
    sources     — table loaders, URL fetch seam
    functions   — scalar function library (dates, text, hashing, stats)
    operators   — relational operators (joins, windows, aggregates,
                  dedup, similarity, retrieval, selection, multimodal)
    plans       — the analytics query catalog (driver contract)
    pipeline    — the podcast ETL pipeline stages (batch)
    streaming   — Structured Streaming event-time and session windows
"""

__version__ = "0.1.0"
