"""medallion_data_lake_spark — a PySpark-native medallion data-lake engine.

A brand-new engine with the query and data-processing capabilities of the
reference medallion pipeline (dineth88/Medallion-Data-Lake, surveyed in
SURVEY.md), re-expressed Spark-first:

- declarative DataFrame/SQL plans (Catalyst/AQE do the optimization),
- bronze (raw JSON envelope) -> silver (conformed) -> gold (analytics)
  layers on columnar Parquet (Delta-ready: swap format strings),
- Structured Streaming for ingest/CDC instead of hand-rolled consumers,
- large-scale training-data operators (dedup, similarity search, text
  analysis, multimodal columns) designed for 100 TB partitioning.

Package map:
  session     SparkSession factory (AQE, Arrow, UTC, scale-aware configs)
  schemas     explicit StructTypes (no runtime inference at scale)
  catalog     layer-aware view registry over the lake + test star schema
  functions   shared column expressions (tiering, cosine, ...)
  operators   cleaning rules, gold builders, dedup/similarity/text/multimodal
  sources     batch readers, partitioned sinks, CDC upsert
  streaming   Structured Streaming jobs over the events stream
  plans       explain/plan-assertion helpers used by tests
  queries     the named query registry exported through __spark_entry__.py
"""

__version__ = "0.1.0"
