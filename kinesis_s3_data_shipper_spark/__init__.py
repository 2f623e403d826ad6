"""kinesis_s3_data_shipper_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``jmountifield/kinesis-s3-data-shipper`` (a single-file
S3 → gunzip → split-concatenated-CloudWatch-JSON → flatten → enrich →
batched-HTTP shipper; see ``/root/reference/kinesis-to-humio.py``),
widened into a full relational + streaming + LLM-data-pipeline engine:

- ``sources``   — parquet table loaders, the raw shipper-file reader.
- ``functions`` — deterministic scalar/text/vector helpers (JVM built-ins
  first; decimal-safe aggregation so results are engine-reproducible).
- ``operators`` — composed DataFrame operators: as-of join, sessionize,
  dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
  search (brute-force cosine top-k, LSH-bucketed), multimodal plumbing.
- ``ingest``    — the reference pipeline, Spark-first: recursive gunzip,
  concatenated DATA_MESSAGE splitter (mapInPandas), from_json → explode
  → enrichment → tag derivation → batched sink.
- ``streaming`` — Structured Streaming variants (file source, watermark,
  windows, dropDuplicates, foreachBatch sink).
- ``plans``     — the query registry: every operator exposed as a named
  (spark_fn, oracle_sql) pair for the DuckDB correctness gate.

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

__version__ = "0.1.0"
