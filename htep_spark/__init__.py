"""htep_spark — a PySpark-native clinical-text main-content extraction engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference HTEP platform (healthcare OCR/ICR text extraction), re-expressed
Spark-first: DataFrame plans over transcript tables, Arrow-vectorized pandas
UDFs for every per-turn operator, broadcast dictionaries, explicit
conv_id-hash partitioning over partial (map-side) aggregates, and a
per-partition checkpoint manifest for exact resume.

Layout:
    functions/   pure-Python operator kernels (shared by oracle and UDFs)
    operators/   Spark operators: extraction UDFs, column expressions,
                 dedup, similarity search, text analysis
    sources/     IO: parquet/Iceberg-style table access, transcript synthesis
    plans/       end-to-end pipeline plan + checkpoint/resume manifest
    streaming/   Structured Streaming variant of the pipeline
    reference.py the per-turn oracle (single source of truth)
"""

__version__ = "0.1.0"
