"""lance_trino_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the lance-format/lance-trino connector.

Architecture (see SURVEY.md): the reference is a *storage connector* for the
Lance columnar table format plugged into Trino's SQL engine. This package is
the Spark-native equivalent:

- ``format/``   — a versioned, fragment-based, merge-on-read columnar table
                  format ("Lance-semantics on Parquet"): manifests, atomic
                  version commits, deletion vectors, time travel, row
                  addresses. (SURVEY §1, §2A.A10-A13, A17)
- ``sources/``  — Spark read/write integration: the native fast-path reader
                  (Spark's vectorized parquet scan over live fragments), a
                  PySpark Python DataSource (``format("lance_fragments")``),
                  and a directory-namespace catalog. (§2A.A1, A14)
- ``plans/``    — scan planning: predicate pushdown translation with
                  conservative residuals, limit-aware fragment coalescing,
                  count(*)-from-manifest. (§2A.A4-A8)
- ``operators/``— DataFrame-level operators: MoR DELETE/UPDATE/MERGE (§2A.A13)
                  plus the large-scale training-data pipeline operators
                  (dedup, similarity search, text analysis, multimodal).
- ``functions/``— column-level helpers (vector math, hashing) built on
                  pyspark.sql.functions so they stay JVM-side.
- ``streaming/``— Structured Streaming sink committing fragments per
                  microbatch (an extension; the reference is batch-only).
- ``suite/``    — the query registry driving `__spark_entry__.py`: every
                  operator has a (spark_builder, duckdb_oracle_sql) pair.
"""

__version__ = "0.1.0"

from lance_trino_spark.zipimport_cache import install_zip_directory_cache

# Every PySpark worker that runs code of this package imports it first
# (the pickled DataSource, every mapInPandas/mapInArrow function), so this
# is where each worker's later calls stop re-reading pyspark.zip.
install_zip_directory_cache()
