"""nhs_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark (DataFrame / Spark SQL) engine with the
query and data-processing capabilities of the reference NHS hospital
statistics pipeline (``SamanthaBurn/nhs-data-pipeline``), re-expressed
Spark-first: declarative logical plans optimized by Catalyst, shuffles
minimized, small lookups broadcast, and all hot-path expressions JVM-side.

Layout
------
- ``session``   : SparkSession factory (AQE on, Arrow on, sane shuffle sizing,
                  no per-call call-site capture)
- ``functions`` : scalar function library (fiscal calendar, date parsing,
                  null conventions, safe division, binned quantiles)
- ``ops``       : relational core — joins, unions, reshape, window fills,
                  NA-preserving aggregation (the SURVEY §2 operator surface)
- ``io``        : ingest (Excel/CSV with header-in-data detection, filename
                  metadata) and sinks (single-file CSV, parquet)
- ``orgchange`` : successor transitive closure + the org-change adjustment
                  composite transformer
- ``llm``       : large-scale training-data ops — dedup (exact/minhash/
                  simhash/jaccard), similarity search, text analysis,
                  multimodal column plumbing
- ``pipelines`` : declarative series builders replacing the reference's
                  interactive scripts
"""

__version__ = "0.1.0"
