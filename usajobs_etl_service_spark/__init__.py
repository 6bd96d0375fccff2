"""usajobs_etl_service_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first rebuild of the capabilities of the reference
ETL service (mickyansLK/usajobs-etl-service): a nested-JSON -> relational
batch pipeline with an upsert sink and an aggregate/view query surface,
plus the LLM-training-data operators (dedup, similarity search, text
analysis, multimodal plumbing) the reference does not ship, all designed
for 100 TB scale on a real cluster.

Layout
------
- ``session``    : SparkSession factory (UTC, AQE, Arrow on)
- ``schemas``    : explicit StructTypes (API document, job_postings)
- ``functions``  : scalar Column-expression libraries (transforms, text, vectors)
- ``sources``    : paginated REST reader, JSON ingest/flatten
- ``sinks``      : join-based upsert/merge writer, snapshot export
- ``operators``  : dedup (exact/near), stats, top-k, similarity search
- ``plans``      : SQL view layer (recent_job_postings, job_statistics)
"""

__version__ = "0.1.0"
