"""PySpark-native analytics engine with the query/data-processing
capabilities of ``gatopdimos/imdb-top-250-etl-pipeline``.

The reference (read-only at /root/reference/) is a single-script pandas →
Postgres ETL pipeline (webscraper-postgres.py:29-285).  This package
re-expresses everything it *computes* — extraction, cleaning, joining,
normalization, dedup, idempotent upsert — as lazy Spark DataFrame plans,
and extends the operator library with the large-scale training-data
operators (dedup, similarity search, text analysis, multimodal plumbing)
that a 100 TB pipeline needs.

Layout:
    session.py    SparkSession factory (AQE, UTC, Arrow, shuffle sizing)
    schemas.py    explicit StructTypes for every table (no inference)
    sources/      parquet catalog + write sinks (catalog.py, sink.py);
                  gated JDBC reader
    functions/    scalar expression library (cleaning casts, numerics)
    operators/    etl.py (extract/normalize/upsert), dedup.py (exact/
                  MinHash/SimHash/ngram), similarity.py (cosine top-k,
                  IVF, hyperplane LSH), text.py (counts/quality/lang-id/
                  fingerprints), multimodal.py (JSON props, embedding
                  features, binary decode), udfs.py (mapInPandas parse+
                  fetch, applyInPandas), sizing.py (every task count,
                  salt count and byte gate)
    plans/        named query registry (queries() + oracle_sql() twins)
    streaming/    Structured Streaming jobs (watermarked windows,
                  sessions, stateful dedup, foreachBatch merge)
"""

__version__ = "0.1.0"
