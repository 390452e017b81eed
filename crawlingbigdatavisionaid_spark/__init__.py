"""crawlingbigdatavisionaid_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference crawl-analytics app (``nakzuwu/CrawlingBigDataVisionAid``), rebuilt
idiomatically on Spark DataFrames / Spark SQL / Catalyst / Structured
Streaming, and extended with the LLM-data-pipeline operators (dedup,
similarity search, multimodal columns, text analysis) a 100 TB training-data
pipeline needs.

Layout
------
- ``session``     SparkSession factory tuned for the scale target (AQE on,
                  adaptive shuffle partitions, Arrow enabled).
- ``sources``     Parquet table loaders (column-pruned, filter-pushdown
                  friendly) — the analogue of the reference's MongoDB
                  find/projection reads (``app.py:26,75,86,137``).
- ``operators``   Relational operators: timeline gap-fill, distributions,
                  top-k, dedup (exact / anti-join / MinHash / SimHash /
                  n-gram Jaccard / embedding), event-time windows, star-
                  schema joins, similarity search.
- ``functions``   Column-level function libraries: text analytics
                  (tokenize, stopwords, quality, language-id, fingerprint),
                  vector math (cosine/dot via built-in higher-order
                  functions), JSON props extraction.
- ``extraction``  The crawl-side HTML field-extraction pipeline
                  (``crawl.py:42-111``) as Arrow UDFs over stdlib
                  html.parser (no network in tests).
- ``streaming``   Structured Streaming forms of the batch operators:
                  micro-batch ingestion (``crawl.py:155-162`` →
                  ``trigger(availableNow=True)``), watermarked windowed
                  aggregation, streaming dedup.
- ``multimodal``  Opaque binary columns + typed metadata and the
                  ``mapInArrow`` decode/feature plumbing: dependency-free
                  PNM image, PCM WAV audio and Y4M video decoders.
- ``plans``       The query registry: every operator exposed as a named
                  (spark_fn, oracle_sql) pair consumed by
                  ``__spark_entry__.py``.
"""

__version__ = "0.1.0"
