"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference ETL pipeline (littlerobinson/etl-dag-paris-velib),
re-expressed Spark-first, plus large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing).

Layout
------
- ``session``    SparkSession builder (Arrow, AQE, dynamic partition overwrite).
- ``schemas``    Explicit StructType schemas (never inferSchema in prod paths).
- ``sources``    Batch readers + the two reference ingestion pipelines
                 (Vélib GBFS station_status, OpenWeatherMap one-call).
- ``sinks``      Partitioned parquet table writes, CSV/JSON export, JDBC parity.
- ``table_schema`` The ``_schema.json`` a written parquet table keeps, so
                 reads skip Spark's schema-inference job.
- ``tablefs``    The driver's file operations on table and bronze files:
                 Python file I/O for a path without a scheme, the Hadoop
                 FileSystem API for any other.
- ``functions``  Scalar/text/vector column helpers (all JVM-side built-ins
                 or Arrow-vectorized pandas UDFs; no row-at-a-time Python).
- ``operators``  Dedup family, similarity search, as-of join, top-k,
                 text analysis, multimodal column plumbing.
- ``plans``      The declared analytical query surface (the driver-facing
                 registry is ``plans.REGISTRY``; ``__spark_entry__`` is a
                 thin view over it).
- ``streaming``  Structured Streaming ingestion: watermarked dedup,
                 tumbling/sliding/session windows.
"""

__version__ = "0.1.0"
