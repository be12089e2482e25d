"""Batch readers (reference operators S3/S4/S5, SURVEY.md §2.1).

The reference downloads S3 objects to /tmp and reads them with pandas
(s3_to_postgres.py:55-60); Spark reads object-store paths directly through
the Hadoop connectors, so the "download" operator disappears — a path is a
path (``s3a://...`` or local). The JSON and CSV readers take an explicit
schema: inferred schemas are a correctness hazard at scale (a single odd file
reshapes the table) and inference itself is an extra full scan. The parquet
reader uses the schema a table declares next to its data when it has one,
and falls back to Spark's footer inference when it does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..table_schema import read_schema


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType,
    multiline: bool = False,
) -> DataFrame:
    """JSON read with a declared schema (reference S3: json.load at
    etl_dag.py:80-81/221-222).

    Default is NDJSON: a multiline file is ONE non-splittable parse task,
    which is fine for a 1,474-station hourly payload and a scale-killer
    for anything bigger — so splittable is the default and the
    pretty-printed API-envelope readers opt in with ``multiline=True``.
    """
    return (
        spark.read.schema(schema)
        .option("multiLine", "true" if multiline else "false")
        .option("mode", "FAILFAST")
        .json(path)
    )


def read_json_lenient(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> tuple[DataFrame, DataFrame]:
    """PERMISSIVE NDJSON read with dead-letter capture: returns
    ``(good_rows, corrupt_rows)``.

    The strict reader (:func:`read_json`) fails the job on the first
    malformed record — right for the reference's single-envelope fetch,
    wrong for a billion-file crawl where 0.001% breakage is certain and
    one bad file must not kill a 1000-executor stage. PERMISSIVE mode
    NULLs the data columns and captures the raw line in
    ``_corrupt_record``; the split gives the caller the quarantine /
    dead-letter-queue shape (write bad rows aside, alert on their rate
    via observe(), continue). Both outputs are column-pruned lazy plans
    over ONE scan definition.

    Spark caveat baked in: referencing ``_corrupt_record`` requires
    caching or a filter on its nullity in the same plan — handled here so
    callers don't trip ``[UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD]``.
    """
    from pyspark.sql import functions as F

    with_corrupt = StructType(
        schema.fields + [StructField("_corrupt_record", StringType())]
    )
    raw = (
        spark.read.schema(with_corrupt)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        # provenance must be stamped at the SCAN (input_file_name() is
        # empty once rows come back out of the InMemoryRelation)
        .withColumn("source_file", F.input_file_name())
        .cache()
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record", "source_file"
    )
    bad = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_record"), "source_file"
    )
    return good, bad


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
) -> DataFrame:
    """CSV read with declared schema (reference S4: pd.read_csv at
    s3_to_postgres.py:60 relies on inference; we do not)."""
    return (
        spark.read.schema(schema)
        .option("header", "true" if header else "false")
        .option("mode", "FAILFAST")
        .csv(path)
    )


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan; column pruning and predicate pushdown reach the
    row-group level automatically.

    The data schema is the one the table declares in its ``_schema.json``
    (kept by :mod:`..sinks.writers`, see :mod:`..table_schema`), so Spark
    runs no schema-inference job; partition columns and their types still
    come from the directory names. A table without that file (not written
    through this package, or whose data schema drifted) is read as
    ``spark.read.parquet(path)``, with the schema inferred from a footer."""
    schema = read_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)
