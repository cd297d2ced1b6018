"""Table catalog over the driver's parquet test datasets.

The reference reads its lookup table eagerly and once
(``src/spark_pgsql/spark_streaming.py:73-75``); here every table is a
lazy parquet scan so Catalyst can push filters/column pruning into
the file source. At cluster scale the same API fronts a metastore
or Delta/Iceberg catalog — callers never hard-code paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table. Predicate pushdown + column
    pruning reach the footer reader via Catalyst (verify with
    ``df.explain`` → PushedFilters / ReadSchema)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Timestamp semantics must match the DuckDB oracle (naive UTC)
    # regardless of the calling session's environment; the driver uses
    # its own un-tuned SparkSession, so pin it here.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark rejects by
        # default. Read nanos as long, then truncate ns→µs exactly the
        # way Spark ≤3.x did implicitly. (Runtime-settable conf.)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / F.lit(1000)).cast("long"))
            )
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def scale_out(df: DataFrame, multiple: int = 1) -> DataFrame:
    """Widen a DataFrame to the session's core count before CPU-heavy
    per-row projections (tokenize / n-gram / shingle / hash).

    A single-row-group parquet file scans as ONE task, serializing
    whatever projection sits on top of it (measured: trigram explode
    over a 1-partition 5k-doc table 8.0s vs 2.2s after repartition to
    32). The shuffle moved is the raw input rows — cheap relative to
    the projection it parallelizes. On production inputs with at least
    one split per core this is a no-op: no shuffle is inserted.

    Width probes deliberately avoid ``df.rdd`` (which forces physical
    planning into RDDs and does not exist under Spark Connect):
    ``inputFiles()`` approximates the scan's split count for
    file-backed plans; for non-file plans (in-memory test frames) we
    insert the repartition — a few extra milliseconds on inputs that
    small, and never wrong.
    """
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism * multiple
    except Exception:  # Spark Connect: no SparkContext handle
        target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        target *= multiple
    try:
        n_splits = len(df.inputFiles())
    except Exception:
        n_splits = 0
    if n_splits >= target:
        return df
    return df.repartition(target)
