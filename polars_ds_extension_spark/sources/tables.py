"""Parquet source registry for the synthetic TPC-H-ish test tables.

Columnar parquet scans get predicate pushdown + column pruning for free
as long as callers select/filter before wide transforms — every operator
in this repo takes DataFrames, so Catalyst prunes through them.

Schemas are memoized per process. Spark's schema inference for parquet
runs a job that reads the file footers, and catalog queries reload the
same tables many times, so `_table_schema` infers a path's schema once
and every later read passes it to `spark.read.schema(...)`: the read
still lists the files and plans a fresh scan, but runs no job. Only the
`StructType` is kept, never a DataFrame or a file index. An entry is
reused only while the path's file status is unchanged (modification
time, total length and file count, read through Hadoop's FileSystem, so
`file:`, `hdfs:` and `s3a:` paths take one code path); a file or
directory rewritten at the same path is inferred again and its entry
replaced.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# path -> (file-status signature, inferred schema); one entry per path
_SCHEMAS: dict[str, tuple[tuple[int, int, int] | None, StructType]] = {}


def _table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """Spark's inferred schema of `<sf_dir>/<name>.parquet`, memoized
    while the path's file status is unchanged."""
    # Parquet written as TIMESTAMP(NANOS) is rejected unless this
    # runtime-settable conf is on; inference then reads those columns as
    # long. Set it on every call (not only in session.py), so a
    # SparkSession built without session.get_spark reads with the conf
    # the memoized schema was inferred under.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    try:
        summary = fs.getContentSummary(hpath)
        sig = (fs.getFileStatus(hpath).getModificationTime(),
               summary.getLength(), summary.getFileCount())
    except Py4JJavaError:
        # a missing path: no memo, so Spark's read below raises its usual
        # PATH_NOT_FOUND error
        sig = None
    hit = _SCHEMAS.get(path)
    if sig is not None and hit is not None and hit[0] == sig:
        return hit[1]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (sig, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    schema = _table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(
        os.path.join(sf_dir, f"{name}.parquet"))
    # nanos timestamps surface as long when legacy.parquet.nanosAsLong is
    # on — normalize to a proper timestamp column.
    if name == "events" and isinstance(schema["ts"].dataType, LongType):
        # integer `div`, not float /: nanos ~1.7e18 exceed double's 53-bit
        # mantissa, so a float division is off by ±256ns → ±1µs after cast
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def load_csv(spark: SparkSession, path: str, schema: str | None = None,
             header: bool = True, **options) -> DataFrame:
    """CSV scan with an EXPLICIT schema when known — inferSchema costs a
    full extra pass over the data, which at scale doubles ingest."""
    r = spark.read.option("header", str(header).lower())
    if schema is not None:
        r = r.schema(schema)
    else:
        r = r.option("inferSchema", "true")
    for k, v in options.items():
        r = r.option(k, v)
    return r.csv(path)


def load_json(spark: SparkSession, path: str, schema: str | None = None,
              **options) -> DataFrame:
    """JSON-lines scan; same explicit-schema guidance as load_csv (schema
    inference reads everything once before the real scan)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    for k, v in options.items():
        r = r.option(k, v)
    return r.json(path)
