"""Table catalog over the harness parquet layout.

One parquet file per table under an sf dir (TESTDATA.md). At 100 TB the
same layout generalizes to partitioned parquet directories; callers only
ever see DataFrames, so swapping the physical layout (partitioned dirs,
bucketed tables, Iceberg) is contained here.

Table schemas are pinned per file identity. Without a schema,
``spark.read.parquet`` launches a footer-reading Spark job on every
call, i.e. on every ``load`` of every query build. ``load`` instead
infers a table's ``StructType`` once and reads with it afterwards. The
memo is keyed on the absolute path, the file's identity and the confs
that change Parquet schema inference, so any of these invalidates a
pinned schema:

- rewriting the table: a new inode, size or mtime for a file; for a
  directory, any change in the (name, size, mtime) of its entries;
- a different value of ``spark.sql.legacy.parquet.nanosAsLong``,
  ``spark.sql.parquet.binaryAsString``,
  ``spark.sql.parquet.int96AsTimestamp``,
  ``spark.sql.parquet.inferTimestampNTZ.enabled`` or
  ``spark.sql.parquet.mergeSchema``.

Only the schema is memoized, never the DataFrame: every ``load`` builds
a fresh relation with fresh attribute ids, so self-joins still resolve.
``row_count`` memoizes a table's row count on the same file identity.

The reference loads ``::``-delimited text with RDD lambdas and a
pandas round-trip (MovieLensRecommender.py:113-129); see
``sources/text.py`` for the DataFrame-native equivalent of that path.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables safely below any sane autoBroadcastJoinThreshold even
# at sf=100TB-ish scale factors (they grow sub-linearly or are fixed).
SMALL_DIMS = frozenset({"region", "nation", "supplier"})


# Confs whose value changes the schema Parquet inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMAS: dict[tuple, StructType] = {}
_ROW_COUNTS: dict[tuple, int] = {}


def path_for(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def _file_key(path: str) -> tuple | None:
    """(absolute path, identity) of a local file or directory, or None
    when it cannot be stat'ed (missing, or not a local path)."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
        if stat.S_ISDIR(st.st_mode):
            ident = tuple(sorted(
                (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                for e in os.scandir(path)))
        else:
            ident = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        return None
    return path, ident


def _read(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path), with the inferred schema pinned."""
    key = _file_key(path)
    if key is None:  # let Spark raise its own error for the path
        return spark.read.parquet(path)
    key += tuple(spark.conf.get(c) for c in _SCHEMA_CONFS)
    schema = _SCHEMAS.get(key)
    if schema is None:
        schema = _SCHEMAS[key] = spark.read.parquet(path).schema
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table not in TABLES:
        raise KeyError(f"unknown table {table!r}; have {TABLES}")
    df = _read(spark, path_for(sf_dir, table))
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read via nanosAsLong (see session._DEFAULTS).
        # DuckDB truncates ns->us, so integer-DIV (not double division:
        # epoch-ns exceeds 2^53) keeps both engines bit-identical.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return df


def row_count(spark: SparkSession, sf_dir: str, table: str) -> int:
    """``load(...).count()``, run once per file identity."""
    key = _file_key(path_for(sf_dir, table))
    if key is None:
        return load(spark, sf_dir, table).count()
    if key not in _ROW_COUNTS:
        _ROW_COUNTS[key] = load(spark, sf_dir, table).count()
    return _ROW_COUNTS[key]


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL API."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
