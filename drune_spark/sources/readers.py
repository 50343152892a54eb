"""Source readers (SURVEY §2.1, S1-S8).

Dispatch on ``SourceSpec.type``:
- file → ``spark.read.format(fmt).options(**o).load(path)`` — any DSv2
  format string (csv/json/parquet/delta/orc/avro...), reference
  engines/spark/steps/reader.py:23-30
- table → ``spark.read.table`` (spark_engine.py:202-204)
- sql → ``spark.sql`` (core/pipeline.py:150-153)

Plus the reference's extras:
- ``expected_columns`` width guard (reader.py:42-52) — delimiter sanity
  check; schema-only (no data scan)
- dynamic path injection: resolve a directory source to a concrete
  runtime file (core/pipeline.py:119-142)

Column pruning + predicate pushdown stay intact because this returns the
raw lazy scan — projections land on top declaratively.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from drune_spark.config.models import SourceSpec


class ReadError(RuntimeError):
    pass


# path → (nanos target cols, raw Spark schema) — see
# read_parquet_nanos_safe. Keyed per absolute path for the life of the
# process; schema metadata only, never rows.
_NANOS_READ_CACHE: dict = {}


def resolve_dynamic_path(spec: SourceSpec, runtime_path: Optional[str]) -> Optional[str]:
    """If a runtime file is supplied for a directory-typed source, read
    that concrete file; if the source already points at a file, replace
    its basename (core/pipeline.py:119-142)."""
    if runtime_path is None:
        return spec.path
    if spec.path is None or os.path.isabs(runtime_path):
        return runtime_path
    if os.path.splitext(spec.path)[1]:
        return os.path.join(os.path.dirname(spec.path), os.path.basename(runtime_path))
    return os.path.join(spec.path, os.path.basename(runtime_path))


def _nanos_columns(path: str) -> list[str]:
    """The columns pyarrow reads as ``timestamp[ns`` in the parquet file
    at ``path``; none when its footer cannot be read (a directory)."""
    try:
        import pyarrow.parquet as pq
        schema = pq.read_schema(path.replace("file://", ""))
    except Exception:
        return []
    return [f.name for f in schema if str(f.type).startswith("timestamp[ns")]


def _event_time(df: DataFrame, nanos_cols: list[str]) -> DataFrame:
    """TIMESTAMP columns from a raw parquet read (batch or stream).

    - ``nanos_cols`` that arrive as bigint (read with
      ``spark.sql.legacy.parquet.nanosAsLong``) hold ns since epoch and
      convert to a microsecond timestamp by integer division — exact, no
      float. INT96 also looks like timestamp[ns] to pyarrow, but Spark
      reads it as TIMESTAMP directly, so only longs convert.
    - TIMESTAMP_NTZ columns cast to TIMESTAMP. The session timezone is
      pinned to UTC (session.py DEFAULT_CONF), so the cast is lossless:
      the same wall-clock instant, now with event-time semantics that
      ``unix_micros``/``window``/``withWatermark`` accept.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    raw_types = dict(df.dtypes)
    for c in nanos_cols:
        if raw_types.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def read_parquet_nanos_safe(
    spark: SparkSession, path: str, nanos_cols: Optional[list[str]] = None
) -> DataFrame:
    """Read parquet whose timestamp columns may arrive in any physical
    flavor — the testdata has been regenerated between rounds with
    different writers, so this adapts per-file instead of assuming one
    (the rules are ``_event_time``'s):

    - TIMESTAMP(NANOS): Spark rejects it outright ([PARQUET_TYPE_ILLEGAL]).
      With ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as
      a bigint, which converts to a microsecond timestamp.
    - timestamp[us/ms] WITHOUT timezone: Spark 4 infers TIMESTAMP_NTZ,
      which breaks ``unix_micros``/``withWatermark``; cast to TIMESTAMP.
    - timestamp with tz / INT96: plain read already yields TIMESTAMP.
    """
    cache_on = (
        nanos_cols is None
        and os.environ.get("SPARK_GRAFT_SCHEMA_CACHE", "1") != "0"
    )
    cached = _NANOS_READ_CACHE.get(path) if cache_on else None
    targets = nanos_cols
    if cached is not None:
        targets = cached[0]
    elif targets is None:
        targets = _nanos_columns(path)
    if targets:
        # Leave the conf set for the session: execution re-reads it, and
        # all nanos-bearing reads route through this helper anyway.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if cached is not None:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if cache_on:
            # Raw Spark schema per path, cached for the process: the
            # footer-inference job (~0.05-0.1 s of sequencing) runs
            # once per path instead of once per query. Metadata only
            # — the schema came from these same files; rows are
            # untouched (SPARK_GRAFT_SCHEMA_CACHE=0 disables).
            _NANOS_READ_CACHE[path] = (targets, df.schema)
    return _event_time(df, targets)


def read_source(
    spark: SparkSession,
    spec: SourceSpec,
    runtime_path: Optional[str] = None,
) -> DataFrame:
    if spec.type == "file":
        path = resolve_dynamic_path(spec, runtime_path)
        if not path:
            raise ReadError(f"source '{spec.name}' has no path")
        reader = spark.read.format(spec.format)
        if spec.options:
            reader = reader.options(**{k: str(v) for k, v in spec.options.items()})
        df = reader.load(path)
    elif spec.type == "table":
        if not spec.table_name:
            raise ReadError(f"source '{spec.name}' has no table_name")
        df = spark.read.table(spec.table_name)
    elif spec.type == "sql":
        if not spec.query:
            raise ReadError(f"source '{spec.name}' has no query")
        df = spark.sql(spec.query)
    else:
        raise ReadError(f"unknown source type '{spec.type}'")

    if spec.expected_columns is not None and len(df.columns) != spec.expected_columns:
        raise ReadError(
            f"source '{spec.name}': expected {spec.expected_columns} columns, "
            f"got {len(df.columns)} — check the delimiter/options"
        )
    return df
