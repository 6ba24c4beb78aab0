"""Table IO helpers.

``read_table`` is the single entry point for reading the lake's parquet
tables. It transparently normalizes the two non-standard timestamp
encodings the lake has shipped with:

- TIMESTAMP(NANOS) parquet columns, which Spark cannot read natively
  (PARQUET_TYPE_ILLEGAL): with ``spark.sql.legacy.parquet.nanosAsLong``
  the column arrives as epoch-nanos long, and we cast it back to a
  microsecond timestamp (truncation — the same thing DuckDB's µs-precision
  TIMESTAMP does to ns parquet, so oracle comparisons agree).
- TIMESTAMP_NTZ (µs parquet timestamps without isAdjustedToUTC), which
  Spark 4 infers as TimestampNTZType. NTZ cannot be cast to double and
  surfaces a different result schema than round-1 data did, so we cast it
  to the session-zone TIMESTAMP (sessions here pin UTC, so wall-clock
  values are preserved exactly — the same naive-as-UTC reading DuckDB
  applies).

``read_table`` reads through ``read_parquet``, which infers a path's
schema once and reuses it while the files are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

# column names that are timestamps in the lake schemas; if one of these
# arrives as LongType it was a TIMESTAMP(NANOS) parquet column.
_TS_COLUMNS = {"ts", "o_orderdate", "l_shipdate"}

# session confs that change what parquet schema inference returns
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.mergeSchema",
)
# path -> (stamp, inferred schema); see read_parquet
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stamp(spark: SparkSession, path: str) -> tuple | None:
    """(name, size, mtime_ns) of every file under ``path`` plus the
    inference confs, or None when ``path`` is not a local file or
    directory (a URI, a glob, a missing path)."""
    try:
        files = (
            sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
            if os.path.isdir(path)
            else [path]
        )
        stats = tuple(
            (f, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)]
        )
    except (OSError, ValueError):
        return None
    return stats, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per
    version of the files. Schema inference starts a Spark job
    (``SchemaMergeUtils.mergeSchemasInParallel``) on every read, even of
    one file, and a fleet build reads the same lake for every machine; a
    later read of unchanged files passes the kept schema instead and
    starts none. The kept schema is keyed by each file's name, size and
    mtime and by the confs that shape inference, so a rewritten file or
    a changed conf infers again; a path that cannot be stat'ed always
    infers.
    """
    stamp = _stamp(spark, path)
    kept = _SCHEMAS.get(path)
    if stamp is not None and kept is not None and kept[0] == stamp:
        return spark.read.schema(kept[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        _SCHEMAS[path] = (stamp, df.schema)
    return df


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_range: tuple | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet`` with nanosecond-timestamp rescue,
    through :func:`read_parquet` (no inference job for unchanged files).

    ``ts_range=(start, end)`` applies a half-open [start, end) predicate on
    ``ts_col`` *before* the ns->us conversion when the column is raw nanos —
    a plain comparison on the physical long column, so it reaches the
    parquet scan (PushedFilters) and prunes row groups; filtering after the
    conversion expression would not push down. ``div`` truncation is
    monotone, so filtering at ns granularity is exact for µs bounds.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for f in df.schema.fields:
        if f.name in _TS_COLUMNS and isinstance(f.dataType, LongType):
            if ts_range is not None and f.name == ts_col:
                start, end = (_epoch_ns(b) for b in ts_range)
                if start is not None:
                    df = df.filter(F.col(f.name) >= start)
                if end is not None:
                    df = df.filter(F.col(f.name) < end)
            # integer `div`, not `/1000` — float division loses ulps at
            # epoch-nano magnitudes and would disagree with DuckDB's exact
            # ns->us truncation on ~0.03% of rows.
            df = df.withColumn(
                f.name, F.timestamp_micros(F.expr(f"`{f.name}` div 1000"))
            )
            ts_range = None if f.name == ts_col else ts_range
        elif f.name in _TS_COLUMNS and isinstance(f.dataType, TimestampNTZType):
            if ts_range is not None and f.name == ts_col:
                # compare in NTZ space so the predicate stays a plain
                # column-vs-literal comparison and reaches the parquet scan
                # (casting the column first would block pushdown)
                start, end = ts_range
                if start is not None:
                    df = df.filter(
                        F.col(f.name) >= F.lit(start).cast("timestamp_ntz")
                    )
                if end is not None:
                    df = df.filter(
                        F.col(f.name) < F.lit(end).cast("timestamp_ntz")
                    )
                ts_range = None
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    if ts_range is not None and ts_col in df.columns:
        start, end = ts_range
        if start is not None:
            df = df.filter(F.col(ts_col) >= F.lit(start))
        if end is not None:
            df = df.filter(F.col(ts_col) < F.lit(end))
    return df


def _epoch_ns(bound) -> int | None:
    if bound is None:
        return None
    import pandas as pd

    ts = pd.Timestamp(bound)
    if ts.tzinfo is not None:
        ts = ts.tz_convert("UTC").tz_localize(None)
    return int(ts.value)  # epoch nanoseconds
