"""S4/S5/S6/P1 — serving request/response shaping.

Reference semantics:
- ``frame_from_dict`` (S4): nested dict -> frame; index keys parsed as
  ISO datetimes else ints; rows SORTED by parsed index
  (gordo/server/utils.py:145-195 in /root/reference).
- parquet request/response (S5): frame <-> parquet bytes, pyarrow+snappy
  (gordo/server/utils.py:47-83).
- ``frame_to_dict`` (S6): frame -> nested dict keyed by top-level
  column (gordo/server/utils.py:86-142); MultiIndex columns flatten to
  ``top__second`` names here.
- column verification (P1): select expected tags, order-normalize, rename
  positional inputs, reject arity mismatch (gordo/server/utils.py:208-253).

The request path is pandas end to end except for the scoring itself:
a request's X and y are parsed, sorted, verified and merged on ``ts``
here, in pandas; the server hands Spark that one frame (one local
relation); the scored frame comes back through one ``toPandas`` (one
job), from which both the JSON and the parquet response are written.
Payloads are small (requests), so pandas is the right side of the
boundary. The ``dataframe_*`` functions are the same shaping for Spark
DataFrames.
"""

from __future__ import annotations

import io
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def frame_from_dict(data: dict | list, ts_col: str = "ts") -> pd.DataFrame:
    """JSON request -> pandas frame. Accepts ``{"X": [[...]]}``-style lists
    of rows (positional columns named c0..cn) or nested ``{col: {ts: val}}``
    dicts; index parsed as ISO datetimes when possible, rows sorted."""
    if isinstance(data, list):
        pdf = pd.DataFrame(data, columns=[f"c{i}" for i in range(len(data[0]))])
        # positional payloads carry no timestamps: the row position IS the
        # key (the reference parses such indexes as ints,
        # gordo/server/utils.py:145-195) — keep it as an integer ts so
        # downstream joins/predict still have a key column
        pdf.insert(0, ts_col, range(len(pdf)))
        return pdf
    pdf = pd.DataFrame.from_dict(data)
    try:
        pdf.index = pd.to_datetime(pdf.index, utc=True).tz_localize(None)
        pdf = pdf.sort_index()
        return pdf.reset_index(names=ts_col)
    except (ValueError, TypeError):
        pdf.index = pdf.index.astype(int)
        return pdf.sort_index().reset_index(drop=True)


def dataframe_from_dict(spark: SparkSession, data: dict | list, ts_col: str = "ts") -> DataFrame:
    """:func:`frame_from_dict` as a Spark DataFrame."""
    return spark.createDataFrame(frame_from_dict(data, ts_col))


def _iso_datetimes(pdf: pd.DataFrame) -> pd.DataFrame:
    """``pdf`` with its datetime columns as ISO strings (what JSON carries)."""
    iso = {
        c: pdf[c].map(lambda t: t.isoformat())
        for c in pdf.columns
        if pd.api.types.is_datetime64_any_dtype(pdf[c])
    }
    return pdf.assign(**iso) if iso else pdf


def frame_to_dict(pdf: pd.DataFrame, ts_col: str = "ts") -> dict:
    """pandas frame -> nested response dict keyed by ``ts_col``;
    ``top__second`` columns regroup into two levels (MultiIndex parity)."""
    if ts_col in pdf.columns:
        pdf = pdf.set_index(ts_col)
        # positional payloads carry integer row keys, not timestamps
        pdf.index = pdf.index.map(
            lambda t: t.isoformat() if hasattr(t, "isoformat") else t
        )
    pdf = _iso_datetimes(pdf)
    out: dict = {}
    for col in pdf.columns:
        if "__" in col:
            top, second = col.split("__", 1)
            out.setdefault(top, {})[second] = pdf[col].to_dict()
        else:
            out[col] = pdf[col].to_dict()
    return out


def dataframe_to_dict(df: DataFrame, ts_col: str = "ts") -> dict:
    """:func:`frame_to_dict` of a Spark DataFrame."""
    return frame_to_dict(df.toPandas(), ts_col)


def frame_into_parquet_bytes(pdf: pd.DataFrame) -> bytes:
    """S5 — pandas frame as parquet bytes (snappy, via Arrow)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pandas(pdf), buf, compression="snappy")
    return buf.getvalue()


def response_parquet_bytes(pdf: pd.DataFrame, ts_col: str = "ts") -> bytes:
    """A ``?format=parquet`` response body: the columns of the JSON body's
    ``data`` (flattened ``top__second`` names, datetimes as ISO strings),
    without the ``ts_col`` key."""
    return frame_into_parquet_bytes(_iso_datetimes(pdf.drop(columns=ts_col, errors="ignore")))


def dataframe_into_parquet_bytes(df: DataFrame) -> bytes:
    """:func:`frame_into_parquet_bytes` of a Spark DataFrame."""
    return frame_into_parquet_bytes(df.toPandas())


def frame_from_parquet_bytes(data: bytes) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(io.BytesIO(data)).to_pandas()


def dataframe_from_parquet_bytes(spark: SparkSession, data: bytes) -> DataFrame:
    return spark.createDataFrame(frame_from_parquet_bytes(data))


def verify_columns(df, expected_tags: Sequence[str], ts_col: str = "ts"):
    """P1 — project/reorder a pandas or Spark frame to the expected tags;
    positional inputs (c0..cn) renamed; arity mismatch rejected (HTTP 400
    in the reference)."""
    cols = [c for c in df.columns if c != ts_col]
    expected = list(expected_tags)
    if set(expected) <= set(cols):
        renames = {}
    elif len(cols) == len(expected):
        renames = dict(zip(cols, expected))
    else:
        raise ValueError(
            f"column mismatch: got {len(cols)} columns, expected {len(expected)} "
            f"({expected})"
        )
    keep = ([ts_col] if ts_col in df.columns else []) + expected
    if isinstance(df, pd.DataFrame):
        return df.rename(columns=renames)[keep]
    out = df
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.select(*[f"`{c}`" for c in keep])
