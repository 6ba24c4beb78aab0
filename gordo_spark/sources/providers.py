"""S1/S2/S3 — data-provider abstraction and concrete sources.

Reference semantics: gordo-core exposes a pluggable ``data_provider.type``
(e.g. RandomDataProvider with min_size/max_size — config surface in
reference tests/gordo/workflow/test_config_elements.py:143-147; registry
aliasing gordo/machine/machine.py:190-195). Providers return one
``(ts, value)`` series per requested tag within [train_start, train_end).

Spark shape: a provider yields ONE long DataFrame ``(tag, ts, value)`` —
the engine is then a single DAG regardless of source. Filters passed to
``read()`` are applied at scan time so Catalyst pushes tag/ts predicates
into the parquet reader (partition pruning when the lake is laid out as
``.../date=YYYY-MM-DD/tag=.../*.parquet``).
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_spark.sources.io import read_parquet, read_table

_REGISTRY: dict[str, type] = {}


def register_provider(name: str):
    def deco(cls):
        _REGISTRY[name] = cls
        return cls

    return deco


def provider_from_dict(d: dict) -> "DataProvider":
    """``{type: RandomDataProvider, ...kwargs}`` -> provider instance
    (mirrors the reference's import-path/back-compat aliasing registry)."""
    d = dict(d)
    kind = d.pop("type", "ParquetDataProvider")
    kind = kind.rsplit(".", 1)[-1]  # accept dotted import paths
    if kind not in _REGISTRY:
        raise ValueError(f"unknown data_provider type {kind!r}")
    return _REGISTRY[kind](**d)


class DataProvider:
    """Returns long-form sensor data ``(tag string, ts timestamp, value
    double)`` for the requested tags/range."""

    def read(
        self,
        spark: SparkSession,
        tags: Sequence[str],
        train_start_date: datetime | str | None = None,
        train_end_date: datetime | str | None = None,
    ) -> DataFrame:
        raise NotImplementedError

    @staticmethod
    def _apply_range(df, tags, start, end, tag_col="tag", ts_col="ts"):
        if tags:
            df = df.filter(F.col(tag_col).isin(list(tags)))
        if start is not None:
            df = df.filter(F.col(ts_col) >= F.lit(start))
        if end is not None:
            df = df.filter(F.col(ts_col) < F.lit(end))
        return df


@register_provider("ParquetDataProvider")
class ParquetDataProvider(DataProvider):
    """Reads a long-form parquet lake with columns (tag, ts, value)."""

    def __init__(self, path: str, tag_col: str = "tag", ts_col: str = "ts", value_col: str = "value"):
        self.path, self.tag_col, self.ts_col, self.value_col = path, tag_col, ts_col, value_col

    def read(self, spark, tags, train_start_date=None, train_end_date=None):
        # one schema inference per version of the lake's files, not one
        # per machine dataset
        df = read_parquet(spark, self.path).select(
            F.col(self.tag_col).alias("tag"),
            F.col(self.ts_col).cast("timestamp").alias("ts"),
            # NaN means "missing" in the engine (pandas skipna parity) —
            # normalize to null at the scan; +-inf stays (imputer's job, P7).
            F.nanvl(F.col(self.value_col).cast("double"), F.lit(None).cast("double")).alias("value"),
        )
        return self._apply_range(df, tags, train_start_date, train_end_date)


@register_provider("EventsAsSensorProvider")
class EventsAsSensorProvider(DataProvider):
    """Adapts the driver's ``events`` table (event_id, ts, user_id,
    event_type, value, props) into the long sensor shape with
    event_type as the tag."""

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir

    def read(self, spark, tags, train_start_date=None, train_end_date=None):
        # ts range is pushed down in raw-nanos space inside read_table (it
        # would not reach the scan if applied after the ns->us conversion)
        df = read_table(
            spark,
            self.sf_dir,
            "events",
            ts_range=(train_start_date, train_end_date)
            if (train_start_date or train_end_date)
            else None,
        ).select(
            F.col("event_type").alias("tag"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.nanvl(F.col("value").cast("double"), F.lit(None).cast("double")).alias("value"),
        )
        return self._apply_range(df, tags, None, None)


@register_provider("RandomDataProvider")
class RandomDataProvider(DataProvider):
    """Deterministic random series per tag (reference's RandomDataProvider
    takes min_size/max_size). Generated distributed via spark.range —
    no driver-side data materialization."""

    def __init__(self, min_size: int = 100, max_size: int = 300, seed: int = 0, step_seconds: int = 60):
        self.min_size, self.max_size, self.seed, self.step_seconds = min_size, max_size, seed, step_seconds

    def read(self, spark, tags, train_start_date=None, train_end_date=None):
        import hashlib

        start = train_start_date or "2019-01-01T00:00:00+00:00"
        dfs = []
        for i, tag in enumerate(tags):
            # deterministic per-tag size in [min_size, max_size); md5, not
            # builtin hash() — str hashing is salted per process
            h = int(hashlib.md5(f"{self.seed}:{tag}".encode()).hexdigest()[:8], 16)
            n = self.min_size + (h % max(1, self.max_size - self.min_size))
            dfs.append(
                spark.range(n).select(
                    F.lit(tag).alias("tag"),
                    (F.lit(start).cast("timestamp")
                     + F.make_interval(secs=F.col("id") * self.step_seconds)).alias("ts"),
                    F.rand(self.seed + i).alias("value"),
                )
            )
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return self._apply_range(out, None, train_start_date, train_end_date)


@register_provider("InfluxDataProvider")
class InfluxDataProvider(DataProvider):
    """S3 — InfluxDB source (reference: gordo-core's InfluxDataProvider,
    constructed as ``InfluxDataProvider(measurement=..., value_name="Value",
    uri=...)`` in /root/reference/tests/gordo/client/test_client.py:127-133,
    379-381; seeded schema tests/utils.py:80-134: one measurement, a ``tag``
    tag key and a ``Value`` field per sensor).

    No InfluxDB server or client library exists in this environment, so the
    PURE parts are real and tested — uri parsing
    (``host:port/user/password/dbname``), per-tag InfluxQL generation, and
    the points -> long (tag, ts, value) frame assembly — while the wire
    call goes through an injectable ``client`` (anything with
    ``.query(influxql) -> points``). Passing a real ``influxdb``
    client makes this a working provider; without one, ``read`` raises a
    clear error naming the seam.
    """

    def __init__(
        self,
        measurement: str,
        value_name: str = "Value",
        uri: str | None = None,
        client=None,
        tag_key: str = "tag",
    ):
        self.measurement = measurement
        self.value_name = value_name
        self.tag_key = tag_key
        self.client = client
        self.host = self.port = self.user = self.password = self.db_name = None
        if uri:
            self.host, self.port, self.user, self.password, self.db_name = (
                self.parse_uri(uri)
            )

    @staticmethod
    def parse_uri(uri: str) -> tuple[str, int, str, str, str]:
        """``host:port/user/password/dbname`` (gordo-core
        influx_client_from_uri shape)."""
        hostport, _, rest = uri.partition("/")
        host, _, port = hostport.partition(":")
        parts = rest.split("/")
        if not host or not port or len(parts) != 3:
            raise ValueError(
                f"malformed influx uri {uri!r} (want host:port/user/password/dbname)"
            )
        user, password, db_name = parts
        return host, int(port), user, password, db_name

    def influxql(self, tag: str, start=None, end=None) -> str:
        """Per-tag InfluxQL: one series per sensor, range-pruned server-side
        (the Influx analogue of parquet predicate pushdown)."""
        q = (
            f'SELECT "{self.value_name}" FROM "{self.measurement}" '
            f"WHERE (\"{self.tag_key}\" = '{tag}')"
        )
        if start is not None:
            q += f" AND time >= '{start}'"
        if end is not None:
            q += f" AND time < '{end}'"
        return q

    def _client(self):
        if self.client is not None:
            return self.client
        try:  # pragma: no cover - influxdb not installed in this env
            from influxdb import InfluxDBClient
        except ImportError as exc:
            raise RuntimeError(
                "InfluxDataProvider needs the `influxdb` client package or an "
                "injected `client` (any object with .query(influxql))"
            ) from exc
        return InfluxDBClient(  # pragma: no cover
            self.host, self.port, self.user, self.password, self.db_name
        )

    def read(self, spark, tags, train_start_date=None, train_end_date=None):
        import pandas as pd

        client = self._client()
        frames = []
        for tag in tags:
            points = list(
                client.query(self.influxql(tag, train_start_date, train_end_date))
            )
            if not points:
                continue
            pdf = pd.DataFrame(points)
            frames.append(
                pd.DataFrame(
                    {
                        "tag": tag,
                        "ts": pd.to_datetime(pdf["time"], utc=True).dt.tz_localize(None),
                        "value": pdf[self.value_name].astype(float),
                    }
                )
            )
        if not frames:
            from pyspark.sql.types import (
                DoubleType, StringType, StructField, StructType, TimestampType,
            )

            return spark.createDataFrame(
                [],
                StructType(
                    [
                        StructField("tag", StringType()),
                        StructField("ts", TimestampType()),
                        StructField("value", DoubleType()),
                    ]
                ),
            )
        return spark.createDataFrame(pd.concat(frames, ignore_index=True))
