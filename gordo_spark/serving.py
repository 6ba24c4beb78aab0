"""§3.2 parity — the prediction/anomaly endpoints as stateless functions.

The reference serves three responses over Flask
(gordo/server/blueprints/base.py + anomaly.py in /root/reference):

- POST /prediction          -> base model output keyed by ts
- POST /anomaly/prediction  -> the full anomaly column block, smooth-*
                               columns dropped unless ?all_columns
- GET  /metadata            -> build metadata + revision

Here each endpoint is a pure function over (store, payload). A request
takes this path:

1. load the pickled model via an LRU cache (the reference caches
   N_CACHED_MODELS=2, gordo/server/utils.py:334-353);
2. shape the request in pandas (serving_io): parse the JSON dict, the
   positional list or the parquet parts, sort, verify columns, and merge
   X with y on ``ts``;
3. hand Spark that one frame — one local relation;
4. apply the model's column plan to it. The plan is built once per
   loaded model and request shape, and kept in the model's cache entry
   (never on the model, which is pickled for ``download-model``);
5. bring the result back with one ``toPandas`` — one Spark job — and
   shape the JSON or parquet response from that frame.

A REST layer (any WSGI app) or a Structured Streaming ``foreachBatch``
can wrap these unchanged — the scoring itself never touches driver-side
loops.
"""

from __future__ import annotations

from functools import lru_cache
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_spark.operators.anomaly import apply_stages
# dataframe_from_dict / dataframe_to_dict are not on the request path;
# they stay importable here because perfbench/workloads.py (SERVE_TARGETS)
# wraps these names in this module.
from gordo_spark.sources.serving_io import (  # noqa: F401
    dataframe_from_dict,
    dataframe_to_dict,
    frame_from_dict,
    frame_to_dict,
    response_parquet_bytes,
    verify_columns,
)
from gordo_spark.sources.store import ModelStore

_N_CACHED_MODELS = 2


@lru_cache(maxsize=_N_CACHED_MODELS)
def _load_cached(store_root: str, name: str, revision: str):
    model, metadata = ModelStore(store_root).load(name, revision)
    # the model's column plans, by request shape; they hold JVM objects,
    # so they live beside the model, which download-model pickles
    return model, metadata, {}


def _load(store_root: str, name: str, revision: str | None):
    """Resolve revision=None to the CURRENT latest before the cache lookup —
    caching on the None key would pin the first-loaded model forever while
    responses report newer revisions. Returns (model, metadata, revision,
    plans)."""
    rev = revision or ModelStore(store_root).latest_revision()
    if rev is None:
        raise FileNotFoundError(f"no revisions in {store_root}")
    model, metadata, plans = _load_cached(store_root, name, rev)
    return model, metadata, rev, plans


def _plan(plans: dict, key: tuple, build):
    plan = plans.get(key)
    if plan is None:
        plan = plans.setdefault(key, build())
    return plan


class Scored(NamedTuple):
    """A scored request: the result frame and how to key its response."""

    frame: pd.DataFrame
    ts_col: str
    revision: str
    name: str

    def response(self) -> dict:
        return {
            "data": frame_to_dict(self.frame, self.ts_col),
            "revision": self.revision,
            "name": self.name,
        }

    def parquet(self) -> bytes:
        return response_parquet_bytes(self.frame, self.ts_col)


def metadata_response(store_root: str, name: str, revision: str | None = None) -> dict:
    _, metadata, rev, _ = _load(store_root, name, revision)
    return {"metadata": metadata, "revision": rev, "name": name}


def _as_pandas(part) -> pd.DataFrame:
    """A payload part as a pandas frame sorted by ``ts``: JSON parts arrive
    as nested dicts or row lists (S4), parquet parts as pandas frames (S5)."""
    if isinstance(part, (dict, list)):
        return frame_from_dict(part)
    return part.sort_values("ts", kind="stable", ignore_index=True) if "ts" in part else part


def _request_frame(spark: SparkSession, model, payload: dict, need_y: bool) -> DataFrame:
    """The request as one Spark relation: X's verified columns, plus, when
    ``need_y``, y's targets as ``_yt_<t>`` merged on ``ts``."""
    base = getattr(model, "base", model)
    X = verify_columns(_as_pandas(payload["X"]), base.feature_cols)
    y = payload.get("y")
    if y is not None:
        y = verify_columns(_as_pandas(y), base.target_cols)
    elif need_y:
        raise ValueError("y is required for anomaly scoring")
    if need_y:
        X = X.merge(y.rename(columns={t: f"_yt_{t}" for t in base.target_cols}), on="ts")
    return spark.createDataFrame(X)


def score_prediction(
    spark: SparkSession,
    store_root: str,
    name: str,
    payload: dict,
    revision: str | None = None,
) -> Scored:
    """Base prediction: model output keyed by ts."""
    model, _, rev, plans = _load(store_root, name, revision)
    base = getattr(model, "base", model)

    def build():
        if hasattr(base, "predict_exprs"):
            return [[F.col("ts"), *base.predict_exprs()]]
        return [base.predict]

    X = _request_frame(spark, model, payload, need_y=False)
    out = apply_stages(X, _plan(plans, ("prediction",), build))
    return Scored(out.toPandas(), "ts", rev, name)


def score_anomaly(
    spark: SparkSession,
    store_root: str,
    name: str,
    payload: dict,
    revision: str | None = None,
    all_columns: bool = False,
    resolution: str | None = None,
) -> Scored:
    """Full anomaly block; smooth-* columns left out unless ``all_columns``
    (gordo/server/blueprints/anomaly.py:17-22,57-62). ``resolution``
    defaults to the trained dataset's resolution from metadata
    (gordo/server/properties.py:45-49)."""
    model, metadata, rev, plans = _load(store_root, name, revision)
    if resolution is None:
        resolution = (
            metadata.get("build-metadata", {})
            .get("dataset", {})
            .get("resolution", "10T")
        )
    xy = _request_frame(spark, model, payload, need_y=True)
    stages = _plan(
        plans,
        ("anomaly", resolution, all_columns),
        lambda: model.anomaly_stages(resolution, smooth=all_columns),
    )
    return Scored(apply_stages(xy, stages).toPandas(), "start", rev, name)


def prediction_response(
    spark: SparkSession,
    store_root: str,
    name: str,
    payload: dict,
    revision: str | None = None,
) -> dict:
    """:func:`score_prediction` as a JSON-ready dict."""
    return score_prediction(spark, store_root, name, payload, revision).response()


def anomaly_response(
    spark: SparkSession,
    store_root: str,
    name: str,
    payload: dict,
    revision: str | None = None,
    all_columns: bool = False,
    resolution: str | None = None,
) -> dict:
    """:func:`score_anomaly` as a JSON-ready dict."""
    return score_anomaly(
        spark, store_root, name, payload, revision, all_columns, resolution
    ).response()
