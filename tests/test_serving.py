"""§3.2 endpoint parity: build a model, then drive the prediction /
anomaly / metadata responses with JSON-shaped payloads."""

import numpy as np
import pytest

from gordo_spark.builder import ModelBuilder
from gordo_spark.config import Machine
from gordo_spark.serving import (
    anomaly_response,
    metadata_response,
    prediction_response,
)
from gordo_spark.sources.store import ModelStore

TAGS = ["click", "view", "purchase"]


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("models"))
    machine = Machine.from_config(
        {
            "name": "serve-machine",
            "dataset": {
                "tag_list": TAGS,
                "resolution": "1H",
                "interpolation_method": "ffill",
                "interpolation_limit": "6H",
                "data_provider": {
                    "type": "EventsAsSensorProvider",
                    "sf_dir": sf_dir,
                },
            },
            "model": {"kind": "DiffBasedAnomalyDetector", "window": 6},
        }
    )
    r = ModelBuilder(machine, ModelStore(root)).build(spark)
    return root, r


@pytest.fixture(scope="module")
def payload(spark, sf_dir):
    from gordo_spark.plans import TimeSeriesDataset

    ds = TimeSeriesDataset(
        tag_list=TAGS,
        resolution="1H",
        interpolation_method="ffill",
        interpolation_limit="6H",
        data_provider={"type": "EventsAsSensorProvider", "sf_dir": sf_dir},
    )
    pdf = ds.wide_frame(spark).toPandas().sort_values("ts").head(50)
    nested = {
        t: {ts.isoformat(): v for ts, v in zip(pdf["ts"], pdf[t])} for t in TAGS
    }
    return {"X": nested, "y": nested}


def test_metadata_response(built):
    root, r = built
    resp = metadata_response(root, "serve-machine")
    assert resp["name"] == "serve-machine"
    assert resp["revision"] is not None
    assert "thresholds" in resp["metadata"]["build-metadata"]["model"]


def test_prediction_response(spark, built, payload):
    root, _ = built
    resp = prediction_response(spark, root, "serve-machine", payload)
    data = resp["data"]
    assert set(data) == {"model_output"}
    assert set(data["model_output"]) == set(TAGS)
    # OLS on its own inputs reproduces them almost exactly
    first_ts = sorted(data["model_output"]["click"])[0]
    got = data["model_output"]["click"][first_ts]
    exp = payload["X"]["click"][first_ts]
    np.testing.assert_allclose(got, exp, rtol=1e-6)


def test_anomaly_response_drops_smooth_unless_all_columns(spark, built, payload):
    root, _ = built
    resp = anomaly_response(spark, root, "serve-machine", payload)
    tops = set(resp["data"])
    assert {"model_input", "model_output", "tag_anomaly_scaled",
            "total_anomaly_scaled", "anomaly_confidence"} <= tops
    assert not any(t.startswith("smooth_") for t in tops)
    # end = start + resolution on every row
    ends = resp["data"]["end"]
    some_start = sorted(ends)[0]
    import pandas as pd

    assert pd.Timestamp(ends[some_start]) - pd.Timestamp(some_start) == pd.Timedelta("1h")

    full = anomaly_response(spark, root, "serve-machine", payload, all_columns=True)
    assert any(t.startswith("smooth_") for t in full["data"])


def test_anomaly_requires_y(spark, built, payload):
    root, _ = built
    with pytest.raises(ValueError, match="y is required"):
        anomaly_response(spark, root, "serve-machine", {"X": payload["X"]})


def test_get_spark_turns_call_site_capture_off(spark):
    """PySpark's per-call stack capture costs most of a request's plan
    building; get_spark sessions run without it."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
