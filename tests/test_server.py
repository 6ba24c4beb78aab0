"""WSGI server parity tests — routes, revision resolution/stamping,
JSON + parquet negotiation both directions, smooth-drop, error codes
(mirrors /root/reference/tests/gordo/server/test_anomaly_blueprint.py:8-68
and test_gordo_server.py behaviors)."""

import io
import json

import numpy as np
import pandas as pd
import pytest

from gordo_spark.builder import ModelBuilder
from gordo_spark.config import Machine
from gordo_spark.server import build_app
from gordo_spark.sources.store import ModelStore

TAGS = ["click", "view", "purchase"]


def call(app, path, method="GET", body=None, content_type="application/json", headers=None):
    """Minimal WSGI test client."""
    raw = b""
    if body is not None:
        raw = body if isinstance(body, bytes) else json.dumps(body).encode()
    q = ""
    if "?" in path:
        path, q = path.split("?", 1)
    import sys

    environ = {
        "PATH_INFO": path,
        "SCRIPT_NAME": "",
        "REQUEST_METHOD": method,
        "QUERY_STRING": q,
        "CONTENT_TYPE": content_type,
        "CONTENT_LENGTH": str(len(raw)),
        "SERVER_NAME": "localhost",
        "SERVER_PORT": "80",
        "SERVER_PROTOCOL": "HTTP/1.1",
        "wsgi.version": (1, 0),
        "wsgi.url_scheme": "http",
        "wsgi.input": io.BytesIO(raw),
        "wsgi.errors": sys.stderr,
        "wsgi.multithread": False,
        "wsgi.multiprocess": False,
        "wsgi.run_once": False,
    }
    for k, v in (headers or {}).items():
        environ["HTTP_" + k.upper().replace("-", "_")] = v
    out = {}

    def start_response(status, hdrs):
        out["status"] = int(status.split()[0])
        out["headers"] = dict(hdrs)

    chunks = app(environ, start_response)
    try:
        out["body"] = b"".join(chunks)
    finally:
        # PEP 3333: the server must call close() on the returned
        # iterable — wsgiref.validate's wrapper warns at GC otherwise
        close = getattr(chunks, "close", None)
        if close is not None:
            close()
    return out


@pytest.fixture(scope="module")
def served_root(spark, sf_dir, tmp_path_factory):
    """Built model store root + a request payload (shared by the WSGI
    in-process tests and the CLI serve subprocess smoke)."""
    root = str(tmp_path_factory.mktemp("served_models"))
    machine = Machine.from_config(
        {
            "name": "srv-machine",
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
    ModelBuilder(machine, ModelStore(root)).build(spark)
    payload = {
        "X": {t: {"2024-01-01T00:00:00": 1.0 + i, "2024-01-01T01:00:00": 2.0 + i}
              for i, t in enumerate(TAGS)},
        "y": {t: {"2024-01-01T00:00:00": 1.5 + i, "2024-01-01T01:00:00": 2.5 + i}
              for i, t in enumerate(TAGS)},
    }
    return root, payload


@pytest.fixture(scope="module")
def served(spark, served_root):
    root, payload = served_root
    rev = ModelStore(root).latest_revision()
    return build_app(spark, root), rev, payload


def test_healthcheck_and_version(served):
    app, _, _ = served
    r = call(app, "/healthcheck")
    assert r["status"] == 200
    assert "gordo-server-version" in json.loads(r["body"])
    assert call(app, "/server-version")["status"] == 200


def test_metadata_stamps_revision_and_proxy_prefix(served):
    app, rev, _ = served
    for path in ("/srv-machine/metadata", "/gordo/v0/proj-a/srv-machine/metadata"):
        r = call(app, path)
        assert r["status"] == 200
        body = json.loads(r["body"])
        assert body["revision"] == rev
        assert r["headers"]["revision"] == rev
        assert body["metadata"]["build-metadata"]["dataset"]["resolution"] == "1H"


def test_prediction_and_anomaly_json(served):
    app, rev, payload = served
    r = call(app, "/srv-machine/prediction", "POST", payload)
    assert r["status"] == 200
    data = json.loads(r["body"])["data"]
    assert set(data["model_output"]) == set(TAGS)

    r = call(app, "/srv-machine/anomaly/prediction", "POST", payload)
    assert r["status"] == 200
    body = json.loads(r["body"])
    assert body["revision"] == rev
    tops = set(body["data"])
    assert {"model_input", "model_output", "tag_anomaly_scaled",
            "total_anomaly_scaled", "anomaly_confidence"} <= tops
    # smooth-* dropped by default, kept with ?all_columns
    assert not any(t.startswith("smooth_") for t in tops)
    r2 = call(app, "/srv-machine/anomaly/prediction?all_columns=true", "POST", payload)
    assert any(t.startswith("smooth_") for t in json.loads(r2["body"])["data"])


def test_parquet_response_format(served):
    import pyarrow.parquet as pq

    app, rev, payload = served
    r = call(app, "/srv-machine/anomaly/prediction?format=parquet", "POST", payload)
    assert r["status"] == 200
    assert r["headers"]["Content-Type"] == "application/octet-stream"
    assert r["headers"]["revision"] == rev
    pdf = pq.read_table(io.BytesIO(r["body"])).to_pandas()
    assert any(c.startswith("total_anomaly") for c in pdf.columns)
    assert len(pdf) == 2


def test_parquet_multipart_request(served, spark):
    import pyarrow as pa
    import pyarrow.parquet as pq

    app, _, _ = served
    ts = pd.to_datetime(["2024-01-01T00:00:00", "2024-01-01T01:00:00"])

    def part_bytes(vals):
        pdf = pd.DataFrame({"ts": ts, **{t: vals for t in TAGS}})
        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pandas(pdf), buf)
        return buf.getvalue()

    boundary = "bnd123"
    body = b""
    for name, data in (("X", part_bytes([1.0, 2.0])), ("y", part_bytes([1.5, 2.5]))):
        body += (
            f"--{boundary}\r\n"
            f'Content-Disposition: form-data; name="{name}"; filename="{name}.parquet"\r\n'
            "Content-Type: application/octet-stream\r\n"
            "Content-Transfer-Encoding: base64\r\n\r\n"
        ).encode()
        import base64

        body += base64.b64encode(data) + b"\r\n"
    body += f"--{boundary}--\r\n".encode()
    r = call(
        app,
        "/srv-machine/anomaly/prediction",
        "POST",
        body,
        content_type=f"multipart/form-data; boundary={boundary}",
    )
    assert r["status"] == 200
    assert "total_anomaly_unscaled" in json.loads(r["body"])["data"]


def test_revision_resolution_and_errors(served):
    app, rev, payload = served
    # explicit valid revision via query arg and via header
    for kw in (
        {"path": f"/srv-machine/metadata?revision={rev}"},
        {"path": "/srv-machine/metadata", "headers": {"revision": rev}},
    ):
        r = call(app, kw["path"], headers=kw.get("headers"))
        assert r["status"] == 200 and json.loads(r["body"])["revision"] == rev
    # malformed revision -> 410 "is not valid" (reference server.py:183-192)
    r = call(app, "/srv-machine/metadata?revision=not-a-rev")
    assert r["status"] == 410 and "not valid" in json.loads(r["body"])["error"]
    # unknown numeric revision -> 410 "not found"
    r = call(app, "/srv-machine/metadata?revision=123")
    assert r["status"] == 410 and "not found" in json.loads(r["body"])["error"]
    # unknown machine -> 404
    assert call(app, "/no-such-machine/metadata")["status"] == 404
    # missing X -> 400
    r = call(app, "/srv-machine/prediction", "POST", {"y": {}})
    assert r["status"] == 400
    # arity mismatch (missing tag column) -> 400
    bad = {"X": {"click": {"2024-01-01T00:00:00": 1.0}}}
    r = call(app, "/srv-machine/prediction", "POST", bad)
    assert r["status"] == 400
    # anomaly without y -> 400
    r = call(app, "/srv-machine/anomaly/prediction", "POST", {"X": payload["X"]})
    assert r["status"] == 400
    # unknown route -> 404
    assert call(app, "/srv-machine/nope")["status"] == 404


def test_runs_under_wsgiref_validator(served):
    """The app is spec-compliant WSGI (what any container would host)."""
    from wsgiref.validate import validator

    app, _, _ = served
    r = call(validator(app), "/healthcheck")
    assert r["status"] == 200


def test_project_level_routes(served):
    """models / revisions / expected-models (base.py:183-220)."""
    app, rev, _ = served
    r = call(app, "/gordo/v0/proj/models")
    assert r["status"] == 200
    assert json.loads(r["body"])["models"] == ["srv-machine"]
    r = call(app, "/revisions")
    body = json.loads(r["body"])
    assert body["latest"] == rev and rev in body["available-revisions"]
    r = call(app, "/expected-models")
    assert json.loads(r["body"])["expected-models"] == []


def test_download_model_and_healthcheck_alias(served, spark):
    import pickle

    app, rev, payload = served
    r = call(app, "/srv-machine/download-model")
    assert r["status"] == 200
    assert r["headers"]["Content-Type"] == "application/octet-stream"
    assert r["headers"]["revision"] == rev
    model = pickle.loads(r["body"])
    assert hasattr(model, "anomaly")  # the served detector round-trips
    # machine-level healthcheck serves metadata (base.py:137-160)
    r = call(app, "/srv-machine/healthcheck")
    assert r["status"] == 200 and json.loads(r["body"])["revision"] == rev


def test_delete_revision_contracts(served, spark, tmp_path):
    """422 non-numeric, 409 current, 200 + gone for an old revision
    (base.py:116-134)."""
    from gordo_spark.sources.store import ModelStore

    app, rev, _ = served
    r = call(app, "/srv-machine/revision/not-numeric", method="DELETE")
    assert r["status"] == 422
    assert "only contains numbers" in json.loads(r["body"])["error"]
    r = call(app, f"/srv-machine/revision/{rev}", method="DELETE")
    assert r["status"] == 409
    # plant an older revision, then delete it
    store = ModelStore(app.store_root)
    model, _meta = store.load("srv-machine", rev)
    store.dump(model, "srv-machine", {}, revision="1000000000000")
    assert "1000000000000" in store.revisions()
    r = call(app, "/srv-machine/revision/1000000000000", method="DELETE")
    assert r["status"] == 200 and json.loads(r["body"])["ok"] is True
    assert "1000000000000" not in store.revisions()


def test_prometheus_metrics_exposition(served):
    """Counter + latency summary per (method, path-template, status) in
    text exposition format (reference prometheus/metrics.py:49-91; the
    machine name collapses to <name> to bound label cardinality)."""
    app, _, payload = served
    call(app, "/srv-machine/metadata")
    call(app, "/srv-machine/prediction", "POST", payload)
    call(app, "/srv-machine/metadata?revision=bad-rev")  # 410
    r = call(app, "/prometheus/metrics")
    assert r["status"] == 200
    assert r["headers"]["Content-Type"].startswith("text/plain")
    text = r["body"].decode()
    assert "# TYPE gordo_server_requests_total counter" in text
    assert 'method="GET",path="/<name>/metadata",status_code="200"' in text
    assert 'method="POST",path="/<name>/prediction",status_code="200"' in text
    assert 'status_code="410"' in text
    # latency summary present and positive
    import re as _re

    m = _re.search(
        r'gordo_server_request_duration_seconds_sum\{method="POST",'
        r'path="/<name>/prediction",status_code="200"\} ([0-9.]+)',
        text,
    )
    assert m and float(m.group(1)) > 0


def test_cli_serve_smoke(served_root, tmp_path):
    """`python -m gordo_spark.cli serve` (reference `gordo run-server`,
    cli.py:255-353): starts, prints its bound address, answers
    /server-version and one anomaly POST over a real socket, and exits
    clean on SIGTERM."""
    import signal
    import subprocess
    import sys
    import time
    import urllib.request

    root, payload = served_root
    proc = subprocess.Popen(
        [
            sys.executable, "-m", "gordo_spark.cli", "serve",
            "--models-dir", root, "--host", "127.0.0.1", "--port", "0",
            "--workers", "1", "--threads", "2",
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    try:
        line = ""
        deadline = time.time() + 120  # subprocess boots its own JVM
        while time.time() < deadline:
            line = proc.stdout.readline()
            if "listening on" in line:
                break
            assert proc.poll() is None, "serve exited before listening"
        assert "listening on" in line, "no readiness line within timeout"
        base = line.split("listening on ")[1].split()[0].replace(
            "0.0.0.0", "127.0.0.1"
        )
        with urllib.request.urlopen(f"{base}/server-version", timeout=30) as r:
            assert r.status == 200
            assert b"version" in r.read()
        req = urllib.request.Request(
            f"{base}/srv-machine/anomaly/prediction",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 200
            body = json.loads(r.read())
            assert "total_anomaly_scaled" in body["data"]
    finally:
        proc.send_signal(signal.SIGTERM)
        try:
            rc = proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            raise AssertionError("serve did not exit on SIGTERM")
    assert rc == 0


# ------------------------------------------------- serving-path parity
PARITY_MODELS = {
    "smm": {"kind": "DiffBasedAnomalyDetector", "window": 6},
    "ewma": {"kind": "DiffBasedAnomalyDetector", "window": 6, "smoothing_method": "ewma"},
    "lagged": {
        "kind": "DiffBasedAnomalyDetector",
        "window": 6,
        "base_estimator": {"kind": "LaggedLinearModel", "lookback": 3},
    },
    "kfcv": {"kind": "DiffBasedKFCVAnomalyDetector", "window": 6, "n_splits": 3},
}
PARITY_REV = "1700000000000"


def _series(start, rows, seed):
    """X and y frames (ts + TAGS) at 1H; y has one NaN."""
    rng = np.random.default_rng(seed)
    ts = pd.date_range(start, periods=rows, freq="1h")
    X = pd.DataFrame(np.cumsum(rng.normal(size=(rows, len(TAGS))), axis=0), columns=TAGS)
    y = X + rng.normal(scale=0.1, size=X.shape)
    y.iloc[rows // 2, 1] = np.nan
    X.insert(0, "ts", ts)
    y.insert(0, "ts", ts)
    return X, y


def _nested(frame):
    return {t: {ts.isoformat(): v for ts, v in zip(frame["ts"], frame[t])} for t in TAGS}


def _multipart(parts):
    import base64

    import pyarrow as pa
    import pyarrow.parquet as pq

    boundary = "paritybnd"
    body = b""
    for name, frame in parts.items():
        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pandas(frame), buf)
        body += (
            f"--{boundary}\r\n"
            f'Content-Disposition: form-data; name="{name}"; filename="{name}.parquet"\r\n'
            "Content-Type: application/octet-stream\r\n"
            "Content-Transfer-Encoding: base64\r\n\r\n"
        ).encode() + base64.b64encode(buf.getvalue()) + b"\r\n"
    return body + f"--{boundary}--\r\n".encode(), f"multipart/form-data; boundary={boundary}"


def _json_tree(obj):
    """``obj`` as JSON reads it back (NaN kept as the string 'NaN', so two
    trees with NaN in the same places compare equal)."""
    return json.loads(json.dumps(obj, default=str), parse_constant=str)


@pytest.fixture(scope="module")
def parity(spark, tmp_path_factory):
    """One store revision holding the four detector shapes the server must
    score exactly like ``model.anomaly``, fitted on 240 hourly rows."""
    from gordo_spark.ml.models import model_from_definition

    root = str(tmp_path_factory.mktemp("parity_models"))
    store = ModelStore(root)
    X, y = _series("2024-01-01", 240, 0)
    Xs, ys = spark.createDataFrame(X), spark.createDataFrame(y.fillna(0.0))
    for name, definition in PARITY_MODELS.items():
        model = model_from_definition(definition)
        model.fit(Xs, ys)
        model.cross_validate(Xs, ys, n_splits=3)
        store.dump(
            model, name, {"build-metadata": {"dataset": {"resolution": "1H"}}},
            revision=PARITY_REV,
        )
    Xr, yr = _series("2024-02-01", 48, 1)
    return build_app(spark, root), store, Xr, yr


@pytest.mark.parametrize("name", sorted(PARITY_MODELS))
@pytest.mark.parametrize("payload_kind", ["json", "parquet-parts"])
@pytest.mark.parametrize("all_columns", [False, True])
def test_served_anomaly_equals_model_anomaly(spark, parity, name, payload_kind, all_columns):
    """The served block (JSON and ?format=parquet) equals
    ``model.anomaly(X, y)`` on Spark frames built from the same payload."""
    import pyarrow.parquet as pq

    from gordo_spark.sources.serving_io import dataframe_from_dict, dataframe_to_dict

    app, store, X, y = parity
    payload = {"X": _nested(X), "y": _nested(y)}
    model, _ = store.load(name, PARITY_REV)
    out = model.anomaly(
        dataframe_from_dict(spark, payload["X"]),
        dataframe_from_dict(spark, payload["y"]),
        resolution="1H",
    )
    if not all_columns:
        out = out.drop(*[c for c in out.columns if c.startswith("smooth_")])
    expected = out.toPandas().sort_values("start", ignore_index=True)

    if payload_kind == "json":
        body, ctype = json.dumps(payload).encode(), "application/json"
    else:
        body, ctype = _multipart({"X": X, "y": y})
    query = f"revision={PARITY_REV}" + ("&all_columns=true" if all_columns else "")
    path = f"/{name}/anomaly/prediction?{query}"

    r = call(app, path, "POST", body, content_type=ctype)
    assert r["status"] == 200, r["body"][:500]
    served = json.loads(r["body"])["data"]
    assert _json_tree(served) == _json_tree(dataframe_to_dict(out, ts_col="start"))
    assert any(k.startswith("smooth_") for k in served) == all_columns

    r = call(app, path + "&format=parquet", "POST", body, content_type=ctype)
    assert r["status"] == 200
    got = pq.read_table(io.BytesIO(r["body"])).to_pandas()
    want = expected.drop(columns="start").assign(end=expected["end"].map(lambda t: t.isoformat()))
    pd.testing.assert_frame_equal(got, want)


@pytest.mark.parametrize("name", ["smm", "lagged"])
def test_served_prediction_of_positional_rows(spark, parity, name):
    """Positional-list JSON (integer row keys, columns by position) on
    /prediction equals the base model's predict. Anomaly scoring needs
    timestamps (``end = start + resolution``), so it takes no positional
    rows."""
    from gordo_spark.sources.serving_io import (
        dataframe_from_dict,
        dataframe_to_dict,
        verify_columns,
    )

    app, store, X, y = parity
    rows = X[TAGS].values.tolist()
    base = store.load(name, PARITY_REV)[0].base
    expected = base.predict(verify_columns(dataframe_from_dict(spark, rows), base.feature_cols))
    r = call(app, f"/{name}/prediction?revision={PARITY_REV}", "POST",
             {"X": rows, "y": y[TAGS].values.tolist()})
    assert r["status"] == 200, r["body"][:500]
    assert _json_tree(json.loads(r["body"])["data"]) == _json_tree(dataframe_to_dict(expected))


def test_repeat_anomaly_request_is_one_job_on_the_cached_plan(spark, parity, monkeypatch):
    """A second request to a loaded model runs exactly one Spark job (the
    result's collect), in JSON and in parquet, on the column plan built
    for the first request."""
    from gordo_spark import serving

    app, _, X, y = parity
    applied = []
    apply_stages = serving.apply_stages

    def spy(df, stages):
        applied.append(stages)
        return apply_stages(df, stages)

    monkeypatch.setattr(serving, "apply_stages", spy)
    body = json.dumps({"X": _nested(X), "y": _nested(y)}).encode()
    sc = spark.sparkContext
    for fmt in ("json", "parquet"):
        path = f"/smm/anomaly/prediction?revision={PARITY_REV}&format={fmt}"
        assert call(app, path, "POST", body)["status"] == 200
        group = f"repeat-anomaly-{fmt}"
        sc.setJobGroup(group, group)
        try:
            r = call(app, path, "POST", body)
        finally:
            sc.setJobGroup("", "")
        assert r["status"] == 200
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert len(applied) == 4 and all(s is applied[0] for s in applied)


def test_build_machines_serves_the_fleet_from_one_revision(spark, sf_dir, tmp_path):
    """build_machines writes every machine it builds into one revision, so
    /models lists the fleet and unpinned requests resolve for each; the
    shared scan it cached is released when the builds finish."""
    from gordo_spark.builder import build_machines

    def machine(name):
        return Machine.from_config({
            "name": name,
            "dataset": {
                "tag_list": TAGS,
                "resolution": "1H",
                "interpolation_method": "ffill",
                "interpolation_limit": "6H",
                "data_provider": {"type": "EventsAsSensorProvider", "sf_dir": sf_dir},
            },
            "model": {"kind": "LinearModel"},
            "evaluation": {"cv_mode": "full_build", "n_splits": 3},
        })

    jsc = spark.sparkContext._jsc
    # ids, not a count: earlier tests' leftovers may be cleaned meanwhile
    persisted = set(jsc.getPersistentRDDs().keys())
    store = ModelStore(str(tmp_path / "models"))
    build_machines(spark, [machine("fleet-a"), machine("fleet-b")], store, max_workers=2)
    assert set(jsc.getPersistentRDDs().keys()) <= persisted
    assert len(store.revisions()) == 1
    app = build_app(spark, store.root)
    r = call(app, "/models")
    assert json.loads(r["body"])["models"] == ["fleet-a", "fleet-b"]
    for name in ("fleet-a", "fleet-b"):
        assert call(app, f"/{name}/metadata")["status"] == 200
