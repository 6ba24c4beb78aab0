"""§3.2 — the model server as a dependency-free WSGI app.

The reference ships a Flask server (gordo/server/server.py:138-222 in
/root/reference) with per-machine routes, revision resolution/stamping,
proxy-path adaptation and JSON/parquet content negotiation, exercised by
tests/gordo/server/test_anomaly_blueprint.py:8-68 and
test_gordo_server.py. Flask is not in this environment, so this module is
the same contract as a plain WSGI callable (runnable under wsgiref or any
WSGI container):

- ``GET  /healthcheck``                        -> 200 liveness
- ``GET  /server-version``                     -> version string
- ``GET  [/gordo/v<N>/<project>]/models``            (base.py:183-194)
- ``GET  [/gordo/v<N>/<project>]/revisions``         (base.py:197-210)
- ``GET  [/gordo/v<N>/<project>]/expected-models``   (base.py:214-220)
- ``GET  [/gordo/v<N>/<project>]/<machine>/metadata`` (also ``/healthcheck``)
- ``GET  [/gordo/v<N>/<project>]/<machine>/download-model`` (base.py:164-180)
- ``DELETE [/gordo/v<N>/<project>]/<machine>/revision/<rev>`` (base.py:116-134)
- ``POST [/gordo/v<N>/<project>]/<machine>/prediction``
- ``POST [/gordo/v<N>/<project>]/<machine>/anomaly/prediction``

Reference behaviors reproduced:

- proxy-path adaptation: the ``/gordo/v<N>/<project>`` prefix is optional
  and stripped (server.py:46-118 ``adapt_proxy_deployment``);
- revision via ``?revision=`` query arg OR ``revision`` header; must match
  ``^\\d+$`` (utils.py:40-44) else 410 "is not valid"; unknown revision ->
  410 "not found" (server.py:176-192); the served revision is stamped into
  the JSON body AND the ``revision`` response header (server.py:196-204);
- content negotiation: JSON body ``{"X": ..., "y": ...}`` or multipart
  parquet file parts ``X``/``y`` (utils.py:283-301); ``?format=parquet``
  returns the frame as parquet bytes (blueprints/anomaly.py:64-71);
- ``?all_columns`` keeps the smooth-* columns, which are dropped by
  default (blueprints/anomaly.py:17-22,57-62);
- errors: missing/malformed X and column-arity mismatches -> 400 with an
  ``error`` body; anomaly scoring on a model without ``.anomaly`` -> 422
  (blueprints/anomaly.py:46-55); unknown machine -> 404.

Scoring itself delegates to the stateless functions in ``serving.py``
(LRU model cache included), so this layer is ONLY routing + negotiation.
"""

from __future__ import annotations

import email
import json
import re
import traceback
from urllib.parse import parse_qs

from gordo_spark import __version__ as _version
from gordo_spark.serving import (
    _load as _serving_load,
    metadata_response,
    score_anomaly,
    score_prediction,
)
from gordo_spark.sources.serving_io import (  # noqa: F401
    dataframe_from_parquet_bytes,
    dataframe_into_parquet_bytes,
    frame_from_parquet_bytes,
)
from gordo_spark.sources.store import ModelStore

# The request path no longer calls the dataframe_* adapters imported
# above; they stay importable here because perfbench/workloads.py
# (SERVE_TARGETS) wraps these names in this module.

revision_re = re.compile(r"^\d+$")

_PREFIX_RE = re.compile(r"^/gordo/v\d+/[^/]+")


def _json_bytes(obj) -> bytes:
    return json.dumps(obj, default=str).encode()


class GordoServer:
    """WSGI callable serving one model store root."""

    def __init__(self, spark, store_root: str, expected_models: list[str] | None = None):
        self.spark = spark
        self.store_root = store_root
        self.expected_models = list(expected_models or [])
        # (method, path-template, status) -> [count, sum_seconds] — the
        # reference's Counter + Histogram pair with main_labels
        # (method, path, status_code), prometheus/metrics.py:49-91; the
        # prometheus_client package is absent here, so exposition is
        # hand-rendered (the text format is trivial and stable)
        self._metrics: dict[tuple[str, str, str], list[float]] = {}

    # ------------------------------------------------------------ plumbing
    def __call__(self, environ, start_response):
        import time

        t0 = time.perf_counter()
        try:
            status, headers, body = self._dispatch(environ)
        except Exception:  # blanket 500 like any WSGI server
            tb = traceback.format_exc()
            status, headers, body = (
                "500 Internal Server Error",
                [("Content-Type", "application/json")],
                _json_bytes({"error": tb.splitlines()[-1]}),
            )
        self._record(environ, status, time.perf_counter() - t0)
        headers.append(("Content-Length", str(len(body))))
        start_response(status, headers)
        return [body]

    def _record(self, environ, status: str, seconds: float) -> None:
        path = _PREFIX_RE.sub("", environ.get("PATH_INFO", "/"))
        parts = [p for p in path.split("/") if p]
        # low-cardinality path template: machine names collapse to <name>
        if len(parts) >= 2:
            tpl = "/<name>/" + "/".join(parts[1:])
        else:
            tpl = "/" + "/".join(parts)
        key = (environ.get("REQUEST_METHOD", "GET"), tpl, status.split()[0])
        m = self._metrics.setdefault(key, [0, 0.0])
        m[0] += 1
        m[1] += seconds

    def _prometheus_text(self) -> bytes:
        lines = [
            "# HELP gordo_server_requests_total Total requests by route",
            "# TYPE gordo_server_requests_total counter",
        ]
        def labels(k):
            return (
                f'method="{k[0]}",path="{k[1]}",status_code="{k[2]}"'
            )

        for k, (count, _) in sorted(self._metrics.items()):
            lines.append(f"gordo_server_requests_total{{{labels(k)}}} {count}")
        lines += [
            "# HELP gordo_server_request_duration_seconds Request latency by route",
            "# TYPE gordo_server_request_duration_seconds summary",
        ]
        for k, (count, total) in sorted(self._metrics.items()):
            lines.append(
                f"gordo_server_request_duration_seconds_count{{{labels(k)}}} {count}"
            )
            lines.append(
                f"gordo_server_request_duration_seconds_sum{{{labels(k)}}} {total:.6f}"
            )
        return ("\n".join(lines) + "\n").encode()

    def _dispatch(self, environ):
        path = environ.get("PATH_INFO", "/")
        method = environ.get("REQUEST_METHOD", "GET")
        args = {
            k: v[-1] for k, v in parse_qs(environ.get("QUERY_STRING", "")).items()
        }

        if path == "/healthcheck":
            return self._json(200, {"gordo-server-version": _version})
        if path == "/server-version":
            return self._json(200, {"version": _version})
        if path == "/prometheus/metrics":
            return (
                "200 OK",
                [("Content-Type", "text/plain; version=0.0.4")],
                self._prometheus_text(),
            )

        # proxy-path adaptation: strip the optional /gordo/v<N>/<project>
        path = _PREFIX_RE.sub("", path)
        parts = [p for p in path.split("/") if p]
        if not parts:
            return self._json(404, {"error": "not found"})

        store = ModelStore(self.store_root)
        # project-level routes (base.py:183-220)
        if len(parts) == 1 and method == "GET":
            if parts[0] == "models":
                import os

                rev = store.latest_revision()
                d = os.path.join(self.store_root, rev) if rev else None
                models = sorted(os.listdir(d)) if d and os.path.isdir(d) else []
                return self._json(200, {"models": models})
            if parts[0] == "revisions":
                return self._json(
                    200,
                    {
                        "latest": store.latest_revision(),
                        "available-revisions": store.revisions(),
                    },
                )
            if parts[0] == "expected-models":
                return self._json(200, {"expected-models": self.expected_models})

        machine, route = parts[0], "/".join(parts[1:])

        # DELETE .../revision/<rev> (base.py:116-134)
        if method == "DELETE" and route.startswith("revision/"):
            rev = route.split("/", 1)[1]
            if not revision_re.match(rev):
                return self._json(
                    422, {"error": "Revision should only contains numbers."}
                )
            if rev == store.latest_revision():
                return self._json(409, {"error": "Unable to delete current revision."})
            store.delete_revision(rev)
            return self._json(200, {"ok": True})

        # revision resolution: query arg wins over header (server.py:176-184)
        revision = args.get("revision") or environ.get("HTTP_REVISION")
        if revision is not None and not revision_re.match(revision):
            return self._json(410, {"error": f"Revision '{revision}' is not valid."})
        if revision is not None and revision not in store.revisions():
            return self._json(410, {"error": f"Revision '{revision}' not found."})

        try:
            if route in ("metadata", "healthcheck") and method == "GET":
                # /healthcheck also serves metadata (base.py:137-160)
                resp = metadata_response(self.store_root, machine, revision)
                return self._stamped(resp)
            if route == "download-model" and method == "GET":
                # serialized copy of the served model (base.py:164-180)
                import pickle

                model, _, rev, _ = _serving_load(self.store_root, machine, revision)
                return (
                    "200 OK",
                    [
                        ("Content-Type", "application/octet-stream"),
                        ("Content-Disposition", 'attachment; filename="model.pickle"'),
                        ("revision", str(rev)),
                    ],
                    pickle.dumps(model),
                )
            if route == "prediction" and method == "POST":
                payload = self._payload(environ)
                scored = score_prediction(
                    self.spark, self.store_root, machine, payload, revision
                )
                return self._scored(scored, args)
            if route == "anomaly/prediction" and method == "POST":
                payload = self._payload(environ)
                try:
                    scored = score_anomaly(
                        self.spark,
                        self.store_root,
                        machine,
                        payload,
                        revision,
                        all_columns=_truthy(args.get("all_columns")),
                    )
                except AttributeError:
                    # model has no anomaly plan -> 422 (blueprints/anomaly.py:55)
                    return self._json(
                        422,
                        {"error": "model does not support anomaly detection"},
                    )
                return self._scored(scored, args)
        except FileNotFoundError as exc:
            return self._json(404, {"error": str(exc)})
        except (ValueError, KeyError) as exc:
            return self._json(400, {"error": str(exc)})
        return self._json(404, {"error": f"no route {method} {path}"})

    # ------------------------------------------------------- negotiation
    def _payload(self, environ) -> dict:
        """JSON body or multipart parquet parts X / y
        (reference utils.py:283-301)."""
        try:
            length = int(environ.get("CONTENT_LENGTH") or 0)
        except ValueError:
            length = 0
        body = environ["wsgi.input"].read(length) if length else b""
        ctype = environ.get("CONTENT_TYPE", "application/json")
        if ctype.startswith("multipart/"):
            msg = email.message_from_bytes(
                b"Content-Type: " + ctype.encode() + b"\r\n\r\n" + body
            )
            payload: dict = {}
            for part in msg.get_payload():
                name = part.get_param("name", header="content-disposition")
                if name in ("X", "y"):
                    payload[name] = frame_from_parquet_bytes(
                        part.get_payload(decode=True)
                    )
            if "X" not in payload:
                raise ValueError("multipart request requires an X part")
            return payload
        if not body:
            raise ValueError("an X must be provided (JSON body or parquet part)")
        try:
            payload = json.loads(body)
        except json.JSONDecodeError as exc:
            raise ValueError(f"malformed JSON body: {exc}") from exc
        if not isinstance(payload, dict) or "X" not in payload:
            raise ValueError("an X must be provided in the JSON body")
        return payload

    def _json(self, code: int, obj: dict, headers: list | None = None):
        status = f"{code} " + {
            200: "OK",
            400: "Bad Request",
            404: "Not Found",
            410: "Gone",
            422: "Unprocessable Entity",
        }.get(code, "Error")
        return (
            status,
            [("Content-Type", "application/json")] + (headers or []),
            _json_bytes(obj),
        )

    def _stamped(self, resp: dict):
        """Stamp the served revision into body + header."""
        rev = str(resp.get("revision", ""))
        return self._json(200, resp, headers=[("revision", rev)])

    def _scored(self, scored, args: dict):
        """A scored request's response, stamped like :meth:`_stamped`;
        ``?format=parquet`` sends the frame as parquet bytes."""
        if args.get("format") == "parquet":
            return (
                "200 OK",
                [
                    ("Content-Type", "application/octet-stream"),
                    ("revision", scored.revision),
                ],
                scored.parquet(),
            )
        return self._stamped(scored.response())


def _truthy(v: str | None) -> bool:
    return str(v).lower() in ("1", "true", "yes")


def build_app(
    spark, store_root: str, expected_models: list[str] | None = None
) -> GordoServer:
    """Reference ``build_app`` shape (server.py:138-222): returns the WSGI
    callable; run it under any WSGI container, e.g.::

        from wsgiref.simple_server import make_server
        make_server("0.0.0.0", 5555, build_app(spark, root)).serve_forever()
    """
    return GordoServer(spark, store_root, expected_models)


def make_wsgi_server(host: str, port: int, app):
    """Threaded stdlib WSGI container for :func:`run_server` — one
    handler thread per request (daemonized so a hung client never
    blocks shutdown). Returns the server unstarted; the bound port is
    ``srv.server_address[1]`` (useful with ``port=0``)."""
    from socketserver import ThreadingMixIn
    from wsgiref.simple_server import WSGIServer, make_server

    class _ThreadingWSGIServer(ThreadingMixIn, WSGIServer):
        daemon_threads = True

        def handle_error(self, request, client_address):
            # client disconnects are routine; don't spam stderr
            pass

    return make_server(host, port, app, server_class=_ThreadingWSGIServer)


def run_server(
    spark,
    store_root: str,
    host: str = "0.0.0.0",
    port: int = 5555,
    workers: int = 2,
    threads: int = 8,
    expected_models: list[str] | None = None,
):
    """``gordo run-server`` parity (reference gordo/cli/cli.py:255-353 /
    gordo/server/server.py run_server): the reference execs gunicorn
    with ``--workers`` gthread processes x ``--threads`` each; this
    environment has no gunicorn, so a single-process threading WSGI
    container stands in — ``workers``/``threads`` are accepted for flag
    parity and documented as collapsing into the per-request thread
    model (a Spark-backed server is driver-bound on one SparkSession
    anyway, so extra processes would each need their own JVM).

    Prints the bound address (flush) before serving so a supervisor can
    await readiness; serves until SIGTERM/SIGINT, then exits cleanly.
    """
    import signal
    import threading

    srv = make_wsgi_server(host, port, build_app(spark, store_root, expected_models))
    bound = srv.server_address[1]
    print(
        f"gordo_spark server listening on http://{host}:{bound} "
        f"(workers={workers} threads={threads} -> single-process "
        f"threading stand-in)",
        flush=True,
    )

    def _shutdown(signum, frame):
        # shutdown() blocks until serve_forever exits — must run off
        # the main thread or the signal handler deadlocks
        threading.Thread(target=srv.shutdown, daemon=True).start()

    signal.signal(signal.SIGTERM, _shutdown)
    signal.signal(signal.SIGINT, _shutdown)
    try:
        srv.serve_forever()
    finally:
        srv.server_close()
