"""The benchmark's workloads.

Each workload has a ``setup`` that generates its inputs from the seed and
warms the session, and a ``measure`` that repeats the workload's unit of
work (a served request, an operator query) until the time budget is
spent. ``measure`` returns per-unit latencies; when a ``Tracer`` is
passed, it runs every request or query three times, the middle one
traced, and records spans around the program's public functions in it.
Output digests go to a ``DigestBook``; ``README.md`` says why each
workload exists.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import time
from dataclasses import dataclass, field
from urllib.parse import parse_qs

import numpy as np
import pandas as pd

import lake
from probes import Tracer, patched


def _sig(v: float, digits: int = 6) -> float:
    return float(f"{v:.{digits}g}") if v is not None and np.isfinite(v) else v


def _rounded(obj):
    """``obj`` with every float rounded by ``_sig``."""
    if isinstance(obj, dict):
        return {k: _rounded(v) for k, v in obj.items()}
    return _sig(obj) if isinstance(obj, float) else obj


def _digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


class DigestBook:
    """Output digests per (workload, seed), kept in the checkout so that a
    later run with the same seed is compared against the first one."""

    def __init__(self, path: str):
        self.path = path
        try:
            with open(path) as fh:
                self.known = json.load(fh)
        except FileNotFoundError:
            self.known = {}
        self.mismatches: list[str] = []

    def check(self, key: str, digest: str) -> None:
        seen = self.known.setdefault(key, digest)
        if seen != digest:
            self.mismatches.append(f"{key}: digest {digest} differs from earlier {seen}")

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "w") as fh:
            json.dump(self.known, fh, indent=1, sort_keys=True)


@dataclass
class Result:
    # seconds per unit of work (a prediction request, or a pass over the
    # query list), untraced and, in a traced run, traced
    latencies_s: list[float] = field(default_factory=list)
    traced_s: list[float] = field(default_factory=list)
    # epoch-millisecond windows of the traced executions, for the event log
    windows: list[tuple[float, float]] = field(default_factory=list)
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)
    # per-query seconds (build, run) of the last pass, for the report
    detail: dict[str, tuple[float, float]] = field(default_factory=dict)


def _units(seconds: float, unit_s: float, tracer) -> int:
    """Units of work for a run of ``seconds``, at ``unit_s`` seconds per unit
    on a loaded 4-core host; at least one. The count depends on the run
    length only, not on how fast the host is today, so every run of a
    given length does the same work. A traced run executes each unit
    three times (``_executions``), so it does a third of the units."""
    return max(1, int(seconds // unit_s) // len(_executions(tracer)))


def _executions(tracer) -> tuple[bool, ...]:
    """Whether each execution of a request or query is traced. A plain run
    runs it once. A traced run runs it three times in a row: untraced,
    traced, untraced; the traced execution is compared with the mean of a
    colder and a warmer untraced one, so a warm-up trend cancels."""
    return (False,) if tracer is None else (False, True, False)


# --------------------------------------------------------- spans per layer
FLEET_TARGETS = (
    ("gordo_spark.plans.multi", None, "shared_wide_frames", "plans.shared_wide_frames"),
    ("gordo_spark.builder", None, "score_model", "builder.score_model"),
    ("gordo_spark.ml.models", "LinearModel", "fit", "ml.fit"),
    ("gordo_spark.ml.models", "DiffBasedAnomalyDetector", "fit", "ml.fit"),
    ("gordo_spark.ml.models", "DiffBasedAnomalyDetector", "cross_validate", "ml.cross_validate"),
    ("gordo_spark.sources.store", "ModelStore", "dump", "sources.store_dump"),
)


SERVE_TARGETS = (
    ("gordo_spark.serving", None, "dataframe_from_dict", "serving.decode"),
    ("gordo_spark.server", None, "dataframe_from_parquet_bytes", "serving.decode"),
    ("gordo_spark.ml.models", "DiffBasedAnomalyDetector", "anomaly", "serving.score"),
    ("gordo_spark.ml.models", "LinearModel", "predict", "serving.score"),
    ("gordo_spark.serving", None, "dataframe_to_dict", "serving.encode"),
    ("gordo_spark.server", None, "dataframe_into_parquet_bytes", "serving.encode"),
)
# model loads happen on cache misses, which only the first, untraced
# execution of a request sees, so in a traced run they are timed in all
LOAD_TARGETS = (("gordo_spark.sources.store", "ModelStore", "load", "serving.model_load"),)


def resolve(targets) -> list[tuple[object, str, str]]:
    """(module, class or None, attribute, span name) -> (owner, attribute,
    span name). The serving names are the ones ``serving.py`` and
    ``server.py`` imported, so the wrappers sit where the calls are made."""
    import importlib

    out = []
    for module, cls, attr, name in targets:
        owner = importlib.import_module(module)
        out.append((getattr(owner, cls) if cls else owner, attr, name))
    return out


def fleet(lake_path: str, tags: list[str], days: int, seed: int) -> list:
    """Three anomaly-model machines: two on the 10 min grid, which share
    one scan, and one with an off-grid start at 30 min, which takes the
    solo plan."""
    from gordo_spark.config import Machine

    rng = np.random.default_rng(seed)
    end = (lake.SENSOR_START + pd.Timedelta(days=days)).isoformat() + "+00:00"
    out = []
    for k, (res, offset) in enumerate((("10T", 0), ("10T", 0), ("30T", 7))):
        start = lake.SENSOR_START + pd.Timedelta(minutes=offset)
        out.append(Machine.from_config({
            "name": f"served-{k}",
            "dataset": {
                "tag_list": sorted(rng.choice(tags, 4, replace=False).tolist()),
                "resolution": res,
                "train_start_date": start.isoformat() + "+00:00",
                "train_end_date": end,
                "interpolation_method": "linear_interpolation",
                "interpolation_limit": "2H",
                "data_provider": {"type": "ParquetDataProvider", "path": lake_path},
            },
            "model": {"kind": "DiffBasedAnomalyDetector", "window": 12},
            "evaluation": {"cv_mode": "full_build", "n_splits": 3},
        }))
    return out


def fleet_digest(result) -> str:
    """Rounded row count, CV scores and thresholds of one built machine."""
    md = result.metadata["build-metadata"]
    scores = md["model"]["cross_validation"]["scores"]
    th = md["model"]["thresholds"]
    return _digest({
        "rows": md["dataset"]["row_count"],
        "scores": {k: _sig(v["mean"]) for k, v in sorted(scores.items())},
        "tags": {k: _sig(v) for k, v in sorted(th["tags"].items())},
        "total": _sig(th["total"]),
    })


# --------------------------------------------------------------- serve_mixed
def wsgi_call(app, path: str, method: str = "GET", body: bytes = b"",
              content_type: str = "application/json"):
    """Call a WSGI app in-process; returns (status, headers, body)."""
    import sys

    path, _, query = path.partition("?")
    environ = {
        "PATH_INFO": path, "SCRIPT_NAME": "", "REQUEST_METHOD": method,
        "QUERY_STRING": query, "CONTENT_TYPE": content_type,
        "CONTENT_LENGTH": str(len(body)), "SERVER_NAME": "localhost",
        "SERVER_PORT": "80", "SERVER_PROTOCOL": "HTTP/1.1",
        "wsgi.version": (1, 0), "wsgi.url_scheme": "http",
        "wsgi.input": io.BytesIO(body), "wsgi.errors": sys.stderr,
        "wsgi.multithread": False, "wsgi.multiprocess": False, "wsgi.run_once": False,
    }
    out = {}

    def start_response(status, headers):
        out["status"], out["headers"] = int(status.split()[0]), dict(headers)

    data = b"".join(app(environ, start_response))
    return out["status"], out["headers"], data


def json_body(X: pd.DataFrame, y: pd.DataFrame) -> bytes:
    """The JSON body ``Client`` posts: ``{"X": {tag: {iso ts: value}}, "y": ...}``."""
    def as_dict(frame):
        ts = [t.isoformat() for t in frame["ts"]]
        return {c: dict(zip(ts, frame[c].tolist())) for c in frame.columns if c != "ts"}

    return json.dumps({"X": as_dict(X), "y": as_dict(y)}).encode()


def parquet_body(X: pd.DataFrame, y: pd.DataFrame) -> tuple[bytes, str]:
    """The multipart body ``Client(use_parquet=True)`` posts: parquet parts
    ``X`` and ``y``, base64 transfer-encoded."""
    import base64

    import pyarrow as pa
    import pyarrow.parquet as pq

    boundary = "perfbenchboundary"
    chunks = []
    for name, frame in (("X", X), ("y", y)):
        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pandas(frame), buf)
        chunks.append(
            f'--{boundary}\r\nContent-Disposition: form-data; name="{name}"; '
            f'filename="{name}.parquet"\r\nContent-Type: application/octet-stream\r\n'
            "Content-Transfer-Encoding: base64\r\n\r\n".encode()
            + base64.b64encode(buf.getvalue()) + b"\r\n"
        )
    chunks.append(f"--{boundary}--\r\n".encode())
    return b"".join(chunks), f"multipart/form-data; boundary={boundary}"


class ServeMixed:
    """One closed-loop client, no think time, against ``build_app``'s WSGI
    callable in-process. The request stream is what ``gordo_spark.client.
    Client.predict`` sends for a time range over every served machine: per
    machine one metadata GET, then anomaly posts of ``batch_size`` rows
    and a shorter last batch. Requests are pinned to each machine's built
    revision."""

    name = "serve_mixed"
    # Client's default batch_size; a pass covers, per machine, FULL_BATCHES
    # full batches and one last batch of LAST_BATCH rows
    BATCH = 1000
    FULL_BATCHES = 1
    LAST_BATCH = 840
    PASS_S = 7.5

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work, self.seed = work, seed
        self.n_tags, self.days = (8, 2) if smoke else (12, 3)
        self.setup_layer: dict[str, float] = {}
        self.build_window = (0.0, 0.0)

    def setup(self, spark, book: DigestBook, tracer: Tracer | None) -> None:
        """Build the served fleet with ``build_machines`` (traced when a
        tracer is given) and start the WSGI app on its model store."""
        from gordo_spark.builder import ModelBuilder, build_machines
        from gordo_spark.server import build_app
        from gordo_spark.sources.store import DiskRegistry, ModelStore

        path = os.path.join(self.work, "sensors.parquet")
        tags = lake.write_sensor_lake(path, self.n_tags, self.days, self.seed)
        machines = fleet(path, tags, self.days, self.seed)
        self.root = os.path.join(self.work, "models")
        timer = Tracer()
        with contextlib.ExitStack() as stack:
            stack.enter_context(patched(timer, [(ModelBuilder, "build", "build")]))
            if tracer is not None:
                stack.enter_context(patched(tracer, resolve(FLEET_TARGETS)))
            w0 = time.time() * 1000.0
            t0 = time.perf_counter()
            built = build_machines(spark, machines, ModelStore(self.root),
                                   DiskRegistry(os.path.join(self.work, "registry")),
                                   max_workers=4)
            wall = time.perf_counter() - t0
            self.build_window = (w0, time.time() * 1000.0)
        self.failed = 0
        for m in machines:
            r = built.get(m.name)
            if r is None or r.cached or not r.path:
                self.failed += 1
            else:
                book.check(f"{self.name}/{m.name}", fleet_digest(r))
        n = len(machines)
        self.setup_layer = {
            "builder.machines": float(n),
            "builder.machines_per_s": n / wall,
            "builder.machine_build_p50_s": float(np.median(timer.durations)),
        }
        if tracer is not None:
            for key in ("plans.shared_wide_frames", "builder.score_model", "ml.fit",
                        "ml.cross_validate", "sources.store_dump"):
                self.setup_layer[key + "_s"] = tracer.seconds.get(key, 0.0) / n
        # build_machines writes each machine into its own revision
        # directory; every request is pinned to the machine's revision
        self.revision = {n: r.path.rstrip("/").split("/")[-2] for n, r in built.items()}
        self.tags = {m.name: m.dataset["tag_list"] for m in machines}
        self.freq = {m.name: m.dataset["resolution"].replace("T", "min") for m in machines}
        self.app = build_app(spark, self.root)
        name = sorted(self.revision)[0]
        self.fixed = self.batch_request(name, self.frames(name, self.BATCH, 12345), False)

    def warm_up(self, spark) -> None:
        """A metadata GET and a full batch in each format, untimed."""
        name = sorted(self.revision)[0]
        wsgi_call(self.app, *self.metadata_request(name)[:2])
        for use_parquet in (False, True):
            wsgi_call(self.app, *self.batch_request(name, self.frames(name, self.BATCH, 0),
                                                    use_parquet))

    def frames(self, name: str, rows: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
        """X and y as ``Client`` builds them: a ``ts`` column and the
        machine's tags at its resolution, after the training window."""
        rng = np.random.default_rng(seed)
        start = lake.SENSOR_START + pd.Timedelta(days=self.days)
        ts = pd.date_range(start, periods=rows, freq=self.freq[name])
        x = np.cumsum(rng.normal(size=(rows, len(self.tags[name]))), axis=0) * 0.05
        X = pd.DataFrame(x, columns=self.tags[name])
        y = X + rng.normal(scale=0.05, size=X.shape)
        X.insert(0, "ts", ts)
        y.insert(0, "ts", ts)
        return X, y

    def metadata_request(self, name: str):
        return f"/{name}/metadata?revision={self.revision[name]}", "GET", b"", "application/json"

    def batch_request(self, name: str, frames, use_parquet: bool):
        X, y = frames
        fmt = "parquet" if use_parquet else "json"
        path = f"/{name}/anomaly/prediction?revision={self.revision[name]}&format={fmt}"
        if use_parquet:
            return (path, "POST", *parquet_body(X, y))
        return path, "POST", json_body(X, y), "application/json"

    def client_pass(self, i: int):
        """Pass ``i`` of the seeded request stream: the machines in a seeded
        order; the seed also picks the one machine whose batches a
        ``use_parquet=True`` client sends, and the values. Yields requests
        as (path, method, body, content type)."""
        rng = np.random.default_rng([self.seed, i])
        names = sorted(self.revision)
        parquet = names[rng.integers(len(names))]
        for name in rng.permutation(names):
            yield self.metadata_request(name)
            X, y = self.frames(name, self.FULL_BATCHES * self.BATCH + self.LAST_BATCH,
                               int(rng.integers(0, 2**31)))
            for lo in range(0, len(X), self.BATCH):
                yield self.batch_request(name, (X.iloc[lo:lo + self.BATCH],
                                                y.iloc[lo:lo + self.BATCH]), name == parquet)

    def fixed_digest(self) -> str:
        status, _, body = wsgi_call(self.app, *self.fixed)
        if status != 200:
            return f"status {status}"
        return _digest(_rounded(json.loads(body)["data"]))

    def measure(self, spark, seconds: float, book: DigestBook, tracer: Tracer | None) -> Result:
        from gordo_spark import serving

        res = Result()
        # unpinned metadata probes: the server resolves them to the latest
        # revision, which holds only the last machine built
        res.layer["serving.unpinned_non200"] = float(sum(
            wsgi_call(self.app, f"/{name}/metadata")[0] != 200 for name in sorted(self.revision)
        ))
        book.check(f"{self.name}/fixed", self.fixed_digest())
        targets = resolve(SERVE_TARGETS)
        loads = Tracer()
        hits = lookups = 0
        with patched(loads, resolve(LOAD_TARGETS)) if tracer else contextlib.nullcontext():
            for i in range(_units(seconds, self.PASS_S, tracer)):
                for path, method, body, ctype in self.client_pass(i):
                    revision = parse_qs(path.partition("?")[2])["revision"][0]
                    plain = []
                    for j, traced in enumerate(_executions(tracer)):
                        info0 = serving._load_cached.cache_info()
                        with patched(tracer, targets) if traced else contextlib.nullcontext():
                            w0 = time.time() * 1000.0
                            t0 = time.perf_counter()
                            status, headers, _ = wsgi_call(self.app, path, method, body, ctype)
                            took = time.perf_counter() - t0
                        if traced:
                            if method == "POST":
                                res.traced_s.append(took)
                            res.windows.append((w0, time.time() * 1000.0))
                        else:
                            plain.append(took)
                        res.attempted += 1
                        if status != 200 or headers.get("revision") != revision:
                            res.failed += 1
                        if j == 0:
                            # the first execution sees the model cache as a
                            # plain run leaves it; the repeats always hit
                            info1 = serving._load_cached.cache_info()
                            hits += info1.hits - info0.hits
                            lookups += (info1.hits + info1.misses) - (info0.hits + info0.misses)
                    # the unit is a prediction request: a metadata GET
                    # takes about a millisecond, and with every third
                    # request one, the median would fall on the fastest
                    # quarter of the batches
                    if method == "POST":
                        res.latencies_s.append(float(np.mean(plain)))
        res.wall_s = sum(res.latencies_s)
        if tracer is not None:
            n = max(1, len(res.traced_s))
            spans = ("serving.decode", "serving.score", "serving.encode")
            for key in spans:
                res.layer[key + "_ms"] = tracer.seconds.get(key, 0.0) * 1000 / n
            # per prediction request; the traced executions never load
            res.layer["serving.model_load_ms"] = (
                loads.total("serving.model_load") * 1000 / len(res.latencies_s))
            res.layer["server.self_ms"] = (sum(res.traced_s) - tracer.total(*spans)) * 1000 / n
            res.layer["serving.model_cache_hit_ratio"] = hits / max(1, lookups)
            res.layer["serving.model_cache_lookups"] = float(lookups)
        return res


# ------------------------------------------------------------ ops_iterative
# The driver-bound queries of the operator library: connected components
# (er_entities), a label-propagation loop with a job per iteration, and
# msprt_monitor, which pins intermediates eagerly
ITERATIVE = ["er_entities", "msprt_monitor"]
# scale factor of the table lake. The queries' time is DataFrame build, a
# driver-side loop with a job per iteration, which hardly grows with the
# data; a small lake buys a run several passes, whose median a slow one
# does not move
SF = 0.001
# untimed passes that end set-up: the JIT compiles the driver-side loops
# over the first four or five passes, and how fast it gets there varies
# from run to run (the first pass costs about 3x a later one, the second
# 1.2x to 1.7x), so a run measures its fifth pass and the later ones
WARM_PASSES = 4


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frame_digest(df: pd.DataFrame) -> str:
    df = normalize(df)
    cols = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            cols[c] = [_sig(v) if v == v else None for v in s]
        else:
            cols[c] = [str(v) for v in s]
    return _digest({"rows": len(df), "cols": cols})


def matches_oracle(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    if len(got) != len(exp) or sorted(got.columns) != sorted(exp.columns):
        return False
    g, e = normalize(got), normalize(exp)
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(e[c]):
            gv, ev = g[c].astype(float).fillna(-9e99), e[c].astype(float).fillna(-9e99)
            if not np.allclose(gv, ev, rtol=1e-9, atol=1.5e-6):
                return False
        elif not g[c].astype(str).equals(e[c].astype(str)):
            return False
    return True


class OpsIterative:
    """Operator-library queries from ``__spark_entry__.queries()`` over a
    seeded table lake, in a seed-set order, each built, then run with the
    noop sink. The unit of work is one pass over the list; its time is the
    sum of build and run over the queries."""

    name = "ops_iterative"
    PASS_S = 3.75

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work, self.seed = work, seed
        rng = np.random.default_rng(seed)
        self.queries = [ITERATIVE[i] for i in rng.permutation(len(ITERATIVE))]

    def setup(self, spark, book: DigestBook, tracer: Tracer | None) -> None:
        self.failed = 0
        self.setup_layer: dict[str, float] = {}
        self.built: dict = {}  # the last measured DataFrame of each query
        self.lake = os.path.join(self.work, f"lake-{self.name}")
        lake.write_table_lake(self.lake, SF, self.seed)
        import __spark_entry__

        self.fns = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def warm_up(self, spark) -> None:
        """``WARM_PASSES`` untimed passes over the measured queries."""
        for _ in range(WARM_PASSES):
            for q in self.queries:
                self.fns[q](spark, self.lake).write.format("noop").mode("overwrite").save()

    def execute(self, spark, q: str, group: str | None) -> tuple:
        """Build ``q``, then run it with the noop sink. With a job ``group``
        (traced) the jobs started by the build and by ``explain`` are
        counted and ``explain`` is timed. Returns (DataFrame, build s,
        run s, explain s, build jobs, explain jobs)."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        explain_s, jobs = 0.0, [0, 0]
        if group:
            sc.setJobGroup(f"{group}-build", q)
        t0 = time.perf_counter()
        df = self.fns[q](spark, self.lake)
        build_s = time.perf_counter() - t0
        if group:
            jobs[0] = len(tracker.getJobIdsForGroup(f"{group}-build"))
            sc.setJobGroup(f"{group}-explain", q)
            e0 = time.perf_counter()
            with contextlib.redirect_stdout(io.StringIO()):
                df.explain()
            explain_s = time.perf_counter() - e0
            jobs[1] = len(tracker.getJobIdsForGroup(f"{group}-explain"))
            sc.setJobGroup(f"{group}-run", q)
        r0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        run_s = time.perf_counter() - r0
        if group:
            sc.setJobGroup("", "")
        return df, build_s, run_s, explain_s, jobs[0], jobs[1]

    def measure(self, spark, seconds: float, book: DigestBook, tracer: Tracer | None) -> Result:
        res = Result()
        sums = {"build": 0.0, "plan": 0.0, "run": 0.0, "build_jobs": 0, "explain_jobs": 0}
        per_query: dict[str, float] = {}
        passes = _units(seconds, self.PASS_S, tracer)
        for i in range(passes):
            plain_s = traced_s = 0.0
            for q in self.queries:
                plain = []
                for traced in _executions(tracer):
                    w0 = time.time() * 1000.0
                    df, b, r, e, bj, ej = self.execute(spark, q, f"{q}-{i}" if traced else None)
                    res.attempted += 1
                    if traced:
                        traced_s += b + r
                        res.windows.append((w0, time.time() * 1000.0))
                        sums["build"] += b
                        sums["plan"] += e
                        sums["run"] += r
                        sums["build_jobs"] += bj
                        sums["explain_jobs"] += ej
                        per_query[q] = per_query.get(q, 0.0) + b
                    else:
                        plain.append((b, r))
                        self.built[q] = df
                res.detail[q] = tuple(np.mean(plain, axis=0))
                plain_s += sum(res.detail[q])
            res.latencies_s.append(plain_s)
            if tracer is not None:
                res.traced_s.append(traced_s)
        res.wall_s = sum(res.latencies_s)
        if tracer is not None:
            res.layer.update({
                "ops.build_s": sums["build"] / passes, "ops.plan_s": sums["plan"] / passes,
                "ops.run_s": sums["run"] / passes, "ops.build_jobs": sums["build_jobs"] / passes,
                "ops.explain_jobs": sums["explain_jobs"] / passes,
            })
            for q, s in per_query.items():
                res.layer[f"ops.build_s.{q}"] = s / passes
        return res

    def check(self, spark, book: DigestBook) -> int:
        """Untimed output checks: row count and digest stable across runs
        of one seed; equal to the DuckDB oracle where there is one."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads=2")
        con.execute("SET memory_limit='512MB'")
        con.execute(f"SET temp_directory='{os.path.join(self.work, 'duckdb-tmp')}'")
        con.execute("SET max_temp_directory_size='1GB'")
        for t in lake.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.lake}/{t}.parquet'")
        failed = 0
        for q in self.queries:
            got = self.built[q].toPandas()
            book.check(f"{self.name}/{q}", frame_digest(got))
            if q in self.oracles:
                if not matches_oracle(got, con.execute(self.oracles[q]).df()):
                    print(f"check failed: {q} differs from its DuckDB oracle", flush=True)
                    failed += 1
        con.close()
        return failed
