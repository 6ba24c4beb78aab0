"""The ``gordo build`` lifecycle on Spark — config in, trained artifact out.

Reference flow (gordo/builder/build_model.py:104-339 in /root/reference,
SURVEY.md §3.1): parse/validate config -> config-hash cache check -> fetch
data (the whole dataset query executes here, timed as query_duration_sec)
-> cross-validate (per-fold metrics + thresholds) -> fit -> persist
model.pkl + metadata.json with a revision -> registry write.

Spark shape: steps stay driver-side except the data plan — ``get_data`` is
one Catalyst DAG; CV folds are lazy filters over ONE cached aligned frame
(each fold shares the scan); the fit is a single distributed aggregation
(LinearModel sufficient statistics). Nothing but configs, Gram matrices and
thresholds ever reaches the driver, so the same builder drives a 1000-
executor cluster unchanged: thousands of machines = a driver loop or thread
pool submitting concurrent jobs (SURVEY.md §3.3), not one pod per machine.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_spark.config import Machine
from gordo_spark.ml.cv import split_metadata, timeseries_split
from gordo_spark.ml.models import DiffBasedAnomalyDetector, model_from_definition
from gordo_spark.plans.dataset import TimeSeriesDataset
from gordo_spark.sources.store import DiskRegistry, ModelStore, calculate_cache_key

_DATASET_FIELDS = {
    "tag_list", "train_start_date", "train_end_date", "target_tag_list",
    "additional_tags", "resolution", "aggregation_methods",
    "interpolation_method", "interpolation_limit", "row_filter",
    "row_filter_buffer_size", "filter_periods", "known_filter_periods",
    "n_samples_threshold", "data_provider",
}


def dataset_from_dict(d: dict) -> TimeSeriesDataset:
    """Machine ``dataset`` dict -> TimeSeriesDataset (unknown keys such as
    ``type`` or asset routing fields are ignored, mirroring the reference's
    open config dicts, gordo/machine/validators.py:37-107)."""
    kwargs = {k: v for k, v in d.items() if k in _DATASET_FIELDS}
    tags = kwargs.get("tag_list") or []
    kwargs["tag_list"] = [t["name"] if isinstance(t, dict) else t for t in tags]
    for key in ("target_tag_list", "additional_tags"):
        if kwargs.get(key):
            kwargs[key] = [
                t["name"] if isinstance(t, dict) else t for t in kwargs[key]
            ]
    return TimeSeriesDataset(**kwargs)


def score_model(
    model,
    test: DataFrame,
    targets: list[str],
    ts_col: str = "ts",
    scale: dict[str, tuple[float, float]] | None = None,
) -> dict[str, dict[str, float]]:
    """M5 — mse/mae/r2/explained_variance per target plus the across-target
    mean, in ONE aggregation over the fold's test frame.

    ``test`` carries the feature columns plus targets renamed ``_yt_<t>``
    (targets default to the feature tags, so the rename avoids ambiguous
    column references in the predict expressions). ``scale`` is the
    ``scoring_scaler`` stats ``{t: (center, spread)}`` applied to y and
    y_hat before the metrics (reference gordo/builder/build_model.py:
    377-446 — scaled metrics comparable across tags; r2/ev are affine-
    invariant, mse/mae scale by 1/spread)."""

    def _s(col, t):
        if scale is None:
            return col
        a, b = scale[t]
        return (col - F.lit(float(a))) / F.lit(float(b) if b else 1.0)

    yscaled = [_s(F.col(f"`_yt_{t}`"), t).alias(f"_y_{t}") for t in targets]
    if hasattr(model, "predict_exprs"):
        pred = test.select(
            ts_col,
            *yscaled,
            *[
                _s(e, t).alias(f"_p_{t}")
                for e, t in zip(model.predict_exprs("_p_"), targets)
            ],
        )
    else:
        # offset/lookback models predict via a ts-keyed frame (shorter than
        # the input); metrics run over the joined rows
        raw = model.predict(
            test.select(
                ts_col, *[F.col("`" + c + "`").alias(c) for c in model.feature_cols]
            ),
            ts_col,
            "_p_",
        )
        pred = test.select(ts_col, *yscaled).join(
            raw.select(
                ts_col,
                *[_s(F.col(f"`_p_{t}`"), t).alias(f"_p_{t}") for t in targets],
            ),
            ts_col,
        )
    aggs = []
    for t in targets:
        d = F.col(f"`_y_{t}`") - F.col(f"`_p_{t}`")
        aggs += [
            F.avg(d * d).alias(f"mse_{t}"),
            F.avg(F.abs(d)).alias(f"mae_{t}"),
            (1 - F.avg(d * d) / F.var_pop(f"`_y_{t}`")).alias(f"r2_{t}"),
            (1 - F.var_pop(d) / F.var_pop(f"`_y_{t}`")).alias(f"ev_{t}"),
        ]
    row = pred.agg(*aggs).collect()[0]
    out: dict[str, dict[str, float]] = {}
    for t in targets:
        out[t] = {
            "mean-squared-error": row[f"mse_{t}"],
            "mean-absolute-error": row[f"mae_{t}"],
            "r2-score": row[f"r2_{t}"],
            "explained-variance-score": row[f"ev_{t}"],
        }
    n = float(len(targets))
    out["aggregate"] = {
        m: sum(out[t][m] for t in targets) / n
        for m in ("mean-squared-error", "mean-absolute-error", "r2-score",
                  "explained-variance-score")
    }
    return out


@dataclass
class BuildResult:
    model: Any
    metadata: dict
    path: str | None
    cached: bool


class ModelBuilder:
    """Build one machine: cache-check -> data -> CV -> fit -> persist."""

    def __init__(
        self,
        machine: Machine,
        store: ModelStore | None = None,
        registry: DiskRegistry | None = None,
        version: str = "0.1",
        wide_frame: DataFrame | None = None,
        revision: str | None = None,
    ):
        self.machine = machine
        self.store = store
        self.registry = registry
        self.version = version
        # a precomputed aligned frame (e.g. from plans.multi's shared-scan
        # fan-out) — skips this machine's solo scan entirely
        self.wide_frame = wide_frame
        # the store revision to write into (default: a new one per build)
        self.revision = revision

    @property
    def cache_key(self) -> str:
        m = self.machine
        return calculate_cache_key(
            m.name, m.model, m.dataset, m.evaluation, self.version
        )

    def build(self, spark: SparkSession) -> BuildResult:
        m = self.machine
        key = self.cache_key
        if self.registry is not None and self.store is not None:
            cached_rev = self.registry.get_value(key)
            if cached_rev is not None:
                try:
                    model, metadata = self.store.load(m.name, cached_rev)
                    return BuildResult(model, metadata, None, cached=True)
                except FileNotFoundError:
                    pass  # stale registry entry: rebuild

        t0 = time.time()
        dataset = dataset_from_dict(m.dataset)
        if self.wide_frame is not None:
            from gordo_spark.operators import require_n_samples, split_xy

            wide = require_n_samples(self.wide_frame, dataset.n_samples_threshold)
            X, y = split_xy(
                wide,
                dataset._expand(dataset.tag_list),
                dataset._expand(dataset.target_tag_list)
                if dataset.target_tag_list
                else None,
            )
        else:
            X, y = dataset.get_data(spark)
        # folds, metrics, thresholds and the final fit all reuse this frame
        X = X.cache()
        y = y.cache()
        query_duration = time.time() - t0

        model = model_from_definition(m.model)
        evaluation = m.evaluation or {}
        n_splits = int(evaluation.get("n_splits", 3))
        cv_mode = evaluation.get("cv_mode", "full_build")
        targets = [c for c in y.columns if c != "ts"]

        t1 = time.time()
        feats = [c for c in X.columns if c != "ts"]
        yren = y.select(
            "ts", *[F.col("`" + t + "`").alias(f"_yt_{t}") for t in targets]
        )
        XY = X.join(yren, "ts").cache()
        folds_meta = split_metadata(XY, n_splits)
        scoring_scaler = evaluation.get("scoring_scaler")
        scores = []
        for train, test in timeseries_split(XY, n_splits):
            fold_model = model_from_definition(m.model)
            base = getattr(fold_model, "base", fold_model)
            base.fit(
                train.select("ts", *[F.col("`" + c + "`").alias(c) for c in feats]),
                train.select(
                    "ts", *[F.col(f"`_yt_{t}`").alias(t) for t in targets]
                ),
            )
            scale = None
            if scoring_scaler:
                from gordo_spark.ml.scalers import MinMaxScalerExpr, RobustScalerExpr

                cls = {"minmax": MinMaxScalerExpr, "robust": RobustScalerExpr}[
                    scoring_scaler
                ]
                scale = (
                    cls(targets)
                    .fit(
                        train.select(
                            *[F.col(f"`_yt_{t}`").alias(t) for t in targets]
                        )
                    )
                    .stats
                )
            scores.append(score_model(base, test, targets, scale=scale))
        if isinstance(model, DiffBasedAnomalyDetector):
            model.base.feature_cols = [c for c in X.columns if c != "ts"]
            model.base.target_cols = targets
            model.cross_validate(X, y, n_splits=n_splits)
        cv_duration = time.time() - t1

        # A5 — per-metric mean/std/min/max across folds + per-fold raws
        agg_scores: dict[str, dict] = {}
        for metric in scores[0]["aggregate"] if scores else []:
            vals = [s["aggregate"][metric] for s in scores]
            mean = sum(vals) / len(vals)
            var = sum((v - mean) ** 2 for v in vals) / len(vals)
            agg_scores[metric] = {
                "mean": mean, "std": var ** 0.5,
                "min": min(vals), "max": max(vals), "raw": vals,
            }

        path = None
        if cv_mode != "cross_val_only":
            model.fit(X, y)

        metadata = {
            "name": m.name,
            "build-metadata": {
                "model": {
                    "cache_key": key,
                    "model_creation_date": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
                    "model_training_duration_sec": time.time() - t0,
                    "query_duration_sec": query_duration,
                    "cv_duration_sec": cv_duration,
                    "cross_validation": {
                        "folds": folds_meta,
                        "scores": agg_scores,
                        "per_fold": scores,
                    },
                },
                "dataset": {
                    "row_count": X.count(),
                    "tag_list": dataset.tag_list,
                    "target_tag_list": dataset.target_tag_list or dataset.tag_list,
                    "resolution": dataset.resolution,
                    # the declared config, verbatim — lets a client rebuild
                    # exactly the trained frame (provider, interpolation,
                    # range) for request-time scoring
                    "config": dict(m.dataset),
                },
            },
            "runtime": m.runtime,
            "user-defined": m.metadata,
        }
        if isinstance(model, DiffBasedAnomalyDetector):
            metadata["build-metadata"]["model"]["thresholds"] = {
                "tags": model.tag_thresholds_,
                "total": model.total_threshold_,
            }
        if hasattr(model, "get_metadata"):
            # the reference merges every model's own metadata into the build
            # record (machine.py:249-269 -> GordoBase.get_metadata)
            metadata["build-metadata"]["model"]["model-metadata"] = (
                model.get_metadata()
            )

        if cv_mode != "cross_val_only" and self.store is not None:
            path = self.store.dump(model, m.name, metadata, revision=self.revision)
            if self.registry is not None:
                rev = path.split("/")[-2]
                self.registry.write_key(key, rev)
        if (m.runtime or {}).get("reporters"):
            from gordo_spark.reporters import run_reporters

            run_reporters(spark, m, metadata)
        XY.unpersist()
        X.unpersist()
        y.unpersist()
        return BuildResult(model, metadata, path, cached=False)


def build_machines(
    spark: SparkSession,
    machines: list[Machine],
    store: ModelStore | None = None,
    registry: DiskRegistry | None = None,
    max_workers: int = 4,
    share_scans: bool = True,
) -> dict[str, BuildResult]:
    """Build many machines concurrently against one SparkSession — the
    replacement for the reference's one-K8s-pod-per-machine fan-out
    (gordo/cli/workflow_generator.py): Spark's scheduler interleaves the
    per-machine jobs; the driver only coordinates.

    ``share_scans=True`` groups machines whose dataset plans share a prefix
    (provider/resolution/aggregation/interpolation) and runs ONE
    scan+resample per group instead of one per machine (plans.multi) —
    at lake scale that is N-machines-1-scan instead of N scans; the shared
    scans are released when the last machine is built.

    Every machine built writes into ONE new store revision, so the
    revision lists the fleet and unpinned requests resolve for every
    machine. A machine served from the build cache keeps the revision it
    was built in."""
    from concurrent.futures import ThreadPoolExecutor

    wides: dict[str, DataFrame] = {}
    if share_scans:
        from gordo_spark.plans.multi import shared_wide_frames

        wides = shared_wide_frames(
            spark, {m.name: dataset_from_dict(m.dataset) for m in machines}
        )
    revision = ModelStore.new_revision()

    def one(machine: Machine) -> tuple[str, BuildResult]:
        builder = ModelBuilder(
            machine, store, registry, wide_frame=wides.get(machine.name),
            revision=revision,
        )
        return machine.name, builder.build(spark)

    try:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            return dict(pool.map(one, machines))
    finally:
        if share_scans:
            wides.release()
