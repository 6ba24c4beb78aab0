"""M1/M2/M5/M6/M8 — deterministic models + the diff-based anomaly detector.

The reference's oracle-friendly base estimator is
``MultiOutputRegressor(LinearRegression)``
(tests/gordo/machine/model/anomaly/test_anomaly_detectors.py:44-51 in
/root/reference); its production models are Keras autoencoders built by a
registry (gordo/machine/model/factories/*). Here:

- ``LinearModel`` — exact multi-output OLS. The sufficient statistics
  (X'X, X'y with intercept) are computed as ONE Spark aggregation over the
  training frame (p = #tags is small, so the Gram matrix is tiny); the
  (p+1)x(p+1) solve happens on the driver with numpy; predict is a pure
  column expression. Fully distributed fit, codegen'd predict, zero UDFs.
- ``DiffBasedAnomalyDetector`` — reference diff.py semantics: fit base
  estimator, scaler fit on y after training, TimeSeriesSplit CV with
  thresholds from the LAST fold's rolling(6).min().max() (diff.py:229-264 —
  deliberately the last fold, not an aggregate), anomaly() emitting the full
  column block (the column plan of operators.anomaly.anomaly_stages, which
  a model server builds once per loaded model).
- model registry (``register_model``) mirroring the reference's
  ``register_model_builder`` extension point (gordo/machine/model/register.py).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from gordo_spark.ml.cv import timeseries_split
from gordo_spark.ml.scalers import MinMaxScalerExpr
from gordo_spark.operators.anomaly import (
    Stage,
    anomaly_stages,
    apply_stages,
    fold_threshold,
)

_MODEL_REGISTRY: dict[str, type] = {}


def register_model(kind: str):
    def deco(cls):
        _MODEL_REGISTRY[kind] = cls
        return cls

    return deco


def model_from_definition(d: dict):
    """Declarative def -> model tree. Nested dicts carrying a ``kind`` key
    instantiate recursively — the reference's from_definition builds whole
    sklearn estimator trees this way (gordo/serializer/from_definition.py:
    23-66,138-250 in /root/reference)."""
    d = dict(d)
    kind = d.pop("kind")
    if kind in _MODEL_REGISTRY:
        cls = _MODEL_REGISTRY[kind]
    elif "." in kind:
        # reference parity: any importable module.Class is a valid kind
        # (gordo/serializer/from_definition.py:138-250 in /root/reference)
        import importlib

        mod_name, _, cls_name = kind.rpartition(".")
        try:
            cls = getattr(importlib.import_module(mod_name), cls_name)
        except (ImportError, AttributeError) as exc:
            raise ValueError(f"cannot import model kind {kind!r}: {exc}") from exc
    else:
        raise ValueError(f"unknown model kind {kind!r}")
    kwargs = {
        k: (
            model_from_definition(v)
            # *_kwargs dicts are opaque constructor parameters (e.g.
            # estimator_kwargs carrying a factory `kind`), never nested
            # model definitions
            if isinstance(v, dict) and "kind" in v and not k.endswith("_kwargs")
            else v
        )
        for k, v in d.items()
    }
    return cls(**kwargs)


def model_into_definition(model) -> dict:
    """Model tree -> fully-materialized def dict (the reference's
    into_definition, used to persist the *effective* config including
    defaults, gordo/serializer/into_definition.py:12-66). Round-trips with
    model_from_definition."""
    return model.into_definition()


def _q(c: str) -> Column:
    return F.col("`" + c + "`")


@register_model("LinearModel")
class LinearModel:
    """Exact multi-output OLS with intercept; fit = one Spark aggregation."""

    def __init__(self, feature_cols: Sequence[str] | None = None, target_cols: Sequence[str] | None = None):
        self.feature_cols = list(feature_cols) if feature_cols else None
        self.target_cols = list(target_cols) if target_cols else None
        self.coef_: np.ndarray | None = None  # shape (p+1, m), row 0 = intercept

    def fit(self, X: DataFrame, y: DataFrame, ts_col: str = "ts") -> "LinearModel":
        feats = self.feature_cols or [c for c in X.columns if c != ts_col]
        targets = self.target_cols or [c for c in y.columns if c != ts_col]
        self.feature_cols, self.target_cols = feats, targets
        joined = X.join(y.select(ts_col, *[_q(t).alias(f"_y_{t}") for t in targets]), ts_col)
        terms = ["1"] + feats
        aggs = []
        # upper triangle of X'X (with intercept term "1")
        for i, a in enumerate(terms):
            for b in terms[i:]:
                ca = F.lit(1.0) if a == "1" else _q(a)
                cb = F.lit(1.0) if b == "1" else _q(b)
                aggs.append(F.sum(ca * cb).alias(f"_xx_{i}_{terms.index(b, i)}"))
        for i, a in enumerate(terms):
            ca = F.lit(1.0) if a == "1" else _q(a)
            for j, t in enumerate(targets):
                aggs.append(F.sum(ca * F.col(f"`_y_{t}`")).alias(f"_xy_{i}_{j}"))
        row = joined.agg(*aggs).collect()[0]
        p = len(terms)
        xtx = np.zeros((p, p))
        for i in range(p):
            for j in range(i, p):
                xtx[i, j] = xtx[j, i] = row[f"_xx_{i}_{j}"]
        xty = np.array(
            [[row[f"_xy_{i}_{j}"] for j in range(len(targets))] for i in range(p)]
        )
        self.coef_ = self._solve(xtx, xty)
        return self

    def _solve(self, xtx: np.ndarray, xty: np.ndarray) -> np.ndarray:
        return np.linalg.solve(xtx, xty)

    def predict_exprs(self, prefix: str = "model_output__") -> list[Column]:
        cols = []
        for j, t in enumerate(self.target_cols):
            e = F.lit(float(self.coef_[0, j]))
            for i, f in enumerate(self.feature_cols):
                e = e + F.lit(float(self.coef_[i + 1, j])) * _q(f)
            cols.append(e.alias(f"{prefix}{t}"))
        return cols

    def predict(self, X: DataFrame, ts_col: str = "ts", prefix: str = "model_output__") -> DataFrame:
        return X.select(ts_col, *self.predict_exprs(prefix))

    @property
    def offset(self) -> int:
        """M8 — row offset between input and output (0: no lookback)."""
        return 0

    def get_metadata(self) -> dict:
        """GordoBase.get_metadata surface (the reference merges every
        model's metadata into the build record)."""
        return {
            "feature-columns": self.feature_cols,
            "target-columns": self.target_cols,
            "fitted": self.coef_ is not None,
        }

    def into_definition(self) -> dict:
        return {
            "kind": "LinearModel",
            "feature_cols": self.feature_cols,
            "target_cols": self.target_cols,
        }


@register_model("RidgeModel")
class RidgeModel(LinearModel):
    """L2-regularized :class:`LinearModel` — identical one-aggregation
    sufficient-statistics fit, solving ``(X'X + alpha * R) beta = X'y``
    with ``R`` the identity EXCEPT a zero at the intercept (the
    standard unpenalized-intercept convention, sklearn's
    ``Ridge(fit_intercept=True)``). The regularizer touches only the
    collected (p+1)x(p+1) matrix on the driver — nothing about the
    distributed pass changes, so ridge costs exactly what OLS costs at
    any scale and stays deterministic (M9)."""

    def __init__(
        self,
        feature_cols: Sequence[str] | None = None,
        target_cols: Sequence[str] | None = None,
        alpha: float = 1.0,
    ):
        super().__init__(feature_cols, target_cols)
        self.alpha = float(alpha)

    def _solve(self, xtx: np.ndarray, xty: np.ndarray) -> np.ndarray:
        reg = np.eye(xtx.shape[0]) * self.alpha
        reg[0, 0] = 0.0  # never penalize the intercept
        return np.linalg.solve(xtx + reg, xty)

    def into_definition(self) -> dict:
        return {
            "kind": "RidgeModel",
            "feature_cols": self.feature_cols,
            "target_cols": self.target_cols,
            "alpha": self.alpha,
        }


@register_model("DiffBasedAnomalyDetector")
class DiffBasedAnomalyDetector:
    """Reference DiffBasedAnomalyDetector on Spark (diff.py:310-458 parity)."""

    def __init__(
        self,
        base_estimator: LinearModel | None = None,
        smoothing_method: str = "smm",
        window: int = 144,
        require_thresholds: bool = False,
        scaler: str = "minmax",
    ):
        self.base = base_estimator or LinearModel()
        self.smoothing_method = smoothing_method
        self.window = window
        self.require_thresholds = require_thresholds
        if scaler not in ("minmax", "robust"):
            raise ValueError(f"unknown scaler {scaler!r} (minmax|robust)")
        self.scaler_kind = scaler
        self.scaler = None
        self.tag_thresholds_: dict[str, float] | None = None
        self.total_threshold_: float | None = None

    def _scaler_cls(self):
        from gordo_spark.ml.scalers import RobustScalerExpr

        return MinMaxScalerExpr if self.scaler_kind == "minmax" else RobustScalerExpr

    def _spread(self, stat: tuple[float, float]) -> float:
        """Error-scaling divisor from a stats tuple: max-min for minmax,
        IQR for robust (1.0 when degenerate)."""
        a, b = stat
        if self.scaler_kind == "minmax":
            return (b - a) if b != a else 1.0
        return b if b else 1.0

    def fit(self, X: DataFrame, y: DataFrame, ts_col: str = "ts") -> "DiffBasedAnomalyDetector":
        self.base.fit(X, y, ts_col)
        # scaler fit on y AFTER training (diff.py:166-174)
        self.scaler = self._scaler_cls()(self.base.target_cols).fit(y)
        return self

    def _clone_base(self):
        """Fresh unfitted copy of the base estimator (definition
        round-trip), so fold fits never mutate the deployed model."""
        return model_from_definition(self.base.into_definition())

    def _fold_errors(
        self, train: DataFrame, test: DataFrame, targets, feats, ts_col: str
    ) -> DataFrame:
        """Fit a base clone on ``train``, predict ``test``, return the error
        frame (ts, err__<t>..., err__total).

        Reference parity (diff.py:222-233): per-tag errors are the UNSCALED
        absolute error (``mae = |y_true - y_pred|``, which feeds
        ``feature_thresholds_``); ``err__total`` is the SCALED mse per
        timestep (``_scaled_mse_per_timestep``, which feeds
        ``aggregate_threshold_``), with the scaler fit on the fold's train
        targets. Predictions come via ``predict`` + ts join — uniform across
        expression models and offset/lookback models (whose output is
        shorter and keyed by target ts)."""
        fold_model = self._clone_base()
        fold_model.feature_cols = list(feats)
        fold_model.target_cols = list(targets)
        fold_model.fit(
            train.select(ts_col, *[_q(c).alias(c) for c in feats]),
            train.select(ts_col, *[F.col(f"`_yt_{t}`").alias(t) for t in targets]),
        )
        scaler = self._scaler_cls()(targets).fit(
            train.select(*[F.col(f"`_yt_{t}`").alias(t) for t in targets])
        )
        pred = fold_model.predict(
            test.select(ts_col, *[_q(c).alias(c) for c in feats]), ts_col, "p__"
        )
        joined = test.select(
            ts_col, *[F.col(f"`_yt_{t}`") for t in targets]
        ).join(pred, ts_col)
        err_cols = []
        scaled_sq = []
        for t in targets:
            abs_err = F.abs(F.col(f"`p__{t}`") - F.col(f"`_yt_{t}`"))
            err_cols.append(abs_err.alias(f"err__{t}"))
            rng = self._spread(scaler.stats[t])
            s = abs_err / F.lit(rng)
            scaled_sq.append(s * s)
        total = scaled_sq[0]
        for s in scaled_sq[1:]:
            total = total + s
        return joined.select(
            ts_col, *err_cols, (total / F.lit(float(len(targets)))).alias("err__total")
        )

    def cross_validate(
        self, X: DataFrame, y: DataFrame, n_splits: int = 3, ts_col: str = "ts"
    ) -> "DiffBasedAnomalyDetector":
        """Per-fold fit/predict; thresholds from the LAST fold only."""
        targets = self.base.target_cols or [c for c in y.columns if c != ts_col]
        feats = self.base.feature_cols or [c for c in X.columns if c != ts_col]
        wide = X.join(
            y.select(ts_col, *[_q(t).alias(f"_yt_{t}") for t in targets]), ts_col
        )
        last_train, last_test = timeseries_split(wide, n_splits, ts_col)[-1]
        err = self._fold_errors(last_train, last_test, targets, feats, ts_col)
        th = fold_threshold(err, [f"err__{t}" for t in targets] + ["err__total"], ts_col)
        self.tag_thresholds_ = {t: th[f"err__{t}"] for t in targets}
        self.total_threshold_ = th["err__total"]
        return self

    def get_metadata(self) -> dict:
        """diff.py:88-127 parity: thresholds + smoothing config (keys match
        the reference's dashed names so downstream dashboards port over)."""
        metadata: dict = {}
        if self.tag_thresholds_ is not None:
            metadata["feature-thresholds"] = [
                self.tag_thresholds_[t] for t in self.base.target_cols or []
            ]
        if self.total_threshold_ is not None:
            metadata["aggregate-threshold"] = self.total_threshold_
        metadata["window"] = self.window
        metadata["smoothing-method"] = self.smoothing_method
        metadata["scaler"] = self.scaler_kind
        if hasattr(self.base, "get_metadata"):
            metadata["base-estimator"] = self.base.get_metadata()
        return metadata

    def _affine_stats(self) -> dict | None:
        """Scaler stats in the (min, max) shape anomaly_frame consumes:
        robust (median, IQR) maps to (med, med+IQR) so the divisor is IQR."""
        if self.scaler is None:
            return None
        if self.scaler_kind == "minmax":
            return self.scaler.stats
        return {
            t: (a, a + (b if b else 1.0)) for t, (a, b) in self.scaler.stats.items()
        }

    def into_definition(self) -> dict:
        return {
            "kind": type(self).__name__,
            "base_estimator": self.base.into_definition(),
            "smoothing_method": self.smoothing_method,
            "window": self.window,
            "require_thresholds": self.require_thresholds,
            "scaler": self.scaler_kind,
        }

    def anomaly_stages(
        self, resolution: str = "10T", ts_col: str = "ts", smooth: bool = True
    ) -> list[Stage]:
        """The column plan of :meth:`anomaly`, built without a DataFrame. It
        applies to a frame of ``ts``, the base's feature columns and the
        targets as ``_yt_<t>`` (X joined with y on ``ts``).
        ``smooth=False`` leaves the smooth_* block out; nothing else in
        the block reads it."""
        base = self.base
        targets = base.target_cols
        # the error's truth side is ALWAYS the caller's y (diff.py:356-359)
        # — carried as _yt_<t> so a y differing from the X-side tag columns
        # is honored; model_input__ stays the X side
        keep = [
            F.col(ts_col),
            *[_q(c) for c in base.feature_cols],
            *[F.col(f"`_yt_{t}`") for t in targets],
        ]
        if getattr(base, "offset", 0) == 0 and hasattr(base, "predict_exprs"):
            # offset-0 expression-model fast path: prediction is a pure
            # column expression, no join needed (J6 — column-block append as
            # one select). Models without predict_exprs (PythonEstimatorModel
            # and friends) take the predict+ts-join path below even at
            # offset 0.
            aligned: Stage = [*keep, *base.predict_exprs()]
        else:
            # lookback models emit offset fewer rows, keyed by target ts;
            # tail alignment is an inner join on ts, never positional
            # arithmetic (J5, gordo/machine/model/utils.py:85-98 semantics)
            inputs = [F.col(ts_col), *[_q(c) for c in base.feature_cols]]

            def aligned(xy: DataFrame) -> DataFrame:
                pred = base.predict(xy.select(*inputs), ts_col)
                return xy.select(*keep).join(pred, ts_col)

        return [
            aligned,
            *anomaly_stages(
                targets,
                resolution=resolution,
                scaler_stats=self._affine_stats(),
                smoothing_method=self.smoothing_method,
                smoothing_window=self.window if smooth else None,
                thresholds=self.tag_thresholds_,
                total_threshold=self.total_threshold_,
                ts_col=ts_col,
                y_prefix="_yt_",
                feature_tags=base.feature_cols,
            ),
        ]

    def anomaly(self, X: DataFrame, y: DataFrame, resolution: str = "10T", ts_col: str = "ts") -> DataFrame:
        """The full anomaly block of X against y, over the timestamps both
        carry (a lookback base predicts from those rows too)."""
        xy = X.join(
            y.select(ts_col, *[_q(t).alias(f"_yt_{t}") for t in self.base.target_cols]),
            ts_col,
        )
        return apply_stages(xy, self.anomaly_stages(resolution, ts_col))


@register_model("DiffBasedKFCVAnomalyDetector")
class DiffBasedKFCVAnomalyDetector(DiffBasedAnomalyDetector):
    """KFold variant (reference diff.py:566-635): out-of-fold predictions
    assembled over the WHOLE frame, thresholds = ``threshold_percentile``
    quantile of the smoothed OOF error (per tag and total).

    Fold membership defaults to the sklearn-faithful seeded permutation —
    bit-equal to the reference's ``KFold(5, shuffle=True, random_state=0)``
    (diff.py:566-575) via ``ml.cv.fold_column``. Set
    ``fold_membership="modulo"`` for the engine-portable ``row_number % k``
    assignment (the form a SQL oracle can reproduce; used by the m4
    contract query).
    """

    def __init__(
        self,
        base_estimator: LinearModel | None = None,
        smoothing_method: str = "smm",
        window: int = 144,
        threshold_percentile: float = 0.99,
        n_splits: int = 5,
        require_thresholds: bool = False,
        scaler: str = "minmax",
        fold_membership: str = "shuffle",
    ):
        super().__init__(
            base_estimator, smoothing_method, window, require_thresholds, scaler
        )
        self.threshold_percentile = threshold_percentile
        self.n_splits = n_splits
        if fold_membership not in ("shuffle", "modulo"):
            raise ValueError(
                f"unknown fold_membership {fold_membership!r} (shuffle|modulo)"
            )
        self.fold_membership = fold_membership

    def into_definition(self) -> dict:
        d = super().into_definition()
        d["threshold_percentile"] = self.threshold_percentile
        d["n_splits"] = self.n_splits
        d["fold_membership"] = self.fold_membership
        return d

    def cross_validate(
        self, X: DataFrame, y: DataFrame, n_splits: int | None = None, ts_col: str = "ts"
    ) -> "DiffBasedKFCVAnomalyDetector":
        from pyspark.sql import Window

        from gordo_spark.operators.smoothing import SMOOTHERS

        k = n_splits or self.n_splits
        feats = self.base.feature_cols or [c for c in X.columns if c != ts_col]
        targets = self.base.target_cols or [c for c in y.columns if c != ts_col]
        self.base.feature_cols, self.base.target_cols = feats, targets

        from gordo_spark.ml.cv import fold_column

        wide = X.join(
            y.select(ts_col, *[_q(t).alias(f"_yt_{t}") for t in targets]), ts_col
        )
        data = fold_column(
            wide, k, ts_col, membership=self.fold_membership, seed=0
        ).cache()

        # each fold's errors via the shared predict-join helper (works for
        # expression models AND offset/lookback models); scaler fit on the
        # fold's train targets — standard CV hygiene
        oof_parts = [
            self._fold_errors(
                data.filter(F.col("_fold") != f),
                data.filter(F.col("_fold") == f),
                targets,
                feats,
                ts_col,
            )
            for f in range(k)
        ]
        oof = oof_parts[0]
        for p in oof_parts[1:]:
            oof = oof.unionByName(p)

        # smoothed OOF error -> percentile thresholds (diff.py:617-635)
        err_names = [f"err__{t}" for t in targets] + ["err__total"]
        if self.smoothing_method == "ewma":
            # diff.py:302-308 — ewma is a valid smoothing_method; it has no
            # bounded-window SQL form, so route through the applyInPandas
            # EWMA (same path anomaly_frame takes)
            from gordo_spark.operators.smoothing import ewma as _ewma

            smoothed = _ewma(oof, err_names, span=self.window, ts_col=ts_col).select(
                *[F.col(f"`smooth_{c}`").alias(c) for c in err_names]
            )
        else:
            smoother = SMOOTHERS[self.smoothing_method]
            w_ts = Window.partitionBy().orderBy(ts_col)
            smoothed = oof.select(
                *[smoother(c, self.window, w_ts).alias(c) for c in err_names]
            )
        row = smoothed.agg(
            *[
                F.expr(f"percentile(`{c}`, {self.threshold_percentile})").alias(c)
                for c in err_names
            ]
        ).collect()[0]
        data.unpersist()
        self.tag_thresholds_ = {t: row[f"err__{t}"] for t in targets}
        self.total_threshold_ = row["err__total"]
        return self


@register_model("LaggedLinearModel")
class LaggedLinearModel:
    """Autoregressive lookback model — the LSTM-shaped flow with exact math.

    The reference's LSTM consumes sliding windows of ``lookback_window``
    steps and predicts ``lookahead`` steps forward, so its output is
    ``offset = lookback - 1 + lookahead`` rows shorter than its input
    (gordo/machine/model/models.py:713-793, offset detection
    gordo/builder/build_model.py:448-471 in /root/reference). TF is not in
    this environment; this model reproduces the exact data-flow shape —
    lagged feature construction, lookahead target shift, shortened output
    keyed by target timestamp — with a closed-form OLS on the lagged
    features, so every alignment path (J5/J7/W6/M8) is exercised with a
    deterministic oracle-able model.
    """

    def __init__(
        self,
        lookback: int = 3,
        lookahead: int = 1,
        feature_cols: Sequence[str] | None = None,
        target_cols: Sequence[str] | None = None,
    ):
        if lookback < 1 or lookahead < 0:
            raise ValueError("lookback >= 1 and lookahead >= 0 required")
        self.lookback = lookback
        self.lookahead = lookahead
        self.feature_cols = list(feature_cols) if feature_cols else None
        self.target_cols = list(target_cols) if target_cols else None
        self._ols = LinearModel()

    @property
    def offset(self) -> int:
        """M8 — declarative, no length probe needed."""
        return self.lookback - 1 + self.lookahead

    def into_definition(self) -> dict:
        return {
            "kind": "LaggedLinearModel",
            "lookback": self.lookback,
            "lookahead": self.lookahead,
            "feature_cols": self.feature_cols,
            "target_cols": self.target_cols,
        }

    def _lag_names(self):
        return [f"{c}__lag{s}" for c in self.feature_cols for s in range(self.lookback)]

    def _lagged(self, X: DataFrame, ts_col: str) -> DataFrame:
        """(ts, <c>__lag{0..L-1}...) — rows with a full window only."""
        from pyspark.sql import Window

        w = Window.partitionBy().orderBy(ts_col)
        out = X.select(
            ts_col,
            F.row_number().over(w).alias("_rn"),
            *[
                F.lag(_q(c), s).over(w).alias(f"{c}__lag{s}")
                for c in self.feature_cols
                for s in range(self.lookback)
            ],
        )
        return out.filter(F.col("_rn") >= self.lookback).drop("_rn")

    def fit(self, X: DataFrame, y: DataFrame, ts_col: str = "ts") -> "LaggedLinearModel":
        from pyspark.sql import Window

        self.feature_cols = self.feature_cols or [c for c in X.columns if c != ts_col]
        self.target_cols = self.target_cols or [c for c in y.columns if c != ts_col]
        w = Window.partitionBy().orderBy(ts_col)
        lagged = self._lagged(X, ts_col)
        led = y.select(
            ts_col,
            *[
                F.lead(_q(t), self.lookahead).over(w).alias(f"_led_{t}")
                for t in self.target_cols
            ],
        )
        frame = lagged.join(led, ts_col).dropna()
        self._ols = LinearModel(self._lag_names(), self.target_cols)
        self._ols.fit(
            frame.select(ts_col, *[F.col(n) for n in self._lag_names()]),
            frame.select(
                ts_col, *[F.col(f"`_led_{t}`").alias(t) for t in self.target_cols]
            ),
        )
        return self

    def predict(
        self, X: DataFrame, ts_col: str = "ts", prefix: str = "model_output__"
    ) -> DataFrame:
        """Output keyed by the TARGET timestamp (= window end + lookahead),
        so downstream alignment is a plain ts join; emits exactly
        len(X) - offset rows."""
        from pyspark.sql import Window

        w = Window.partitionBy().orderBy(ts_col)
        lagged = self._lagged(X, ts_col).withColumn(
            "_target_ts", F.lead(F.col(ts_col), self.lookahead).over(w)
        )
        return (
            lagged.filter(F.col("_target_ts").isNotNull())
            .select(F.col("_target_ts").alias(ts_col), *self._ols.predict_exprs(prefix))
        )
