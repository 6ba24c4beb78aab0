"""M6 / A2-A8 / W7 — anomaly column algebra.

Reference semantics (gordo/machine/model/anomaly/diff.py:310-458 and
gordo/machine/model/utils.py:49-165 in /root/reference; column contract in
docs/ml/model_output.rst:20-86):

Given aligned ``y`` (targets) and ``model_output`` per timestamp:

- ``tag_anomaly_unscaled__<t>``   = |output_t - y_t|                     (A4)
- ``total_anomaly_unscaled``      = mean over tags of squared tag error  (A2)
- scaled variants: same algebra after scaling y and output with the
  train-time scaler (MinMax by default) — scaler applied to y *after*
  training (diff.py:166-174)
- ``smooth_*``: trailing smoothing (smm/sma/ewma), window default 144,
  first window-1 rows null                                               (W5)
- ``anomaly_confidence__<t>``     = UNSCALED tag error / tag threshold
  (diff.py:420 — ``unscaled_abs_diff / feature_thresholds_``; thresholds
  themselves are rolling-min-max of the UNSCALED fold mae, diff.py:233)
- ``total_anomaly_confidence``    = SCALED total error / total threshold
  (diff.py:439 — ``total-anomaly-scaled / aggregate_threshold_``)
- ``start`` = bucket ts, ``end`` = start + resolution                    (W7)

Thresholds (A7/A8): TimeSeriesSplit mode = last CV fold's
``rolling(6).min().max()`` of the validation error (diff.py:229-264 — the
*last* fold, not an aggregate: SURVEY.md §7 hard-parts); KFold mode = 0.99
quantile of the smoothed out-of-fold error (diff.py:617-635).

Everything here is a few ``select``s of column expressions over the aligned
frame — no joins, no UDFs (bar the ewma smoother); thresholds are broadcast
scalars. At 100 TB this is a narrow map stage fused by whole-stage codegen.
The selects are built by ``anomaly_stages`` without a DataFrame, so a model
server builds them once per model and applies them to every request.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from functools import partial

from pyspark.sql import Column, DataFrame, Window, functions as F

from gordo_spark.functions.timeutil import offset_alias_to_interval
from gordo_spark.operators.smoothing import SMOOTHERS, ewma, rolling_min


def scale_minmax(col: Column, mn: float, mx: float) -> Column:
    """sklearn MinMaxScaler transform as a column expr (bit-parity with
    train-time stats; feature_range (0,1))."""
    rng = (mx - mn) if mx != mn else 1.0
    return (col - F.lit(mn)) / F.lit(rng)


def row_mean_square(cols: Sequence[Column]) -> Column:
    """A2/A3 — per-row mean of squares across tag columns."""
    total = cols[0] * cols[0]
    for c in cols[1:]:
        total = total + c * c
    return total / F.lit(float(len(cols)))


# A stage of a column plan: the Columns of one ``select``, or a
# DataFrame -> DataFrame callable where the step is not a select (the
# applyInPandas EWMA). Stages hold no DataFrame, so a plan built once
# applies to every frame of the same shape.
Stage = Sequence[Column] | Callable[[DataFrame], DataFrame]


def apply_stages(df: DataFrame, stages: Sequence[Stage]) -> DataFrame:
    """Apply a column plan built by :func:`anomaly_stages` (or any list of
    stages) to ``df``."""
    for stage in stages:
        df = stage(df) if callable(stage) else df.select(*stage)
    return df


def anomaly_stages(
    tags: Sequence[str],
    resolution: str = "10T",
    output_prefix: str = "model_output__",
    scaler_stats: Mapping[str, tuple[float, float]] | None = None,
    smoothing_method: str = "smm",
    smoothing_window: int | None = 144,
    thresholds: Mapping[str, float] | None = None,
    total_threshold: float | None = None,
    ts_col: str = "ts",
    y_prefix: str | None = None,
    feature_tags: Sequence[str] | None = None,
    machine_col: str | None = None,
) -> list[Stage]:
    """The column plan of :func:`anomaly_frame`, built without a DataFrame
    (same arguments, minus the frame); ``apply_stages(aligned, plan)`` is
    ``anomaly_frame(aligned, ...)``. A server scoring many requests against
    one model builds it once."""

    def ycol(t: str) -> Column:
        return F.col(f"`{y_prefix}{t}`") if y_prefix else F.col("`" + t + "`")

    cols: list[Column] = (
        [F.col("`" + machine_col + "`")] if machine_col else []
    ) + [
        F.col(ts_col).alias("start"),
        (F.col(ts_col) + F.expr(offset_alias_to_interval(resolution))).alias("end"),
    ]
    input_tags = list(feature_tags) if feature_tags is not None else list(tags)
    for t in input_tags:
        cols.append(F.col("`" + t + "`").alias(f"model_input__{t}"))
    for t in tags:
        cols.append(F.col(f"`{output_prefix}{t}`").alias(f"model_output__{t}"))

    err_u = {t: F.abs(F.col(f"`{output_prefix}{t}`") - ycol(t)) for t in tags}
    for t in tags:
        cols.append(err_u[t].alias(f"tag_anomaly_unscaled__{t}"))
    cols.append(row_mean_square([err_u[t] for t in tags]).alias("total_anomaly_unscaled"))

    if scaler_stats is not None:
        err_s = {
            t: F.abs(
                scale_minmax(F.col(f"`{output_prefix}{t}`"), *scaler_stats[t])
                - scale_minmax(ycol(t), *scaler_stats[t])
            )
            for t in tags
        }
        for t in tags:
            cols.append(err_s[t].alias(f"tag_anomaly_scaled__{t}"))
        cols.append(row_mean_square([err_s[t] for t in tags]).alias("total_anomaly_scaled"))

    stages: list[Stage] = [cols]

    if smoothing_window:
        smooth_cols = [f"tag_anomaly_unscaled__{t}" for t in tags] + ["total_anomaly_unscaled"]
        if scaler_stats is not None:
            smooth_cols += [f"tag_anomaly_scaled__{t}" for t in tags] + ["total_anomaly_scaled"]
        if smoothing_method == "ewma":
            stages.append(
                partial(
                    ewma, cols=smooth_cols, span=smoothing_window, ts_col="start",
                    machine_col=machine_col,
                )
            )
        else:
            fn = SMOOTHERS[smoothing_method]
            w = (
                Window.partitionBy(machine_col) if machine_col else Window.partitionBy()
            ).orderBy("start")
            stages.append(
                [F.col("*")]
                + [fn(c, smoothing_window, w).alias(f"smooth_{c}") for c in smooth_cols]
            )

    if thresholds is not None:
        # `is not None`, not truthiness: a legitimately-zero threshold
        # (exact-fit fold) must still emit its confidence column, or the
        # output schema would change shape with the data. Zero thresholds
        # reproduce the reference's float division (inf, NaN for 0/0)
        # explicitly — ANSI mode would otherwise raise DIVIDE_BY_ZERO.
        def _conf(err: Column, th: float) -> Column:
            if th == 0:
                return F.when(err > 0, F.lit(float("inf"))).when(
                    err == 0, F.lit(float("nan"))
                )
            return err / F.lit(float(th))

        # tag confidence is ALWAYS unscaled error / unscaled threshold
        # (diff.py:420 divides unscaled_abs_diff by feature_thresholds_,
        # which were computed from the unscaled fold mae at diff.py:233)
        extra = [
            _conf(
                F.col(f"`tag_anomaly_unscaled__{t}`"),
                float(thresholds[t]),
            ).alias(f"anomaly_confidence__{t}")
            for t in tags
            if thresholds.get(t) is not None
        ]
        if total_threshold is not None:
            extra.append(
                _conf(
                    F.col("total_anomaly_scaled" if scaler_stats else "total_anomaly_unscaled"),
                    float(total_threshold),
                ).alias("total_anomaly_confidence")
            )
        stages.append([F.col("*"), *extra])
    return stages


def anomaly_frame(
    aligned: DataFrame,
    tags: Sequence[str],
    resolution: str = "10T",
    output_prefix: str = "model_output__",
    scaler_stats: Mapping[str, tuple[float, float]] | None = None,
    smoothing_method: str = "smm",
    smoothing_window: int | None = 144,
    thresholds: Mapping[str, float] | None = None,
    total_threshold: float | None = None,
    ts_col: str = "ts",
    y_prefix: str | None = None,
    feature_tags: Sequence[str] | None = None,
    machine_col: str | None = None,
) -> DataFrame:
    """Compute the full anomaly column block.

    ``aligned`` must carry ``ts``, one ``<tag>`` column per target tag and
    one ``<output_prefix><tag>`` column per tag (the model output side),
    already tail-aligned (operators.align.tail_align).
    ``y_prefix``: when set, the truth side of the error is the
    ``<y_prefix><tag>`` columns (a caller-supplied y differing from the
    model-input tags, diff.py:356-359 uses y); default: the ``<tag>``
    columns serve as both model_input and truth (autoencoder case).
    ``scaler_stats``: per-tag (min, max) from train time; None disables the
    scaled block. ``thresholds``/``total_threshold``: broadcast scalars from
    CV; None disables confidences.
    ``feature_tags``: the X-side tag list for the ``model_input__`` block
    (the reference's make_base_dataframe emits model-input columns for the
    feature tags only, gordo/machine/model/utils.py:49-110); default None =
    ``tags`` (the autoencoder case, where targets == features).
    ``machine_col``: multi-machine frames — smoothing windows partition by
    this column (one bounded series per machine) instead of running a
    global single-partition window; the column is carried through the
    output. This is the 100 TB path: N machines = N parallel window
    partitions, never one.

    The plan itself is :func:`anomaly_stages`; this applies it.
    """
    return apply_stages(
        aligned,
        anomaly_stages(
            tags,
            resolution=resolution,
            output_prefix=output_prefix,
            scaler_stats=scaler_stats,
            smoothing_method=smoothing_method,
            smoothing_window=smoothing_window,
            thresholds=thresholds,
            total_threshold=total_threshold,
            ts_col=ts_col,
            y_prefix=y_prefix,
            feature_tags=feature_tags,
            machine_col=machine_col,
        ),
    )


def fold_threshold(
    validation_err: DataFrame,
    cols: Sequence[str],
    ts_col: str = "ts",
    roll: int = 6,
) -> dict[str, float]:
    """A8 — per-column ``rolling(6, min_periods=6).min().max()`` over one CV
    fold's validation error (diff.py:229-254). Returns broadcastable
    scalars."""
    w = Window.partitionBy().orderBy(ts_col)
    rolled = validation_err.select(
        *[rolling_min(c, roll, w).alias(c) for c in cols]
    )
    row = rolled.agg(
        *[F.max(F.col("`" + c + "`")).alias(c) for c in cols]
    ).collect()[0]
    return {c: row[c] for c in cols}


def quantile_threshold(
    err: DataFrame, cols: Sequence[str], q: float = 0.99
) -> dict[str, float]:
    """A7 — exact q-quantile per column (KFold mode, diff.py:625-635;
    pandas quantile = linear interpolation = Spark/DuckDB ``percentile``)."""
    row = err.agg(
        *[F.expr(f"percentile(`{c}`, {q})").alias(c) for c in cols]
    ).collect()[0]
    return {c: row[c] for c in cols}


def explained_variance(df: DataFrame, y_col: str, yhat_col: str) -> float:
    """A9/M5 — sklearn explained_variance_score = 1 - Var(y - yhat)/Var(y)
    (population variance in sklearn; var_pop here for parity)."""
    row = df.agg(
        F.var_pop(F.col(y_col) - F.col(yhat_col)).alias("ve"),
        F.var_pop(F.col(y_col)).alias("vy"),
    ).collect()[0]
    return 1.0 - (row["ve"] / row["vy"] if row["vy"] else 0.0)


def fleet_consensus_flags(
    long_frame,
    flag_sigmas: float = 3.0,
    machine_col: str = "machine",
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """Per-BUCKET consensus deviations — the row-level half of
    :func:`fleet_consensus` (which rolls these up per (machine, tag))
    and the exact frame its streaming twin
    (``streaming/scoring.fleet_consensus_stream``) must reproduce
    bucket-for-bucket. Values quantize to 1e-6-scaled longs before the
    cross-machine median/MAD so every percentile is dyadic-exact on any
    engine. Output: ``(machine, tag, ts, _ad, z, flagged)`` where
    ``_ad`` is the scaled-integer absolute deviation (exact multiple
    of 0.5) and z the robust 0.6745*(v-med)/MAD at 6dp.
    """
    from pyspark.sql import functions as F

    from gordo_spark.functions.rounding import qfloor, qround

    base = long_frame.filter(F.col(value_col).isNotNull()).select(
        F.col(machine_col).alias("machine"),
        F.col(tag_col).alias("tag"),
        F.col(ts_col).alias("ts"),
        qfloor(F.col(value_col), 6).alias("_iv"),
    )
    med = base.groupBy("tag", "ts").agg(
        F.expr("percentile(_iv, 0.5)").alias("_med"),
        F.count(F.lit(1)).alias("_w"),
    )
    dev = base.join(med, ["tag", "ts"]).select(
        "machine", "tag", "ts", "_iv", "_med", "_w",
        F.abs(F.col("_iv") - F.col("_med")).alias("_ad"),
    )
    mad = dev.groupBy("tag", "ts").agg(
        F.expr("percentile(_ad, 0.5)").alias("_mad")
    )
    z = F.when(
        (F.col("_mad") > 0) & (F.col("_w") >= 3),
        qround(
            F.lit(0.6745) * (F.col("_iv") - F.col("_med")) / F.col("_mad"),
            6,
        ),
    )
    return dev.join(mad, ["tag", "ts"]).select(
        "machine",
        "tag",
        "ts",
        "_ad",
        z.alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(float(flag_sigmas)), F.lit(False)
        ).alias("flagged"),
    )


def fleet_consensus(
    long_frame,
    flag_sigmas: float = 3.0,
    machine_col: str = "machine",
    tag_col: str = "tag",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """CROSS-SECTIONAL fleet consensus check: at every (tag, bucket),
    the fleet's median across machines is the consensus; a machine
    whose sensor sits far from it — in robust z units,
    ``0.6745 * (v - median) / MAD`` — is the BROKEN-SENSOR candidate.
    This is the axis all per-series detectors (hampel, zscore, CUSUM,
    the M6 frame) cannot see: a sensor drifting slowly stays
    self-consistent forever, but the fleet tells on it immediately
    (the reference's thousands-of-machines deployment makes this the
    single highest-value triage gordo itself never computes, because
    each pod only ever sees its own machine).

    Two exact percentile aggregations keyed on (tag, bucket) — median,
    then MAD over the joined deviations — then a row-local flag and a
    (machine, tag)-keyed rollup. EXACT-INTEGER discipline: values
    quantize to 1e-6-scaled LONGS before the percentiles, so the
    interpolated median of an even group is a DYADIC-exact ``j + 0.5``
    (integer-valued doubles in, one exact halving out) on any engine —
    a float-valued percentile would differ in ulps between engines and
    sit exactly on the .5e-6 boundary half the time (the w29_stl
    lesson). Shuffles on (tag, ts): the fleet dimension is the GROUP
    CONTENT, so width-200 and width-2000 fleets differ only in rows
    per group. Output per (machine, tag):
    ``(machine, tag, n_buckets, n_flagged, share_flagged,
    mean_abs_dev, worst_z)`` ordered.
    """
    from pyspark.sql import functions as F

    from gordo_spark.functions.rounding import qround

    z = fleet_consensus_flags(
        long_frame, flag_sigmas, machine_col, tag_col, ts_col, value_col
    ).select(
        "machine",
        "tag",
        (F.col("_ad") * 2).cast("long").alias("_ad2"),
        F.col("z").alias("_z"),
    )
    flagged = F.when(
        F.abs(F.col("_z")) > F.lit(float(flag_sigmas)), 1
    ).otherwise(0)
    return (
        z.groupBy("machine", "tag")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(flagged).alias("n_flagged"),
            qround(
                F.sum("_ad2").cast("double")
                / (F.count(F.lit(1)) * F.lit(2e6)),
                6,
            ).alias("mean_abs_dev"),
            qround(F.max(F.abs(F.col("_z"))), 6).alias("worst_z"),
        )
        .select(
            "machine",
            "tag",
            "n_buckets",
            "n_flagged",
            qround(F.col("n_flagged") / F.col("n_buckets"), 6).alias(
                "share_flagged"
            ),
            "mean_abs_dev",
            "worst_z",
        )
        .orderBy("machine", "tag")
    )
