"""Multi-machine plans: thousands of machines, ONE shared scan.

The reference gets multi-machine parallelism by templating one Kubernetes
pod per machine (gordo/cli/workflow_generator.py in /root/reference), so N
machines read the data lake N times. On Spark the machines' dataset plans
share a common prefix — scan -> resample -> regularize -> interpolate is
identical for machines that agree on provider, resolution, aggregation and
interpolation — so we group machines by that prefix, run it ONCE over the
union of their tags and the envelope of their time ranges, cache the long
filled frame, and fan out only the cheap per-machine tail (pivot over the
machine's own tags + its filters).

At 100 TB this is the difference between N full scans and one: the shared
frame is ~#tags x #buckets rows (tiny relative to raw), and every
per-machine tail is a narrow filter+pivot over it.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, functions as F

from gordo_spark.plans.dataset import TimeSeriesDataset


def _plan_key(ds: TimeSeriesDataset) -> str:
    """Machines share a plan prefix iff provider + resample + interpolation
    agree (canonical-JSON key, same spirit as the build cache's sha key).

    Provider instances key by VALUE — (type, sorted public attrs) — so two
    equal-configured instances share one scan; ``id()`` is only the last
    resort for providers whose state isn't introspectable (where equality
    can't be established, sharing silently not happening is the safe
    default)."""
    if isinstance(ds.data_provider, dict):
        provider = ds.data_provider
    else:
        try:
            provider = {
                "instance_type": type(ds.data_provider).__qualname__,
                "vars": sorted(
                    (k, str(v))
                    for k, v in vars(ds.data_provider).items()
                    if not k.startswith("_")
                ),
            }
        except TypeError:
            provider = {"instance": id(ds.data_provider)}
    return json.dumps(
        {
            "provider": provider,
            "resolution": ds.resolution,
            "aggregation_methods": ds.aggregation_methods,
            "interpolation_method": ds.interpolation_method,
            "interpolation_limit": ds.interpolation_limit,
        },
        sort_keys=True,
        default=str,
    )


def _grid_aligned(ds: TimeSeriesDataset) -> bool:
    """Sharing is bit-exact only when the machine's range bounds sit on
    the resolution grid — a mid-bucket bound makes the solo plan's
    boundary bucket aggregate a partial window the shared scan cannot
    reproduce after resampling. Misaligned machines run solo."""
    import pandas as pd

    from gordo_spark.functions.timeutil import offset_alias_to_seconds

    secs = int(offset_alias_to_seconds(ds.resolution))
    for bound in (ds.train_start_date, ds.train_end_date):
        if bound is None:
            continue
        ts = pd.Timestamp(bound)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        if int(ts.timestamp()) % secs != 0:
            return False
    return True


class WideFrames(dict):
    """Machine name -> aligned wide frame, as :func:`shared_wide_frames`
    returns it; ``release()`` unpersists the shared scans the frames read
    (call it once every machine's frame has been used)."""

    def __init__(self, frames: dict[str, DataFrame], cached: list[DataFrame]):
        super().__init__(frames)
        self.cached = cached

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = []


def shared_wide_frames(
    spark: SparkSession,
    datasets: dict[str, TimeSeriesDataset],
    cache: bool = True,
) -> WideFrames:
    """One aligned wide frame per machine, sharing scans across machines.

    Returns lazy DataFrames; the shared long frames are cached (unless
    ``cache=False``) so the first machine's action materializes the scan
    and every later machine reuses it, until ``release()``.

    Only scan -> resample is shared; regularize/interpolate run per machine
    AFTER its range clip, so gap fills never use anchors a solo scan would
    not have seen — per-machine output is bit-identical to the solo plan
    (oracle-tested). Machines whose range bounds do not sit on the
    resolution grid fall back to their solo plan (see _grid_aligned), so
    the bit-parity guarantee holds unconditionally.
    """
    groups: dict[str, list[str]] = defaultdict(list)
    solo: list[str] = []
    for name, ds in datasets.items():
        if _grid_aligned(ds):
            groups[_plan_key(ds)].append(name)
        else:
            solo.append(name)

    frames: dict[str, DataFrame] = {}
    cached: list[DataFrame] = []
    for name in solo:
        frames[name] = datasets[name].wide_frame(spark)
    for names in groups.values():
        members = {n: datasets[n] for n in names}
        all_tags = list(
            dict.fromkeys(t for ds in members.values() for t in ds.all_tags)
        )
        starts = [ds.train_start_date for ds in members.values()]
        ends = [ds.train_end_date for ds in members.values()]
        proto = replace(
            next(iter(members.values())),
            tag_list=all_tags,
            target_tag_list=None,
            train_start_date=None if any(s is None for s in starts) else min(starts),
            train_end_date=None if any(e is None for e in ends) else max(ends),
            # per-machine filters are applied in the tail, not the shared part
            row_filter="",
            known_filter_periods=None,
            filter_periods=None,
        )
        res = proto.long_resampled(spark)
        if cache and len(members) > 1:
            res = res.cache()
            cached.append(res)
        for name, ds in members.items():
            # multi-aggregation plans melt to <tag>__<agg> series names
            part = res.filter(F.col("tag").isin(ds._expand(ds.all_tags)))
            if ds.train_start_date is not None:
                part = part.filter(F.col("ts") >= F.lit(ds.train_start_date))
            if ds.train_end_date is not None:
                part = part.filter(F.col("ts") < F.lit(ds.train_end_date))
            frames[name] = ds.finalize_wide(ds.fill(part))
    return WideFrames(frames, cached)


def fleet_spec_frame(
    spark: SparkSession,
    members: dict[str, TimeSeriesDataset],
    machine_col: str = "machine",
) -> DataFrame:
    """The fleet SPEC TABLE: one row per (machine, expanded tag) with the
    machine's clip range — bounded by |machines| x |tags| (kilobytes for
    thousands of machines), so broadcasting it is genuinely safe. Shared
    by the batch fleet path (:func:`fleet_long_frame`) and the streaming
    twin (streaming/scoring.fleet_fill_stream), so both fan the ONE
    shared resample out to machines through the identical join."""
    spec_rows = []
    for name, ds in members.items():
        for tag in ds._expand(ds.all_tags):
            spec_rows.append(
                (
                    name,
                    tag,
                    str(ds.train_start_date) if ds.train_start_date else None,
                    str(ds.train_end_date) if ds.train_end_date else None,
                )
            )
    return spark.createDataFrame(
        spec_rows, f"{machine_col} string, tag string, _t0 string, _t1 string"
    ).select(
        machine_col,
        "tag",
        F.col("_t0").cast("timestamp").alias("_t0"),
        F.col("_t1").cast("timestamp").alias("_t1"),
    )


def fleet_long_frame(
    spark: SparkSession,
    datasets: dict[str, TimeSeriesDataset],
    machine_col: str = "machine",
) -> DataFrame:
    """The FLEET-WIDTH multi-machine path: one LONG DataFrame
    ``(machine, tag, ts, value)`` holding every machine's regularized +
    interpolated series, with a physical plan whose SIZE IS O(1) IN THE
    NUMBER OF MACHINES.

    :func:`shared_wide_frames` shares the scan but still fans out one
    DataFrame per machine — at 3 machines that's fine; at a 200+ fleet
    the 200-branch plan tree is its own scale problem (compile time,
    scheduler overhead, one job per machine). Here the machine
    dimension stays IN the frame: the fleet's configs become a bounded
    SPEC TABLE (one row per (machine, tag) with the machine's clip
    range — |machines| x |tags| rows, kilobytes for thousands of
    machines), the group's ONE shared scan->resample output joins the
    spec on ``tag`` (Catalyst broadcasts the spec side — genuinely
    bounded), the range clip is a row-local filter, and
    regularize/interpolate run partitioned by a composite
    ``machine\\x00tag`` key — bit-identical per (machine, tag) to the
    solo plan's per-tag fill (oracle- and parity-tested).

    Per-machine output equals the solo ``ds.long_filled(spark)`` for
    every grid-aligned machine (misaligned machines fall back to their
    solo plan and are unioned in, same rule as shared_wide_frames).
    Requirements: machines in one prefix group agree on provider /
    resolution / aggregation / interpolation (the _plan_key rule);
    heterogeneous fleets produce one stacked frame per group, unioned.

    100 TB shape: one corpus scan + one resample shuffle per GROUP
    (not per machine); the spec join fans each (tag, ts) bucket out to
    the machines that subscribe to it — total rows = sum over machines
    of their series length, the output's own size, so no blow-up
    beyond what the fleet asked for. The composite-key window
    partitions by (machine, tag): |machines| x |tags| independent
    partitions — the fleet IS the parallelism.
    """
    sep = "\x00"  # never in a tag name; splits the composite key safely
    groups: dict[str, list[str]] = defaultdict(list)
    solo: list[str] = []
    for name, ds in datasets.items():
        if _grid_aligned(ds):
            groups[_plan_key(ds)].append(name)
        else:
            solo.append(name)

    parts: list[DataFrame] = []
    for name in solo:
        ds = datasets[name]
        parts.append(
            ds.long_filled(spark).select(
                F.lit(name).alias(machine_col), "tag", "ts", "value"
            )
        )
    for names in groups.values():
        members = {n: datasets[n] for n in names}
        all_tags = list(
            dict.fromkeys(t for ds in members.values() for t in ds.all_tags)
        )
        starts = [ds.train_start_date for ds in members.values()]
        ends = [ds.train_end_date for ds in members.values()]
        proto = replace(
            next(iter(members.values())),
            tag_list=all_tags,
            target_tag_list=None,
            train_start_date=None if any(s is None for s in starts) else min(starts),
            train_end_date=None if any(e is None for e in ends) else max(ends),
            row_filter="",
            known_filter_periods=None,
            filter_periods=None,
        )
        res = proto.long_resampled(spark)
        spec = fleet_spec_frame(spark, members, machine_col)
        clipped = (
            res.join(F.broadcast(spec), "tag")
            .filter(F.col("_t0").isNull() | (F.col("ts") >= F.col("_t0")))
            .filter(F.col("_t1").isNull() | (F.col("ts") < F.col("_t1")))
            .select(machine_col, "tag", "ts", "value")
        )
        # composite key: regularize/interpolate are per-tag operators;
        # machine||sep||tag gives them per-(machine, tag) partitions with
        # zero operator changes and identical arithmetic to the solo path
        stacked = clipped.select(
            F.concat_ws(sep, F.col(machine_col), F.col("tag")).alias("tag"),
            "ts",
            "value",
        )
        filled = proto.fill(stacked)
        parts.append(
            filled.select(
                F.split_part(F.col("tag"), F.lit(sep), F.lit(1)).alias(
                    machine_col
                ),
                F.split_part(F.col("tag"), F.lit(sep), F.lit(2)).alias("tag"),
                "ts",
                "value",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
