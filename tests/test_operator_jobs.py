"""Spark jobs started by reading, building and iterating operator queries.

Each check runs the code under a job group and counts the group's jobs
with ``statusTracker()``:

- ``read_table`` / ``ParquetDataProvider`` infer a parquet schema once per
  version of the files; a rewritten file is read with its new schema.
- ``msprt_monitor`` builds (and explains) without a job, and its readout
  matches pinned values on windows that lack a variant, null unit ids and
  null timestamps.
- ``connected_components`` runs one action per iteration, leaves at most
  one persisted RDD behind, and labels chains, cycles and stars as pinned.
"""

import datetime as dt
import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gordo_spark.operators.dedup import connected_components
from gordo_spark.operators.experiments import msprt_from_counts, msprt_monitor
from gordo_spark.sources.io import read_table
from gordo_spark.sources.providers import ParquetDataProvider

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"operator-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


# ------------------------------------------------------------------ reads


def test_second_read_of_unchanged_file_starts_no_job(spark, tmp_path):
    _write(str(tmp_path / "t.parquet"), k=pa.array([1, 2, 3]), v=pa.array([0.5, 1.5, 2.5]))
    first, inferred = _jobs(spark, lambda: read_table(spark, str(tmp_path), "t"))
    again, jobs = _jobs(spark, lambda: read_table(spark, str(tmp_path), "t"))
    assert inferred >= 1  # schema inference is a job: the counter sees it
    assert jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, k=pa.array([1, 2]), v=pa.array([10, 20], type=pa.int64()))
    assert read_table(spark, str(tmp_path), "t").schema["v"].dataType.simpleString() == "bigint"
    _write(path, k=pa.array([1, 2]), v=pa.array(["a", "b"]))
    df = read_table(spark, str(tmp_path), "t")
    assert df.schema["v"].dataType.simpleString() == "string"
    assert sorted(r.v for r in df.collect()) == ["a", "b"]


def test_parquet_provider_infers_the_lake_schema_once(spark, tmp_path):
    lake = str(tmp_path / "lake")
    (tmp_path / "lake").mkdir()
    _write(
        f"{lake}/part-0.parquet",
        tag=pa.array(["a", "a", "b"]),
        ts=pa.array([dt.datetime(2024, 1, 1, h) for h in range(3)], type=pa.timestamp("us", tz="UTC")),
        value=pa.array([1.0, 2.0, 3.0]),
    )
    provider = ParquetDataProvider(lake)
    provider.read(spark, ["a"])
    df, jobs = _jobs(spark, lambda: provider.read(spark, ["a", "b"]))
    assert jobs == 0
    assert df.count() == 3


# ------------------------------------------------------------------ mSPRT

# user ids whose md5 assignment (salt "exp1") is variant 0 / variant 1
A = [1, 3, 7, 8, 9]
B = [2, 4, 5, 6, 10]
EVENTS = "user_id long, converted boolean, ts timestamp"


def _day(d, h=0):
    return dt.datetime(2024, 1, d, h)


def _sparse_events():
    """Day 1 has only variant 0, day 3 only variant 1, day 5 only null
    unit ids and variant 0; null unit ids and a null outcome elsewhere."""
    return [
        (A[0], True, _day(1)), (A[1], False, _day(1, 3)), (A[2], True, _day(1, 5)),
        (A[0], True, _day(2)), (B[0], False, _day(2)), (B[1], True, _day(2, 1)),
        (None, True, _day(2, 2)),
        (B[2], True, _day(3)), (B[3], True, _day(3, 4)),
        (A[3], False, _day(4)), (B[4], True, _day(4)), (A[4], None, _day(4, 2)),
        (None, False, _day(4, 9)),
        (None, True, _day(5)), (None, True, _day(5, 1)), (A[1], True, _day(5, 7)),
        (A[2], False, _day(6)), (B[0], False, _day(6)), (A[3], True, _day(6, 8)),
        (B[1], False, _day(6, 9)),
    ]


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_msprt_build_and_explain_start_no_job(spark, sf_dir, capsys):
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", (F.col("event_type") == "purchase").alias("converted"), "ts"
    )
    df, built = _jobs(spark, lambda: msprt_monitor(ev))
    _, explained = _jobs(spark, df.explain)
    assert (built, explained) == (0, 0)
    assert "Window" in capsys.readouterr().out


def test_msprt_sparse_windows_and_null_units_keep_their_values(spark):
    """Windows that lack a variant add to later cumulative sums but are not
    reported; null unit ids belong to no variant."""
    df = spark.createDataFrame(_sparse_events(), EVENTS)
    assert _rows(msprt_monitor(df)) == [
        (_day(2), 4, 2, 3, 1, -0.25, 0.999813, 1.0, False),
        (_day(4), 6, 5, 3, 4, 0.3, 1.000035, 0.999965, False),
        (_day(6), 9, 7, 5, 4, 0.015873, 0.999204, 0.999965, False),
    ]
    assert _rows(msprt_monitor(df, tau2=0.5, alpha=0.5)) == [
        (_day(2), 4, 2, 3, 1, -0.25, 0.575496, 1.0, False),
        (_day(4), 6, 5, 3, 4, 0.3, 0.599398, 1.0, False),
        (_day(6), 9, 7, 5, 4, 0.015873, 0.333931, 1.0, False),
    ]
    # no conversions yet: V = 0, so Lambda is null, the running max is
    # null and p_always stays 1
    zero = spark.createDataFrame(
        [(A[0], False, _day(1)), (B[0], False, _day(1)),
         (A[1], False, _day(2)), (B[1], True, _day(2))],
        EVENTS,
    )
    assert _rows(msprt_monitor(zero)) == [
        (_day(1), 1, 1, 0, 0, 0.0, None, 1.0, False),
        (_day(2), 2, 2, 0, 1, 0.5, 1.000089, 0.999911, False),
    ]


def test_msprt_from_counts_skips_other_and_null_variants(spark):
    counts = spark.createDataFrame(
        [(_day(1), 0, 10, 3), (_day(1), 1, 12, 5), (_day(2), 0, 7, None),
         (_day(3), 1, 8, 4), (_day(4), 0, 9, 2), (_day(4), 1, 9, 6),
         (_day(5), 2, 5, 5), (_day(5), 0, 4, 1), (_day(5), 1, 4, 4),
         (_day(6), None, 3, 3)],
        "window_start timestamp, variant int, n_events long, n_success long",
    )
    assert _rows(msprt_from_counts(counts)) == [
        (_day(1), 10, 12, 3, 5, 0.116667, 0.9992, 1.0, False),
        (_day(4), 26, 29, 5, 15, 0.324934, 1.015586, 0.984653, False),
        (_day(5), 30, 33, 6, 19, 0.375758, 1.027325, 0.973401, False),
    ]


def test_msprt_counts_null_timestamps_in_no_window(spark):
    """An event without a timestamp has no window, so it is in no
    window's cumulative counts (the DuckDB oracle's reading)."""
    events = _sparse_events()
    undated = [(A[0], True, None), (B[0], True, None), (A[4], False, None)]
    with_nulls = spark.createDataFrame(events + undated, EVENTS)
    assert _rows(msprt_monitor(with_nulls)) == _rows(
        msprt_monitor(spark.createDataFrame(events, EVENTS))
    )


# ------------------------------------------------- connected components


def _labels(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    return dict(sorted(tuple(r) for r in connected_components(df, **kw).collect()))


@pytest.mark.parametrize(
    "pairs, max_iter, expected",
    [
        # chain 1-2-...-6
        ([(i, i + 1) for i in range(1, 6)], 10, {i: 1 for i in range(1, 7)}),
        # 4-cycle, and a pair listed high id first
        ([(1, 2), (2, 3), (3, 4), (4, 1), (11, 10)], 10,
         {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}),
        # star around 5; the min id comes in through leaf 9
        ([(5, i) for i in range(6, 10)] + [(9, 3)], 10,
         {3: 3, 5: 3, 6: 3, 7: 3, 8: 3, 9: 3}),
        # chain longer than max_iter: node n has seen ids down to n - 2
        ([(i, i + 1) for i in range(1, 8)], 2,
         {1: 1, 2: 1, 3: 1, 4: 2, 5: 3, 6: 4, 7: 5, 8: 6}),
    ],
    ids=["chain", "cycle", "star", "chain_past_max_iter"],
)
def test_connected_components_labels(spark, pairs, max_iter, expected):
    assert _labels(spark, pairs, max_iter=max_iter) == expected


def test_connected_components_runs_one_action_per_iteration(spark):
    """With adaptive execution and broadcasts off, a job is an action; a
    chain of 12 does not converge in 3 iterations, so the third adds
    exactly its own action."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "id_a long, id_b long"
    )
    confs = {"spark.sql.adaptive.enabled": "false", "spark.sql.autoBroadcastJoinThreshold": "-1"}
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        jobs = [
            _jobs(spark, lambda n=n: connected_components(pairs, max_iter=n))[1]
            for n in (2, 3)
        ]
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert jobs[1] - jobs[0] == 1


def test_connected_components_leaves_at_most_one_persisted_rdd(spark):
    jsc = spark.sparkContext._jsc
    # ids, not a count: earlier tests' leftovers may be cleaned meanwhile
    persisted = set(jsc.getPersistentRDDs().keys())
    labels = _labels(spark, [(i, i + 1) for i in range(1, 6)] + [(20, 21)])
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 20: 20, 21: 20}
    assert len(set(jsc.getPersistentRDDs().keys()) - persisted) <= 1
