"""``operators.arrow_map``: the pandas-free Arrow builders and the
grouped-batch helper behind tracking and the time-series features.

The grouped tests scope ``spark.sql.execution.arrow.maxRecordsPerBatch``
to 3 rows, so most groups straddle Arrow batch boundaries and the
helper's carry path is what they exercise.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

from cellphe_data_pipeline_spark.operators.arrow_map import (
    map_groups_in_arrow,
    record_batch,
    to_arrow,
)
from cellphe_data_pipeline_spark.session import session_confs
from cellphe_data_pipeline_spark.sources.io import from_driver_rows

SMALL_BATCHES = {"spark.sql.execution.arrow.maxRecordsPerBatch": "3"}


def test_to_arrow_builds_the_kernel_types():
    """Every type the kernels emit round-trips through ``to_pylist``,
    NULLs included, and numpy input keeps its values."""
    cents = pa.list_(pa.struct([("mask_id", pa.int32()), ("area", pa.int64()), ("cx", pa.float64())]))
    cases = [
        (["a", None, "ünï"], pa.string()),
        ([b"\x00\x01", None, b""], pa.binary()),
        ([1, None, -(2**31)], pa.int32()),
        ([2**40, 0, None], pa.int64()),
        ([1.5, None, float("inf")], pa.float64()),
        ([[{"mask_id": 1, "area": 3, "cx": 0.5}], [], None], cents),
        ([[{"x": 1, "y": 2}, {"x": 3, "y": None}], None], pa.list_(pa.struct([("x", pa.int32()), ("y", pa.int32())]))),
    ]
    for values, type_ in cases:
        arr = to_arrow(values, type_)
        arr.validate(full=True)
        assert arr.type == type_ and arr.to_pylist() == values, (type_, arr.to_pylist())
    arr = to_arrow(np.array([3, 1, 2], dtype=np.uint16), pa.int32())
    assert arr.type == pa.int32() and arr.to_pylist() == [3, 1, 2]
    nan = to_arrow([float("nan")], pa.float64()).to_pylist()[0]
    assert nan != nan
    schema = pa.schema([("k", pa.string()), ("v", pa.int64())])
    batch = record_batch([["x", "y"], np.array([7, 8])], schema)
    assert batch.schema == schema and batch.to_pylist() == [{"k": "x", "v": 7}, {"k": "y", "v": 8}]


def group_summaries(df, key):
    """One row per group as the kernel saw it: key, row count, the
    ``t`` values in the order received and the rows' ``v`` sum."""

    def kernel(group):
        ts = group.column("t").to_pylist()
        return [(group.column(key)[0].as_py(), group.num_rows, ",".join(map(str, ts)),
                 float(sum(group.column("v").to_pylist())))]

    schema = T.StructType(
        [
            df.schema[key],
            T.StructField("n", T.LongType()),
            T.StructField("ts", T.StringType()),
            T.StructField("total", T.DoubleType()),
        ]
    )
    return map_groups_in_arrow(df, key, ["t"], kernel, schema)


def test_map_groups_in_arrow_sees_whole_sorted_groups(spark):
    """With 3-row Arrow batches, every group — one-row groups, groups
    longer than a batch, a NULL-key group — reaches the kernel once,
    whole, in ``order``; long and string keys alike."""
    rng = np.random.RandomState(5)
    sizes = {0: 1, 1: 2, 2: 3, 3: 4, 4: 7, 5: 1, 6: 10, 7: 1, None: 5}
    rows = [(k, int(t), float(rng.randint(100))) for k, n in sizes.items() for t in rng.permutation(n) * 10]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    expected = {
        k: (n, ",".join(str(t) for t in range(0, 10 * n, 10)), sum(v for kk, _, v in rows if kk == k))
        for k, n in sizes.items()
    }
    for key_type, cast in (("bigint", lambda k: k), ("string", lambda k: None if k is None else f"tl{k}")):
        df = from_driver_rows(
            spark, [(cast(k), t, v) for k, t, v in rows], f"k {key_type}, t int, v double"
        )
        with session_confs(spark, SMALL_BATCHES):
            got = {r["k"]: (r["n"], r["ts"], r["total"]) for r in group_summaries(df, "k").collect()}
        assert got == {cast(k): e for k, e in expected.items()}, key_type


def test_map_groups_in_arrow_empty_partitions_and_zero_rows(spark):
    """Two keys over one range partition per core (at least two) leave
    partitions with no rows on a multi-core session, and a zero-row
    input gives a zero-row result."""
    df = from_driver_rows(spark, [(1, t, 1.0) for t in range(5)] + [(2, 0, 2.0)], "k bigint, t int, v double")
    with session_confs(spark, SMALL_BATCHES):
        got = sorted(tuple(r) for r in group_summaries(df, "k").collect())
        empty = group_summaries(df.filter("k < 0"), "k").collect()
    assert got == [(1, 5, "0,1,2,3,4", 5.0), (2, 1, "0", 2.0)]
    assert empty == []


def test_timeseries_features_multi_bit_exact_vs_numpy(spark):
    """Every output value of ``timeseries_features_multi`` equals, to the
    last bit (``float.hex``), the same numpy calls on each group's series
    in order: random series of 1-40 points, two features, rows shuffled,
    3-row Arrow batches."""
    from cellphe_data_pipeline_spark.operators.timeseries import (
        _haar_details,
        timeseries_features_multi,
    )

    rng = np.random.RandomState(11)
    series = {k: rng.normal(0.0, 10.0, size=(int(rng.randint(1, 41)), 2)) for k in range(40)}
    rows = [(k, 1000 - 7 * t, float(a), float(b)) for k, xs in series.items() for t, (a, b) in enumerate(xs)]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    df = from_driver_rows(spark, rows, "k bigint, t int, a double, b double")
    with session_confs(spark, SMALL_BATCHES):
        got = {r["k"]: r for r in timeseries_features_multi(df, "k", ["t"], ["a", "b"]).collect()}
    assert sorted(got) == sorted(series)
    for k, xs in series.items():
        assert got[k]["n_obs"] == len(xs)
        for j, name in enumerate(("a", "b")):
            x = xs[::-1, j].copy()  # ordered by t, which runs backwards
            d = np.diff(x)
            want = [
                float(np.mean(x)),
                float(np.std(x)),
                float(d[d > 0].sum()) if len(d) else 0.0,
                float(d[d < 0].sum()) if len(d) else 0.0,
                *_haar_details(x, 3),
            ]
            stats = ("mean", "std", "ascent", "descent", "haar_l1", "haar_l2", "haar_l3")
            have = [got[k][f"{name}_{s}"] for s in stats]
            assert [float.hex(v) for v in have] == [float.hex(v) for v in want], (k, name)
