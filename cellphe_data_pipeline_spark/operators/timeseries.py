"""Per-key time-series features (A8 — SURVEY §2.4).

Reference: cellphe.features.time_series_features (time_series_features.py:13-15,
[pkg], Wiseman et al. 2023): per cell, per feature — summary statistics,
ascent/descent (signed first-difference sums), and Haar-wavelet detail
summaries at 3 scales.

Two implementations:

1. ``timeseries_stats`` — the SQL-expressible subset (count/mean/std/
   skewness via explicit moment sums, ascent/descent via lag) as pure
   native window/agg ops. Used for the DuckDB-oracle correctness gate.
2. ``timeseries_features_multi`` — the full kernel incl. Haar wavelet
   detail energies over any number of value columns, one numpy call
   set per key group through ``operators.arrow_map.map_groups_in_arrow``
   (a ``mapInArrow`` over key-sorted partitions).
   ``timeseries_features`` is the same kernel over one column, renamed
   to the single-feature contract. Haar DWT is implemented directly in
   numpy (pairwise sums/diffs per level) — no pywt dependency. One group
   = one trajectory (bounded: ≤ thousands of rows), so executor memory
   is independent of total data volume; the only shuffle is the key's
   range partitioning.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cellphe_data_pipeline_spark.functions.scalars import round_z


def timeseries_stats(df: DataFrame, key: str, order: list[str], value: str) -> DataFrame:
    """Native-Spark per-key series stats. Skewness uses the explicit
    population-moment formula (m3 / m2^1.5) computed from raw power sums
    so the oracle SQL can reproduce it exactly — Spark's builtin
    ``skewness`` and DuckDB's differ in sample-adjustment convention."""
    w = Window.partitionBy(key).orderBy(*order)
    x = F.col(value)
    diff = x - F.lag(x).over(w)
    per_row = df.select(
        F.col(key),
        x.alias("_x"),
        diff.alias("_d"),
    )
    n = F.count(F.lit(1))
    # Power sums as EXACT DECIMAL sums: an unordered DOUBLE reduction
    # depends on shuffle merge-arrival order (varies run to run and with
    # partition count) and its last-ulp jitter can flip a rounded output
    # digit. The per-row products are IEEE-deterministic (x*x, never
    # pow() — libm vs JVM differ in the last ulp); the deterministic cast
    # to decimal then makes the SUM associative => the aggregate is a
    # pure function of the data in every engine at any parallelism.
    xx = F.col("_x")
    s1 = F.sum(xx.cast("decimal(18,6)"))
    s2 = F.sum((xx * xx).cast("decimal(28,10)"))
    s3 = F.sum((xx * xx * xx).cast("decimal(38,12)"))
    agg = per_row.groupBy(key).agg(
        n.alias("n_obs"),
        s1.cast("double").alias("_s1"),
        s2.cast("double").alias("_s2"),
        s3.cast("double").alias("_s3"),
        F.sum(
            F.when(F.col("_d") > 0, F.col("_d")).otherwise(F.lit(0.0)).cast("decimal(18,8)")
        )
        .cast("double")
        .alias("_asc"),
        F.sum(
            F.when(F.col("_d") < 0, F.col("_d")).otherwise(F.lit(0.0)).cast("decimal(18,8)")
        )
        .cast("double")
        .alias("_desc"),
    )
    mean = F.col("_s1") / F.col("n_obs")
    m2 = F.col("_s2") / F.col("n_obs") - mean * mean
    m3 = (
        F.col("_s3") / F.col("n_obs")
        - 3 * mean * (F.col("_s2") / F.col("n_obs"))
        + 2 * mean * mean * mean
    )
    return agg.select(
        F.col(key),
        F.col("n_obs"),
        F.round(mean, 6).alias("mean_val"),
        F.round(F.sqrt(F.greatest(m2, F.lit(0.0))), 6).alias("std_pop"),
        round_z(
            # m2^1.5 spelled m2*sqrt(m2): sqrt and * are IEEE-exact, pow(x,1.5)
            # is engine-dependent in the last ulp.
            F.when(m2 <= 0, F.lit(0.0)).otherwise(m3 / (m2 * F.sqrt(m2))), 4
        ).alias("skew_pop"),
        F.round(F.col("_asc"), 6).alias("ascent"),
        round_z(F.col("_desc"), 6).alias("descent"),
    )


def _haar_details(x: np.ndarray, levels: int = 3) -> list[float]:
    """Sum of |detail coefficients| per Haar DWT level (unnormalised
    pairwise differences, odd tail dropped per level)."""
    out = []
    a = x.astype("float64")
    for _ in range(levels):
        m = len(a) // 2
        if m == 0:
            out.append(0.0)
            a = a[:0]
            continue
        pairs = a[: 2 * m].reshape(m, 2)
        detail = (pairs[:, 0] - pairs[:, 1]) / np.sqrt(2.0)
        out.append(float(np.abs(detail).sum()))
        a = (pairs[:, 0] + pairs[:, 1]) / np.sqrt(2.0)
    return out


def _stat_names(levels: int) -> list[str]:
    return ["mean", "std", "ascent", "descent"] + [f"haar_l{i + 1}" for i in range(levels)]


def timeseries_features(
    df: DataFrame, key: str, order: list[str], value: str, levels: int = 3
) -> DataFrame:
    """Full A8 analogue for ONE value column: ``timeseries_features_multi``
    over ``[value]``, with the columns renamed to the original
    single-feature contract (``mean_val``, ``std_pop``, ``ascent``,
    ``descent``, ``haar_l*``)."""
    rename = {"mean": "mean_val", "std": "std_pop"}
    return timeseries_features_multi(df, key, order, [value], levels).select(
        key,
        "n_obs",
        *[
            F.col(f"{value}_{stat}").alias(rename.get(stat, stat))
            for stat in _stat_names(levels)
        ],
    )


def timeseries_features_multi(
    df: DataFrame, key: str, order: list[str], values: list[str], levels: int = 3
) -> DataFrame:
    """A8 over MANY feature columns at once — the reference's actual
    shape: ``time_series_features`` summarises EVERY static/movement
    feature per cell (~15 derived vars per input feature, Wiseman 2023;
    time_series_features.py:13-15 [pkg]). One output row per key with
    ``<feature>_{mean,std,ascent,descent,haar_l*}`` columns.

    Still ONE shuffle: all feature columns ride the same key shuffle;
    the kernel loops features inside each group (vectorised numpy per
    feature), so cost is O(features) CPU on an unchanged data motion."""
    per_feature = _stat_names(levels)
    schema = T.StructType(
        [df.schema[key], T.StructField("n_obs", T.LongType())]
        + [
            T.StructField(f"{v}_{stat}", T.DoubleType())
            for v in values
            for stat in per_feature
        ]
    )

    def kernel(group) -> list[tuple]:
        row: list = [group.column(key)[0].as_py(), group.num_rows]
        for v in values:
            # SQL NULL -> NaN
            x = np.array(group.column(v).to_pylist(), dtype="float64")
            d = np.diff(x)
            row += [
                float(np.mean(x)) if len(x) else 0.0,
                float(np.std(x)) if len(x) else 0.0,
                float(d[d > 0].sum()) if len(d) else 0.0,
                float(d[d < 0].sum()) if len(d) else 0.0,
                *_haar_details(x, levels),
            ]
        return [tuple(row)]

    from cellphe_data_pipeline_spark.operators.arrow_map import map_groups_in_arrow

    return map_groups_in_arrow(
        df.select(key, *order, *values), key, list(order), kernel, schema
    )
