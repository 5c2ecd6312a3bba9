"""Driver-contract query catalog: every implemented operator from
SURVEY.md §2 registered as (spark callable, DuckDB oracle SQL) pairs.

Conventions (driver compares row count + schema + order-insensitive
value hash, columns sorted by NAME):
- every computed column is aliased IDENTICALLY in Spark and SQL,
  lowercase;
- float outputs that involve cross-engine-nondeterministic reduction
  order (unordered SUM/AVG) are rounded to >= 6 decimals — analysis per
  query shows accumulated error << rounding granularity;
- money sums go through DECIMAL(18,2) so they are EXACT in both
  engines, then cast back to double;
- sqrt/* /- expressions are written with the same operation order on
  both sides (IEEE ops are deterministic given identical order);
- pow() is never used (libm vs JVM differ in the last ulp).

Reference anchors are cited per query; tables are the driver's
TPC-H-ish testdata (TESTDATA.md) standing in for the reference's
spot/feature tables (TRACK_ID -> user_id/orderkey, FRAME -> ts/event
order, AREA -> l_quantity, positions -> value/event coords).
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.operators.aggregates import (
    argmin_rows,
    minmax_normalize,
    multistat_summary,
    value_histogram,
)
from cellphe_data_pipeline_spark.operators.graph import connected_components, degree, roots
from cellphe_data_pipeline_spark.operators.joins import density_self_join, zip_join
from cellphe_data_pipeline_spark.operators.movement import movement_features
from cellphe_data_pipeline_spark.operators.qc_filters import (
    filter_size_and_observations,
    rows_with_group_count,
)
from cellphe_data_pipeline_spark.functions.scalars import round_z
from cellphe_data_pipeline_spark.operators.timeseries import timeseries_stats
from cellphe_data_pipeline_spark.session import session_confs
from cellphe_data_pipeline_spark.sources.io import from_driver_rows
from cellphe_data_pipeline_spark.sources.tables import load_table


@dataclass(frozen=True)
class QueryEntry:
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None => non-SQL-expressible, driver does rows-only check


REGISTRY: dict[str, QueryEntry] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        REGISTRY[name] = QueryEntry(fn, sql)
        return fn

    return deco


# =====================================================================
# Filters / projections (P1-P14)
# =====================================================================

@register(
    "p1_p2_filter_min_obs",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n
      FROM lineitem WHERE l_quantity >= 30
    ) t WHERE n >= 3
    """,
)
def p1_p2(spark, sf_dir):
    """P1+P2 (main.nf:180-185): scalar predicate then group-cardinality
    HAVING-keep-rows, via one window shuffle (qc_filters.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = filter_size_and_observations(
        li, area_col="l_quantity", key="l_orderkey",
        minimum_cell_size=30.0, minimum_observations=3,
    )
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "p4_filter_distinct",
    "SELECT DISTINCT c_nationkey FROM customer WHERE c_acctbal > 1000",
)
def p4(spark, sf_dir):
    """P4 (frame_features_image.py:46): equality filter + distinct."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_acctbal") > 1000).select("c_nationkey").distinct()


@register(
    "p5_duplicate_key_rows",
    """
    SELECT user_id, event_type, event_id, n FROM (
      SELECT user_id, event_type, event_id,
             COUNT(*) OVER (PARTITION BY user_id, event_type) AS n
      FROM events
    ) t WHERE n > 1
    """,
)
def p5(spark, sf_dir):
    """P5 (tracking_qc.qmd:30-35): duplicate-key detector, rows kept."""
    ev = load_table(spark, sf_dir, "events")
    out = rows_with_group_count(ev, ["user_id", "event_type"], "n > 1")
    return out.select("user_id", "event_type", "event_id", "n")


@register(
    "p6_unique_key_rows",
    """
    SELECT user_id, event_type, event_id FROM (
      SELECT user_id, event_type, event_id,
             COUNT(*) OVER (PARTITION BY user_id, event_type, date_trunc('day', ts)) AS n
      FROM events
    ) t WHERE n = 1
    """,
)
def p6(spark, sf_dir):
    """P6 (tracking_qc.qmd:82-84): unique-key filter — keyed so that
    unique groups actually exist at sf0.01 (a 0-row pass proves little)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    out = rows_with_group_count(ev, ["user_id", "event_type", "day"], "n = 1")
    return out.select("user_id", "event_type", "event_id")


@register(
    "p7_p8_nonzero_nonnull",
    """
    SELECT l_orderkey, l_linenumber, l_discount FROM lineitem
    WHERE l_discount <> 0 AND l_shipdate IS NOT NULL
    """,
)
def p7_p8(spark, sf_dir):
    """P7 background filter (!=0, segmentation_qc.qmd:168) + P8 NA filter
    (tracking_qc.qmd:112)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_discount") != 0) & F.col("l_shipdate").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_discount")


@register(
    "p9_p12_project_rename_cast",
    """
    SELECT l_orderkey AS order_id, l_linenumber AS line_no,
           CAST(l_quantity AS INT) AS qty_int, l_returnflag AS flag
    FROM lineitem
    """,
)
def p9_p12(spark, sf_dir):
    """P9-P12 (parse_xml.py:170-196, :103-105): projection + reorder +
    rename + cast."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.col("l_returnflag").alias("flag"),
    )


@register(
    "p13_stride_sample",
    """
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_id % 10 = 0
    """,
)
def p13(spark, sf_dir):
    """P13 (segmentation_qc.qmd:55-58): every-10th stride sampling."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 10 == 0).select(
        "event_id", "user_id", "event_type", "value"
    )


# =====================================================================
# Joins (J1-J7)
# =====================================================================

@register(
    "j1_broadcast_dim_join",
    """
    SELECT r.r_name, n.n_name, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def j1(spark, sf_dir):
    """J1 (create_frame_summary_features.py:23-25): broadcast equi-join
    of small dims; money sum via exact decimal."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
    )


@register(
    "j2_composite_key_joinback",
    """
    SELECT e.event_id, e.user_id, e.event_type, g.grp_mean
    FROM events e
    JOIN (
      SELECT user_id, event_type,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
               AS grp_mean
      FROM events GROUP BY user_id, event_type
    ) g ON e.user_id = g.user_id AND e.event_type = g.event_type
    """,
)
def j2(spark, sf_dir):
    """J2 (create_frame_summary_features.py:55): composite-key equi-join
    of a group aggregate back onto the fact rows."""
    ev = load_table(spark, sf_dir, "events")
    # decimal-exact sum: an unordered DOUBLE sum depends on shuffle merge
    # order (varies run to run); DECIMAL addition is associative => the
    # mean is a deterministic function of the data in both engines
    g = ev.groupBy("user_id", "event_type").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("grp_mean")
    )
    return ev.join(g, ["user_id", "event_type"]).select(
        "event_id", "user_id", "event_type", "grp_mean"
    )


@register(
    "j3_lookup_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, p.p_name, p.p_retailprice
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
)
def j3(spark, sf_dir):
    """J3 (parse_xml.py:166-167): id lookup join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return li.join(p, li.l_partkey == p.p_partkey).select(
        "l_orderkey", "l_linenumber", "p_name", "p_retailprice"
    )


@register(
    "j4_semi_join",
    """
    SELECT p_partkey, p_name FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
    """,
)
def j4(spark, sf_dir):
    """J4 (parse_xml.py:213-223): lookup-with-missing-drop == left semi."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select("p_partkey", "p_name")


@register(
    "j5_anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def j5(spark, sf_dir):
    """J5 (frame_features_image.py:49-54): missing-key skip == left anti
    (the logged-miss side); build side filtered so the miss set is
    non-empty at sf0.01 (every customer has SOME order)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "j6_positional_zip_join",
    """
    SELECT l.rn, l.s_name, r.n_name FROM
      (SELECT s_name, ROW_NUMBER() OVER (ORDER BY s_suppkey) AS rn FROM supplier) l
    JOIN
      (SELECT n_name, ROW_NUMBER() OVER (ORDER BY n_nationkey) AS rn FROM nation) r
    USING (rn)
    """,
)
def j6(spark, sf_dir):
    """J6 (main.nf:435-437): positional zip-join by explicit order."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return zip_join(s, n, ["s_suppkey"], ["n_nationkey"]).select("rn", "s_name", "n_name")


@register(
    "j7_density_grid_join",
    """
    WITH pts AS (
      SELECT event_id, event_type, value AS x, CAST(user_id AS DOUBLE) AS y
      FROM events
    )
    SELECT a.event_id, COUNT(b.event_id) AS density
    FROM pts a LEFT JOIN pts b
      ON a.event_type = b.event_type AND b.event_id <> a.event_id
     AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 625.0
    GROUP BY a.event_id
    """,
)
def j7(spark, sf_dir):
    """J7 (create_frame_summary_features.py:57-62): the reference's
    DISABLED (OOM) per-frame pairwise density, un-stubbed as a
    grid-bucketed range join (operators/joins.py). The oracle is the
    quadratic formulation; the Spark plan is the scale-safe one."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "event_type",
        F.col("value").alias("x"),
        F.col("user_id").cast("double").alias("y"),
    )
    out = density_self_join(pts, "event_type", "x", "y", "event_id", radius=25.0)
    return out.select("event_id", F.col("density").cast("bigint").alias("density"))


# =====================================================================
# Aggregates (A1-A8)
# =====================================================================

@register(
    "a1_argmin_first_row",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn = 1
    """,
)
def a1(spark, sf_dir):
    """A1 (create_frame_summary_features.py:23 idxmin): first row per
    group under a total order."""
    o = load_table(spark, sf_dir, "orders")
    out = argmin_rows(o, ["o_custkey"], ["o_orderdate", "o_orderkey"])
    return out.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "a2_group_count",
    "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders GROUP BY o_orderpriority",
)
def a2(spark, sf_dir):
    """A2 (tracking_qc.qmd:45-51): group count."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@register(
    "a3_multistat_median",
    """
    SELECT l_returnflag, MIN(l_quantity) AS min_val, MEDIAN(l_quantity) AS median_val,
           MAX(l_quantity) AS max_val, COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a3(spark, sf_dir):
    """A3 (tracking_qc.qmd:55-63 x4 sites): min/EXACT-median/max/n —
    `median`, not percentile_approx, for oracle equality (SURVEY §7)."""
    li = load_table(spark, sf_dir, "lineitem")
    return multistat_summary(li, ["l_returnflag"], "l_quantity")


@register(
    "a4_group_sum_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           ROUND(SUM(l_quantity) / COUNT(*), 6) AS avg_qty, -- l_quantity >= 1: -0.0 unreachable
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def a4(spark, sf_dir):
    """A4 (tracking_qc.qmd:151-155) as a TPC-H-Q1-shaped rollup; money
    sums exact via decimal, qty sums exact (integral doubles)."""
    li = load_table(spark, sf_dir, "lineitem")
    dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
    dec_disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(dec_price).cast("double").alias("sum_base_price"),
        F.sum(dec_price * dec_disc).cast("double").alias("sum_disc_price"),
        F.round(F.sum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "a5_value_histogram",
    """
    SELECT CAST(FLOOR(value / 10.0) AS INT) AS bucket, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def a5(spark, sf_dir):
    """A5 (segmentation_qc.qmd:159-170): count-by-value histogram."""
    ev = load_table(spark, sf_dir, "events")
    return value_histogram(ev, "value", 10.0)


@register(
    "a6_minmax_normalize",
    """
    SELECT event_id, event_type,
           ROUND(CASE WHEN mx = mn THEN NULL ELSE (value - mn) / (mx - mn) END, 6)
             AS norm_value
    FROM (
      SELECT event_id, event_type, value,
             MIN(value) OVER (PARTITION BY event_type) AS mn,
             MAX(value) OVER (PARTITION BY event_type) AS mx
      FROM events
    ) t
    """,
)
def a6(spark, sf_dir):
    """A6+F10 (frame_features_image.py:25-26): per-group min-max
    normalisation via unordered window (no join-back)."""
    ev = load_table(spark, sf_dir, "events")
    out = minmax_normalize(ev, ["event_type"], "value")
    return out.select("event_id", "event_type", F.round("norm_value", 6).alias("norm_value"))


@register(
    "a7_count_distinct",
    "SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",
)
def a7(spark, sf_dir):
    """A7 (frame_features_image.py:46): distinct count per group."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


@register(
    "a8_timeseries_stats",
    """
    WITH d AS (
      SELECT user_id, value AS x,
             value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dd
      FROM events
    ), a AS (
      SELECT user_id, COUNT(*) AS n_obs,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(x*x AS DECIMAL(28,10))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(x*x*x AS DECIMAL(38,12))) AS DOUBLE) AS s3,
             CAST(SUM(CAST(CASE WHEN dd > 0 THEN dd ELSE 0.0 END AS DECIMAL(18,8)))
                  AS DOUBLE) AS asum,
             CAST(SUM(CAST(CASE WHEN dd < 0 THEN dd ELSE 0.0 END AS DECIMAL(18,8)))
                  AS DOUBLE) AS dsum
      FROM d GROUP BY user_id
    )
    SELECT user_id, n_obs,
           ROUND(s1/n_obs, 6) AS mean_val,
           ROUND(SQRT(GREATEST(s2/n_obs - (s1/n_obs)*(s1/n_obs), 0.0)), 6) AS std_pop,
           ROUND(CASE WHEN s2/n_obs - (s1/n_obs)*(s1/n_obs) <= 0 THEN 0.0
                 ELSE (s3/n_obs - 3*(s1/n_obs)*(s2/n_obs) + 2*(s1/n_obs)*(s1/n_obs)*(s1/n_obs))
                      / ((s2/n_obs - (s1/n_obs)*(s1/n_obs))
                         * SQRT(s2/n_obs - (s1/n_obs)*(s1/n_obs))) END, 4) + 0.0 AS skew_pop,
           ROUND(asum, 6) AS ascent, ROUND(dsum, 6) + 0.0 AS descent
    FROM a
    """,
)
def a8(spark, sf_dir):
    """A8 (time_series_features.py:13-15 [pkg]): SQL-expressible subset
    of the per-key time-series UDAF, via explicit power sums."""
    ev = load_table(spark, sf_dir, "events")
    return timeseries_stats(ev, "user_id", ["ts", "event_id"], "value")


# =====================================================================
# Windows (W1-W5) / sorts (O1-O4)
# =====================================================================

@register(
    "w1_lag_diff",
    """
    SELECT event_id, user_id,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS diff_value
    FROM events
    """,
)
def w1(spark, sf_dir):
    """W1 (create_frame_summary_features.py:33-34; tracking_qc.qmd:106-110):
    per-key lag/diff ordered by time."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", (F.col("value") - F.lag("value").over(w)).alias("diff_value")
    )


@register(
    "w2_cumulative_sum",
    """
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 6) + 0.0 AS cum_value
    FROM events
    """,
)
def w2(spark, sf_dir):
    """W2 (create_frame_summary_features.py:39): per-key cumulative sum.
    `value` is signed, so the rounded running sum can be
    tiny-negative → round_z on both engines (the a13 -0.0 class)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", round_z(F.sum("value").over(w)).alias("cum_value")
    )


@register(
    "w3_first_value",
    """
    SELECT event_id, user_id,
           FIRST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS first_val
    FROM events
    """,
)
def w3(spark, sf_dir):
    """W3 (create_frame_summary_features.py:23-25): first value per key."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select("event_id", "user_id", F.first("value").over(w).alias("first_val"))


@register(
    "w4_natsort_row_number",
    """
    SELECT doc_id, source,
           ROW_NUMBER() OVER (ORDER BY CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT),
                              source, doc_id) AS rn
    FROM documents
    """,
)
def w4(spark, sf_dir):
    """W4+O2 (main.nf:349-358 rename_frames): natural sort (numeric-aware,
    src2 < src10) + sequential row numbering — via the scale-safe
    two-pass partition-offset form (operators/scale.global_row_number),
    not a single-partition global window."""
    from cellphe_data_pipeline_spark.operators.scale import global_row_number

    d = load_table(spark, sf_dir, "documents")
    natkey = F.regexp_extract("source", r"([0-9]+)", 1).cast("bigint")
    return global_row_number(d, [natkey, "source", "doc_id"], "rn").select(
        "doc_id", "source", "rn"
    )


@register(
    "o1_multikey_sort_rank",
    """
    SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) AS pos,
           l_orderkey, l_linenumber
    FROM lineitem WHERE l_orderkey <= 2000
    """,
)
def o1(spark, sf_dir):
    """O1/O3 (create_frame_summary_features.py:26-27): multi-key sort made
    hash-checkable by materialising the rank — scale-safe two-pass
    numbering, no single-partition window."""
    from cellphe_data_pipeline_spark.operators.scale import global_row_number

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    return global_row_number(
        li.select("l_orderkey", "l_linenumber"), ["l_orderkey", "l_linenumber"], "pos"
    ).select("pos", "l_orderkey", "l_linenumber")


@register(
    "o4_order_preserving_dedup",
    """
    SELECT user_id, event_type, event_id FROM (
      SELECT user_id, event_type, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def o4(spark, sf_dir):
    """O4 (parse_xml.py:38-41): dedup keeping first occurrence in order."""
    ev = load_table(spark, sf_dir, "events")
    out = argmin_rows(ev, ["user_id", "event_type"], ["ts", "event_id"])
    return out.select("user_id", "event_type", "event_id")


# =====================================================================
# Unions (U1-U4)
# =====================================================================

@register(
    "u1_union_all",
    """
    SELECT o_orderkey, o_totalprice, 'high' AS bucket FROM orders WHERE o_totalprice >= 200000
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'low' AS bucket FROM orders WHERE o_totalprice < 50000
    """,
)
def u1(spark, sf_dir):
    """U1 (main.nf:209-222): schema-safe union-all (unionByName replaces
    the reference's header-aware awk concat)."""
    o = load_table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") >= 200000).select(
        "o_orderkey", "o_totalprice", F.lit("high").alias("bucket")
    )
    lo = o.filter(F.col("o_totalprice") < 50000).select(
        "o_orderkey", "o_totalprice", F.lit("low").alias("bucket")
    )
    return hi.unionByName(lo)


@register(
    "u2_tagged_union",
    """
    SELECT 'raw' AS type, l_orderkey, l_quantity FROM lineitem
    UNION ALL
    SELECT 'filtered' AS type, l_orderkey, l_quantity FROM (
      SELECT l_orderkey, l_quantity,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n
      FROM lineitem WHERE l_quantity >= 30
    ) t WHERE n >= 3
    """,
)
def u2(spark, sf_dir):
    """U2 (tracking_qc.qmd:44-52): raw vs filtered tagged union."""
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.select(F.lit("raw").alias("type"), "l_orderkey", "l_quantity")
    filt = filter_size_and_observations(
        li, area_col="l_quantity", key="l_orderkey",
        minimum_cell_size=30.0, minimum_observations=3,
    ).select(F.lit("filtered").alias("type"), "l_orderkey", "l_quantity")
    return raw.unionByName(filt)


# =====================================================================
# Scalar functions (F1-F15)
# =====================================================================

@register(
    "f1_f4_string_funcs",
    """
    SELECT doc_id,
           CAST(regexp_extract(source, '([0-9]+)', 1) AS INT) AS src_num,
           lpad(CAST(doc_id AS VARCHAR), 5, '0') AS padded_id,
           regexp_replace(source, 'src', 'source_', 'g') AS renamed,
           lpad(CAST(doc_id AS VARCHAR), 5, '0') || '-' || source AS fname
    FROM documents
    """,
)
def f1_f4(spark, sf_dir):
    """F1 regexp-extract-int (frame_features_image.py:28-33), F2
    regexp-replace (main.nf:322-337), F3/F4 zero-pad + concat filename
    (parse_xml.py:202-211, main.nf:317)."""
    d = load_table(spark, sf_dir, "documents")
    padded = F.lpad(F.col("doc_id").cast("string"), 5, "0")
    return d.select(
        "doc_id",
        F.regexp_extract("source", r"([0-9]+)", 1).cast("int").alias("src_num"),
        padded.alias("padded_id"),
        F.regexp_replace("source", "src", "source_").alias("renamed"),
        F.concat(padded, F.lit("-"), F.col("source")).alias("fname"),
    )


@register(
    "f3_lpad_two_pass",
    """
    SELECT o_orderkey, lpad(CAST(o_orderkey AS VARCHAR), CAST(w AS INT), '0') AS padded_key
    FROM orders CROSS JOIN
      (SELECT MAX(LENGTH(CAST(o_orderkey AS VARCHAR))) AS w FROM orders) m
    """,
)
def f3(spark, sf_dir):
    """F3 (parse_xml.py:202-211): lpad to DATA-DRIVEN width — two-pass
    (max-length agg broadcast back, no driver collect)."""
    o = load_table(spark, sf_dir, "orders")
    widths = o.agg(F.max(F.length(F.col("o_orderkey").cast("string"))).alias("w"))
    return o.crossJoin(F.broadcast(widths)).select(
        "o_orderkey",
        F.expr("lpad(cast(o_orderkey as string), w, '0')").alias("padded_key"),
    )


@register(
    "f11_json_extract",
    """
    SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k_val
    FROM events
    """,
)
def f11(spark, sf_dir):
    """F11/F15 analogue: typed extraction from a serialized payload
    (parse_xml.py:97-100 string->typed)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("int").alias("k_val"),
    )


@register(
    "f13_recode",
    """
    SELECT CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
           ELSE 'partial' END AS status_label,
           COUNT(*) AS n
    FROM orders GROUP BY 1
    """,
)
def f13(spark, sf_dir):
    """F13 (tracking_qc.qmd:53-54): categorical recode."""
    o = load_table(spark, sf_dir, "orders")
    label = (
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "finished")
        .otherwise("partial")
    )
    return o.groupBy(label.alias("status_label")).agg(F.count(F.lit(1)).alias("n"))


# =====================================================================
# Movement features (M5 flagship) + streaming-shaped rollup
# =====================================================================

MOVEMENT_SQL = """
    WITH pts AS (
      SELECT event_id, user_id, ts, value AS x, CAST(event_id % 97 AS DOUBLE) AS y
      FROM events
    ), w AS (
      SELECT event_id, user_id, ts, x, y,
             FIRST_VALUE(x) OVER win AS x_start,
             FIRST_VALUE(y) OVER win AS y_start,
             LAG(x) OVER win AS xl, LAG(y) OVER win AS yl,
             epoch_us(ts)/1000000.0 - LAG(epoch_us(ts)/1000000.0) OVER win AS tdiff
      FROM pts
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), m AS (
      SELECT *,
             SQRT((x-x_start)*(x-x_start) + (y-y_start)*(y-y_start)) AS dis,
             COALESCE(SQRT((x-xl)*(x-xl) + (y-yl)*(y-yl)), 0.0) AS frame_dist
      FROM w
    ), c AS (
      SELECT *,
             SUM(frame_dist) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS trac
      FROM m
    )
    SELECT event_id, user_id,
           ROUND(dis, 6) AS dis,
           ROUND(frame_dist, 6) AS frame_dist,
           ROUND(trac, 6) AS trac,
           ROUND(CASE WHEN trac = 0 THEN 0.0 ELSE dis/trac END, 6) AS d2t,
           ROUND(0.0028 * frame_dist / (CASE WHEN tdiff IS NULL OR tdiff = 0
                                        THEN 1.0 ELSE tdiff END), 6) AS vel
    FROM c
    """


@register("m5_movement_features", MOVEMENT_SQL)
def m5(spark, sf_dir):
    """M5 flagship (create_frame_summary_features.py:22-52): Dis/Trac/
    D2T/Vel — fully native single-window plan (operators/movement.py)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.col("value").alias("x"),
        (F.col("event_id") % 97).cast("double").alias("y"),
    )
    out = movement_features(
        pts, key="user_id", order=["ts", "event_id"], x="x", y="y",
        time_col=F.col("ts").cast("double"),
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("Dis", 6).alias("dis"),
        F.round("frame_dist", 6).alias("frame_dist"),
        F.round("Trac", 6).alias("trac"),
        F.round("D2T", 6).alias("d2t"),
        F.round("Vel", 6).alias("vel"),
    )


@register(
    "e1_hourly_rollup",
    """
    SELECT event_type, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def e1(spark, sf_dir):
    """§2.11 batch form of the streaming tumbling-window rollup (also
    proves the nanos-timestamp events read, the round-1 blocker)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


# Shuffle-partition cap for the duration of a bounded streaming drain:
# a stateful streaming query creates spark.sql.shuffle.partitions
# state-store partitions at first start, so on a VANILLA session
# (default 200 — the driver does not use this repo's session factory)
# the sf0.01 drains would spend their time on empty-partition
# scheduling. `session_confs` restores the caller's setting afterwards;
# the memory-sink table is already materialised when the drain ends, so
# restoring is safe.
DRAIN_CONFS = {"spark.sql.shuffle.partitions": "16"}


def _stage_stream(batch_df, stage_name):
    """Stage the normalised batch table to a bounded per-query parquet
    dir (`_stage_dir` — reused and wiped per invocation; readStream
    cannot apply load_table's session handling mid-plan) and return it
    as a stream; availableNow drains it as one micro-batch."""
    staged = _stage_dir(stage_name)  # fixed, wiped per run — no leak
    batch_df.write.mode("overwrite").parquet(staged)
    return batch_df.sparkSession.readStream.schema(batch_df.schema).parquet(
        staged
    )


def _drain_to_memory(stream, sink_name, transform, output_mode, label):
    """Shared protocol for every e*-streaming-runtime query: run
    `transform` (the streaming operator under test) over `stream`
    (`_stage_stream`, or `ordered_file_stream` over pre-staged ordered
    batch files), drain it with availableNow into a memory sink under
    `DRAIN_CONFS`, and return the finished sink table.
    A drain that exceeds 300s raises rather than returning a partial
    table. In append mode the trailing no-data batch (on by default)
    finalizes the watermark, so emission is complete."""
    from cellphe_data_pipeline_spark.streaming.tracker import drain

    spark = stream.sparkSession
    with session_confs(spark, DRAIN_CONFS):
        drain(
            transform(stream)
            .writeStream.format("memory")
            .queryName(sink_name)  # fixed: restart replaces the temp view
            .outputMode(output_mode),
            label,
        )
    return spark.table(sink_name)


@register(
    "e5_streaming_rollup",
    """
    SELECT event_type, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def e5(spark, sf_dir):
    """§2.11 run as a REAL Structured Streaming query under the driver
    oracle (r6): the watermarked tumbling rollup
    (streaming/tracker.streaming_window_rollup) executed as
    readStream(parquet) → window agg → availableNow drain → memory
    sink, the finished sink table returned as this query's result —
    byte-identical to the batch e1 rows, checked against the SAME
    DuckDB oracle. This closes the round-5 gap where streaming
    operators had only pytest + batch-twin coverage: the streaming
    RUNTIME path (source → stateful agg → sink) is now externally
    verified, not just its batch semantics twin.

    Mechanics: the events table is staged to a bounded per-query
    parquet dir (`_stage_dir` — reused and wiped per invocation) with
    normalised types (the raw testdata's nanos timestamps need
    load_table's session handling, which readStream can't apply
    mid-plan); COMPLETE output mode so the bounded drain emits every
    window — in append mode the final watermark would hold back the
    trailing hours, AND each key's row is the final aggregate
    regardless of how availableNow splits micro-batches. Tumbling
    window(1h) starts are epoch-aligned, hence equal to
    date_trunc('hour'). A drain that exceeds its timeout raises
    rather than returning a partial table."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_window_rollup,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    sink = _drain_to_memory(
        _stage_stream(ev, "e5_stream_rollup"), "e5_rollup_sink",
        streaming_window_rollup, "complete", "e5_streaming_rollup",
    )
    return sink.select(
        "event_type",
        F.col("win.start").alias("hour_ts"),
        "n",
        "sum_value",
    )


@register(
    "e6_streaming_upsert_state",
    """
    WITH prep AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type, value
      FROM events
    ),
    w AS (
      SELECT user_id AS key, t_us, event_id AS last_seq,
             event_type AS last_type, value AS last_value,
             (event_type = 'error') AS is_delete,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY t_us DESC, event_id DESC) AS rn
      FROM prep WHERE t_us IS NOT NULL AND event_id IS NOT NULL
    )
    SELECT key, t_us, last_seq, last_type, last_value, is_delete
    FROM w WHERE rn = 1
    """,
)
def e6(spark, sf_dir):
    """§2.11 STATEFUL streaming runtime under the driver oracle (r6):
    the latest-wins CDC state (streaming/tracker.streaming_upsert,
    applyInPandasWithState — python state server, Arrow state I/O)
    drained with availableNow over the staged events log; the emitted
    per-key snapshot must equal the batch latest-wins window the oracle
    computes. Complements e5 (which exercises the built-in stateful
    AGG runtime): this one drives the PYTHON stateful-processor
    runtime end-to-end. The append-mode sink holds one snapshot row
    per live key PER micro-batch; because the state is latest-wins
    MONOTONE, the final state row for a key is its snapshot with the
    maximal (t, seq) — so the result takes that row per key and is
    correct however availableNow splits the drain into micro-batches
    (multi-micro-batch state chaining itself is pinned by
    tests/test_streaming.py::test_streaming_upsert_matches_batch_merge).
    Event times carried as exact integer micros (unix_micros ≡
    DuckDB epoch_us) — no ms division, no float rounding. A drain
    exceeding its timeout raises rather than returning partial
    state."""
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_upsert

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        "event_type",
        "value",
    )
    sink = _drain_to_memory(
        _stage_stream(ev, "e6_stream_upsert"), "e6_upsert_sink",
        lambda stream: streaming_upsert(stream, t_col="t_us"),
        "append", "e6_streaming_upsert_state",
    )
    w = Window.partitionBy("key").orderBy(
        F.col("t_ms").desc(), F.col("last_seq").desc()
    )
    return (
        sink
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "key",
            F.col("t_ms").alias("t_us"),  # carried micros; see docstring
            "last_seq",
            "last_type",
            "last_value",
            "is_delete",
        )
    )


@register(
    "e2_sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id, event_id, ts,
           CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS session_id
    FROM g
    """,
)
def e2(spark, sf_dir):
    """Batch sessionization (the streaming session summary's batch twin):
    per-user session ordinals split on >30 min inactivity gaps — lag +
    running sum of session-start flags in ONE user-partitioned window
    pass (integer microsecond arithmetic, bit-exact vs the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    is_start = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(is_start)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("session_id"),
    )


@register(
    "e3_funnel_conversion",
    """
    WITH s AS (
      SELECT user_id, MIN(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT s.user_id, s.signup_ts, MIN(e.ts) AS purchase_ts
      FROM s JOIN events e
        ON e.user_id = s.user_id
       AND e.event_type = 'purchase' AND e.ts >= s.signup_ts
      GROUP BY s.user_id, s.signup_ts
    )
    SELECT s.user_id, s.signup_ts, p.purchase_ts,
           (p.user_id IS NOT NULL) AS converted,
           CAST(epoch_us(p.purchase_ts) - epoch_us(s.signup_ts) AS BIGINT)
             AS time_to_convert_us
    FROM s LEFT JOIN p USING (user_id, signup_ts)
    """,
)
def e3(spark, sf_dir):
    """Funnel conversion (r5c) — the signup→purchase sequence query
    every event-analytics engine answers: per user, first signup, first
    purchase AT-OR-AFTER it, conversion flag, exact integer-microsecond
    time-to-convert. Two combinable MIN aggregates + one keyed join —
    never an all-pairs sequence scan; at 100 TB both aggregates
    partial-combine map-side and the join shuffles one row per user."""
    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        s.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("p_ts")
            ),
            "user_id",
        )
        .filter(F.col("p_ts") >= F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("purchase_ts"))
    )
    return s.join(p, ["user_id", "signup_ts"], "left").select(
        "user_id",
        "signup_ts",
        "purchase_ts",
        F.col("purchase_ts").isNotNull().alias("converted"),
        (F.unix_micros("purchase_ts") - F.unix_micros("signup_ts"))
        .cast("bigint")
        .alias("time_to_convert_us"),
    )


@register(
    "e4_retention_cohorts",
    """
    WITH f AS (
      SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_trunc('week', e.ts) AS DATE) AS active_week
      FROM events e JOIN f USING (user_id)
    )
    SELECT cohort_week,
           CAST((active_week - cohort_week) / 7 AS BIGINT) AS week_offset,
           COUNT(*) AS n_active
    FROM a GROUP BY cohort_week, week_offset
    """,
)
def e4(spark, sf_dir):
    """Retention cohort matrix (r5c) — users grouped by first-activity
    week, counted per subsequent active week offset: the standard
    retention triangle. Shapes: one MIN aggregate (cohort per user),
    one DISTINCT on (user, week) — both combinable — and a final tiny
    groupBy; the user table moves once, broadcastable when the cohort
    dim is small."""
    ev = load_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts")).cast("date")
    f = ev.groupBy("user_id").agg(F.min(week).alias("cohort_week"))
    a = (
        ev.select("user_id", week.alias("active_week"))
        .join(f, "user_id")
        .distinct()
    )
    return (
        a.groupBy(
            "cohort_week",
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# =====================================================================
# Graph (G1-G4) — event-chain lineage per user
# =====================================================================

EDGES_SQL = """
    edges AS (
      SELECT src, dst, user_id FROM (
        SELECT user_id,
               LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
               event_id AS dst
        FROM events
      ) t WHERE src IS NOT NULL
    )
    """


def _event_edges(spark, sf_dir) -> DataFrame:
    """G1 (parse_xml.py:108-113): edge-list build — consecutive events of
    a user linked src->dst (the engine analogue of TrackMate links)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.lag("event_id").over(w).alias("src"),
            F.col("event_id").alias("dst"),
            "user_id",
        )
        .filter(F.col("src").isNotNull())
    )


@register("g1_edge_build", f"WITH {EDGES_SQL} SELECT src, dst, user_id FROM edges")
def g1(spark, sf_dir):
    return _event_edges(spark, sf_dir)


@register(
    "g2_degree",
    f"""
    WITH {EDGES_SQL},
    o AS (SELECT src AS node, COUNT(*) AS out_degree FROM edges GROUP BY src),
    i AS (SELECT dst AS node, COUNT(*) AS in_degree FROM edges GROUP BY dst)
    SELECT COALESCE(o.node, i.node) AS node,
           COALESCE(out_degree, 0) AS out_degree,
           COALESCE(in_degree, 0) AS in_degree
    FROM o FULL JOIN i ON o.node = i.node
    """,
)
def g2(spark, sf_dir):
    """G2 (parse_xml.py:115-118): node degrees over the edge set
    (isolated nodes pruned by construction)."""
    return degree(_event_edges(spark, sf_dir), "src", "dst")


@register(
    "g3_roots",
    f"""
    WITH {EDGES_SQL}
    SELECT event_id AS id, user_id FROM events
    WHERE event_id IN (SELECT src FROM edges UNION SELECT dst FROM edges)
      AND event_id NOT IN (SELECT dst FROM edges)
    """,
)
def g3(spark, sf_dir):
    """G3 (parse_xml.py:120-122): root detection — no incoming edge."""
    ev = load_table(spark, sf_dir, "events")
    nodes = ev.select(F.col("event_id").alias("id"), "user_id")
    return roots(nodes, _event_edges(spark, sf_dir), id_col="id", dst="dst")


@register(
    "g4_connected_components",
    """
    SELECT event_id AS node, MIN(event_id) OVER (PARTITION BY user_id) AS component
    FROM events
    WHERE user_id IN (SELECT user_id FROM events GROUP BY user_id HAVING COUNT(*) > 1)
    """,
)
def g4(spark, sf_dir):
    """G4 basis (parse_xml.py:124-163): distributed connected components
    (large-star/small-star) — oracle knows each user's chain is one
    component labelled by its min event id, so the result is fully
    checkable without recursion."""
    return connected_components(_event_edges(spark, sf_dir), "src", "dst")


# =====================================================================
# Deduplication (training-data extensions — dedup.py)
# =====================================================================

#: Shared DuckDB CTEs reproducing word_shingles (dedup.py): whitespace-
#: normalised token list -> distinct word 3-grams per doc. DuckDB list
#: slicing t[i:i+2] is 1-based inclusive => tokens i..i+2.
SHINGLE_CTE = r"""
    toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS sh
      FROM toks,
           UNNEST(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2)
                       ELSE [] END) AS g(i)
    )
    """


@register(
    "d1_exact_dedup",
    """
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def d1(spark, sf_dir):
    """Exact dedup via md5-hash groupBy (dedup.py:33-39); single shuffle
    on a uniform 128-bit key, map-side combinable."""
    d = load_table(spark, sf_dir, "documents")
    from cellphe_data_pipeline_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(d)


@register(
    "d2_shingle_counts",
    f"WITH {SHINGLE_CTE} SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id",
)
def d2(spark, sf_dir):
    """Word-3-gram shingle cardinality per doc (dedup.py:42-58)."""
    d = load_table(spark, sf_dir, "documents")
    from cellphe_data_pipeline_spark.operators.dedup import word_shingles

    return (
        word_shingles(d)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )


def _minhash_oracle_sql(num_hashes: int = 16, band_size: int = 4, threshold: float = 0.3) -> str:
    """DuckDB mirror of the full MinHash-LSH pipeline (dedup.py:126-141):
    portable_hash64 == ('0x' || first-8-md5-hex)::BIGINT."""
    hcols = ",\n             ".join(
        f"MIN(('0x' || substring(md5('g{s // 4}' || sh), {1 + 8 * (s % 4)}, 8))::BIGINT)"
        f" AS h{s}"
        for s in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    cases = " ".join(
        "WHEN {b} THEN {expr}".format(
            b=b,
            expr=" + ".join(
                f"h{b * band_size + i}*{i + 1}" for i in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    bands_list = ", ".join(str(b) for b in range(n_bands))
    return f"""
    WITH {SHINGLE_CTE},
    mins AS (
      SELECT doc_id,
             {hcols}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b, CASE b {cases} END AS band_key
      FROM mins, UNNEST([{bands_list}]) AS bb(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM bands a JOIN bands c ON a.b = c.b AND a.band_key = c.band_key
       AND a.doc_id < c.doc_id
    ),
    inter AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS ni
      FROM sh s1
      JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
      JOIN cand ON cand.doc_a = s1.doc_id AND cand.doc_b = s2.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= {threshold}
    """


def _incremental_minhash_oracle_sql(
    num_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.3,
    split_id: int = 400,
) -> str:
    """DuckDB mirror of incremental_near_duplicates: docs below
    ``split_id`` are the standing index, the rest the new batch;
    candidates come from index-band x new-band equi-join (no
    self-join), exact-Jaccard verify on candidates only."""
    hcols = ",\n             ".join(
        f"MIN(('0x' || substring(md5('g{s // 4}' || sh), {1 + 8 * (s % 4)}, 8))::BIGINT)"
        f" AS h{s}"
        for s in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    cases = " ".join(
        "WHEN {b} THEN {expr}".format(
            b=b,
            expr=" + ".join(
                f"h{b * band_size + i}*{i + 1}" for i in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    bands_list = ", ".join(str(b) for b in range(n_bands))
    return f"""
    WITH {SHINGLE_CTE},
    mins AS (
      SELECT doc_id,
             {hcols}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, b, CASE b {cases} END AS band_key
      FROM mins, UNNEST([{bands_list}]) AS bb(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM bands a JOIN bands c ON a.b = c.b AND a.band_key = c.band_key
      WHERE a.doc_id < {split_id} AND c.doc_id >= {split_id}
    ),
    inter AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS ni
      FROM sh s1
      JOIN sh s2 ON s1.sh = s2.sh
      JOIN cand ON cand.doc_a = s1.doc_id AND cand.doc_b = s2.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= {threshold}
    """


@register("d10_incremental_neardup", _incremental_minhash_oracle_sql())
def d10(spark, sf_dir):
    """Incremental MinHash-LSH dedup (r5c; dedup.py
    incremental_near_duplicates) — the daily-ingest shape: the NEW
    batch (doc_id >= 400) checked against the standing index
    (doc_id < 400) via index-band x new-band equi-join; no corpus
    self-join, O(batch) per increment, the persisted band table is the
    index (S15 + bucketing co-locates the daily join). Pairs well with
    c7: dedup gate first, CDC upsert merge second."""
    from cellphe_data_pipeline_spark.operators.dedup import incremental_near_duplicates

    docs = load_table(spark, sf_dir, "documents")
    return incremental_near_duplicates(
        docs.filter(F.col("doc_id") < 400), docs.filter(F.col("doc_id") >= 400)
    )


@register(
    "d9_shingle_novelty",
    f"""
    WITH {SHINGLE_CTE},
    first AS (SELECT sh AS s, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
    SELECT sh.doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN sh.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(CAST(SUM(CASE WHEN sh.doc_id = f.first_doc
                                    THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM sh JOIN first f ON sh.sh = f.s
    GROUP BY sh.doc_id
    """,
)
def d9(spark, sf_dir):
    """Per-doc n-gram novelty (r6; dedup.py shingle_novelty): fraction
    of a doc's distinct word 3-grams whose corpus-wide FIRST occurrence
    (min doc_id) is this doc — the first-occurrence attribution signal
    between pair dedup (d3) and span dedup (d8). No pair emission: one
    combinable groupBy(shingle) min + one shingle-keyed join + one
    combinable groupBy(doc)."""
    from cellphe_data_pipeline_spark.operators.dedup import shingle_novelty

    return shingle_novelty(load_table(spark, sf_dir, "documents"))


@register(
    "d11_quality_keep_list",
    f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(n, m) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n),
    members AS (
      SELECT c.doc_id, c.cluster_id, d.n_chars
      FROM comp c JOIN documents d USING (doc_id)
    ),
    canon AS (
      SELECT cluster_id, doc_id AS canonical FROM (
        SELECT cluster_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM members) t
      WHERE rn = 1
    )
    SELECT d.doc_id,
           (m.doc_id IS NULL OR d.doc_id = c.canonical) AS keep,
           CASE WHEN m.doc_id IS NOT NULL AND d.doc_id <> c.canonical
                THEN c.canonical END AS replaced_by
    FROM documents d
    LEFT JOIN comp m ON d.doc_id = m.doc_id
    LEFT JOIN canon c ON m.cluster_id = c.cluster_id
    """,
)
def d11(spark, sf_dir):
    """Quality-canonical dedup keep-list (r6; dedup.py
    dedup_keep_list): MinHash pairs -> transitive clusters -> keep the
    HIGHEST-n_chars member per cluster (tie: lowest id), every corpus
    doc labelled (keep, replaced_by) — the materialisable corpus edit
    (filter(keep) = deduped corpus, replaced_by = redirect map), with
    the quality-based canonical the public dedup recipes keep instead
    of d7's min-id convention."""
    from cellphe_data_pipeline_spark.operators.dedup import dedup_keep_list

    return dedup_keep_list(load_table(spark, sf_dir, "documents"))


@register("d3_minhash_near_dups", _minhash_oracle_sql())
def d3(spark, sf_dir):
    """MinHash+LSH near-dup detection end-to-end (dedup.py:126-141):
    shingle -> 16 minhashes in ONE groupBy -> band self-join -> exact-
    Jaccard verify of candidates only."""
    d = load_table(spark, sf_dir, "documents")
    from cellphe_data_pipeline_spark.operators.dedup import minhash_near_duplicates

    return minhash_near_duplicates(d)


# =====================================================================
# Text analysis (training-data extensions — text.py)
# =====================================================================

_TOKENS = "regexp_extract_all(text, '[a-zA-Z0-9]+')"
_STRIPPED = "regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')"
_EN_HITS = r"len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is)\b'))"


@register(
    "t1_quality_features",
    f"""
    SELECT doc_id,
           len({_TOKENS}) AS n_tokens,
           length(text) AS n_chars_calc,
           ROUND(CAST(length(text) - length({_STRIPPED}) AS DOUBLE)
                 / NULLIF(length(text), 0), 6) AS punct_ratio,
           ROUND(CAST({_EN_HITS} AS DOUBLE) / NULLIF(len({_TOKENS}), 0), 6)
             AS stopword_ratio,
           ROUND(CAST(length(text) AS DOUBLE) / NULLIF(len({_TOKENS}), 0), 6)
             AS avg_token_len,
           ROUND(least(1.0, len({_TOKENS}) / 400.0)
                 * (1.0 - CAST(length(text) - length({_STRIPPED}) AS DOUBLE)
                          / NULLIF(length(text), 0)), 6) AS quality_score
    FROM documents
    """,
)
def t1(spark, sf_dir):
    """Text quality metrics (text.py:42-70): pure codegen expressions."""
    from cellphe_data_pipeline_spark.operators.text import quality_features

    d = load_table(spark, sf_dir, "documents")
    return quality_features(d).select(
        "doc_id", "n_tokens", "n_chars_calc", "punct_ratio",
        "stopword_ratio", "avg_token_len", "quality_score",
    )


_LANG_HITS_SQL = {
    "en": _EN_HITS,
    "de": r"len(regexp_extract_all(lower(text), '\b(der|und|die|das|nicht|ein)\b'))",
    "fr": r"len(regexp_extract_all(lower(text), '\b(le|la|et|les|des|une)\b'))",
    "es": r"len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|los)\b'))",
    "zh": "len(regexp_extract_all(lower(text), '(的|是|了|我|不|在)'))",
}


@register(
    "t2_language_id",
    f"""
    WITH h AS (
      SELECT doc_id,
             {_LANG_HITS_SQL['en']} AS en_hits,
             {_LANG_HITS_SQL['de']} AS de_hits,
             {_LANG_HITS_SQL['fr']} AS fr_hits,
             {_LANG_HITS_SQL['es']} AS es_hits,
             {_LANG_HITS_SQL['zh']} AS zh_hits
      FROM documents
    )
    SELECT doc_id, en_hits, de_hits, fr_hits, es_hits, zh_hits,
           CASE
             WHEN en_hits >= de_hits AND en_hits >= fr_hits
              AND en_hits >= es_hits AND en_hits >= zh_hits THEN 'en'
             WHEN de_hits >= fr_hits AND de_hits >= es_hits
              AND de_hits >= zh_hits THEN 'de'
             WHEN fr_hits >= es_hits AND fr_hits >= zh_hits THEN 'fr'
             WHEN es_hits >= zh_hits THEN 'es'
             ELSE 'zh'
           END AS lang_pred
    FROM h
    """,
)
def t2(spark, sf_dir):
    """Stopword-hit language ID over the 5-language domain (text.py:67-87);
    case-insensitive, fixed argmax tie-break (round-1 flaw fixed)."""
    from cellphe_data_pipeline_spark.operators.text import language_id

    d = load_table(spark, sf_dir, "documents")
    return language_id(d).select(
        "doc_id", "en_hits", "de_hits", "fr_hits", "es_hits", "zh_hits", "lang_pred"
    )


@register(
    "t3_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
           substring(md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')), 1, 4)
             AS fp_band
    FROM documents
    """,
)
def t3(spark, sf_dir):
    """Canonical-form content fingerprint + shard band (text.py:90-100)."""
    from cellphe_data_pipeline_spark.operators.text import fingerprint

    d = load_table(spark, sf_dir, "documents")
    return fingerprint(d).select("doc_id", "fp", "fp_band")


# =====================================================================
# Similarity search (embeddings — similarity.py)
# =====================================================================

EMB_DIM = 64  # driver's embeddings.embedding is array<float> of 64


@register(
    "v1_cosine_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id < 300),
    n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
    p AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 5) + 0.0 AS cos_sim
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT vec_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM p
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5
    """,
)
def v1(spark, sf_dir):
    """Brute-force cosine self-kNN baseline (similarity.py:49-85): exact
    top-5, partitioned theta join (no corpus broadcast — round-1 flaw
    fixed); rounding before ranking makes order engine-reproducible.
    Input capped at 300 vectors: this is the deliberately-quadratic
    ORACLE BASELINE for v2/v3 — bounding N keeps the correctness gate
    O(1) as sf grows (the scale path is v2 SRP / v3 IVF)."""
    from cellphe_data_pipeline_spark.operators.similarity import cosine_topk_bruteforce

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return cosine_topk_bruteforce(e, k=5)


def _srp_oracle_sql(dim: int = EMB_DIM, n_bits: int = 8, seed: int = 7, k: int = 5) -> str:
    """DuckDB mirror of srp_topk: identical ±1 plane literals, identical
    sequential dot products => identical bucket codes and cosines."""
    from cellphe_data_pipeline_spark.operators.similarity import srp_planes

    planes = srp_planes(dim, n_bits, seed)
    bucket = " + ".join(
        "(CASE WHEN list_dot_product(emb, [{w}]) >= 0 THEN {v} ELSE 0 END)".format(
            w=", ".join(str(x) for x in plane), v=1 << m
        )
        for m, plane in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (
      SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm,
             {bucket} AS bucket
      FROM e
    ),
    p AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 5) + 0.0 AS cos_sim
      FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT vec_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM p
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= {k}
    """


def _int8_srp_oracle_sql(dim: int = EMB_DIM, n_bits: int = 8, seed: int = 7, k: int = 5) -> str:
    """DuckDB mirror of int8_srp_topk: v2's inlined SRP planes gate the
    buckets, v5/v6's half-up int8 quantisation + pure-integer dot
    scores the candidates — sim_q is exact (int64 sum, one final float
    multiply), so no rounding is needed anywhere."""
    from cellphe_data_pipeline_spark.operators.similarity import srp_planes

    planes = srp_planes(dim, n_bits, seed)
    bucket = " + ".join(
        "(CASE WHEN list_dot_product(emb, [{w}]) >= 0 THEN {v} ELSE 0 END)".format(
            w=", ".join(str(x) for x in plane), v=1 << m
        )
        for m, plane in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT vec_id, emb, {bucket} AS bucket FROM e),
    qz AS (
      SELECT vec_id, bucket,
             list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale,
             emb
      FROM c
    ),
    p AS (
      SELECT vec_id, bucket, scale,
             list_transform(emb, x -> CASE WHEN scale = 0 THEN 0
                 ELSE CAST(floor(x/scale + 0.5) AS BIGINT) END) AS qv
      FROM qz
    ),
    pairs AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(a.qv, (x, i) -> x * b.qv[i])) AS DOUBLE)
               * a.scale * b.scale AS sim_q
      FROM p a JOIN p b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT vec_id, neighbor_id, sim_q,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sim_q DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT vec_id, neighbor_id, sim_q, rank FROM r WHERE rank <= {k}
    """


@register("v7_int8_srp_topk", _int8_srp_oracle_sql())
def v7(spark, sf_dir):
    """Quantized ANN at scale (r5): SRP-bucketed candidate join (v2's
    shape — UNCAPPED, pair count bounded by bucket fan-out) scored by
    the int8 integer dot product (v6's oracle-exact fold) over packed
    codes carried inline with the bucket (no join-back). The index
    payload is (bucket, scale, int8[dim]) — the 4× memory cut an int8
    SIMD index banks at 100 TB."""
    from cellphe_data_pipeline_spark.operators.similarity import int8_srp_topk

    return int8_srp_topk(load_table(spark, sf_dir, "embeddings"), dim=EMB_DIM, k=5)


@register("v2_srp_topk", _srp_oracle_sql())
def v2(spark, sf_dir):
    """SRP-LSH bucketed approximate self-kNN (similarity.py:123-161) —
    the 100 TB path: per-bucket join instead of all-pairs, no broadcast,
    no plan-time dimension sniffing (round-1 gap closed)."""
    from cellphe_data_pipeline_spark.operators.similarity import srp_topk

    e = load_table(spark, sf_dir, "embeddings")
    return srp_topk(e, dim=EMB_DIM, k=5)


# =====================================================================
# Non-SQL-expressible kernels (rows-only driver check)
# =====================================================================


@register("a8b_timeseries_wavelet", """
    SELECT CAST(u AS INT) AS user_id, CAST(n AS BIGINT) AS n_obs,
           CAST(m AS DOUBLE) AS mean_val, CAST(s AS DOUBLE) AS std_pop,
           CAST(a AS DOUBLE) AS ascent, CAST(d AS DOUBLE) AS descent,
           CAST(h1 AS DOUBLE) AS haar_l1, CAST(h2 AS DOUBLE) AS haar_l2,
           CAST(h3 AS DOUBLE) AS haar_l3
    FROM (VALUES
      (1, 9, 4.361111, 2.796603, 21.0, -17.0, 13.611806, 4.375, 1.325825),
      (2, 8, 5.25, 3.436932, 10.5, 0.0, 4.242641, 6.0, 8.485281),
      (3, 1, 42.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    ) AS t(u, n, m, s, a, d, h1, h2, h3)
    """)
def a8b(spark, sf_dir):
    """A8 full kernel (time_series_features.py:13-15 [pkg]): stats +
    ascent/descent + Haar detail energies via Arrow applyInPandas.
    Wavelets are not ANSI-SQL-expressible, so the kernel runs on the
    deterministic TIMESERIES_ROWS fixture and the oracle is a golden
    VALUES relation (cross-checked against a numpy oracle in
    tests/test_aggregates_joins.py); the native stats subset stays
    sf-table-backed as a8_timeseries_stats. Doubles rounded to 6."""
    from cellphe_data_pipeline_spark.operators.timeseries import timeseries_features
    from cellphe_data_pipeline_spark.testing.fixtures import timeseries_df

    out = timeseries_features(
        timeseries_df(spark), key="user_id", order=["seq"], value="value"
    )
    dbl = [c for c, t in out.dtypes if t == "double"]
    return out.select(
        *[F.round(c, 6).alias(c) if c in dbl else F.col(c) for c in out.columns]
    )


# =====================================================================
# Domain operators on deterministic fixtures (FIXTURES.md). The star
# schema has no XML/lineage/image tables, so these queries build their
# fixture input inline (ignoring sf_dir) and the oracle is a golden
# VALUES relation — valid because fixture + kernel are bit-deterministic
# (goldens independently cross-checked against python/numpy oracles in
# tests/test_domain.py).
# =====================================================================


@register(
    "s2_ome_companion_scan",
    """
    SELECT filename, CAST(ifd AS INT) AS ifd, CAST(first_t AS INT) AS first_t
    FROM (VALUES ('a.tiff', 0, 0), ('a.tiff', 1, 1), ('b.tiff', 0, 2))
      AS t(filename, ifd, first_t)
    """,
)
def s2(spark, sf_dir):
    """S2+J6 (main.nf:257-303, 425-437): OME companion scan — all three
    TiffData attributes in ONE xpath pass + arrays_zip (the positional
    channel merge collapses into the zip)."""
    from cellphe_data_pipeline_spark.domain.trackmate import parse_ome_companion
    from cellphe_data_pipeline_spark.testing.fixtures import ome_df

    return parse_ome_companion(ome_df(spark))


@register(
    "s8_trackmate_spots",
    """
    SELECT CAST(ID AS INT) AS ID, LABEL, CAST(FRAME AS INT) AS FRAME,
           CAST(px AS DOUBLE) AS POSITION_X, CAST(py AS DOUBLE) AS POSITION_Y,
           CAST(area AS DOUBLE) AS AREA
    FROM (VALUES
      (1, 'ID1', 0, 10.0, 10.0, 30.0),
      (2, 'ID2', 0, 50.0, 50.0, 40.0),
      (3, 'ID3', 1, 11.0, 11.0, 31.0),
      (4, 'ID4', 1, 51.0, 51.0, 41.0),
      (5, 'ID5', 2, 12.0, 10.0, 32.0),
      (6, 'ID6', 2, 10.0, 12.0, 33.0)
    ) AS t(ID, LABEL, FRAME, px, py, area)
    """,
)
def s8(spark, sf_dir):
    """S8 (parse_xml.py:77-113): TrackMate XML -> typed spots table via
    one xpath+arrays_zip projection (name->LABEL rename included)."""
    from cellphe_data_pipeline_spark.domain.trackmate import parse_trackmate_spots
    from cellphe_data_pipeline_spark.testing.fixtures import trackmate_df

    return parse_trackmate_spots(trackmate_df(spark)).select(
        "ID", "LABEL", "FRAME", "POSITION_X", "POSITION_Y", "AREA"
    )


@register(
    "s16_trackmate_sink_roundtrip",
    """
    SELECT CAST(ID AS INT) AS ID, LABEL, CAST(FRAME AS INT) AS FRAME,
           CAST(px AS DOUBLE) AS POSITION_X, CAST(py AS DOUBLE) AS POSITION_Y,
           CAST(area AS DOUBLE) AS AREA
    FROM (VALUES
      (1, 'ID1', 0, 10.0, 10.0, 30.0),
      (2, 'ID2', 0, 50.0, 50.0, 40.0),
      (3, 'ID3', 1, 11.0, 11.0, 31.0),
      (4, 'ID4', 1, 51.0, 51.0, 41.0),
      (5, 'ID5', 2, 12.0, 10.0, 32.0),
      (6, 'ID6', 2, 10.0, 12.0, 33.0)
    ) AS t(ID, LABEL, FRAME, px, py, area)
    """,
)
def s16(spark, sf_dir):
    """TrackMate XML SINK round-trip (r5c; trackmate.py
    spots_to_trackmate_xml — the write half the reference lacks):
    parse the fixture → EMIT a TrackMate document relationally
    (format_string elements + two collect_list concats, no Python) →
    re-parse the EMITTED xml with the engine's own S8 parser. The
    oracle is s8's golden VERBATIM — external proof the sink loses
    nothing the parser reads. Boundary fidelity is pytest-pinned
    (tests/test_domain.py::test_trackmate_xml_sink_roundtrip)."""
    from cellphe_data_pipeline_spark.domain.trackmate import (
        parse_trackmate_edges,
        parse_trackmate_spots,
        spots_to_trackmate_xml,
    )
    from cellphe_data_pipeline_spark.testing.fixtures import trackmate_df

    xml_df = trackmate_df(spark)
    spots = parse_trackmate_spots(xml_df)
    emitted = spots_to_trackmate_xml(
        spots.withColumn(
            "boundary_txt",
            F.concat_ws(
                " ",
                F.transform("boundary_flat", lambda v: F.format_string("%.1f", v)),
            ),
        ),
        parse_trackmate_edges(xml_df),
    )
    return parse_trackmate_spots(emitted).select(
        "ID", "LABEL", "FRAME", "POSITION_X", "POSITION_Y", "AREA"
    )


@register(
    "s8b_trackmate_edges",
    """
    SELECT CAST(src AS INT) AS src, CAST(dst AS INT) AS dst
    FROM (VALUES (1, 3), (2, 4), (3, 5), (3, 6)) AS t(src, dst)
    """,
)
def s8b(spark, sf_dir):
    """G1 via S8 (parse_xml.py:108-113): edge list from TrackMate XML."""
    from cellphe_data_pipeline_spark.domain.trackmate import parse_trackmate_edges
    from cellphe_data_pipeline_spark.testing.fixtures import trackmate_df

    return parse_trackmate_edges(trackmate_df(spark))


@register(
    "g4b_renumber_tracks",
    """
    SELECT CAST(ID AS BIGINT) AS ID, CAST(FRAME AS INT) AS FRAME,
           CAST(tid AS INT) AS TRACK_ID
    FROM (VALUES
      (1, 0, 1), (3, 1, 1), (5, 2, 1),
      (2, 0, 2), (4, 1, 2), (8, 2, 2),
      (6, 2, 3), (9, 3, 3), (10, 4, 3)
    ) AS t(ID, FRAME, tid)
    """,
)
def g4b(spark, sf_dir):
    """G4 proper (parse_xml.py:124-163): track partitioning WITH split
    renumbering — min-child continues, min-parent wins merges, track ids
    1-indexed by head (frame, id); fixture has a split, a merge, two
    roots and an isolated node (pruned). Cross-checked against the
    python DFS oracle in tests."""
    from cellphe_data_pipeline_spark.domain.lineage import renumber_tracks
    from cellphe_data_pipeline_spark.testing.fixtures import lineage_dfs

    nodes, edges = lineage_dfs(spark)
    return renumber_tracks(nodes, edges)


@register(
    "f16_roi_interpolation",
    """
    SELECT CAST(id AS INT) AS id, CAST(pos AS INT) AS pos,
           CAST(px AS INT) AS px, CAST(py AS INT) AS py
    FROM (VALUES
      (1, 0, 0, 0), (1, 1, 1, 0), (1, 2, 2, 0), (1, 3, 3, 0),
      (1, 4, 3, 1), (1, 5, 3, 2), (1, 6, 3, 3), (1, 7, 2, 3),
      (1, 8, 1, 3), (1, 9, 0, 3), (1, 10, 0, 2), (1, 11, 0, 1)
    ) AS t(id, pos, px, py)
    """,
)
def f16(spark, sf_dir):
    """F16+O4 (parse_xml.py:13-45): Bresenham gap closing around the
    polygon (wrap last->first) + order-preserving dedup; square-corner
    fixture -> the 12-point perimeter in traversal order."""
    from cellphe_data_pipeline_spark.domain.rois import interpolate_rois
    from cellphe_data_pipeline_spark.testing.fixtures import roi_df

    return interpolate_rois(roi_df(spark)).select(
        "id", F.posexplode("coords").alias("pos", "_c")
    ).select("id", "pos", F.col("_c.x").alias("px"), F.col("_c.y").alias("py"))


@register(
    "m3_tracking_links",
    """
    SELECT tl AS timelapse_id, CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
           CAST(gap AS INT) AS gap, CAST(dist AS DOUBLE) AS dist
    FROM (VALUES
      ('tl1', 100, 101, 0, 1.0), ('tl1', 101, 102, 0, 1.0),
      ('tl1', 102, 103, 0, 1.0), ('tl1', 103, 104, 0, 1.0),
      ('tl1', 104, 105, 0, 1.0),
      ('tl1', 200, 201, 0, 0.0), ('tl1', 201, 204, 2, 0.0),
      ('tl1', 204, 205, 0, 0.0)
    ) AS t(tl, src, dst, gap, dist)
    """,
)
def m3(spark, sf_dir):
    """M3 (track_images.py:24-201, simplified per SURVEY §7): greedy
    frame-pair linking + gap closing (<=4 frames), applyInPandas per
    timelapse; fixture exercises consecutive links, a 2-frame gap close,
    and an unlinked noise detection."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections
    from cellphe_data_pipeline_spark.testing.fixtures import detections_df

    return track_detections(
        detections_df(spark), linking_max_distance=5.0, max_frame_gap=4,
        gap_closing_max_distance=10.0,
    )


@register(
    "m3b_gap_closing",
    """
    SELECT tl AS timelapse_id, CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
           CAST(gap AS INT) AS gap, CAST(dist AS DOUBLE) AS dist
    FROM (VALUES
      ('tl', 1, 2, 0, 0.0), ('tl', 2, 3, 0, 0.0),
      ('tl', 4, 5, 0, 0.0), ('tl', 5, 6, 0, 0.0),
      ('tl', 7, 8, 0, 0.0), ('tl', 9, 10, 0, 0.0),
      ('tl', 3, 7, 1, 4.0), ('tl', 6, 9, 1, 1.5)
    ) AS t(tl, src, dst, gap, dist)
    """,
)
def m3b(spark, sf_dir):
    """M3 phase 2 (track_images.py:74-123, TrackMate segment-level
    gap-closing LAP, lite): consecutive-frame linking first, then ONE
    Hungarian over (segment end × segment start) reconnection
    candidates within MAX_FRAME_GAP / GAP_CLOSING_MAX_DISTANCE.
    Golden: the crossing-gap fixture where inline greedy closure
    mis-assigns (ends 3,6 onto starts 9,7 — total 7.5) and the
    segment LAP recovers the global optimum (3->7, 6->9 — total 5.5);
    equivalence + rescue asserted in tests/test_domain.py."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections
    from cellphe_data_pipeline_spark.testing.fixtures import gap_closing_detections_df

    return track_detections(
        gap_closing_detections_df(spark), linking_max_distance=1.0,
        max_frame_gap=4, gap_closing_max_distance=7.0,
        gap_strategy="segment_lap",
    )


@register(
    "c4_hash_stratified_sample",
    """
    SELECT doc_id, lang, source
    FROM documents
    WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 <
          CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000 ELSE 1000 END
    """,
)
def c4(spark, sf_dir):
    """Deterministic hash-gated stratified corpus sampling (r5):
    keep 50% of English, 20% of Chinese, 10% of the rest — the
    reproducible (same rows every run/engine/scale) alternative to
    RNG sampleBy for training-corpus balancing. Zero shuffle, codegen
    md5 gate (functions/scalars.portable_hash64)."""
    from cellphe_data_pipeline_spark.operators.text import hash_stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "zh": 0.2}, default_rate=0.1
    ).select("doc_id", "lang", "source")


@register(
    "c17_bottomk_sample",
    """
    SELECT doc_id, lang, source,
           md5('sample-v1:' || CAST(doc_id AS VARCHAR)) AS sk
    FROM documents
    ORDER BY sk, doc_id LIMIT 100
    """,
)
def c17(spark, sf_dir):
    """Deterministic EXACT-SIZE uniform corpus sample (r8): the 100
    smallest md5(seed:id) keys — the bottom-k sketch. c4's hash gate
    gives a reproducible RATE (size varies with N); this gives a
    reproducible SIZE (eval subsets, human-review batches, fixed
    validation draws). Scale shape: TakeOrderedAndProject — each
    partition keeps its local bottom-k, the driver merges k-sized
    heaps; and bottom-k is MERGEABLE across shards (bottom-k of a
    union = bottom-k of per-shard bottom-k's), so incremental ingest
    maintains the sample without rescanning. Same seeded-md5
    determinism contract as c4/c9: same corpus -> same sample in any
    engine at any partitioning; the seed string versions the draw."""
    docs = load_table(spark, sf_dir, "documents")
    sk = F.md5(F.concat(F.lit("sample-v1:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "lang", "source", sk.alias("sk"))
        .orderBy("sk", "doc_id")
        .limit(100)
    )


@register(
    "v5_int8_quantize",
    """
    WITH s AS (
      SELECT vec_id,
             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)/127.0
               AS scale,
             embedding
      FROM embeddings
    )
    SELECT vec_id, scale, CAST(u.pos AS INT) AS pos, CAST(u.qv AS INT) AS qv
    FROM (
      SELECT vec_id, scale,
             unnest(list_transform(embedding, (x, i) -> {'pos': i - 1,
               'qv': CASE WHEN scale = 0 THEN 0
                          ELSE floor(CAST(x AS DOUBLE)/scale + 0.5) END})) AS u
      FROM s
    ) t
    """,
)
def v5(spark, sf_dir):
    """Symmetric per-vector int8 embedding quantization (r5): the ANN
    memory/bandwidth lever (4x smaller vectors) as pure codegen — one
    projection, no shuffle. floor(x+0.5) half-up rounding keeps Spark
    and DuckDB bit-identical; relational (id, scale, pos, qv) output
    puts every quantized component under the value-hash oracle."""
    from cellphe_data_pipeline_spark.operators.similarity import quantize_int8

    return quantize_int8(load_table(spark, sf_dir, "embeddings"))


@register(
    "mm4_resize",
    """
    SELECT 'rz.fake' AS path, CAST(0 AS INT) AS frame_index,
           CAST(y AS INT) AS y, CAST(x AS INT) AS x, CAST(v AS INT) AS v
    FROM (VALUES
      (0, 0, 15), (0, 1, 43), (0, 2, 71), (0, 3, 99),
      (0, 4, 127), (0, 5, 155), (0, 6, 183), (0, 7, 211),
      (1, 0, 27), (1, 1, 55), (1, 2, 83), (1, 3, 111),
      (1, 4, 139), (1, 5, 167), (1, 6, 195), (1, 7, 223),
      (2, 0, 39), (2, 1, 67), (2, 2, 95), (2, 3, 123),
      (2, 4, 151), (2, 5, 179), (2, 6, 207), (2, 7, 235),
      (3, 0, 51), (3, 1, 79), (3, 2, 107), (3, 3, 135),
      (3, 4, 163), (3, 5, 191), (3, 6, 219), (3, 7, 199),
      (4, 0, 63), (4, 1, 91), (4, 2, 119), (4, 3, 147),
      (4, 4, 175), (4, 5, 203), (4, 6, 231), (4, 7, 99),
      (5, 0, 75), (5, 1, 103), (5, 2, 131), (5, 3, 159),
      (5, 4, 187), (5, 5, 215), (5, 6, 227), (5, 7, 15),
      (6, 0, 87), (6, 1, 115), (6, 2, 143), (6, 3, 171),
      (6, 4, 199), (6, 5, 227), (6, 6, 127), (6, 7, 27),
      (7, 0, 99), (7, 1, 127), (7, 2, 155), (7, 3, 183),
      (7, 4, 211), (7, 5, 239), (7, 6, 43), (7, 7, 39)
    ) AS t(y, x, v)
    """,
)
def mm4(spark, sf_dir):
    """Multimodal image resize (r5): area-average 32×32 → 8×8 over a
    deterministic gradient fixture, emitted pixel-relationally so the
    oracle checks EVERY output sample (the corner block's mean
    7·1.5 + 3·1.5 = 15 is hand-verifiable; mod-256 wrap makes the edge
    blocks non-trivial). The kernel is the thumbnail/model-input
    normalisation stage of a multimodal training pipeline — stateless
    Arrow map, no shuffle."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import (
        encode_fake_container,
        resize_frames,
        split_frames,
    )

    yy, xx = np.mgrid[0:32, 0:32]
    img = ((xx * 7 + yy * 3) % 256).astype(np.uint8)
    bins = from_driver_rows(
        spark,
        [("rz.fake", encode_fake_container(img))],
        "path string, content binary",
    )
    small = resize_frames(split_frames(bins), 8, 8, method="area")

    import pandas as pd

    def px(batches):
        for pdf in batches:
            for _, r in pdf.iterrows():
                a = np.frombuffer(r["data"], dtype=np.uint8).reshape(8, 8)
                ys, xs = np.indices(a.shape)
                yield pd.DataFrame(
                    {
                        "path": r["path"],
                        "frame_index": r["frame_index"],
                        "y": ys.ravel().astype("int32"),
                        "x": xs.ravel().astype("int32"),
                        "v": a.ravel().astype("int32"),
                    }
                )

    return small.mapInPandas(
        px, "path string, frame_index int, y int, x int, v int"
    )


@register(
    "c5_decontaminate",
    f"""
    WITH {SHINGLE_CTE},
    train AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 20),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20)
    SELECT t.doc_id, COUNT(*) AS n_contaminated_shingles
    FROM train t JOIN bench b USING (sh)
    GROUP BY t.doc_id
    """,
)
def c5(spark, sf_dir):
    """Benchmark decontamination (r5): training docs (doc_id >= 20)
    sharing any word 3-gram with the held-out 'benchmark' slice
    (doc_id < 20 — a FIXED small set, so the benchmark stays eval-set-
    sized at every scale factor while the training side grows) are
    flagged with their overlap count — the standard n-gram
    decontamination gate for training corpora. Benchmark side broadcast
    (eval sets are MBs vs a 100 TB corpus); the training side never
    shuffles before the per-doc count."""
    from cellphe_data_pipeline_spark.operators.dedup import flag_contaminated

    docs = load_table(spark, sf_dir, "documents")
    return flag_contaminated(
        docs.filter(F.col("doc_id") >= 20), docs.filter(F.col("doc_id") < 20)
    )


@register(
    "c12_bloom_decontaminate",
    f"""
    WITH {SHINGLE_CTE},
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20),
    pos AS (
      SELECT DISTINCT
        ('0x' || substring(md5(CAST(h AS VARCHAR) || ':' || sh), 1, 8))::BIGINT
          % 1024 AS p
      FROM bench, UNNEST([0, 1, 2]) AS g(h)
    ),
    lanes AS (
      SELECT p // 32 AS lane,
             bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
      FROM pos GROUP BY 1
    ),
    probe AS (
      SELECT s.doc_id, s.sh, g.h,
        ('0x' || substring(md5(CAST(g.h AS VARCHAR) || ':' || s.sh), 1, 8))::BIGINT
          % 1024 AS p
      FROM sh s, UNNEST([0, 1, 2]) AS g(h)
      WHERE s.doc_id >= 20
    ),
    hits AS (
      SELECT doc_id, sh,
             MIN(CASE WHEN (COALESCE(l.bits, 0) >> CAST(p % 32 AS INT)) & 1 = 1
                      THEN 1 ELSE 0 END) AS all_hit
      FROM probe LEFT JOIN lanes l ON probe.p // 32 = l.lane
      GROUP BY doc_id, sh
    )
    SELECT doc_id, COUNT(*) AS n_flagged_shingles
    FROM hits WHERE all_hit = 1 GROUP BY doc_id
    """,
)
def c12(spark, sf_dir):
    """Bloom-filter benchmark decontamination (r7; dedup.py
    bloom_decontaminate) — the 100 TB scale path for c5: the bench
    shingle set is compressed to a 1024-bit / 3-hash Bloom bitmap
    (one-row broadcast, 32-bit lanes — DuckDB raises on 1<<63, so the
    layout stays off the signed edge) and the corpus is gated by pure
    map-side expression probes, NO corpus-side join. False positives
    are part of the operator's CONTRACT and deterministic (md5-derived
    positions), so the oracle matches the phantom set exactly; the
    registered m=1024 on ~2.6k bench shingles makes phantoms common
    enough to be exercised by the gate, not vacuously absent."""
    from cellphe_data_pipeline_spark.operators.dedup import bloom_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    return bloom_decontaminate(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        m_bits=1024,
        k_hashes=3,
    )


@register(
    "v6_int8_topk",
    """
    WITH q AS (
      SELECT vec_id,
             CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)/127.0
               AS scale,
             embedding
      FROM embeddings WHERE vec_id < 200
    ),
    p AS (
      SELECT vec_id, scale,
             list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
                 ELSE CAST(floor(CAST(x AS DOUBLE)/scale + 0.5) AS BIGINT) END) AS qv
      FROM q
    ),
    pairs AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(a.qv, (x, i) -> x * b.qv[i])) AS DOUBLE)
               * a.scale * b.scale AS sim_q
      FROM p a, p b WHERE a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, sim_q, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim_q DESC, neighbor_id) AS rank
      FROM pairs
    ) WHERE rank <= 3
    """,
)
def v6(spark, sf_dir):
    """Quantized (int8) brute-force top-k (r5): the ANN memory lever's
    END-TO-END semantics — neighbors ranked by the integer dot product
    of the packed codes rescaled by the two per-vector scales. Oracle-
    EXACT because the accumulation is pure int64 (the only float op is
    one final multiply), unlike float-cosine baselines that need
    rounding. Capped (vec_id < 200) quadratic correctness baseline like
    v1; the scale path composes quantization with the SRP/IVF bucketed
    candidate joins. Recall vs the float ranking is pinned in
    tests/test_dedup_text_similarity.py."""
    from cellphe_data_pipeline_spark.operators.similarity import int8_topk

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return int8_topk(emb, k=3)


@register(
    "s5_jpeg_gray",
    """
    SELECT path, CAST(fi AS INT) AS frame_index, CAST(h AS INT) AS height,
           CAST(w AS INT) AS width, colorspace,
           CAST(s AS BIGINT) AS px_sum, CAST(mn AS INT) AS px_min,
           CAST(mx AS INT) AS px_max
    FROM (VALUES ('s5.jpg', 0, 24, 32, 'gray', 102142, 0, 255))
      AS t(path, fi, h, w, colorspace, s, mn, mx)
    """,
)
def s5(spark, sf_dir):
    """S5 real path (r5, main.nf:392-406 JPEG→gray): a BYTE-BUILT
    baseline JPEG (pure-numpy encoder, deterministic gradient fixture)
    through the codec ladder — T.81 Huffman+IDCT decode in
    domain/jpeg.py — to grayscale frame rows; the golden pins the
    decoded plane's checksum/extrema (quality 100 round-trips within 1
    gray level, independently asserted vs the source array in
    tests/test_domain.py::test_decode_frame_jpeg_baseline)."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import (
        grayscale_convert,
        split_frames,
    )
    from cellphe_data_pipeline_spark.domain.jpeg import encode_jpeg_gray

    yy, xx = np.mgrid[0:24, 0:32]
    img = ((xx * 7 + yy * 3) % 256).astype(np.uint8)
    bins = from_driver_rows(
        spark,
        [("s5.jpg", encode_jpeg_gray(img, quality=100))],
        "path string, content binary",
    )
    f = grayscale_convert(split_frames(bins))

    import pandas as pd

    def stats(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                a = np.frombuffer(r["data"], dtype=np.uint8).astype(np.int64)
                rows.append(
                    {
                        "path": r["path"],
                        "frame_index": r["frame_index"],
                        "height": r["height"],
                        "width": r["width"],
                        "colorspace": r["colorspace"],
                        "px_sum": int(a.sum()),
                        "px_min": int(a.min()),
                        "px_max": int(a.max()),
                    }
                )
            yield pd.DataFrame(rows)

    return f.mapInPandas(
        stats,
        "path string, frame_index int, height int, width int, "
        "colorspace string, px_sum long, px_min int, px_max int",
    )


@register(
    "m3c_split_merge",
    """
    SELECT tl AS timelapse_id, CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
           CAST(gap AS INT) AS gap, CAST(dist AS DOUBLE) AS dist
    FROM (VALUES
      ('tl', 1, 101, 0, 2.0), ('tl', 2, 102, 0, 2.0),
      ('tl', 101, 201, 0, 2.0), ('tl', 102, 202, 0, 2.0),
      ('tl', 201, 301, 0, 2.0), ('tl', 202, 302, 0, 2.0),
      ('tl', 301, 401, 0, 2.0), ('tl', 303, 403, 0, 2.0),
      ('tl', 401, 501, 0, 2.0), ('tl', 403, 503, 0, 2.0),
      ('tl', 201, 303, 0, 2.236068),
      ('tl', 302, 401, 0, 2.0)
    ) AS t(tl, src, dst, gap, dist)
    """,
)
def m3c(spark, sf_dir):
    """M3 phase 2 proper (r5): splitting + merging link emission
    (ALLOW_TRACK_SPLITTING / ALLOW_TRACK_MERGING,
    templates/cyto3.json:31-38; wired in track_images.py:74-123). The
    fixture's division (child budding off A's middle) and fusion (B
    dying onto A's middle) are links that NEITHER greedy linking NOR
    gap closing can produce: the golden's last two rows are the 1→2
    split edge 201→303 and the 2→1 merge edge 302→401, on top of the
    10 consecutive-frame links. dist rounded to 6 for the golden."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections
    from cellphe_data_pipeline_spark.testing.fixtures import split_merge_detections_df

    return track_detections(
        split_merge_detections_df(spark),
        linking_max_distance=2.5,
        max_frame_gap=4,
        gap_closing_max_distance=2.5,
        gap_strategy="segment_lap",
        allow_splitting=True,
        splitting_max_distance=2.5,
        allow_merging=True,
        merging_max_distance=2.5,
    ).withColumn("dist", F.round("dist", 6))


@register(
    "m3f_joint_lap",
    """
    SELECT tl AS timelapse_id, CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
           CAST(gap AS INT) AS gap, CAST(dist AS DOUBLE) AS dist
    FROM (VALUES
      ('t', 1, 2, 0, 1.0), ('t', 2, 3, 0, 1.0),
      ('t', 4, 2, 0, 2.0), ('t', 6, 7, 1, 6.0)
    ) AS t(tl, src, dst, gap, dist)
    """,
)
def m3f(spark, sf_dir):
    """M3 phase 2 as TrackMate's ACTUAL joint matrix (r8;
    tracking.py _segment_candidates; Jaqaman et al. 2008 Fig. 1c —
    gap closing, splitting and merging traded off in ONE Hungarian
    with one shared no-link alternative, the discipline the
    sequential two-pass form cannot reproduce). The fixture is the
    distinguishing instance: end 4 has BOTH a d=8 within-window
    gap-close to start 5 and a d=2 merge onto track A's middle 2 —
    sequential gap closing would consume 4 for the reconnection
    (m3b semantics); the joint matrix takes the cheap fusion 4→2 and
    leaves 5 an isolated root, while the independent 6→7 gap pair
    closes either way. Golden VALUES oracle; the trade-off and
    shared-b behaviours are pinned by three kernel tests
    (tests/test_domain.py::test_joint_lap_*)."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    rows = [
        ("t", 1, 0, 0.0, 0.0),
        ("t", 2, 1, 0.0, 1.0),
        ("t", 3, 2, 0.0, 2.0),
        ("t", 4, 0, 2.0, 1.0),
        ("t", 5, 2, 2.0, 9.0),
        ("t", 6, 0, 20.0, 0.0),
        ("t", 7, 2, 20.0, 6.0),
    ]
    dets = from_driver_rows(
        spark, rows, "timelapse_id string, id long, frame int, x double, y double"
    )
    return track_detections(
        dets,
        linking_max_distance=1.5,
        max_frame_gap=1,
        gap_closing_max_distance=10.0,
        allow_splitting=True,
        splitting_max_distance=5.0,
        allow_merging=True,
        merging_max_distance=5.0,
        gap_strategy="joint_lap",
    )


@register(
    "a5b_mask_histogram",
    """
    SELECT path, CAST(fi AS INT) AS frame_index, CAST(mid AS INT) AS mask_id,
           CAST(n AS BIGINT) AS n
    FROM (VALUES
      ('fx3.fake', 0, 0, 129), ('fx3.fake', 0, 1, 24), ('fx3.fake', 0, 2, 1),
      ('fx3.fake', 0, 3, 83), ('fx3.fake', 0, 4, 1), ('fx3.fake', 0, 5, 2),
      ('fx3.fake', 0, 6, 2), ('fx3.fake', 0, 7, 3), ('fx3.fake', 0, 8, 1),
      ('fx3.fake', 0, 9, 1), ('fx3.fake', 0, 10, 1), ('fx3.fake', 0, 11, 3),
      ('fx3.fake', 0, 12, 1), ('fx3.fake', 0, 13, 2), ('fx3.fake', 0, 14, 1),
      ('fx3.fake', 0, 15, 1),
      ('fx3.fake', 1, 0, 129), ('fx3.fake', 1, 1, 4), ('fx3.fake', 1, 2, 7),
      ('fx3.fake', 1, 3, 1), ('fx3.fake', 1, 4, 1), ('fx3.fake', 1, 5, 1),
      ('fx3.fake', 1, 6, 1), ('fx3.fake', 1, 7, 11), ('fx3.fake', 1, 8, 6),
      ('fx3.fake', 1, 9, 1), ('fx3.fake', 1, 10, 1), ('fx3.fake', 1, 11, 12),
      ('fx3.fake', 1, 12, 1), ('fx3.fake', 1, 13, 3), ('fx3.fake', 1, 14, 15),
      ('fx3.fake', 1, 15, 1), ('fx3.fake', 1, 16, 46), ('fx3.fake', 1, 17, 3),
      ('fx3.fake', 1, 18, 1), ('fx3.fake', 1, 19, 3), ('fx3.fake', 1, 20, 1),
      ('fx3.fake', 1, 21, 2), ('fx3.fake', 1, 22, 1), ('fx3.fake', 1, 23, 1),
      ('fx3.fake', 1, 24, 1), ('fx3.fake', 1, 25, 1), ('fx3.fake', 1, 26, 1)
    ) AS t(path, fi, mid, n)
    """,
)
def a5b(spark, sf_dir):
    """S3/S4 + M1/M2 + A5 chained (main.nf:305-320, segment_image.py:
    20-23, segmentation_qc.qmd:159-170): fake container -> fused
    decode + (stub) segmentation kernel -> label histogram."""
    from cellphe_data_pipeline_spark.domain.images import (
        decode_segment_centroid,
        mask_label_histogram,
    )
    from cellphe_data_pipeline_spark.testing.fixtures import fake_frames_df

    return mask_label_histogram(
        decode_segment_centroid(fake_frames_df(spark)).select(
            "path", "frame_index", "height", "width", "mask"
        )
    )


@register(
    "m4_static_features",
    """
    SELECT path,
           CAST(f AS INT) AS FrameID,
           CAST(c AS INT) AS CellID,
           rf AS ROI_filename,
           CAST(v4 AS DOUBLE) AS Area,
           CAST(v5 AS DOUBLE) AS x,
           CAST(v6 AS DOUBLE) AS y,
           CAST(v7 AS DOUBLE) AS Rad_mean,
           CAST(v8 AS DOUBLE) AS Rad_max,
           CAST(v9 AS DOUBLE) AS Rad_var,
           CAST(v10 AS DOUBLE) AS Boundary_len,
           CAST(v11 AS DOUBLE) AS Int_mean,
           CAST(v12 AS DOUBLE) AS Int_std,
           CAST(v13 AS DOUBLE) AS Int_min,
           CAST(v14 AS DOUBLE) AS Int_max,
           CAST(v15 AS DOUBLE) AS Int_q10,
           CAST(v16 AS DOUBLE) AS Int_q25,
           CAST(v17 AS DOUBLE) AS Int_q50,
           CAST(v18 AS DOUBLE) AS Int_q75,
           CAST(v19 AS DOUBLE) AS Int_q90,
           CAST(v20 AS DOUBLE) AS Len,
           CAST(v21 AS DOUBLE) AS Wid,
           CAST(v22 AS DOUBLE) AS Sphericity,
           CAST(v23 AS DOUBLE) AS A2B,
           CAST(v24 AS DOUBLE) AS Coo_contrast,
           CAST(v25 AS DOUBLE) AS Coo_homogeneity,
           CAST(v26 AS DOUBLE) AS Coo_energy,
           CAST(v27 AS DOUBLE) AS Coo_correlation,
           CAST(v28 AS DOUBLE) AS Coo_entropy,
           CAST(v29 AS DOUBLE) AS Haar2d_l1,
           CAST(v30 AS DOUBLE) AS Haar2d_l2,
           CAST(v31 AS DOUBLE) AS Box,
           CAST(v32 AS DOUBLE) AS Rect,
           CAST(v33 AS DOUBLE) AS Solidity,
           CAST(v34 AS DOUBLE) AS Hull_area,
           CAST(v35 AS DOUBLE) AS Eccentricity,
           CAST(v36 AS DOUBLE) AS Int_skew,
           CAST(v37 AS DOUBLE) AS Int_kurt,
           CAST(v38 AS DOUBLE) AS Cur_mean,
           CAST(v39 AS DOUBLE) AS Cur_std,
           CAST(v40 AS DOUBLE) AS Cur_max,
           CAST(v41 AS DOUBLE) AS Cur_skew,
           CAST(v42 AS DOUBLE) AS Poly_n,
           CAST(v43 AS DOUBLE) AS Poly_side_mean,
           CAST(v44 AS DOUBLE) AS Poly_side_var,
           CAST(v45 AS DOUBLE) AS Poly_ang_mean,
           CAST(v46 AS DOUBLE) AS Poly_ang_var,
           CAST(v47 AS DOUBLE) AS Rad_haar_l1,
           CAST(v48 AS DOUBLE) AS Rad_haar_l2,
           CAST(v49 AS DOUBLE) AS Rad_haar_l3,
           CAST(v50 AS DOUBLE) AS Perim,
           CAST(v51 AS DOUBLE) AS Rad_min,
           CAST(v52 AS DOUBLE) AS Int_iqr,
           CAST(v53 AS DOUBLE) AS Int_mad,
           CAST(v54 AS DOUBLE) AS Coo2_contrast,
           CAST(v55 AS DOUBLE) AS Coo2_homogeneity,
           CAST(v56 AS DOUBLE) AS Coo2_energy,
           CAST(v57 AS DOUBLE) AS Coo2_correlation,
           CAST(v58 AS DOUBLE) AS Coo2_entropy,
           CAST(v59 AS DOUBLE) AS Haar2d_l3,
           CAST(v60 AS DOUBLE) AS Int_entropy,
           CAST(v61 AS DOUBLE) AS Int_q05,
           CAST(v62 AS DOUBLE) AS Int_q95,
           CAST(v63 AS DOUBLE) AS Rad_diff_mean,
           CAST(v64 AS DOUBLE) AS Rad_diff_var,
           CAST(v65 AS DOUBLE) AS Compactness,
           CAST(v66 AS DOUBLE) AS Rad_q25,
           CAST(v67 AS DOUBLE) AS Rad_q50,
           CAST(v68 AS DOUBLE) AS Rad_q75,
           CAST(v69 AS DOUBLE) AS Rad_iqr,
           CAST(v70 AS DOUBLE) AS Int_com_dx,
           CAST(v71 AS DOUBLE) AS Int_com_dy,
           CAST(v72 AS DOUBLE) AS Int_com_offset,
           CAST(v73 AS DOUBLE) AS Cur_min,
           CAST(v74 AS DOUBLE) AS Cur_var,
           CAST(v75 AS DOUBLE) AS Poly_side_max,
           CAST(v76 AS DOUBLE) AS Poly_ang_min,
           CAST(v77 AS DOUBLE) AS Int_range
    FROM (VALUES
      ('fx3.fake', 0, 10, '000-01-010', 16.0, 5.5, 5.5, 1.497676, 2.12132, 0.256966, 16.0, 0.390563, 0.323146, 0.055336, 1.0, 0.096838, 0.13834, 0.23913, 0.537549, 0.972332, 4.472136, 4.472136, 1.0, 1.0, 9.958333, 0.430521, 0.0625, 0.293553, 4.236441, 0.924475, 0.746296, 1.0, 0.8, 1.0, 16.0, 0.0, 0.918581, -0.627754, 1.0, 1.0, 2.0, 0.0, 6.0, 3.288246, 0.187441, 0.4763, 0.032552, 2.111456, 0.0, 2.0, 25.729474, 0.707107, 0.399209, 0.142292, 15.875, 0.278997, 0.085938, -0.182083, 3.852217, 0.0, 2.352217, 0.082016, 0.991107, 0.421076, 0.123101, 3.292547, 1.362631, 1.581139, 1.716184, 0.353553, -0.181214, -0.437381, 0.473435, 0.0, 1.0, 4.242641, 0.321751, 0.944664),
      ('fx3.fake', 0, 11, '000-01-011', 5.0, 1.8, 1.4, 0.847801, 1.264911, 0.081233, 5.0, 0.455336, 0.204946, 0.16996, 0.73913, 0.218972, 0.29249, 0.474308, 0.600791, 0.683794, 3.098387, 1.788854, 0.57735, 1.0, 21.4, 0.089405, 0.1, -0.599402, 3.321928, 0.176866, 0.0, 0.833333, 0.90211, 0.909091, 5.5, 0.816497, -0.037601, -1.382315, 1.294427, 0.403102, 1.821854, -0.628702, 2.0, 2.0, 0.0, 0.0, 0.0, 0.167544, 0.021143, 0.0, 6.828427, 0.447214, 0.3083, 0.181818, 36.0, 0.027027, 0.5, -1.0, 1.0, 0.0, 2.321928, 0.194466, 0.711462, 0.474097, 0.010816, 0.742098, 0.632456, 0.894427, 1.0, 0.367544, -0.070833, -0.061458, 0.093779, 0.585786, 0.162491, 2.0, 0.0, 0.56917),
      ('fx3.fake', 1, 10, '001-01-010', 16.0, 5.5, 5.5, 1.497676, 2.12132, 0.256966, 16.0, 0.490896, 0.288094, 0.062992, 1.0, 0.068898, 0.310039, 0.517717, 0.669291, 0.885827, 4.472136, 4.472136, 1.0, 1.0, 11.791667, 0.272633, 0.032118, -0.074769, 5.043296, 1.158523, 0.169449, 1.0, 0.8, 1.0, 16.0, 0.0, 0.063732, -1.006618, 1.0, 1.0, 2.0, 0.0, 6.0, 3.288246, 0.187441, 0.4763, 0.032552, 2.111456, 0.0, 2.0, 25.729474, 0.707107, 0.359252, 0.194882, 16.625, 0.193209, 0.041016, -0.564706, 4.6875, 0.0, 2.858459, 0.065945, 0.923228, 0.421076, 0.123101, 3.292547, 1.362631, 1.581139, 1.716184, 0.353553, -0.181704, 0.123058, 0.219453, 0.0, 1.0, 4.242641, 0.321751, 0.937008)
    ) AS t(path, f, c, rf, v4, v5, v6, v7, v8, v9, v10, v11, v12, v13, v14, v15, v16, v17, v18, v19, v20, v21, v22, v23, v24, v25, v26, v27, v28, v29, v30, v31, v32, v33, v34, v35, v36, v37, v38, v39, v40, v41, v42, v43, v44, v45, v46, v47, v48, v49, v50, v51, v52, v53, v54, v55, v56, v57, v58, v59, v60, v61, v62, v63, v64, v65, v66, v67, v68, v69, v70, v71, v72, v73, v74, v75, v76, v77)
    """,
)
def m4(spark, sf_dir):
    """M4 (frame_features_image.py:57-70): per-(cell,frame) static
    features via applyInPandas grouped by frame — image decoded once per
    frame, min-max normalised (A6/F10), degenerate ROI skipped; values
    rounded to 6 for the golden."""
    from cellphe_data_pipeline_spark.domain.features import static_features
    from cellphe_data_pipeline_spark.domain.images import split_frames
    from cellphe_data_pipeline_spark.testing.fixtures import (
        fake_frames_df,
        fixture_rois_df,
    )

    feats = static_features(split_frames(fake_frames_df(spark)), fixture_rois_df(spark))
    dbl = [c for c, t in feats.dtypes if t == "double"]
    return feats.select(
        *[F.round(c, 6).alias(c) if c in dbl else F.col(c) for c in feats.columns]
    )


@register(
    "m6b_mask_contours",
    """
    SELECT path, CAST(f AS INT) AS FrameID, CAST(c AS INT) AS CellID,
           CAST(s AS INT) AS seq, CAST(x AS INT) AS x, CAST(y AS INT) AS y
    FROM (VALUES
      ('cx.fake', 0, 5, 0, 2, 1), ('cx.fake', 0, 5, 1, 3, 1),
      ('cx.fake', 0, 5, 2, 4, 1), ('cx.fake', 0, 5, 3, 5, 1),
      ('cx.fake', 0, 5, 4, 5, 2), ('cx.fake', 0, 5, 5, 5, 3),
      ('cx.fake', 0, 5, 6, 4, 3), ('cx.fake', 0, 5, 7, 3, 3),
      ('cx.fake', 0, 5, 8, 2, 3), ('cx.fake', 0, 5, 9, 2, 2),
      ('cx.fake', 0, 7, 0, 1, 5), ('cx.fake', 0, 7, 1, 2, 5),
      ('cx.fake', 0, 7, 2, 2, 6), ('cx.fake', 0, 7, 3, 3, 7),
      ('cx.fake', 0, 7, 4, 4, 7), ('cx.fake', 0, 7, 5, 5, 7),
      ('cx.fake', 0, 7, 6, 6, 7), ('cx.fake', 0, 7, 7, 6, 8),
      ('cx.fake', 0, 7, 8, 5, 8), ('cx.fake', 0, 7, 9, 4, 8),
      ('cx.fake', 0, 7, 10, 3, 8), ('cx.fake', 0, 7, 11, 2, 8),
      ('cx.fake', 0, 7, 12, 1, 8), ('cx.fake', 0, 7, 13, 1, 7),
      ('cx.fake', 0, 7, 14, 1, 6)
    ) AS t(path, f, c, s, x, y)
    """,
)
def m6b(spark, sf_dir):
    """M6 ordered form (r5, ADVICE r4 high): Moore-traced outer contour
    per mask label, emitted in traversal order by the mask_rois kernel
    (seq = array position) — the ordered-closed-boundary contract the
    order-dependent M4 features assume, matching the vertex-order-
    preserving TrackMate contour path (parse_xml.py:47-67). Golden is
    the HAND-DERIVED clockwise traversal of a rectangle and a concave L
    (the L is exactly the shape where the old lexicographic ordering
    scrambled the boundary); the rectangle oracle is independently
    asserted point-for-point in tests/test_domain.py."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import mask_rois

    m = np.zeros((10, 10), dtype=np.uint16)
    m[1:4, 2:6] = 5  # rectangle label 5: rows 1-3, cols 2-5
    m[5:9, 1:3] = 7  # concave L label 7: vertical arm ...
    m[7:9, 1:7] = 7  # ... + horizontal arm
    masks = from_driver_rows(
        spark,
        [("cx.fake", 0, 10, 10, m.tobytes())],
        "path string, frame_index int, height int, width int, mask binary",
    )
    return (
        mask_rois(masks)
        .select("path", "FrameID", "CellID", F.posexplode("coords").alias("seq", "pt"))
        .select(
            "path",
            "FrameID",
            "CellID",
            F.col("seq").cast("int").alias("seq"),
            F.col("pt.x").alias("x"),
            F.col("pt.y").alias("y"),
        )
    )


# =====================================================================
# Remaining dedup variants + leftover §2 operators
# =====================================================================


def _simhash_oracle_sql(n_bits: int = 16) -> str:
    # 15 md5 hex chars = 60-bit token hash, mirroring simhash_codes
    # (r7: 8 chars was 32-bit, degenerate for wide pairing codes)
    h = "('0x' || substring(md5(tok), 1, 15))::BIGINT"
    bit_sums = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (({h} >> {j}) & 1) = 1 THEN cnt ELSE -cnt END) >= 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(n_bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               UNNEST(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
      ) t WHERE tok <> ''
    ),
    counted AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok)
    SELECT doc_id, CAST({bit_sums} AS BIGINT) AS simhash
    FROM counted GROUP BY doc_id
    """


@register("d4_simhash", _simhash_oracle_sql())
def d4(spark, sf_dir):
    """SimHash fingerprint (dedup.py): token-count-weighted sign hash,
    one explode + one groupBy; md5-based bits for oracle equality."""
    from cellphe_data_pipeline_spark.operators.dedup import simhash_codes

    return simhash_codes(load_table(spark, sf_dir, "documents"))


def _simhash_neardup_oracle_sql(n_bits: int = 16, max_hamming: int = 3) -> str:
    n_bands = max_hamming + 1
    width = n_bits // n_bands
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, CAST((simhash >> {s}) & {m} AS BIGINT) AS bv"
        " FROM codes".format(
            b=b,
            s=b * width,
            m=(1 << (width if b < n_bands - 1 else n_bits - width * (n_bands - 1))) - 1,
        )
        for b in range(n_bands)
    )
    return f"""
    WITH codes AS ({_simhash_oracle_sql(n_bits)}),
    bands AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
      FROM bands a JOIN bands c ON a.band = c.band AND a.bv = c.bv
      WHERE a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ca.simhash, cb.simhash)) AS BIGINT) AS hamming
    FROM cand
    JOIN codes ca ON ca.doc_id = cand.doc_a
    JOIN codes cb ON cb.doc_id = cand.doc_b
    WHERE bit_count(xor(ca.simhash, cb.simhash)) <= {max_hamming}
    """


@register("d13_simhash_neardup", _simhash_neardup_oracle_sql(n_bits=48))
def d13(spark, sf_dir):
    """SimHash near-dup pairing (r6; dedup.py simhash_near_duplicates;
    Manku et al. 2007, the web-crawl dedup design): codes within
    Hamming distance 3 found via the PIGEONHOLE band join — a pair
    within distance k must agree exactly on one of k+1 disjoint bit
    bands — then exact popcount(xor) verify on candidates only. The
    cosine-sketch counterpart of the MinHash Jaccard path (d3): same
    band-join scale shape, different similarity geometry. r7: 48-bit
    codes (12-bit bands) — the r6 32-bit registration's 8-bit bands
    (256 values) were near-quadratic at corpus scale; see the
    operator docstring's selectivity analysis + SCALE.md
    measurements."""
    from cellphe_data_pipeline_spark.operators.dedup import simhash_near_duplicates

    return simhash_near_duplicates(
        load_table(spark, sf_dir, "documents"), n_bits=48
    )


# d5/d6 are deliberately-quadratic oracle baselines (the scale paths
# are d3 MinHash and v2 SRP).  Like v1, their inputs are capped so the
# correctness gate stays O(1) as the driver's sf grows.
D5_DOC_CAP = 400
D6_VEC_CAP = 300

@register(
    "d5_pairwise_jaccard",
    f"""
    WITH {SHINGLE_CTE.replace("FROM documents", f"FROM documents WHERE doc_id < {D5_DOC_CAP}")},
    inter AS (
      SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS ni
      FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.2
    """,
)
def d5(spark, sf_dir):
    """Exact all-pairs n-gram Jaccard (dedup.py:61-80) — the quadratic
    baseline the MinHash path (d3) approximates; documented test-scale
    oracle, superseded by LSH at corpus scale.  Input capped at
    D5_DOC_CAP docs so gate cost is sf-independent (v1 pattern)."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        pairwise_jaccard,
        word_shingles,
    )

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < D5_DOC_CAP)
    return pairwise_jaccard(word_shingles(d), threshold=0.2)


@register(
    "d6_embedding_neardup",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id < {D6_VEC_CAP}),
    n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 5) + 0.0 AS cos_sim
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 5) >= 0.4
    """,
)
def d6(spark, sf_dir):
    """Embedding-cosine near-dup pairs (dedup.py): exact theta-join
    baseline; scale path = SRP buckets feeding the same verify (d6b).
    Input capped at D6_VEC_CAP vectors (v1 pattern) — gate cost stays
    O(1) in sf.  Threshold 0.4 (not a realistic near-dup 0.9) because
    the driver's synthetic embeddings have no true near-dup pairs —
    0.9 returned 0 rows, a vacuous value check."""
    from cellphe_data_pipeline_spark.operators.dedup import embedding_near_duplicates

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < D6_VEC_CAP)
    return embedding_near_duplicates(e, threshold=0.4)


def _srp_neardup_oracle_sql(
    dim: int = 64, threshold: float = 0.4, n_bits: int = 4, n_bands: int = 4,
    seed: int = 7,
) -> str:
    """DuckDB mirror of embedding_near_duplicates_srp: identical ±1
    plane literals per band → identical buckets, candidates, cosines."""
    from cellphe_data_pipeline_spark.operators.similarity import srp_planes

    def bucket_expr(band_seed: int) -> str:
        return " + ".join(
            "(CASE WHEN list_dot_product(emb, [{w}]) >= 0 THEN {v} ELSE 0 END)".format(
                w=", ".join(str(x) for x in plane), v=1 << m
            )
            for m, plane in enumerate(srp_planes(dim, n_bits, band_seed))
        )

    band_ctes = ",\n    ".join(
        f"c{b} AS (SELECT vec_id, {bucket_expr(seed + b)} AS bucket FROM e)"
        for b in range(n_bands)
    )
    band_joins = "\n      UNION ALL\n      ".join(
        f"SELECT a.vec_id AS doc_a, b.vec_id AS doc_b FROM c{b} a "
        f"JOIN c{b} b ON a.bucket = b.bucket AND a.vec_id < b.vec_id"
        for b in range(n_bands)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {band_ctes},
    cands AS (SELECT DISTINCT doc_a, doc_b FROM (
      {band_joins}
    )),
    n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e)
    SELECT doc_a, doc_b,
           ROUND(list_dot_product(na.emb, nb.emb) / (na.nrm * nb.nrm), 5) + 0.0 AS cos_sim
    FROM cands JOIN n na ON na.vec_id = doc_a JOIN n nb ON nb.vec_id = doc_b
    WHERE ROUND(list_dot_product(na.emb, nb.emb) / (na.nrm * nb.nrm), 5) >= {threshold}
    """


def _semantic_decontaminate_oracle_sql(
    dim: int = 64, threshold: float = 0.4, n_bits: int = 4, n_bands: int = 4,
    seed: int = 7,
) -> str:
    """DuckDB mirror of dedup.semantic_decontaminate over the
    vec_id%20 eval/corpus split: identical SRP plane literals per band
    (the d6b idiom) on both relations, bucket-joined corpus x eval,
    exact cosine verify, per-corpus aggregate + left join back."""
    from cellphe_data_pipeline_spark.operators.similarity import srp_planes

    def bucket_expr(band_seed: int) -> str:
        return " + ".join(
            "(CASE WHEN list_dot_product(emb, [{w}]) >= 0 THEN {v} ELSE 0 END)".format(
                w=", ".join(str(x) for x in plane), v=1 << m
            )
            for m, plane in enumerate(srp_planes(dim, n_bits, band_seed))
        )

    band_ctes = ",\n    ".join(
        f"kc{b} AS (SELECT vec_id, {bucket_expr(seed + b)} AS bucket FROM corpus),\n"
        f"    ke{b} AS (SELECT vec_id, {bucket_expr(seed + b)} AS bucket FROM evals)"
        for b in range(n_bands)
    )
    band_joins = "\n      UNION ALL\n      ".join(
        f"SELECT a.vec_id AS corpus_id, b.vec_id AS eval_id FROM kc{b} a "
        f"JOIN ke{b} b ON a.bucket = b.bucket"
        for b in range(n_bands)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    evals AS (SELECT * FROM e WHERE vec_id % 20 = 0),
    corpus AS (SELECT * FROM e WHERE vec_id % 20 <> 0),
    {band_ctes},
    cands AS (SELECT DISTINCT corpus_id, eval_id FROM (
      {band_joins}
    )),
    nc AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM corpus),
    ne AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM evals),
    hits AS (
      SELECT corpus_id, COUNT(*) AS n_eval_hits,
             MAX(ROUND(list_dot_product(nc.emb, ne.emb) / (nc.nrm * ne.nrm), 5)) AS max_eval_cos
      FROM cands
      JOIN nc ON nc.vec_id = corpus_id
      JOIN ne ON ne.vec_id = eval_id
      WHERE ROUND(list_dot_product(nc.emb, ne.emb) / (nc.nrm * ne.nrm), 5) >= {threshold}
      GROUP BY corpus_id
    )
    SELECT c.vec_id,
           CAST(COALESCE(h.n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
           h.max_eval_cos,
           h.n_eval_hits IS NOT NULL AS contaminated
    FROM corpus c LEFT JOIN hits h ON h.corpus_id = c.vec_id
    """


@register("c16_semantic_decontaminate", _semantic_decontaminate_oracle_sql())
def c16(spark, sf_dir):
    """SEMANTIC decontamination (r8; dedup.py semantic_decontaminate):
    flag corpus embeddings with a >= 0.4 cosine neighbor in the eval
    suite (vec_id%20 split — deterministic in both engines) — the
    paraphrase-robust complement of c5's exact-hash broadcast join and
    c12's Bloom bitmap, via d6b's SRP bucket economics with the
    self-join replaced by a corpus x eval bucket join: the corpus
    never pairs with itself, candidates are bucket-keyed, the exact
    cosine verify runs on candidates only, and a left join back keeps
    every corpus row (clean rows: 0 hits / NULL / false)."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        semantic_decontaminate,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        e.filter(F.col("vec_id") % 20 != 0),
        e.filter(F.col("vec_id") % 20 == 0),
        dim=EMB_DIM,
        threshold=0.4,
    )


@register("d6b_srp_neardup", _srp_neardup_oracle_sql())
def d6b(spark, sf_dir):
    """Embedding near-dup — the 100 TB path (dedup.py
    `embedding_near_duplicates_srp`): 4 independent SRP bucketings
    (MinHash-banding economics in cosine space) → union + distinct
    candidate pairs → exact cosine verify on candidates only. UNCAPPED
    input, unlike the d6 baseline: every shuffle is bucket-/pair-keyed,
    N² never materialises. Full SQL oracle with inlined plane literals
    (v2 pattern)."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        embedding_near_duplicates_srp,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return embedding_near_duplicates_srp(e, dim=EMB_DIM, threshold=0.4)


@register(
    "p14_predicate_branch",
    """
    SELECT doc_id, source, 'digit' AS branch FROM documents
    WHERE regexp_matches(source, '[0-9]')
    UNION ALL
    SELECT doc_id, source, 'plain' AS branch FROM documents
    WHERE NOT regexp_matches(source, '[0-9]')
    """,
)
def p14(spark, sf_dir):
    """P14 (main.nf:456-461): predicate branch — split one relation into
    tagged disjoint branches (reference: has-space/no-space channels)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    has = d.filter(F.col("source").rlike("[0-9]")).withColumn("branch", F.lit("digit"))
    not_has = d.filter(~F.col("source").rlike("[0-9]")).withColumn("branch", F.lit("plain"))
    return has.unionByName(not_has)


@register(
    "p3_conditional_output",
    """
    SELECT l_orderkey, l_quantity FROM lineitem
    WHERE l_quantity >= 49
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_quantity >= 49)
    """,
)
def p3(spark, sf_dir):
    """P3 (main.nf:186-188): conditional sink — emit the relation only
    if non-empty. Relational form: rows gated on an existence check
    (the write-side `if nrow > 0` guard becomes a semi-join-with-
    constant that Catalyst collapses to a scalar subquery)."""
    li = load_table(spark, sf_dir, "lineitem")
    pred = F.col("l_quantity") >= 49
    filtered = li.filter(pred).select("l_orderkey", "l_quantity")
    nonempty = li.filter(pred).limit(1).select(F.lit(1).alias("one"))
    return filtered.join(F.broadcast(nonempty), how="cross").drop("one")


@register(
    "f9_f12_clip_sprintf",
    """
    SELECT event_id,
           GREATEST(value, 0.0) AS clipped,
           printf('%05d', CAST(user_id AS INT)) AS padded_user,
           printf('n=%d min=%.2f', CAST(event_id AS INT), value) AS label
    FROM events
    """,
)
def f9_f12(spark, sf_dir):
    """F9 clip-at-0 (frame_features_image.py:55-56) + F12 sprintf stat
    labels (tracking_qc.qmd:64-65)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.greatest(F.col("value"), F.lit(0.0)).alias("clipped"),
        F.format_string("%05d", F.col("user_id").cast("int")).alias("padded_user"),
        F.format_string("n=%d min=%.2f", F.col("event_id").cast("int"), F.col("value")).alias("label"),
    )


@register(
    "u3_u4_multi_concat",
    """
    SELECT r_name AS name, 'region' AS src FROM region
    UNION ALL
    SELECT n_name AS name, 'nation' AS src FROM nation
    UNION ALL
    SELECT s_name AS name, 'supplier' AS src FROM supplier
    """,
)
def u3_u4(spark, sf_dir):
    """U3/U4 (segmentation_qc.qmd:170, main.nf:463-466): n-way concat of
    heterogeneous per-source frames under one schema."""
    r = load_table(spark, sf_dir, "region").select(
        F.col("r_name").alias("name"), F.lit("region").alias("src")
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("name"), F.lit("nation").alias("src")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("src")
    )
    return r.unionByName(n).unionByName(s)


@register(
    "f15_json_encode",
    """
    SELECT o_orderkey,
           to_json(struct_pack(status := o_orderstatus,
                               priority := o_orderpriority)) AS cfg_json
    FROM orders
    """,
)
def f15(spark, sf_dir):
    """F15 (main.nf:37,53,125): JSON-encode a config/params struct per
    row (to_json of a named struct; key order = declaration order in
    both engines)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
            )
        ).alias("cfg_json"),
    )


@register("v3_ivf_topk", """
    SELECT CAST(v AS BIGINT) AS vec_id, CAST(nb AS BIGINT) AS neighbor_id,
           CAST(c AS DOUBLE) AS cos_sim, CAST(r AS BIGINT) AS rank
    FROM (VALUES
      (0, 3, 0.99909, 2),
      (0, 12, 0.99887, 3),
      (0, 15, 1.0, 1),
      (1, 4, 0.99909, 2),
      (1, 13, 0.99898, 3),
      (1, 16, 1.0, 1),
      (2, 5, 0.99848, 3),
      (2, 14, 0.99888, 2),
      (2, 17, 1.0, 1),
      (3, 0, 0.99909, 1),
      (3, 12, 0.99872, 3),
      (3, 15, 0.99909, 2),
      (4, 1, 0.99909, 1),
      (4, 13, 0.99886, 3),
      (4, 16, 0.99909, 2),
      (5, 2, 0.99848, 3),
      (5, 8, 0.99914, 1),
      (5, 14, 0.99857, 2),
      (6, 3, 0.99855, 2),
      (6, 9, 0.99917, 1),
      (6, 12, 0.99839, 3),
      (7, 4, 0.99855, 2),
      (7, 10, 0.99858, 1),
      (7, 13, 0.99848, 3),
      (8, 5, 0.99914, 1),
      (8, 11, 0.99856, 2),
      (8, 14, 0.99843, 3),
      (9, 3, 0.99845, 3),
      (9, 6, 0.99917, 1),
      (9, 12, 0.99857, 2),
      (10, 1, 0.9983, 3),
      (10, 7, 0.99858, 2),
      (10, 13, 0.99919, 1),
      (11, 5, 0.9984, 3),
      (11, 8, 0.99856, 2),
      (11, 14, 0.99917, 1),
      (12, 0, 0.99887, 1),
      (12, 3, 0.99872, 3),
      (12, 15, 0.99887, 2),
      (13, 1, 0.99898, 2),
      (13, 10, 0.99919, 1),
      (13, 16, 0.99898, 3),
      (14, 2, 0.99888, 2),
      (14, 11, 0.99917, 1),
      (14, 17, 0.99888, 3),
      (15, 0, 1.0, 1),
      (15, 3, 0.99909, 2),
      (15, 12, 0.99887, 3),
      (16, 1, 1.0, 1),
      (16, 4, 0.99909, 2),
      (16, 13, 0.99898, 3),
      (17, 2, 1.0, 1),
      (17, 5, 0.99848, 3),
      (17, 14, 0.99888, 2)
    ) AS t(v, nb, c, r)
    """)
def v3(spark, sf_dir):
    """IVF-Flat approximate self-kNN (similarity.py `ivf_topk`):
    seeded Spark-ML KMeans lists + n_probe nearest-list candidate join +
    exact cosine top-k. KMeans is not ANSI-SQL-expressible, so the
    operator runs on the deterministic well-separated-cluster embedding
    fixture and the oracle is a golden VALUES relation (assignments are
    robust: cluster separation >> per-vector offsets); sf-scale recall
    vs brute force is tested in tests/test_dedup_text_similarity.py."""
    from cellphe_data_pipeline_spark.operators.similarity import ivf_topk
    from cellphe_data_pipeline_spark.testing.fixtures import fixture_embeddings_df

    return ivf_topk(
        fixture_embeddings_df(spark), dim=8, k=3, n_lists=3, n_probe=2, seed=7
    )


@register(
    "j8_salted_join",
    """
    SELECT l.l_orderkey, l.l_linenumber, p.p_name
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_retailprice > 990
    """,
)
def j8(spark, sf_dir):
    """Skew-salted equi-join (operators/scale.py `salted_join`): the
    deterministic heavy-skew fallback — result must equal the plain
    join, which is exactly what the oracle states."""
    from cellphe_data_pipeline_spark.operators.scale import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_partkey").alias("pk")
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_retailprice") > 990)
        .select(F.col("p_partkey").alias("pk"), "p_name")
    )
    return salted_join(li, p, "pk", salt=8).select(
        "l_orderkey", "l_linenumber", "p_name"
    )


@register(
    "j9_asof_join",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS click_id, 1 AS side
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, event_id AS click_id, 0 AS side
      FROM events WHERE event_type = 'click'
    ),
    f AS (
      SELECT user_id, ts, event_id, side,
             LAST_VALUE(click_id IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id, side
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_id
      FROM u
    )
    SELECT user_id, ts, event_id AS purchase_id, prev_click_id
    FROM f WHERE side = 1
    """,
)
def j9(spark, sf_dir):
    """As-of join (operators/joins.py `asof_join`): every purchase joined
    to the user's most recent prior-or-simultaneous click. Spark has no
    native ASOF JOIN; the union + single-key-window composition costs
    one shuffle of |L|+|R| — never the naive historical theta join. The
    oracle mirrors the identical window formulation (same ORDER BY), so
    semantics are pinned, not approximated."""
    from cellphe_data_pipeline_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id"),
        F.col("event_id").alias("event_id"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.col("event_id").alias("click_id")
    )
    out = asof_join(
        purchases, clicks, key="user_id", ts="ts",
        right_cols=["click_id"], tie_col="event_id",
    )
    return out.select(
        "user_id", "ts", "purchase_id",
        F.col("asof_click_id").alias("prev_click_id"),
    )


@register(
    "j10_interval_join",
    """
    WITH e AS (SELECT event_id, user_id, ts FROM events)
    SELECT a.event_id, CAST(COUNT(b.event_id) AS BIGINT) AS n_nearby
    FROM e a LEFT JOIN e b
      ON b.user_id <> a.user_id
      AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60 * 1000000
    GROUP BY a.event_id
    """,
)
def j10(spark, sf_dir):
    """Temporal interval self-join (operators/joins.py
    `interval_self_join_count` — SURVEY §2.3 lists interval joins as
    absent from the reference): per event, how many OTHER users' events
    fall within ±60s. The J7 grid-join pattern in 1-D time: ±1
    time-bucket explode → hash equi-join on bucket → exact |Δt| filter,
    never a theta join; the DuckDB oracle IS the theta-join formulation,
    pinning the semantics the bucketing must reproduce."""
    from cellphe_data_pipeline_spark.operators.joins import interval_self_join_count

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = interval_self_join_count(
        ev, ts_col="ts", id_col="event_id", key_col="user_id", window_seconds=60
    )
    return out.select("event_id", "n_nearby")


@register(
    "v4_probe_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE vec_id < 20),
    p AS (
      SELECT q.vec_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm), 5) + 0.0 AS cos_sim
      FROM q JOIN n c ON q.vec_id <> c.vec_id
    ),
    r AS (
      SELECT vec_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM p
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5
    """,
)
def v4(spark, sf_dir):
    """Probe-vs-corpus kNN (similarity.py:49-85, explicit `queries`
    side): the usual production shape — a SMALL probe set broadcast
    against the streaming corpus, zero shuffle for the join (the plan
    the 10k-probes-vs-100TB-corpus case wants)."""
    from cellphe_data_pipeline_spark.operators.similarity import cosine_topk_bruteforce

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < 20)
    return cosine_topk_bruteforce(e, k=5, queries=probes)


@register(
    "t4_token_counts",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS n_tokens_ws,
           len(regexp_extract_all(text,
               '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+'))
             AS n_tokens_bpe
    FROM documents
    """,
)
def t4(spark, sf_dir):
    """Token counting both ways (text.py): whitespace/alnum runs and the
    GPT-2-style BPE-ish pre-tokeniser — the LLM-budget estimate the
    training-data pipeline reports per document."""
    from cellphe_data_pipeline_spark.operators.text import (
        bpe_ish_token_count,
        token_count,
    )

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens_ws"),
        bpe_ish_token_count(F.col("text")).alias("n_tokens_bpe"),
    )


@register(
    "t5_redact",
    r"""
    WITH u AS (
      SELECT doc_id,
             len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_urls,
             regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS no_urls
      FROM documents
    )
    SELECT doc_id, n_urls,
           len(regexp_extract_all(no_urls,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
           regexp_replace(no_urls,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g')
             AS text_redacted
    FROM u
    """,
)
def t5(spark, sf_dir):
    """PII/URL redaction with audit counts (text.py `redact`)."""
    from cellphe_data_pipeline_spark.operators.text import redact

    d = load_table(spark, sf_dir, "documents")
    return redact(d).select("doc_id", "n_urls", "n_emails", "text_redacted")


@register(
    "c3_token_budget_shards",
    r"""
    WITH t AS (
      SELECT doc_id, source AS stream,
             len(regexp_extract_all(text,
                 '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+'))
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, stream, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      FROM t
    )
    SELECT doc_id, stream, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor(pre / 2048) AS BIGINT) AS shard_id,
           CAST(pre AS BIGINT) AS shard_start_tok
    FROM c
    """,
)
def c3(spark, sf_dir):
    """Context-window sharding (text.py `token_budget_shards`): docs in
    (stream, doc_id) order assigned to consecutive training shards by
    cumulative BPE-ish token budget — the fixed-budget form of greedy
    packing, one window shuffle partitioned by stream."""
    from cellphe_data_pipeline_spark.operators.text import token_budget_shards

    d = load_table(spark, sf_dir, "documents")
    return token_budget_shards(d, budget_tokens=2048)


@register(
    "c13_context_packing",
    r"""
    WITH t AS (
      SELECT doc_id, source AS stream,
             len(regexp_extract_all(text,
                 '''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+'))
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, stream, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM t
    ),
    s AS (
      SELECT doc_id, stream, n_tokens,
             CAST(start AS BIGINT) AS start,
             CAST(start + n_tokens - 1 AS BIGINT) AS fin
      FROM c WHERE n_tokens > 0
    )
    SELECT stream, CAST(w AS BIGINT) AS window_id, doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(GREATEST(0, start - w * 512) AS BIGINT) AS tok_start,
           CAST(LEAST(511, fin - w * 512) AS BIGINT) AS tok_end
    FROM s, UNNEST(generate_series(start // 512, fin // 512)) AS g(w)
    """,
)
def c13(spark, sf_dir):
    """GPT-style context-window packing (r7; text.py
    pack_context_windows): the concatenated per-stream token stream
    sliced into fixed 512-token windows with one row per
    (window, doc) overlap and clipped in-window spans — documents
    STRADDLE boundaries (the piece c3's start-shard assignment
    doesn't model), giving the sample/attention-boundary manifest a
    training loader consumes. One stream-partitioned window shuffle +
    a ceil(n/L)+1-bounded explode; output volume is corpus_tokens/L
    regardless of doc-size skew."""
    from cellphe_data_pipeline_spark.operators.text import pack_context_windows

    return pack_context_windows(
        load_table(spark, sf_dir, "documents"), window_tokens=512
    )


@register(
    "s17_orc_roundtrip",
    """
    SELECT n_regionkey, COUNT(*) AS n_nations,
           MIN(n_name) AS first_nation, MAX(n_nationkey) AS max_key
    FROM nation GROUP BY n_regionkey
    """,
)
def s17(spark, sf_dir):
    """ORC source/sink round-trip (r7 engine extension) — the second
    columnar format through the same staged-edge-I/O contract as the
    CSV (s6) and published-parquet (s15) goldens: write the nation
    table to ORC with Spark's native writer, read it back from disk,
    aggregate. The oracle aggregates the parquet original, so any
    type/value drift through the ORC encode/decode path (decimal
    widths, string collation, null masks) breaks the value hash. ORC
    carries the same min/max stripe statistics parquet footers do, so
    the o7 z-order layout and S15 partition pruning apply unchanged."""
    staged = _stage_dir("s17_orc")
    nation = load_table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").orc(staged)
    back = spark.read.orc(staged)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_nation"),
        F.max("n_nationkey").alias("max_key"),
    )


def _zorder_oracle_sql(bits: int = 16, bucket_shift: int = 24) -> str:
    terms = " + ".join(
        f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
    WITH b AS (
      SELECT event_id, user_id % 65536 AS x,
             (epoch_us(ts) // 1000000) % 65536 AS y
      FROM events
    ),
    z AS (SELECT event_id, CAST({terms} AS BIGINT) AS z_key FROM b)
    SELECT event_id, z_key,
           CAST(z_key >> {bucket_shift} AS BIGINT) AS z_bucket
    FROM z
    """


@register(
    "c14_fim_transform",
    """
    WITH h AS (
      SELECT doc_id, text, length(text) AS n,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':fim1'), 1, 8))::BIGINT AS h1,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':fim2'), 1, 8))::BIGINT AS h2,
        ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':fimgate'), 1, 8))::BIGINT AS hg
      FROM documents
    ),
    c AS (
      SELECT doc_id, text,
             LEAST(h1 % (n + 1), h2 % (n + 1)) AS lo,
             GREATEST(h1 % (n + 1), h2 % (n + 1)) AS hi,
             (hg % 10000) < 5000 AS applied
      FROM h
    )
    SELECT doc_id, applied AS fim_applied,
           CASE WHEN applied THEN CAST(lo AS BIGINT) END AS cut_lo,
           CASE WHEN applied THEN CAST(hi AS BIGINT) END AS cut_hi,
           CASE WHEN applied THEN
             '<PRE>' || substring(text, 1, CAST(lo AS INT))
             || '<SUF>' || substring(text, CAST(hi AS INT) + 1)
             || '<MID>' || substring(text, CAST(lo AS INT) + 1,
                                     CAST(hi - lo AS INT))
           ELSE text END AS fim_text
    FROM c
    """,
)
def c14(spark, sf_dir):
    """Fill-in-the-middle transform (r7; text.py fim_transform;
    Bavarian 2022): a seeded-md5 Bernoulli gate (basis points, the
    c4/c11 determinism contract) moves an md5-chosen middle span to
    the end in PSM sentinel order — the infilling objective's data
    prep. Pure codegen string arithmetic, zero shuffle; cuts and gate
    are bit-identical across engines and partitionings."""
    from cellphe_data_pipeline_spark.operators.text import fim_transform

    return fim_transform(load_table(spark, sf_dir, "documents"), rate_bp=5000)


@register(
    "c15_span_corruption",
    r"""
    WITH toks AS (
      SELECT doc_id, i - 1 AS pos, t[i] AS tok
      FROM (SELECT doc_id,
              list_filter(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                          x -> x <> '') AS t
            FROM documents),
           UNNEST(generate_series(1, len(t))) AS g(i)
    ),
    hk AS (
      SELECT doc_id, pos, tok, pos // 8 AS blk, pos % 8 AS inb FROM toks
    ),
    mk AS (
      SELECT doc_id, blk, pos, tok,
        (('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR) || ':t5-v1:g'), 1, 8))::BIGINT % 100 < 40
         AND inb >= ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR) || ':t5-v1:o'), 1, 8))::BIGINT % 8
         AND inb < ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR) || ':t5-v1:o'), 1, 8))::BIGINT % 8
                   + 1 + ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR) || ':t5-v1:l'), 1, 8))::BIGINT % 3
        ) AS masked
      FROM hk
    ),
    mk2 AS (
      SELECT *, MIN(CASE WHEN masked THEN pos END)
                  OVER (PARTITION BY doc_id, blk) AS fm
      FROM mk
    ),
    blocks AS (
      SELECT doc_id, blk,
        COUNT(*) FILTER (WHERE masked) AS n_masked,
        list(tok ORDER BY pos) FILTER (WHERE NOT masked AND pos < COALESCE(fm, -1)) AS pre,
        list(tok ORDER BY pos) FILTER (WHERE NOT masked AND pos > COALESCE(fm, -1)) AS suf,
        list(tok ORDER BY pos) AS all_toks,
        list(tok ORDER BY pos) FILTER (WHERE masked) AS msk_toks
      FROM mk2 GROUP BY doc_id, blk
    ),
    nb AS (
      SELECT *,
        SUM(CASE WHEN n_masked > 0 THEN 1 ELSE 0 END)
          OVER (PARTITION BY doc_id ORDER BY blk)
        - CASE WHEN n_masked > 0 THEN 1 ELSE 0 END AS sidx
      FROM blocks
    ),
    parts AS (
      SELECT doc_id, blk, n_masked > 0 AS has, n_masked,
        CASE WHEN n_masked > 0 THEN
          array_to_string(COALESCE(pre, []) || ['<X' || CAST(sidx AS VARCHAR) || '>'] || COALESCE(suf, []), ' ')
        ELSE array_to_string(all_toks, ' ') END AS in_str,
        CASE WHEN n_masked > 0 THEN
          array_to_string(['<X' || CAST(sidx AS VARCHAR) || '>'] || msk_toks, ' ') END AS tgt_str
      FROM nb
    ),
    doc AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN has THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
        CAST(SUM(n_masked) AS BIGINT) AS n_masked_tokens,
        string_agg(in_str, ' ' ORDER BY blk) AS input_text,
        string_agg(tgt_str, ' ' ORDER BY blk) FILTER (WHERE has) AS tgt
      FROM parts GROUP BY doc_id
    )
    SELECT doc_id, n_spans, n_masked_tokens, input_text,
      CASE WHEN n_spans > 0
           THEN tgt || ' <X' || CAST(n_spans AS VARCHAR) || '>'
           ELSE '<X' || CAST(n_spans AS VARCHAR) || '>' END AS target_text
    FROM doc
    """,
)
def c15(spark, sf_dir):
    """T5/UL2 span-corruption data prep (r8; text.py span_corruption;
    Raffel 2020 §3.1.4): masked token spans become numbered sentinels
    in the input and sentinel-prefixed answers in the target — the
    denoising-objective twin of c14's FIM. Blocked deterministic
    sampling (independent seeded-md5 draws per 8-token block — no
    overlap resolution, engine-portable; documented variant of the
    paper's serial sampler). One explode, one block groupBy, one
    doc window + doc groupBy sharing a partitioning: two shuffles."""
    from cellphe_data_pipeline_spark.operators.text import span_corruption

    return span_corruption(
        load_table(spark, sf_dir, "documents"),
        block_tokens=8,
        rate_pct=40,
        max_span=3,
    )


@register("o7_zorder_layout", _zorder_oracle_sql())
def o7(spark, sf_dir):
    """Z-ORDER layout keys (r7; scale.py zorder_key) — the lakehouse
    data-skipping write layout (Delta/Iceberg OPTIMIZE ZORDER BY):
    Morton-interleave the low 16 bits of (user_id, event-time seconds)
    so that files written in z-key ranges carry min/max footer stats
    tight on BOTH dimensions — predicates on either column prune
    files, where a single-column sort gives one-sided stats only.
    Pure integer shift/mask expression (codegen, zero shuffle in the
    key computation; the layout write is repartitionByRange(z_key) +
    the S15 publish sink). The locality win is pinned by
    tests/test_scale.py: z-buckets have strictly tighter per-bucket
    2-D bounding boxes than row-order buckets on a grid."""
    from cellphe_data_pipeline_spark.operators.scale import zorder_key

    e = load_table(spark, sf_dir, "events")
    x = F.col("user_id") % 65536
    y = F.expr("(unix_micros(ts) div 1000000) % 65536")
    z = zorder_key(x, y, bits=16)
    return e.select(
        "event_id",
        z.alias("z_key"),
        F.shiftright(z, 24).cast("bigint").alias("z_bucket"),
    )


def _o8_bucketed_join(spark, sf_dir):
    """The exchange-free join body of o8, split out so the plan test
    can assert zero Exchange on the join itself (the downstream
    aggregate legitimately shuffles its 5 segment groups)."""
    from cellphe_data_pipeline_spark.operators.scale import (
        publish_bucketed,
        read_bucketed,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    publish_bucketed(
        cust, "o8_cust_bk", ["c_custkey"], num_buckets=8,
        path=_stage_dir("o8_cust_bk"),
    )
    publish_bucketed(
        orders, "o8_orders_bk", ["o_custkey"], num_buckets=8,
        path=_stage_dir("o8_orders_bk"),
    )
    return read_bucketed(spark, "o8_cust_bk").join(
        read_bucketed(spark, "o8_orders_bk"),
        F.col("c_custkey") == F.col("o_custkey"),
    )


@register(
    "o8_bucketed_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def o8(spark, sf_dir):
    """Bucketed co-located join (r8; scale.publish_bucketed through
    the registered-query surface): both sides are published
    bucketed+sorted by the join key into 8 buckets, so the fact-dim
    join reads co-located buckets and shuffles NOTHING — `.explain`
    shows SortMergeJoin with no Exchange on either side
    (tests/test_scale.py::test_o8_registered_query_join_is_exchange_free).
    At 100 TB this is the S15 publish discipline for every
    re-joined stage output: pay one bucketed write, never shuffle
    that table's join again. The oracle is the plain join on the
    parquet originals — layout must never change values."""
    j = _o8_bucketed_join(spark, sf_dir)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@register(
    "o9_partition_pruned_scan",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
)
def o9(spark, sf_dir):
    """Hive-partitioned publish + pruned scan (r8;
    scale.publish_partitioned): events written one directory per
    event_type, then read back filtered to one type — the filter
    resolves against the DIRECTORY TREE, not file contents
    (`.explain` shows it under PartitionFilters with 1-of-5
    partitions selected; plan-gated in tests/test_scale.py). The
    100 TB shape: a corpus partitioned by (source, language, date)
    serves slice queries at slice cost. The oracle filters the
    unpartitioned original — layout must never change values."""
    from cellphe_data_pipeline_spark.operators.scale import (
        publish_partitioned,
    )

    staged = _stage_dir("o9_events_part")
    ev = load_table(spark, sf_dir, "events")
    publish_partitioned(ev, staged, ["event_type"])
    back = spark.read.parquet(staged).filter(
        F.col("event_type") == "purchase"
    )
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "o14_dynamic_partition_overwrite",
    """
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(CASE WHEN event_type = 'purchase'
                              THEN value * 2 ELSE value END
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def o14(spark, sf_dir):
    """Dynamic partition OVERWRITE (r10) — the restatement/backfill
    half of o9's partitioned publish, and the fifth member of the
    partition-layout family (o8 bucket join, o9 static pruning, o10
    DPP, o12 bucket pruning): events are published one directory per
    event_type, then a corrected 'purchase' slice (values restated
    x2 — exact in binary floating point) is written back with
    ``mode("overwrite")`` under partitionOverwriteMode=dynamic
    (operators/scale.overwrite_partitions_dynamic), which replaces
    ONLY the partitions present in the incoming frame. The read-back
    rollup must show restated purchase sums AND untouched sums for the
    other four types — a leaked static overwrite would delete them
    (the trap: the default mode's same call wipes the table first;
    both directions pinned in tests/test_scale.py). At 100 TB this is
    how a single-day correction lands at slice cost: rewrite the
    touched directories, never the table, with readers pruned to
    untouched slices throughout."""
    from cellphe_data_pipeline_spark.operators.scale import (
        overwrite_partitions_dynamic,
        publish_partitioned,
    )

    staged = _stage_dir("o14_events_part")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    publish_partitioned(ev, staged, ["event_type"])
    backfill = ev.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.col("value") * F.lit(2)
    )
    overwrite_partitions_dynamic(backfill, staged, ["event_type"])
    back = spark.read.parquet(staged)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "o15_small_file_compaction",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY user_id
    """,
)
def o15(spark, sf_dir):
    """Small-file COMPACTION (r10) — the table-maintenance half of the
    layout family (o7 z-order writes the layout once; a long-running
    ingest then FRAGMENTS it): events staged as 64 deliberately tiny
    files (a streaming sink's natural debris), compacted by
    operators/scale.compact_files into 4 range-sorted files
    (repartitionByRange(user_id) + sortWithinPartitions ⇒ each output
    file is a disjoint sorted user_id range whose parquet min/max
    footer prunes point scans on the sort key), then read back and
    aggregated. The oracle hash-checks the compaction invariant —
    a pure relayout must never change values — and the mechanical
    claims (file count collapses 64→4, per-file key ranges disjoint)
    are pinned by tests/test_scale.py. At 100 TB this is the scheduled
    job that keeps scan cost byte-bound instead of
    file-open/listing-bound; compaction writes to a NEW directory and
    cuts over (readers hold the old listing mid-rewrite)."""
    from cellphe_data_pipeline_spark.operators.scale import compact_files

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    frag = _stage_dir("o15_fragmented")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    compacted = _stage_dir("o15_compacted")
    compact_files(
        spark, frag, compacted, sort_cols=["user_id"], target_partitions=4
    )
    back = spark.read.parquet(compacted)
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


@register(
    "o10_dpp_join",
    """
    WITH c AS (
      SELECT event_type, COUNT(*) AS n_type FROM events GROUP BY event_type
    ),
    t AS (
      SELECT CAST(SUM(n_type) AS DOUBLE) / COUNT(*) AS thr FROM c
    ),
    dim AS (
      SELECT event_type, n_type FROM c, t WHERE n_type >= thr
    )
    SELECT e.event_type, MAX(d.n_type) AS n_type, COUNT(*) AS n_rows,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def o10(spark, sf_dir):
    """Dynamic partition pruning (r9) — o9's 100 TB sibling: o9 proves
    STATIC PartitionFilters (a literal predicate resolves against the
    directory tree); here the pruning predicate is only known at
    RUNTIME — the dim keeps only the partition keys whose row count is
    above the mean count per key (SF-stable, unknowable statically,
    3 of 5 types at sf0.01) — so Spark inserts
    ``dynamicpruningexpression(event_type IN dynamicpruning#N)`` into
    the fact scan's PartitionFilters and feeds it from the broadcast
    of the filtered dim (reused, not recomputed). The fact scan then
    opens only the surviving partition directories (3 of 5 at sf0.01).
    This is how a partitioned 100 TB fact serves a dim-filtered join
    at the surviving slices' cost with no literal filter available —
    the runtime analogue of the reference's include-filter pushdown
    (run_pipeline_from_research0.sh:77-80, rclone --include). The
    pruning mechanism is plan-gated in tests/test_scale.py; the oracle
    joins the unpartitioned original — layout must never change
    values."""
    from cellphe_data_pipeline_spark.operators.scale import (
        publish_partitioned,
    )

    staged = _stage_dir("o10_events_part")
    ev = load_table(spark, sf_dir, "events")
    publish_partitioned(ev, staged, ["event_type"])
    fact = spark.read.parquet(staged)
    # the dim comes to the driver ONCE (a #partition-keys-row collect,
    # O(1)) and is rebuilt as a local relation with a LITERAL filter:
    # the DPP insertion heuristic (PartitionPruning.isLikelySelective)
    # only fires for literal comparisons on the dim side — an
    # attribute-vs-attribute threshold is not considered selective and
    # the scan loses its pruning subquery — and building the dim
    # locally means query EXECUTION never rescans events for it (r9
    # review: the previous form aggregated events once for the
    # threshold collect and AGAIN as the join's dim side). In
    # production the dim filter is a user literal anyway; the
    # computed mean keeps the demo SF-stable, in the oracle's exact
    # double arithmetic (exact int sum, one double division). The
    # local relation is cut (lazily, no extra job) before the filter:
    # on a bare local relation the optimizer evaluates the filter at
    # plan time (ConvertToLocalRelation), the dim side is left with no
    # Filter node, and DPP inserts no pruning subquery.
    from cellphe_data_pipeline_spark.checkpoint import cut_lineage

    rows = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_type"))
        .collect()
    )
    thr_val = sum(r["n_type"] for r in rows) / len(rows)
    dim = cut_lineage(
        from_driver_rows(spark, rows, "event_type string, n_type bigint"),
        eager=False,
        name="o10-dim",
    ).filter(F.col("n_type") >= F.lit(thr_val))
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_type").alias("n_type"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def _j12_skewed_sides(spark, sf_dir):
    """The deliberately-skewed join inputs of j12, shared with the plan
    test: 97% of lineitem rows collapse onto skew_key 0 (the hot-cell /
    hot-token shape a15 profiles), the dim carries every (key,
    priority) pair. The repartition(8) gives the join exchange a
    multi-mapper map side — AQE splits a skewed REDUCE partition by
    map-output ranges, so a single-mapper input (one parquet row
    group at sf0.01) is structurally unsplittable no matter how
    skewed; at 100 TB the thousands of scan tasks provide this for
    free."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 100 < 97, F.lit(0))
        .otherwise(F.col("l_orderkey") % 100)
        .alias("skew_key"),
        "l_extendedprice",
        "l_returnflag",
    ).repartition(8)
    dim = (
        load_table(spark, sf_dir, "orders")
        .select(
            (F.col("o_orderkey") % 100).alias("skew_key"), "o_orderpriority"
        )
        .distinct()
    )
    return li, dim


@register(
    "j13_fuzzy_entity_join",
    """
    WITH aug AS (
      SELECT p_partkey, CASE
        WHEN p_partkey % 11 = 3 THEN p_name || 's'
        WHEN p_partkey % 11 = 7 THEN replace(p_name, ' ', '-')
        ELSE p_name END AS name
      FROM part WHERE p_partkey < 500
    ),
    b AS (SELECT p_partkey, name, substring(name, 1, 3) AS blk FROM aug)
    SELECT a.p_partkey AS key_a, c.p_partkey AS key_b,
           a.name AS name_a, c.name AS name_b,
           CAST(levenshtein(a.name, c.name) AS BIGINT) AS edit_dist
    FROM b a JOIN b c
      ON a.blk = c.blk AND a.p_partkey < c.p_partkey
    WHERE levenshtein(a.name, c.name) <= 2
    """,
)
def j13(spark, sf_dir):
    """Fuzzy entity-resolution join (r9) — the ETL primitive for
    dirty-dimension reconciliation (supplier/part/customer name
    variants): candidate pairs from a cheap BLOCKING key (3-char
    prefix), exact Levenshtein ≤ 2 verify inside the block — the
    candidate-first discipline every near-dup operator here follows
    (d3/d6/d13), applied to string keys. A deterministic subset of
    names is perturbed (pluralised / hyphenated — the t20 augmentation
    idiom, identical in both engines) so the fixture genuinely
    exercises non-identical matches. Scale shape: the blocked
    self-join is a hash equi-join on the block key (never a
    cartesian); Levenshtein runs on candidates only, JVM-side
    (F.levenshtein — same classic DP definition in DuckDB). The
    recall trade is the documented one: prefix blocking misses
    prefix-divergent variants — production runs several blocking
    passes (prefix, token-sort, phonetic) and unions pairs, exactly
    the d6b multi-band pattern. Input capped (p_partkey < 500) to
    keep the gate O(1) in sf."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 500)
        .select(
            "p_partkey",
            F.when(F.col("p_partkey") % 11 == 3, F.concat(F.col("p_name"), F.lit("s")))
            .when(F.col("p_partkey") % 11 == 7, F.replace(F.col("p_name"), F.lit(" "), F.lit("-")))
            .otherwise(F.col("p_name"))
            .alias("name"),
        )
        .withColumn("blk", F.substring("name", 1, 3))
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"), F.col("name").alias("name_a"), "blk"
    )
    c = p.select(
        F.col("p_partkey").alias("key_b"), F.col("name").alias("name_b"), "blk"
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(c, "blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(dist <= 2)
        .select(
            "key_a", "key_b", "name_a", "name_b",
            dist.cast("bigint").alias("edit_dist"),
        )
    )


@register(
    "c19_scd2_history",
    """
    WITH v AS (
      SELECT user_id, ts, event_id, event_type
      FROM events WHERE ts IS NOT NULL
    ),
    d AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER w AS prev_type,
             ROW_NUMBER() OVER w AS rn
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    chg AS (
      SELECT user_id, ts, event_id, event_type FROM d
      WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           LEAD(ts) OVER w2 AS valid_to,
           (LEAD(ts) OVER w2 IS NULL) AS is_current,
           ROW_NUMBER() OVER w2 AS version_no
    FROM chg WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def c19(spark, sf_dir):
    """SCD2 dimension-history builder (r9) — the slowly-changing-
    dimension pattern every warehouse maintains: per key, collapse
    consecutive identical attribute values into VERSIONS with
    half-open validity intervals [valid_from, valid_to), the last
    version open (is_current). Here the tracked attribute is the
    user's event_type stream — the engine shape is identical for any
    dim attribute. Scale: ONE hash partitioning on the key reused by
    both window layers (the change-detection lag/row_number and the
    interval lead/version ride the same Exchange — the filter between
    them preserves partitioning); change rows are the only rows that
    survive to layer two, so the interval pass runs on versions, not
    events. Null-safety: the first version is kept by row number (a
    NULL-attribute first row would vanish under IS DISTINCT FROM
    alone), and value changes use null-safe comparison on both
    engines."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.lag("event_type").over(w).alias("_prev"),
        F.row_number().over(w).alias("_rn"),
    )
    chg = d.filter(
        (F.col("_rn") == 1) | ~F.col("_prev").eqNullSafe(F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return chg.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
        F.row_number().over(w2).cast("bigint").alias("version_no"),
    )


@register(
    "p15_expectations_audit",
    """
    WITH fin AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
    flagged AS (
      SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_discount,
             (fin.o_orderkey IS NOT NULL) AS ok_order_finalized,
             COALESCE(l.l_discount BETWEEN 0.0 AND 0.08, FALSE) AS ok_discount_in_policy,
             COALESCE(l.l_quantity BETWEEN 1.0 AND 50.0, FALSE) AS ok_qty_in_range,
             COALESCE(l.l_extendedprice > 0.0, FALSE) AS ok_price_positive,
             (l.l_shipdate IS NOT NULL) AS ok_shipdate_present
      FROM lineitem l LEFT JOIN fin ON l.l_orderkey = fin.o_orderkey
    )
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
           COALESCE(array_to_string(list_sort(list_filter([
             CASE WHEN NOT ok_discount_in_policy THEN 'discount_in_policy' END,
             CASE WHEN NOT ok_order_finalized THEN 'order_finalized' END,
             CASE WHEN NOT ok_price_positive THEN 'price_positive' END,
             CASE WHEN NOT ok_qty_in_range THEN 'qty_in_range' END,
             CASE WHEN NOT ok_shipdate_present THEN 'shipdate_present' END
           ], x -> x IS NOT NULL)), ','), '') AS failed_rules,
           (ok_discount_in_policy AND ok_order_finalized AND ok_price_positive
            AND ok_qty_in_range AND ok_shipdate_present) AS passed
    FROM flagged
    """,
)
def p15(spark, sf_dir):
    """Row-level data-quality expectations with quarantine diagnosis
    (r9; qc_filters.expectations_audit) — the deequ/dbt-tests engine
    surface: five named rules (two range policies, a NOT NULL, a
    positivity, and a REFERENTIAL rule — the row's order must exist in
    the finalized-orders dim) evaluated in ONE pass, emitting
    ``passed`` plus the sorted ``failed_rules`` array per row, so the
    clean branch and the per-rule quarantine diagnosis come from the
    same scan. Scale shape: the four row-local rules are pure codegen;
    the referential rule arrives as a broadcast-left-join existence
    flag BEFORE the audit (one broadcast, no shuffle of the fact), and
    NULL rule results count as failures (the SQL BETWEEN-on-NULL
    trap, handled identically in both engines via COALESCE)."""
    from cellphe_data_pipeline_spark.operators.qc_filters import (
        expectations_audit,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_extendedprice", "l_shipdate",
    )
    fin = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("_fin_key"))
        .distinct()
    )
    flagged = li.join(
        F.broadcast(fin), li["l_orderkey"] == F.col("_fin_key"), "left"
    )
    audited = expectations_audit(
        flagged,
        {
            "qty_in_range": F.col("l_quantity").between(1.0, 50.0),
            "discount_in_policy": F.col("l_discount").between(0.0, 0.08),
            "shipdate_present": F.col("l_shipdate").isNotNull(),
            "price_positive": F.col("l_extendedprice") > 0.0,
            "order_finalized": F.col("_fin_key").isNotNull(),
        },
    )
    # Registry edge: the driver's pandas canonicalizer cannot sort
    # list cells (r9 red: "unhashable type: 'list'"), so the registered
    # query serialises the sorted array to a CSV string. The library
    # operator (expectations_audit) keeps the array form — that's the
    # right type for downstream quarantine routing.
    return audited.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        F.concat_ws(",", "failed_rules").alias("failed_rules"),
        "passed",
    )


@register(
    "p16_observe_metrics",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_qty,
           CAST(SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT)
             AS disc_violations,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           CAST(COUNT(*) - SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END)
             AS BIGINT) AS clean_rows_written,
           TRUE AS ok_rescan
    FROM lineitem
    """,
)
def p16(spark, sf_dir):
    """In-flight pipeline observability (r11; qc_filters.observe_stats)
    — the r10 verdict's ask #4, and p15's audit moved INTO the job:
    ``df.observe`` metrics (row count, null count, domain violations,
    min/max) ride the SAME action that does the pipeline's real work
    (writing the clean branch to the published stage), so the QC facts
    arrive with the job instead of from a second scan. The engine
    result is built FROM the observed metrics — the driver hash against
    the oracle's relational aggregates proves the side-channel equals
    a rescan; ``clean_rows_written`` additionally ties a SECOND observe
    point (after the violation filter, counted during the write) to
    the relational complement, pinning per-plan-node placement; and
    ``ok_rescan`` re-checks observed == in-engine relational recompute
    so the query self-audits even outside the driver. AQE is ON in
    this session — the metrics survive runtime re-planning (also
    pinned by tests/test_qc.py). At 100 TB this is how a pipeline
    self-monitors: no second pass, no sampling, exact counts per run,
    with ``Observation`` wrapping the JVM QueryExecutionListener."""
    from cellphe_data_pipeline_spark.operators.qc_filters import observe_stats

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )
    observed, obs = observe_stats(
        li,
        "p16_ingest",
        {
            "n_rows": F.count(F.lit(1)),
            "null_qty": F.sum(F.col("l_quantity").isNull().cast("bigint")),
            "disc_violations": F.sum(
                (F.col("l_discount") > 0.08).cast("bigint")
            ),
            "min_qty": F.min("l_quantity"),
            "max_qty": F.max("l_quantity"),
        },
    )
    clean, clean_obs = observe_stats(
        observed.filter(F.col("l_discount") <= 0.08),
        "p16_clean",
        {"clean_rows_written": F.count(F.lit(1))},
    )
    # the job's real action: publish the clean branch; both observe
    # points populate as side-channels of this single write
    clean.write.mode("overwrite").parquet(_stage_dir("p16_clean"))
    m = obs.get
    m["clean_rows_written"] = clean_obs.get["clean_rows_written"]

    # in-engine rescan audit (one bounded row): observed == relational
    rescan = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").isNull().cast("bigint")).alias("null_qty"),
        F.sum((F.col("l_discount") > 0.08).cast("bigint")).alias(
            "disc_violations"
        ),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.sum((F.col("l_discount") <= 0.08).cast("bigint")).alias(
            "clean_rows_written"
        ),
    ).first()
    ok = all(m[k] == rescan[k] for k in m)
    return from_driver_rows(
        spark,
        [
            (
                m["n_rows"],
                m["null_qty"],
                m["disc_violations"],
                float(m["min_qty"]),
                float(m["max_qty"]),
                m["clean_rows_written"],
                ok,
            )
        ],
        "n_rows bigint, null_qty bigint, disc_violations bigint, "
        "min_qty double, max_qty double, clean_rows_written bigint, "
        "ok_rescan boolean",
    )


# plan-time setting for o12's pruned point lookup (shared with the
# plan test): the auto-bucketed-scan heuristic disables bucketed
# reading when no operator NEEDS the clustering — but bucket PRUNING
# is itself the benefit for a point lookup, so it must be forced on.
O12_BUCKET_CONFS = {
    "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
}

O12_KEYS = (17, 29, 101)  # present at every test SF


def _o12_pruned_lookup(spark, sf_dir):
    """The bucket-pruned point-lookup body of o12, shared with the
    plan test: publish customer bucketed by c_custkey, read back with
    an IN-list filter on the bucket column — the scan opens only the
    buckets the keys hash into (`SelectedBucketsCount: k out of 8`)."""
    from cellphe_data_pipeline_spark.operators.scale import (
        publish_bucketed,
        read_bucketed,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    publish_bucketed(
        cust, "o12_cust_bk", ["c_custkey"], num_buckets=8,
        path=_stage_dir("o12_cust_bk"),
    )
    return read_bucketed(spark, "o12_cust_bk").filter(
        F.col("c_custkey").isin(*O12_KEYS)
    )


@register(
    "o12_bucket_pruned_lookup",
    f"""
    SELECT c_custkey, c_mktsegment, CAST(c_acctbal AS DOUBLE) AS c_acctbal
    FROM customer WHERE c_custkey IN {O12_KEYS}
    """,
)
def o12(spark, sf_dir):
    """Bucket-pruned point lookup (r9) — the FOURTH scan-pruning
    mechanism as a driver query, completing the family: o9 prunes
    partition DIRECTORIES with a static literal, o10 prunes them at
    runtime (DPP), o11 prunes individual ROWS via a bloom filter on a
    non-layout column, and o12 prunes bucket FILES — an equality/IN
    filter on the bucket column hashes each key to its bucket and the
    scan opens only those files (`SelectedBucketsCount: k out of 8`,
    plan-gated in tests/test_scale.py). At 100 TB this is the
    point-lookup path on a bucketed fact: O(keys × corpus/buckets)
    bytes read with no index structure beyond the o8 publish
    discipline the joins already paid for. One planner trap captured
    in O12_BUCKET_CONFS + the test: the auto-bucketed-scan heuristic
    turns OFF bucketed reading when no join/agg needs the clustering,
    silently discarding the pruning — it must be forced on for
    lookup-shaped plans. Values are layout-invariant (oracle = the
    same filter on the unbucketed original); c_acctbal cast to double
    on both sides (the bucketed publish stores the parquet original's
    decimal)."""
    out = _o12_pruned_lookup(spark, sf_dir).select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
    )
    staged = _stage_dir("o12_lookup_out")
    with session_confs(spark, O12_BUCKET_CONFS):
        out.write.mode("overwrite").parquet(staged)
    return spark.read.parquet(staged)


# execution-time AQE settings under which j12's skewed join is
# materialised (shared with the plan test): thresholds scaled to the
# sf0.01 shuffle (the defaults are 256 MB-scale — correct for
# production, unreachable in a test fixture), broadcast disabled so a
# shuffle join exists at all, force= because the demo aggregates
# downstream (the extra-shuffle veto would otherwise skip the split).
J12_SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


# execution-time settings for o11's bloom-injected join (shared with
# the plan test): the application-side scan threshold defaults to
# 10 GB — correct for production (a bloom probe on a small scan costs
# more than it saves), unreachable at sf0.01 — and broadcast must be
# off because broadcast joins already filter build-side keys exactly.
O11_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _o11_bloom_join(spark, sf_dir):
    """The bloom-filtered join body of o11, shared with the plan test:
    a selective dim filter (o_totalprice > 400000 keeps ~20% of
    orders) on a NON-partition join column — static pruning (o9) and
    DPP (o10) cannot help here; the runtime bloom filter is the
    row-level third member of that family."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_returnflag"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    return li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).groupBy(
        "l_returnflag"
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "o11_bloom_filtered_join",
    """
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 400000
    GROUP BY l_returnflag
    """,
)
def o11(spark, sf_dir):
    """Runtime bloom-filter join pruning (r9) — the ROW-LEVEL third
    member of the runtime-pruning family: o9 prunes partitions with a
    static literal, o10 prunes partitions with a runtime dim
    (DynamicPruningExpression), and o11 prunes individual FACT ROWS
    when the join column is not a partition column at all — Spark
    builds a bloom filter over the filtered dim's join keys and
    injects ``might_contain(subquery, xxhash64(l_orderkey))`` into the
    fact scan's filter, so ~80% of fact rows die BEFORE the join
    shuffle instead of after it (plan-gated in tests/test_scale.py).
    At 100 TB this is the lever for selective dim filters over
    non-partition keys — the case where repartitioning the corpus is
    not an option. Like j12 the thresholds are read at optimization
    time, so the join is materialised inside the conf scope (the
    10 GB application-side default is correct for production and
    unreachable in the fixture). The oracle computes the same join
    unfiltered-by-bloom — a bloom filter has false positives but NO
    false negatives, and the join itself discards them, so values are
    invariant by construction."""
    out = _o11_bloom_join(spark, sf_dir)
    staged = _stage_dir("o11_bloom_out")
    with session_confs(spark, O11_BLOOM_CONFS):
        out.write.mode("overwrite").parquet(staged)
    return spark.read.parquet(staged)


@register(
    "j12_aqe_skew_split",
    """
    WITH sk AS (
      SELECT CASE WHEN l_orderkey % 100 < 97 THEN 0
                  ELSE l_orderkey % 100 END AS skew_key,
             l_extendedprice, l_returnflag
      FROM lineitem
    ),
    dim AS (
      SELECT DISTINCT o_orderkey % 100 AS skew_key, o_orderpriority
      FROM orders
    )
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM sk JOIN dim USING (skew_key)
    GROUP BY l_returnflag
    """,
)
def j12(spark, sf_dir):
    """AQE skew-join splitting (r9) — the RUNTIME counterpart of j8's
    manual salting: 97% of the left rows share one key, so one reducer
    would own the join. Under the skew thresholds AQE detects the hot
    reduce partition from map statistics and splits it into
    map-output-range chunks, replicating the matching dim rows per
    chunk (`AQEShuffleRead coalesced and skewed`, skew=true in the
    executed plan — asserted by tests/test_scale.py on this exact
    body). Unlike j8, no query rewrite: the logical plan is the plain
    equi-join; mitigation is physical and stat-driven. Because the
    skew confs are read at EXECUTION time, the join is materialised
    inside the conf scope to a staged parquet and the (tiny) result
    re-read — the driver's later collect must not depend on session
    state. The oracle computes the same join on the originals —
    mitigation must never change values. At 100 TB the thresholds are
    the defaults (256 MB); they are scaled here to the sf0.01 shuffle
    (~170 KB hot partition). The manual-vs-automatic trade:
    salting handles skew AQE's per-partition byte stats cannot see
    (many warm keys hashing into one partition) and is deterministic;
    AQE needs no rewrite and adapts per run."""
    li, dim = _j12_skewed_sides(spark, sf_dir)
    out = (
        li.hint("MERGE")
        .join(dim, "skew_key")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )
    staged = _stage_dir("j12_skew_out")
    with session_confs(spark, J12_SKEW_CONFS):
        out.write.mode("overwrite").parquet(staged)
    return spark.read.parquet(staged)


# execution-time settings for o13's runtime partition coalescing
# (shared with the plan test): the initial reducer count is
# deliberately oversized (the static answer for a 100-TB shuffle) and
# the advisory size makes AQE fuse the near-empty reducers at runtime.
O13_COALESCE_CONFS = {
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "256",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
}


def _o13_agg(spark, sf_dir):
    """The aggregation body of o13, shared with the plan test."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "o13_aqe_coalesced_agg",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def o13(spark, sf_dir):
    """AQE runtime partition COALESCING (r10) — the second of the two
    remaining AQE mechanisms after j12's skew split: the shuffle is
    planned with a deliberately oversized reducer count (256 — the
    static setting a 100-TB run of the same query would want), and AQE
    fuses the near-empty reduce partitions into advisory-sized ones at
    runtime from map-output statistics (`AQEShuffleRead coalesced`
    WITHOUT `skewed` in the executed plan — asserted by
    tests/test_scale.py on this exact body). This is the mechanism
    that makes one static `spark.sql.shuffle.partitions` safe across
    queries whose shuffle sizes differ by orders of magnitude — the
    static-sizing-vs-runtime-adaptation trade the reference resolves
    by retrying whole jobs with escalating resources
    (nextflow.config:8-10); AQE re-plans the stage instead. Like j12,
    the confs are read at execution time, so the agg materialises
    inside the conf scope and the (5-row) result is re-read. The
    oracle computes the same agg — coalescing must never change
    values."""
    out = _o13_agg(spark, sf_dir)
    staged = _stage_dir("o13_coalesce_out")
    with session_confs(spark, O13_COALESCE_CONFS):
        out.write.mode("overwrite").parquet(staged)
    return spark.read.parquet(staged)


# execution-time settings for j14's runtime broadcast promotion
# (shared with the plan test): the STATIC broadcast threshold is off,
# so the planner commits to a sort-merge join; the ADAPTIVE threshold
# lets DynamicJoinSelection promote it to broadcast-hash at runtime
# when the built side's ACTUAL shuffle bytes undershoot it.
J14_PROMOTE_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "10MB",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
}


def _j14_join(spark, sf_dir):
    """The join body of j14, shared with the plan test: fact × small
    dim with NO broadcast hint and no static threshold — the promotion
    must come from runtime statistics alone."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    return (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


@register(
    "j14_adaptive_broadcast_join",
    """
    SELECT s_nationkey, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
)
def j14(spark, sf_dir):
    """AQE adaptive BROADCAST PROMOTION (r10) — the runtime half of
    j1's static broadcast: the planner, denied size estimates (static
    threshold off — the position a 100-TB planner is in whenever dim
    size follows a filter it cannot estimate), commits to a sort-merge
    join; after the dim side's shuffle map stage runs, its ACTUAL
    bytes undershoot the adaptive threshold and DynamicJoinSelection
    rewrites the stage to a BroadcastHashJoin with a LOCAL shuffle
    read on the fact side (no fact-side exchange at all). The plan
    test asserts the full lifecycle: SortMergeJoin in the
    pre-execution adaptive plan, BroadcastHashJoin + AQEShuffleRead
    local in the executed one, values invariant. Together j12 (skew
    split), o13 (coalesce) and j14 (join re-selection) are the three
    AQE re-plan mechanisms a 1000-executor run leans on instead of
    static tuning. Materialised inside the conf scope (execution-time
    confs), result re-read."""
    out = _j14_join(spark, sf_dir)
    staged = _stage_dir("j14_promote_out")
    with session_confs(spark, J14_PROMOTE_CONFS):
        out.write.mode("overwrite").parquet(staged)
    return spark.read.parquet(staged)


@register(
    "t20_code_detect",
    r"""
    WITH aug AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 2 THEN
               'def f(x):' || chr(10) || '    return x * 2;' || chr(10) ||
               'import os' || chr(10) || 'int main() {' || chr(10) ||
               '    printf(x);' || chr(10) || '}' || chr(10) ||
               substring(text, 1, 40)
             ELSE text END AS text
      FROM documents
    ),
    l AS (
      SELECT doc_id, text, lower(text) AS lt, length(text) AS n_chars,
             list_filter(string_split(text, chr(10)),
                         x -> length(trim(x)) > 0) AS lines
      FROM aug
    ),
    f AS (
      SELECT doc_id,
        len(regexp_extract_all(lt,
          '\b(def|return|import|class|void|int|function|var|const|let|public|static|struct|elif|lambda|print|printf|include|fn)\b'))
          AS keyword_hits,
        len(regexp_extract_all(text, '[{}()\[\];=<>+*/|&^%#]')) AS sym,
        n_chars, len(lines) AS n_lines,
        len(list_filter(lines,
            x -> regexp_matches(x, '[;{}]\s*$')
                 OR regexp_matches(x, '^(    |\t)'))) AS n_code_lines
      FROM l
    )
    SELECT doc_id,
      CAST(keyword_hits AS BIGINT) AS keyword_hits,
      ROUND(CAST(sym AS DOUBLE) / NULLIF(n_chars, 0), 6) AS symbol_ratio,
      CAST(n_lines AS BIGINT) AS n_lines,
      ROUND(CAST(n_code_lines AS DOUBLE) / NULLIF(n_lines, 0), 6)
        AS code_line_frac,
      (CASE WHEN keyword_hits >= 2 THEN 1 ELSE 0 END
       + CASE WHEN ROUND(CAST(sym AS DOUBLE) / NULLIF(n_chars, 0), 6) >= 0.03
              THEN 1 ELSE 0 END
       + CASE WHEN ROUND(CAST(n_code_lines AS DOUBLE) / NULLIF(n_lines, 0), 6)
                   >= 0.3
              THEN 1 ELSE 0 END) >= 2 AS is_code
    FROM f
    """,
)
def t20(spark, sf_dir):
    """Code-vs-prose routing gate (r7; text.py code_detect) — the
    StarCoder/Stack-style corpus split: word-bounded keyword hits,
    bracket/operator symbol ratio, code-shaped-line fraction, combined
    by an INTEGER 2-of-3 vote (no float weighting — bit-identical
    decisions in any engine). Pure codegen expressions, zero shuffle,
    RE2-portable patterns (no lookaround). The synthetic corpus is
    all prose, so the d14 idiom applies: doc_id%10==2 docs are
    rewritten (identically in both engines) into code-dominant text,
    exercising the true branch of every signal — not just zeros."""
    from cellphe_data_pipeline_spark.operators.text import code_detect

    docs = load_table(spark, sf_dir, "documents")
    snippet = (
        "def f(x):\n    return x * 2;\nimport os\nint main() {\n"
        "    printf(x);\n}\n"
    )
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 2,
            F.concat(F.lit(snippet), F.substring(F.col("text"), 1, 40)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return code_detect(aug)


@register(
    "t6_repetition",
    r"""
    WITH lf AS (
      SELECT doc_id,
             len(ls) AS n_lines,
             CASE WHEN len(ls) > 0
                  THEN ROUND(1 - CAST(len(list_distinct(ls)) AS DOUBLE) / len(ls), 6)
                  ELSE 0.0 END AS dup_line_frac
      FROM (SELECT doc_id,
                   list_filter(string_split(text, chr(10)),
                               x -> length(trim(x)) > 0) AS ls
            FROM documents)
    ),
    toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS b
      FROM toks,
           UNNEST(CASE WHEN len(t) >= 2 THEN generate_series(1, len(t)-1)
                       ELSE [] END) AS g(i)
    ),
    bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
    bt AS (SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
           FROM bc GROUP BY doc_id)
    SELECT lf.doc_id, n_lines, dup_line_frac,
           COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac
    FROM lf LEFT JOIN bt ON lf.doc_id = bt.doc_id
    """,
)
def t6(spark, sf_dir):
    """Within-document repetition signals (text.py `repetition_features`):
    Gopher-style duplicate-line and top-bigram fractions — the curation
    gates that catch boilerplate/spam documents exact-dedup misses."""
    from cellphe_data_pipeline_spark.operators.text import repetition_features

    d = load_table(spark, sf_dir, "documents")
    return repetition_features(d)


@register(
    "c1_corpus_curation",
    r"""
    WITH q AS (
      SELECT doc_id, text,
             len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS n_tok,
             ROUND(CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))
                  AS DOUBLE) / NULLIF(length(text), 0), 6) AS punct
      FROM documents
    ),
    keep_ids AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT q.doc_id, q.n_tok
    FROM q JOIN keep_ids ON q.doc_id = keep_ids.doc_id
    WHERE q.n_tok >= 20 AND q.punct <= 0.2
    """,
)
def c1(spark, sf_dir):
    """Composed corpus curation — the training-data pipeline's daily
    query: exact-dedup keep-set ∩ quality gates (min tokens, max
    punctuation). One scan feeds both sides; the dedup keep-set join is
    a semi-join on doc_id."""
    from cellphe_data_pipeline_spark.operators.dedup import exact_dedup_groups
    from cellphe_data_pipeline_spark.operators.text import quality_features

    d = load_table(spark, sf_dir, "documents")
    q = quality_features(d)
    keep = exact_dedup_groups(d).select(F.col("keep_id").alias("doc_id"))
    return (
        q.join(keep, "doc_id", "left_semi")
        .filter((F.col("n_tokens") >= 20) & (F.col("punct_ratio") <= 0.2))
        .select("doc_id", F.col("n_tokens").alias("n_tok"))
    )


@register(
    "u5_intersect_except",
    """
    SELECT n_nationkey AS nationkey, 'both' AS side FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    UNION ALL
    SELECT n_nationkey, 'customer_only' AS side FROM (
      SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey FROM supplier
    )
    """,
)
def u5(spark, sf_dir):
    """Set ops beyond the reference (SURVEY §2.7 'absent — built-in'):
    INTERSECT / EXCEPT over nation keys."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    ).distinct()
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    ).distinct()
    return c.intersect(s).withColumn("side", F.lit("both")).unionByName(
        c.exceptAll(s).withColumn("side", F.lit("customer_only"))
    )


@register(
    "w6_rank_lead_ntile",
    """
    SELECT o_custkey, o_orderkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           LEAD(o_orderkey) OVER w AS next_order,
           NTILE(4) OVER w AS quartile
    FROM orders
    WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w6(spark, sf_dir):
    """Window surface beyond the reference (SURVEY §2.5 'absent —
    trivially available'): rank / dense_rank / lead / ntile."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@register(
    "o5_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def o5(spark, sf_dir):
    """Top-k (SURVEY §2.6 'no LIMIT anywhere — available'): global
    ordered limit with deterministic tiebreak; Spark plans it as
    TakeOrderedAndProject (no global sort materialisation)."""
    o = load_table(spark, sf_dir, "orders")
    return o.orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(10).select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "a9_rollup",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def a9(spark, sf_dir):
    """Grouping sets / rollup (SURVEY §2.4 'absent — Catalyst provides
    free'): subtotal + grand-total rows in one pass (partial aggregation
    applies per grouping set); money exact via decimal."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@register(
    "a11_cube",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def a11(spark, sf_dir):
    """CUBE grouping sets (SURVEY §2.4 'absent — Catalyst provides
    free'): all 2^k subtotal combinations in one pass — the a9 ROLLUP's
    superset, adding the per-priority-only margin. Partial aggregation
    applies per grouping set; money exact via decimal."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@register(
    "a13_group_ols",
    """
    WITH v AS (
      SELECT user_id, epoch_us(ts) AS us, CAST(value AS DOUBLE) AS y
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ), b AS (
      SELECT user_id,
             CAST(us - MIN(us) OVER (PARTITION BY user_id) AS DOUBLE)
               / 1000000.0 AS x,
             y
      FROM v
    ), a AS (
      SELECT user_id, COUNT(*) AS n_obs,
             SUM(CAST(x AS DECIMAL(24,6))) AS sx,
             SUM(CAST(y AS DECIMAL(24,6))) AS sy,
             SUM(CAST(x*x AS DECIMAL(38,12))) AS sxx,
             SUM(CAST(x*y AS DECIMAL(38,10))) AS sxy,
             SUM(CAST(y*y AS DECIMAL(38,12))) AS syy
      FROM b GROUP BY user_id
    ), c AS (
      SELECT user_id, n_obs, CAST(n_obs AS DOUBLE) AS n,
             CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
             CAST(sxx AS DOUBLE) AS sxx, CAST(sxy AS DOUBLE) AS sxy,
             CAST(syy AS DOUBLE) AS syy
      FROM a
    ), d AS (
      SELECT user_id, n_obs, n, sx, sy,
             n*sxx - sx*sx AS dx, n*syy - sy*sy AS dy, n*sxy - sx*sy AS cov
      FROM c
    )
    SELECT user_id, n_obs,
           ROUND(CASE WHEN dx > 0 THEN cov/dx END, 6) + 0.0 AS slope,
           ROUND(CASE WHEN dx > 0 THEN (sy - (cov/dx)*sx)/n END, 6) + 0.0 AS intercept,
           ROUND(CASE WHEN dx > 0 AND dy > 0 THEN (cov*cov)/(dx*dy) END, 6) + 0.0 AS r2
    FROM d
    """,
)
def a13(spark, sf_dir):
    """Per-group closed-form OLS trend of value vs elapsed-in-group
    time (r8; aggregates.group_ols) — the per-track drift statistic
    (tracking_qc.qmd per-track summaries; time_series_features.py
    [pkg] trend slot): five decimal-exact power sums per group,
    slope/intercept/R² derived in identical double arithmetic on
    both engines (the a8 idiom). x anchors at the PER-GROUP min ts
    via an unordered window in the same single shuffle (no
    join-back, no second Exchange) — the r8 review replaced the
    fixed-epoch anchor after reproducing catastrophic cancellation
    on short spans far from the epoch; NULL ts/value rows are
    excluded from the fit entirely."""
    from cellphe_data_pipeline_spark.operators.aggregates import group_ols

    ev = load_table(spark, sf_dir, "events")
    return group_ols(ev, ["user_id"], "ts", "value")


@register(
    "a14_column_profile",
    """
    WITH u AS (
      SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
      UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
      UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
      UNION ALL SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
    ),
    g AS (
      SELECT col_name, value, COUNT(*) AS cnt FROM u GROUP BY 1, 2
    )
    SELECT col_name,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(cnt) FILTER (WHERE value IS NULL), 0) AS BIGINT) AS n_null,
           COUNT(value) AS n_distinct,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(24,6)) * cnt) AS DOUBLE)
                 / CAST(SUM(CASE WHEN value IS NOT NULL THEN cnt ELSE 0 END) AS DOUBLE),
                 6) AS mean_value
    FROM g GROUP BY col_name
    """,
)
def a14(spark, sf_dir):
    """One-pass multi-column table profile (r8;
    aggregates.column_profile): per-column rows / nulls / EXACT
    distinct / min / max / decimal-exact mean over the four lineitem
    measures — the "profile before you pipeline" ingest step. The two
    100 TB idioms: unpivot melts all k columns inside ONE scan (not k
    jobs — its Expand stays fused in the scan's codegen stage), and
    exact distinct collapses through a map-side (col_name, value)
    partial aggregate so only Σ|distinct(col)| rows ever cross the
    network; min/max/null/mean ride the same pre-aggregated rows."""
    from cellphe_data_pipeline_spark.operators.aggregates import column_profile

    li = load_table(spark, sf_dir, "lineitem")
    return column_profile(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


@register(
    "a15_key_skew_profile",
    """
    WITH c AS (
      SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders
      WHERE o_custkey IS NOT NULL GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS n_keys FROM c
    )
    SELECT c.key, c.cnt,
           c.cnt * 1000000 // t.total AS share_ppm,
           CAST(CAST(c.cnt AS HUGEINT) * 1000000 * t.n_keys // t.total AS BIGINT)
             AS vs_mean_ppm
    FROM c, t
    ORDER BY c.cnt DESC, c.key ASC
    LIMIT 20
    """,
)
def a15(spark, sf_dir):
    """Key-skew / heavy-hitter profile (r8; scale.key_skew_profile)
    over the orders→customer join key: top-20 keys by row count with
    corpus share and multiple-of-mean, the diagnosis run before
    keying a 100 TB shuffle (output feeds broadcast/salt/AQE-skew
    mitigation). One combinable groupBy + distributed TakeOrdered +
    a one-row broadcast; result size is constant."""
    from cellphe_data_pipeline_spark.operators.scale import key_skew_profile

    o = load_table(spark, sf_dir, "orders")
    return key_skew_profile(o, "o_custkey", top_k=20)


@register(
    "w8_range_frame",
    """
    SELECT user_id, event_id, value,
           CAST(cnt_pm5 AS BIGINT) AS cnt_pm5,
           CAST(sum_pm5 AS DOUBLE) AS sum_pm5
    FROM (
      SELECT user_id, event_id, value,
             COUNT(*) OVER w AS cnt_pm5,
             ROUND(SUM(value) OVER w, 6) + 0.0 AS sum_pm5
      FROM events WHERE user_id < 50
      WINDOW w AS (PARTITION BY user_id ORDER BY value
                   RANGE BETWEEN 5.0 PRECEDING AND 5.0 FOLLOWING)
    ) t
    """,
)
def w8(spark, sf_dir):
    """RANGE-frame window (SURVEY §2.5 'absent — trivially available'):
    per-key VALUE-range frames (all events within ±5.0 of the current
    row's value) — the rangeBetween form the reference never needed but
    a generic engine surface must expose. One keyed window shuffle.
    Expressed as SQL window expressions because the pyspark
    ``Window.rangeBetween`` API only accepts integer offsets; the
    double-typed RANGE frame is Catalyst-native either way."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    over = (
        "OVER (PARTITION BY user_id ORDER BY value "
        "RANGE BETWEEN 5.0 PRECEDING AND 5.0 FOLLOWING)"
    )
    return ev.selectExpr(
        "user_id",
        "event_id",
        "value",
        f"COUNT(*) {over} AS cnt_pm5",
        # signed SUM through ROUND can be tiny-negative → zero-sign
        # normalization on both engines (round_z's SQL form)
        f"ROUND(SUM(value) {over}, 6) + 0.0 AS sum_pm5",
    )


def _ewma_terms(k: int = 8) -> tuple[str, str]:
    """Shared numerator/denominator SQL for the finite-horizon EWMA:
    identical text runs in Spark SQL and DuckDB (inline OVER per lag),
    so the expression trees — and with α=1/2 the arithmetic
    (binary-fraction weights: every product is an exact scaling,
    summed in fixed left-to-right order) — are bit-identical."""
    over = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    num = ["value"]
    den = ["1.0"]
    for i in range(1, k):
        w = 0.5**i
        num.append(f"COALESCE(LAG(value, {i}) {over} * {w!r}, 0.0)")
        den.append(
            f"(CASE WHEN LAG(value, {i}) {over} IS NULL THEN 0.0 ELSE {w!r} END)"
        )
    return " + ".join(num), " + ".join(den)


_EWMA_NUM, _EWMA_DEN = _ewma_terms()


@register(
    "w9_ewma",
    """
    SELECT user_id, event_id, value,
           ROUND(({num}) / ({den}), 6) + 0.0 AS ewma
    FROM events WHERE user_id < 50
    """.format(num=_EWMA_NUM, den=_EWMA_DEN),
)
def w9(spark, sf_dir):
    """Finite-horizon EWMA (r5c) — decayed trend smoothing for metric
    monitoring: α=1/2 over the last 8 observations per user, weights
    renormalised over the lags that exist (so early rows are unbiased).
    The truncated-horizon form is what makes the op ONE keyed window
    (the recursive definition needs sequential state — that's the
    streaming operators' territory); horizon error is (1-α)^8 < 0.4%.
    α=1/2 ⇒ every weight is a binary fraction: products are exact
    scalings and the fixed-order sum is bit-identical in any engine.
    All 8 lags share one window spec ⇒ one shuffle, one sort."""
    num, den = _EWMA_NUM, _EWMA_DEN
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return ev.selectExpr(
        "user_id",
        "event_id",
        "value",
        f"ROUND(({num}) / ({den}), 6) + 0.0 AS ewma",
    )


@register(
    "e13_streaming_ewma",
    """
    SELECT user_id, event_id, value,
           ROUND(({num}) / ({den}), 6) + 0.0 AS ewma
    FROM events WHERE user_id < 50
    """.format(num=_EWMA_NUM, den=_EWMA_DEN),
)
def e13(spark, sf_dir):
    """§2.11 streaming twin of w9 (r9; streaming/tracker.streaming_ewma
    — the tenth driver-verified REAL streaming runtime): the α=1/2
    8-observation finite-horizon EWMA as a python-state operator —
    per-key state carries only the trailing 7 (t, seq, value) triples,
    so the smoother chains across micro-batches at O(horizon) state
    per key. The pandas kernel accumulates numerator/denominator in
    w9's exact left-to-right lag order with binary-fraction weights,
    so every emitted double is IEEE-identical to the batch window
    expression — checked against w9's very oracle text. availableNow
    drain, append mode (one output row per input row). Multi-batch
    state chaining is pinned separately by tests/test_streaming.py
    with explicitly sequenced batches."""
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_ewma

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            F.unix_micros("ts").alias("t_us"),
            "event_id",
            "value",
        )
    )
    sink = _drain_to_memory(
        _stage_stream(ev, "e13_stream_ewma"), "e13_ewma_sink",
        streaming_ewma, "append", "e13_streaming_ewma",
    )
    return sink.select(
        "user_id", "event_id", "value", round_z(F.col("ewma"), 6).alias("ewma")
    )


@register(
    "e14_streaming_gap_fill",
    """
    WITH h AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE user_id < 50
    ),
    obs AS (
      SELECT user_id, h, CAST(SUM(v) AS DOUBLE) AS hv
      FROM h GROUP BY user_id, h
    ),
    rng AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM obs GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM rng
    )
    SELECT g.user_id, g.h AS hour_ts,
           (obs.hv IS NOT NULL) AS observed,
           last_value(obs.hv IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val_filled
    FROM grid g LEFT JOIN obs ON obs.user_id = g.user_id AND obs.h = g.h
    """,
)
def e14(spark, sf_dir):
    """§2.11 streaming twin of w10 (r9; streaming/tracker.
    streaming_gap_fill — the ELEVENTH driver-verified real streaming
    runtime): time-grid LOCF gap fill as a python-state operator.
    Where the batch form needs a grid EXPLODE plus a keyed IGNORE
    NULLS window over the whole range, the streaming form keeps three
    scalars per key (last hour, LOCF cents, seen-any) and emits each
    gap the moment a later hour closes it — output grows with the
    stream, not with history. Hourly sums ride as exact int64 CENTS
    through the kernel (one /100.0 conversion engine-side at the
    end, bit-identical to the batch decimal-sum-then-double — one
    rounding from the same rational). Checked against w10's very
    oracle text. Hour-aligned/monotone batch contract documented at
    the operator; multi-batch gap emission ACROSS slice boundaries is
    pinned by tests/test_streaming.py."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_gap_fill,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            F.unix_micros(F.date_trunc("hour", "ts")).alias("h_us"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    sink = _drain_to_memory(
        _stage_stream(ev, "e14_stream_gapfill"), "e14_gapfill_sink",
        streaming_gap_fill, "append", "e14_streaming_gap_fill",
    )
    return sink.select(
        "user_id",
        F.timestamp_micros(F.col("h_us")).alias("hour_ts"),
        "observed",
        F.when(F.col("filled"), F.col("cents") / F.lit(100.0)).alias(
            "val_filled"
        ),
    )


@register(
    "o6_limit_per_group",
    """
    SELECT lang, doc_id, n_chars FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) t WHERE rn <= 25
    """,
)
def o6(spark, sf_dir):
    """Per-group limit (aggregates.py `limit_per_group`): corpus
    balancing — keep the 25 longest docs per language, deterministic
    tiebreak."""
    from cellphe_data_pipeline_spark.operators.aggregates import limit_per_group

    d = load_table(spark, sf_dir, "documents")
    return limit_per_group(
        d, ["lang"], [F.col("n_chars").desc(), F.col("doc_id")], 25
    ).select("lang", "doc_id", "n_chars")


@register(
    "c2_chunking",
    """
    WITH n AS (
      SELECT doc_id, text,
             GREATEST(1, CAST(CEIL((length(text) - 50) / 150.0) AS INT)) AS n_chunks
      FROM documents
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           CAST(i * 150 AS BIGINT) AS chunk_start,
           substring(text, i * 150 + 1, 200) AS chunk_text
    FROM n, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
    """,
)
def c2(spark, sf_dir):
    """Overlapping document chunking (text.py `chunk_documents`):
    size=200, overlap=50 — per-chunk rows with char offsets."""
    from cellphe_data_pipeline_spark.operators.text import chunk_documents

    d = load_table(spark, sf_dir, "documents")
    return chunk_documents(d, size=200, overlap=50)


def _dedup_clusters_oracle_sql() -> str:
    """d7 oracle: the full MinHash pipeline as a CTE, then transitive
    closure via WITH RECURSIVE (fine at oracle scale — the pair graph is
    tiny), labelling each doc with the min reachable doc id."""
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(n, m) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n)
    SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """


@register("d7_dedup_clusters", _dedup_clusters_oracle_sql())
def d7(spark, sf_dir):
    """Transitive dedup clustering: MinHash near-dup pairs (d3) →
    connected components → canonical doc per cluster. The post-closure
    step a real corpus dedup needs (A~B, B~C collapse to one keep even
    when A~C was never scored); CC is the same distributed alternating-
    star as g4, so the closure is shuffle-keyed, not driver-side."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_duplicates,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(d)
    return dedup_clusters(pairs)


@register(
    "a10_pivot",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def a10(spark, sf_dir):
    """Pivot / cross-tab (SURVEY §2.4 beyond-reference surface): order
    counts by priority × status. Explicit pivot values keep the plan
    single-pass (no distinct-values pre-scan) and the output schema
    static — the form that scales, since the pivoted agg is still one
    partial-aggregated shuffle on the groupBy key."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
    )


def _session_oracle_sql(with_value: bool = False) -> str:
    """Gap-split (30-min) session oracle shared by w7 (batch
    session_window) and e12 (streaming session-window state store) —
    r8 review: e12 restated w7's chain by hand, plus a value sum."""
    vcol = ", value" if with_value else ""
    vsum = (
        ",\n           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value"
        if with_value
        else ""
    )
    return f"""
    WITH g AS (
      SELECT user_id, ts{vcol},
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT user_id, ts{vcol},
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events{vsum}
    FROM s GROUP BY user_id, sid
    """


@register(
    "w7_session_window",
    _session_oracle_sql(),
)
def w7(spark, sf_dir):
    """Native session windows in batch mode (the streaming session
    summary's groupBy twin, streaming/tracker.py:162): Spark's
    session_window merges events whose [ts, ts+30min) extents overlap —
    i.e. a NEW session starts when the gap is >= 30 min (strict
    overlap), which the oracle mirrors with the >= flag. window.end is
    last-event ts + gap by definition. One keyed shuffle; state size per
    group is bounded by the session extent, same as streaming."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "mm1_scene_cuts",
    """
    SELECT path, CAST(f AS INT) AS frame_index,
           CAST(e AS DOUBLE) AS diff_energy, c AS is_cut
    FROM (VALUES
      ('vid11.fake', 0, NULL, false),
      ('vid11.fake', 1, 0.014828, false),
      ('vid11.fake', 2, 0.01368, false),
      ('vid11.fake', 3, 0.314691, true),
      ('vid11.fake', 4, 0.015732, false),
      ('vid11.fake', 5, 0.014338, false)
    ) AS t(path, f, e, c)
    """,
)
def mm1(spark, sf_dir):
    """Video temporal curation (multimodal extension): container →
    frames (S3/S4 split) → consecutive-frame diff energy (binary-column
    lag window + Arrow kernel, media.py `frame_diff_energy`) → shot
    boundary flag at 1.5× the path's mean diff (native unordered
    window). Golden: a two-shot fixture whose only cut is frame 3."""
    from cellphe_data_pipeline_spark.domain.images import split_frames
    from cellphe_data_pipeline_spark.domain.media import frame_diff_energy, scene_cuts
    from cellphe_data_pipeline_spark.testing.fixtures import fake_video_df

    d = scene_cuts(frame_diff_energy(split_frames(fake_video_df(spark))))
    return d.withColumn("diff_energy", F.round("diff_energy", 6))


@register(
    "mm2_audio_quality",
    """
    SELECT path, CAST(w AS INT) AS window_index,
           CAST(r AS DOUBLE) AS rms, CAST(p AS DOUBLE) AS peak,
           CAST(z AS BIGINT) AS zero_crossings
    FROM (VALUES
      ('au5.fake', 0, 0.368215, 0.803864, 369),
      ('au5.fake', 1, 0.369672, 0.813171, 341),
      ('au5.fake', 2, 0.367613, 0.813171, 324),
      ('au5.fake', 3, 0.367119, 0.822357, 247),
      ('au6.fake', 0, 0.368008, 0.835083, 330),
      ('au6.fake', 1, 0.36827, 0.835083, 206)
    ) AS t(path, w, r, p, z)
    """,
)
def mm2(spark, sf_dir):
    """Audio quality-gate chain (multimodal extension, media.py): FAKA1
    clips → overlapping windows (`sample_windows` UDTF shape, short
    tails kept) → per-window RMS / peak / zero-crossings
    (`window_features`, the silence/clipping corpus gates). Golden: two
    fixture clips — 9000 samples → 4 windows (one short tail), 4500 →
    2 windows — independently cross-checked against direct numpy in
    tests/test_domain.py::test_audio_windows_and_features."""
    from cellphe_data_pipeline_spark.domain.media import sample_windows, window_features
    from cellphe_data_pipeline_spark.testing.fixtures import fake_audio_df

    d = window_features(sample_windows(fake_audio_df(spark)))
    return d.withColumn("rms", F.round("rms", 6)).withColumn("peak", F.round("peak", 6))


@register(
    "mm5_audio_resample",
    """
    SELECT path, CAST(r AS INT) AS sample_rate, CAST(n AS INT) AS n_samples,
           CAST(s AS BIGINT) AS sum_q, CAST(sq AS BIGINT) AS sumsq_q,
           CAST(fv AS INT) AS first_val, CAST(lv AS INT) AS last_val
    FROM (VALUES
      ('au5.fake', 12000, 6750, 119594, 957267465128, 1445, 3493),
      ('au6.fake', 12000, 3375, 212516, 480175411490, -1021, -18415)
    ) AS t(path, r, n, s, sq, fv, lv)
    """,
)
def mm5(spark, sf_dir):
    """Audio sample-rate normalisation (r5c, media.py resample_audio):
    INTEGER-EXACT linear-interpolation resample 16 kHz → 12 kHz (index
    and fraction as truncating integer div/mod — bit-identical on every
    engine, no float rounding ambiguity), summarised per clip by the
    exact integer fingerprint (count / int64 sum / sum-of-squares /
    first / last). Golden: the two fixture clips; the kernel is
    independently cross-checked against scalar-integer AND float numpy
    replays plus the identity-resample no-op in
    tests/test_domain.py::test_resample_audio_integer_exact_vs_numpy."""
    from cellphe_data_pipeline_spark.domain.media import audio_stats, resample_audio
    from cellphe_data_pipeline_spark.testing.fixtures import fake_audio_df

    return audio_stats(resample_audio(fake_audio_df(spark), dst_rate=12000))


@register(
    "mm3_clip_segments",
    """
    SELECT path, CAST(ci AS INT) AS clip_index,
           CAST(sf AS INT) AS start_frame, CAST(ef AS INT) AS end_frame,
           CAST(n AS BIGINT) AS n_frames, CAST(md AS DOUBLE) AS mean_diff
    FROM (VALUES
      ('vid11.fake', 0, 0, 2, 3, 0.014254),
      ('vid11.fake', 1, 3, 5, 3, 0.015035)
    ) AS t(path, ci, sf, ef, n, md)
    """,
)
def mm3(spark, sf_dir):
    """Cut-aligned clip extraction (media.py `clip_segments`): the
    video curation step after shot detection — clip_index = running cut
    count (ONE path-keyed window), per-clip span/length/mean intra-clip
    diff (cut-frame transition diffs excluded). Golden: the two-shot
    mm1 fixture splits into clips [0-2] and [3-5]."""
    from cellphe_data_pipeline_spark.domain.images import split_frames
    from cellphe_data_pipeline_spark.domain.media import (
        clip_segments,
        frame_diff_energy,
        scene_cuts,
    )
    from cellphe_data_pipeline_spark.testing.fixtures import fake_video_df

    return clip_segments(
        scene_cuts(frame_diff_energy(split_frames(fake_video_df(spark))))
    )


# =====================================================================
# Round-5b training-data extensions: substring-span dedup, TF-IDF,
# char-LM quality gate, k-means centroid training
# =====================================================================

@register(
    "d8_duplicated_spans",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, array_to_string(t[i:i+2], ' ') AS sh
      FROM toks,
           UNNEST(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2)
                       ELSE [] END) AS g(i)
    ),
    dup AS (SELECT sh FROM grams GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT g.doc_id, g.pos, g.pos + 2 AS e FROM grams g JOIN dup USING (sh)),
    fl AS (
      SELECT doc_id, pos, e,
             CASE WHEN max(e) OVER w IS NULL OR pos > max(e) OVER w
                  THEN 1 ELSE 0 END AS new_span
      FROM hits
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl AS (
      SELECT doc_id, pos, e,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM fl
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(e) AS span_end,
           MAX(e) - MIN(pos) + 1 AS span_len
    FROM isl GROUP BY doc_id, span_id
    """,
)
def d8(spark, sf_dir):
    """Exact duplicated-substring spans (r5b; Lee et al. 2022 suffix-
    array dedup re-expressed distributed): maximal token spans covered
    by word 3-grams occurring in >= 2 documents, via positioned
    shingles -> combinable cross-doc frequency -> occurrence semi-join
    -> ONE doc-keyed window interval-merge (gaps-and-islands). All-
    integer output. The reference has no corpus surface; this is the
    span-level companion to d1/d3 set-level dedup."""
    from cellphe_data_pipeline_spark.operators.dedup import duplicated_spans

    return duplicated_spans(load_table(spark, sf_dir, "documents"))


@register(
    "d16_remove_dup_spans",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, array_to_string(t[i:i+2], ' ') AS sh
      FROM toks,
           UNNEST(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2)
                       ELSE [] END) AS g(i)
    ),
    dup AS (SELECT sh FROM grams GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
    hits AS (SELECT g.doc_id, g.pos, g.pos + 2 AS e FROM grams g JOIN dup USING (sh)),
    fl AS (
      SELECT doc_id, pos, e,
             CASE WHEN max(e) OVER w IS NULL OR pos > max(e) OVER w
                  THEN 1 ELSE 0 END AS new_span
      FROM hits
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl AS (
      SELECT doc_id, pos, e,
             SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
      FROM fl
    ),
    spans AS (
      SELECT doc_id, MIN(pos) AS s, MAX(e) AS e2
      FROM isl GROUP BY doc_id, span_id
    ),
    tk AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS tok
      FROM toks, UNNEST(generate_series(1, len(t))) AS g(i)
    ),
    cov AS (
      SELECT DISTINCT tk.doc_id, tk.pos
      FROM tk JOIN spans ON tk.doc_id = spans.doc_id
                        AND tk.pos BETWEEN spans.s AND spans.e2
    ),
    kept AS (
      SELECT tk.doc_id, tk.pos, tk.tok
      FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.pos = cov.pos
      WHERE cov.pos IS NULL
    ),
    ka AS (
      SELECT doc_id, COUNT(*) AS nk,
             string_agg(tok, ' ' ORDER BY pos) AS txt
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(len(t.t) - COALESCE(ka.nk, 0) AS BIGINT) AS n_removed,
           COALESCE(ka.txt, '') AS text_clean
    FROM toks t LEFT JOIN ka ON t.doc_id = ka.doc_id
    """,
)
def d16(spark, sf_dir):
    """Duplicated-span REMOVAL (r7; dedup.py remove_duplicated_spans)
    — the fix half of d8's ExactSubstr detection (Lee et al. 2022):
    tokens covered by any cross-document duplicated span are cut and
    the survivors reassemble in order, one output row per input doc
    (the d12 contract; a fully-duplicated doc returns text_clean='').
    d8's stages + one doc-keyed token-vs-span join + one doc-keyed
    ordered re-aggregation; no document self-join anywhere."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    return remove_duplicated_spans(load_table(spark, sf_dir, "documents"))


@register(
    "t21_pmi_phrases",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                         x -> x <> '') AS t
      FROM documents
    ),
    uni AS (
      SELECT w, COUNT(*) AS n
      FROM toks, UNNEST(t) AS u(w) GROUP BY w
    ),
    tot AS (SELECT SUM(n) AS n_total FROM uni),
    bi AS (
      SELECT t[i] AS w1, t[i + 1] AS w2, COUNT(*) AS n_pair
      FROM toks,
           UNNEST(CASE WHEN len(t) >= 2 THEN generate_series(1, len(t) - 1)
                       ELSE [] END) AS g(i)
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
    )
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
           CAST(u1.n AS BIGINT) AS n_w1, CAST(u2.n AS BIGINT) AS n_w2,
           CAST(CAST(n_pair - 3 AS HUGEINT) * n_total * 1000000
                // (CAST(u1.n AS HUGEINT) * u2.n) AS BIGINT) AS score_ppm
    FROM bi
    JOIN uni u1 ON bi.w1 = u1.w
    JOIN uni u2 ON bi.w2 = u2.w
    CROSS JOIN tot
    ORDER BY score_ppm DESC, w1, w2 LIMIT 50
    """,
)
def t21(spark, sf_dir):
    """Phrase detection by corpus PMI (r7; text.py pmi_phrases;
    Mikolov 2013 §4's phrase-merge score): adjacent word pairs
    co-occurring far above chance, scored ALL-INTEGER in ppm
    ((c_ab - delta) * N * 1e6 div (c_a * c_b)) so ordering and values
    are bit-identical across engines — no float PMI logs; the
    numerator is decimal(38,0) in Spark / HUGEINT in the oracle so it
    cannot wrap at realistic corpus sizes (r8 ADVICE fix). One corpus
    token scan, two combinable vocabulary-sized groupBys, two hash
    joins against the unigram table, a lazy one-row total broadcast,
    one TakeOrdered top-k."""
    from cellphe_data_pipeline_spark.operators.text import pmi_phrases

    return pmi_phrases(load_table(spark, sf_dir, "documents"))


# Shared bare token stream for the count-min family (r8 review: t23
# and e11 restated it) — the corpus as one (tok) relation.
_CM_TOKS_CTE = r'''WITH toks AS (
      SELECT tok FROM (
        SELECT UNNEST(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents) t
      WHERE tok <> ''
    )'''


@register(
    "t23_count_min_topk",
    _CM_TOKS_CTE + r""",
    cells AS (
      SELECT r,
             ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % 256 AS c,
             COUNT(*) AS cell_n
      FROM toks, UNNEST([0, 1, 2, 3]) AS g(r)
      GROUP BY 1, 2
    ),
    top AS (
      SELECT tok, COUNT(*) AS exact_n FROM toks
      GROUP BY tok ORDER BY exact_n DESC, tok LIMIT 50
    ),
    probes AS (
      SELECT tok, exact_n, r,
             ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % 256 AS c
      FROM top, UNNEST([0, 1, 2, 3]) AS g(r)
    )
    SELECT p.tok, CAST(p.exact_n AS BIGINT) AS exact_n,
           CAST(MIN(cell_n) AS BIGINT) AS est_n
    FROM probes p JOIN cells ON cells.r = p.r AND cells.c = p.c
    GROUP BY p.tok, p.exact_n
    """,
)
def t23(spark, sf_dir):
    """Count-min sketch token-frequency estimation (r8; text.py
    count_min_heavy_hitters; Cormode 2005) — the FREQUENCY member of
    the sketch family (a7 = HLL cardinality, c12 = Bloom membership):
    4x256 exact-int64 counters built in ONE combinable groupBy over
    the token stream (the sketch is a fixed-size mergeable relation,
    not a vocabulary-sized table — shards/micro-batches sum
    cell-wise), probed by the exact top-50 vocabulary. Deterministic
    md5 bucketing ⇒ the sketch AND every estimate are bit-identical
    across engines; est_n >= exact_n structurally (min of sums each
    containing every true occurrence)."""
    from cellphe_data_pipeline_spark.operators.text import (
        count_min_heavy_hitters,
    )

    return count_min_heavy_hitters(
        load_table(spark, sf_dir, "documents"), k=50, depth=4, width=256
    )


@register(
    "t7_tfidf_topk",
    r"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
               AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
           WHERE term <> '' GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks
              WHERE term <> '' GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score
      FROM tf JOIN dfreq USING (term), n
    )
    SELECT doc_id, term, tf, df, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def t7(spark, sf_dir):
    """TF-IDF top-3 keywords per document (r5b, rational-idf variant:
    score = tf*N/df — exact-integer operands, ONE IEEE division, so the
    oracle hash is bit-exact where log-idf's libm-vs-JVM last ulp is
    not; rare-term boosting semantics preserved, damping curve differs
    and is documented in text.py). Explode -> two combinable groupBys
    -> term join -> one doc-keyed top-k window."""
    from cellphe_data_pipeline_spark.operators.text import tfidf_topk

    return tfidf_topk(load_table(spark, sf_dir, "documents"), k=3)


@register(
    "t8_charlm_gate",
    """
    WITH big AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg
      FROM documents,
           UNNEST(CASE WHEN length(text) >= 2
                       THEN generate_series(1, length(text)-1)
                       ELSE [] END) AS g(i)
    ),
    pc AS (SELECT bg, COUNT(*) AS n_pair FROM big GROUP BY bg),
    fc AS (SELECT substr(bg, 1, 1) AS c1, SUM(n_pair) AS n_first
           FROM pc GROUP BY substr(bg, 1, 1)),
    model AS (
      SELECT pc.bg, (1000 * pc.n_pair >= 50 * fc.n_first) AS is_common
      FROM pc JOIN fc ON substr(pc.bg, 1, 1) = fc.c1
    )
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN m.is_common THEN 1 ELSE 0 END) AS BIGINT)
             AS n_common,
           CAST(SUM(CASE WHEN m.is_common THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS common_frac
    FROM big b JOIN model m USING (bg)
    GROUP BY b.doc_id
    """,
)
def t8(spark, sf_dir):
    """Corpus-trained char-bigram LM quality gate (r5b; CCNet-style LM
    filtering, exp-free): docs scored by the fraction of their bigrams
    with corpus conditional frequency P(c2|c1) >= 5% (50 permille — the
    threshold that discriminates on this corpus's token alphabet). The
    threshold test is pure integer cross-multiplication; the model is
    |alphabet|^2 rows broadcast back over the same exploded stream."""
    from cellphe_data_pipeline_spark.operators.text import char_bigram_rarity

    return char_bigram_rarity(
        load_table(spark, sf_dir, "documents"), common_permille=50
    )


def _pagerank_oracle_sql(iterations: int = 3, damping_pct: int = 85) -> str:
    """DuckDB mirror of operators/graph.pagerank on the customer→
    supplier order graph: the fixed-point iteration unrolled — every
    quantity is an int64 (truncating integer division for the per-edge
    contribution and the damping), so the unordered SUMs are exact and
    the ranks bit-equal."""
    sql = """
    WITH e AS (
      SELECT DISTINCT o.o_custkey AS u, l.l_suppkey + 10000000 AS v
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_custkey <> l.l_suppkey + 10000000
    ),
    nodes AS (SELECT u AS node FROM e UNION SELECT v AS node FROM e),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    od AS (SELECT u AS node, COUNT(*) AS outdeg FROM e GROUP BY u),
    r0 AS (SELECT node, CAST(1000000 // (SELECT n FROM nn) AS BIGINT) AS rank_q
           FROM nodes)"""
    prev = "r0"
    for i in range(1, iterations + 1):
        sql += f""",
    c{i} AS (
      SELECT e.v AS node, SUM({prev}.rank_q // od.outdeg) AS s
      FROM {prev} JOIN od USING (node) JOIN e ON e.u = {prev}.node
      GROUP BY e.v
    ),
    r{i} AS (
      SELECT nodes.node,
             CAST((1000000 * {100 - damping_pct}) // (100 * (SELECT n FROM nn)) AS BIGINT)
             + (COALESCE(c{i}.s, 0) * {damping_pct}) // 100 AS rank_q
      FROM nodes LEFT JOIN c{i} USING (node)
    )"""
        prev = f"r{i}"
    # DuckDB SUM(BIGINT) yields HUGEINT (int128), which propagates into
    # the final rank_q and hash-mismatches Spark's BIGINT despite equal
    # values (round-5 driver red) — pin the oracle's output type.
    return sql + f"\n    SELECT node, CAST(rank_q AS BIGINT) AS rank_q FROM {prev}"


@register("g5_pagerank", _pagerank_oracle_sql())
def g5(spark, sf_dir):
    """Fixed-point PageRank (r5c; operators/graph.py pagerank) over the
    customer→supplier order graph — the link-authority prior web-corpus
    curation weighs sources by. Integer micro-unit arithmetic makes the
    iteration bit-exact at any partitioning (unordered int64 sums;
    truncating div for contributions and damping); per iteration: one
    combinable groupBy(dst) sum + one node-keyed join. Suppliers offset
    by 1e7 to disambiguate the two key spaces."""
    from cellphe_data_pipeline_spark.operators.graph import pagerank

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = orders.join(
        li, orders["o_orderkey"] == li["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + F.lit(10_000_000)).alias("dst"),
    )
    return pagerank(edges, iterations=3)


@register(
    "t9_zscore_outliers",
    """
    WITH s AS (
      SELECT source, SUM(n_chars) AS sm, SUM(n_chars * n_chars) AS sq,
             COUNT(*) AS n
      FROM documents GROUP BY source
    ),
    v AS (
      SELECT source, CAST(sm AS DOUBLE) / n AS mu,
             CAST(sq AS DOUBLE) / n
               - (CAST(sm AS DOUBLE) / n) * (CAST(sm AS DOUBLE) / n) AS var
      FROM s
    )
    SELECT d.doc_id, d.source,
           CASE WHEN var > 0
                THEN ROUND((d.n_chars - mu) / sqrt(var), 6) + 0.0 END AS z,
           CASE WHEN var > 0
                THEN abs((d.n_chars - mu) / sqrt(var)) > 2.0
                ELSE FALSE END AS is_outlier
    FROM documents d JOIN v USING (source)
    """,
)
def t9(spark, sf_dir):
    """Per-source statistical outlier gate (r5c) — the distribution-
    drift monitor a corpus ingest runs on every batch: z-score of doc
    length against its source's population mean/stddev. The moments
    come from EXACT int64 power sums (n_chars is integral, so sum and
    sum-of-squares are reduction-order-independent bigints — the A8
    power-sum idiom), and mean/var/z derive from them in one identical
    expression tree in both engines ⇒ bit-stable at any partitioning.
    ONE combinable groupBy (a handful of source rows) broadcast back
    over the corpus — no window, no second shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    stats = F.broadcast(
        docs.groupBy("source").agg(
            F.sum("n_chars").alias("sm"),
            F.sum(F.col("n_chars") * F.col("n_chars")).alias("sq"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    mean = F.col("sm").cast("double") / F.col("n")
    var = F.col("sq").cast("double") / F.col("n") - mean * mean
    z = (F.col("n_chars") - mean) / F.sqrt(var)
    # var==0 (constant-length source) guarded to NULL/false explicitly:
    # IEEE x/0.0 semantics differ across engines, so never emit them
    return (
        docs.join(stats, "source")
        .select(
            "doc_id",
            "source",
            F.when(var > 0, round_z(z, 6)).alias("z"),
            F.when(var > 0, F.abs(z) > 2.0).otherwise(F.lit(False)).alias("is_outlier"),
        )
    )


@register(
    "a12_group_quantiles",
    """
    SELECT source,
           ROUND(quantile_cont(n_chars, 0.25), 6) AS q25,
           ROUND(quantile_cont(n_chars, 0.5), 6) AS q50,
           ROUND(quantile_cont(n_chars, 0.75), 6) AS q75,
           ROUND(quantile_cont(n_chars, 0.95), 6) AS q95,
           COUNT(*) AS n
    FROM documents GROUP BY source
    """,
)
def a12(spark, sf_dir):
    """Per-source length-distribution profile (r5c): EXACT linear-
    interpolated quantiles (type-7, the Spark `percentile` == DuckDB
    `quantile_cont` definition) at p25/p50/p75/p95 — the distribution
    fingerprint batch-over-batch corpus monitoring diffs. Exactness
    extends A3's single exact median to a quantile VECTOR in one
    combinable aggregate; at 100 TB the same call swaps to
    percentile_approx (t-digest) — the plan shape is identical."""
    docs = load_table(spark, sf_dir, "documents")
    pct = F.percentile(F.col("n_chars"), F.lit([0.25, 0.5, 0.75, 0.95]))
    return docs.groupBy("source").agg(
        F.round(F.element_at(pct, 1), 6).alias("q25"),
        F.round(F.element_at(pct, 2), 6).alias("q50"),
        F.round(F.element_at(pct, 3), 6).alias("q75"),
        F.round(F.element_at(pct, 4), 6).alias("q95"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "a17_drift_profile",
    """
    WITH b AS (
      SELECT source, LEAST(n_chars // 64, 9) AS bucket,
             COUNT(*) FILTER ((doc_id // 20) % 2 = 0) AS c_ref,
             COUNT(*) FILTER ((doc_id // 20) % 2 = 1) AS c_cur
      FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT source,
             CAST(SUM(c_ref) AS BIGINT) AS n_ref,
             CAST(SUM(c_cur) AS BIGINT) AS n_cur
      FROM b GROUP BY source
    ),
    t AS (
      SELECT b.source, tot.n_ref, tot.n_cur,
             CAST(SUM(ABS(b.c_ref * tot.n_cur - b.c_cur * tot.n_ref))
                  AS BIGINT) AS num
      FROM b JOIN tot USING (source)
      GROUP BY b.source, tot.n_ref, tot.n_cur
    )
    SELECT source, n_ref, n_cur,
           CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
                ELSE CAST(FLOOR(1e6 * (CAST(num AS DOUBLE)
                                       / (2.0 * n_ref * n_cur))) AS BIGINT)
           END AS tvd_ppm
    FROM t
    """,
)
def a17(spark, sf_dir):
    """Snapshot DRIFT profile (r10) — the between-batches half of the
    profile family (a14 profiles ONE snapshot; production monitoring
    diffs TWO): per source, the total-variation distance between the
    length distributions of a reference slice (even doc_id) and a
    current slice (alternating (doc_id DIV 20) % 2 stripes — plain
    doc_id parity is constant per source in this testdata, ids stride
    by 20), binned into ten fixed-width buckets
    (n_chars DIV 64, capped). TVD = ½ Σ|p_b − q_b| is the drift score
    a retraining trigger thresholds on.

    Numerics follow the repo's no-transcendentals discipline (the PMI/
    log-idf precedent at t21/t7: a PSI's ln(p/q) would hash on libm's
    last ulp): the numerator Σ|c_ref·n_cur − c_cur·n_ref| is EXACT
    int64 (order-free associative integer sum; max ~3.6e14 at sf0.1,
    overflow-safe by 4 orders), and the single double division +
    FLOOR-to-ppm is the identical expression shape on both engines —
    one correctly-rounded operation each, no ROUND half-up/half-even
    edge. Plan: one groupBy(source, bucket) partial-agg then a
    source-level reduce — two map-side-combinable shuffles on a
    20-key space, scan-bound at 100 TB."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        F.expr("LEAST(n_chars DIV 64, 9)").alias("bucket"),
        (F.expr("(doc_id DIV 20) % 2") == 0).cast("long").alias("is_ref"),
    )
    b = docs.groupBy("source", "bucket").agg(
        F.sum("is_ref").alias("c_ref"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("c_cur"),
    )
    w = Window.partitionBy("source")
    t = (
        b.withColumn("n_ref", F.sum("c_ref").over(w))
        .withColumn("n_cur", F.sum("c_cur").over(w))
        .groupBy("source")
        .agg(
            F.first("n_ref").alias("n_ref"),
            F.first("n_cur").alias("n_cur"),
            F.sum(
                F.abs(
                    F.col("c_ref") * F.col("n_cur")
                    - F.col("c_cur") * F.col("n_ref")
                )
            ).alias("num"),
        )
    )
    return t.select(
        "source",
        "n_ref",
        "n_cur",
        # NULL (undefined drift) when a slice is empty — guards the
        # ANSI divide-by-zero a degenerate source would raise
        F.when(
            (F.col("n_ref") == 0) | (F.col("n_cur") == 0), F.lit(None)
        )
        .otherwise(
            F.floor(
                F.lit(1e6)
                * (
                    F.col("num").cast("double")
                    / (F.lit(2.0) * F.col("n_ref") * F.col("n_cur"))
                )
            ).cast("long")
        )
        .alias("tvd_ppm"),
    )


@register(
    "a18_profile_merge",
    """
    WITH u AS (
      SELECT 'value' AS col_name, CAST(value AS DOUBLE) AS value FROM events
      UNION ALL SELECT 'user_id', CAST(user_id AS DOUBLE) FROM events
    )
    SELECT col_name,
           COUNT(*) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_null,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
                 / CAST(COUNT(value) AS DOUBLE), 6) AS mean_value
    FROM u GROUP BY col_name
    """,
)
def a18(spark, sf_dir):
    """Algebraic profile MERGE (r10) — incremental maintenance for the
    profile family (a14 profiles one snapshot in one pass; a
    long-running ingest profiles each slice ONCE and folds): the
    events table is split into three disjoint slices, each profiled
    independently into compact mergeable partials
    (operators/aggregates.profile_partial — count/nulls/min/max/exact
    decimal sum per column), and the partials are reduced by
    merge_profiles into the whole-table profile, which the oracle
    computes DIRECTLY over the union — merge-equals-rescan is the
    whole contract, hash-checked. Exact distincts are deliberately
    excluded from the mergeable set (not algebraic from O(1) state —
    the trade is documented at the operator; HLL is the mergeable
    substitute with an error bar). At 100 TB this turns the monthly
    corpus profile into a ~rows×slices reduction of stored partials
    instead of a rescan; decimal sums are order-free so merge order
    cannot change the mean (the a8/a13 exactness idiom)."""
    from cellphe_data_pipeline_spark.operators.aggregates import (
        merge_profiles,
        profile_partial,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    slices = [
        ev.filter(F.col("user_id") < 50),
        ev.filter((F.col("user_id") >= 50) & (F.col("user_id") < 100)),
        ev.filter((F.col("user_id") >= 100) | F.col("user_id").isNull()),
    ]
    return merge_profiles(
        [profile_partial(s, ["value", "user_id"]) for s in slices]
    )


_J15_SQL = """
    WITH lhs AS (SELECT NULLIF(l_suppkey % 100, 37) AS k FROM {li}),
    sub AS (SELECT s_suppkey % 100 AS k FROM {sup} WHERE s_nationkey < 5)
    SELECT
      (SELECT COUNT(*) FROM lhs WHERE k NOT IN (SELECT k FROM sub))
        AS n_not_in,
      (SELECT COUNT(*) FROM lhs l
        WHERE NOT EXISTS (SELECT 1 FROM sub s WHERE s.k = l.k))
        AS n_not_exists,
      (SELECT COUNT(*) FROM lhs WHERE k IS NULL) AS n_null_lhs
"""


@register(
    "j15_null_aware_anti_join",
    _J15_SQL.format(li="lineitem", sup="supplier"),
)
def j15(spark, sf_dir):
    """NULL-AWARE anti join (r10) — the correctness trap every SQL
    engine must get right and the physical mechanism Spark uses for
    it: ``NOT IN (subquery)`` over a NULLABLE left key is NOT the same
    operation as ``NOT EXISTS`` — a NULL lhs compares UNKNOWN to every
    list element, so NOT IN DROPS those rows while NOT EXISTS keeps
    them. The query computes both variants plus the null-lhs count on
    the same derived nullable key (NULLIF injects the nulls) and the
    oracle hash-checks all three; the invariant n_not_exists =
    n_not_in + n_null_lhs (the list side has no nulls) and the
    physical plan — BroadcastHashJoin ... LeftAnti with the
    isNullAwareAntiJoin flag, single broadcast, no
    BroadcastNestedLoopJoin — are pinned in tests/test_scale.py. At
    100 TB the flag is the difference between a hash anti-join and
    the nested-loop disaster naive NOT-IN planning degrades to; the
    NOT EXISTS twin stays a plain LeftAnti."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    li.createOrReplaceTempView("j15_lineitem")
    sup.createOrReplaceTempView("j15_supplier")
    return spark.sql(_J15_SQL.format(li="j15_lineitem", sup="j15_supplier"))


@register(
    "e19_streaming_profile",
    """
    WITH u AS (
      SELECT 'value' AS col_name, CAST(value AS DOUBLE) AS value FROM events
      UNION ALL SELECT 'user_id', CAST(user_id AS DOUBLE) FROM events
    )
    SELECT col_name,
           COUNT(*) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_null,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
                 / CAST(COUNT(value) AS DOUBLE), 6) AS mean_value
    FROM u GROUP BY col_name
    """,
)
def e19(spark, sf_dir):
    """§2.11 streaming PROFILE (r10) — the sixteenth verified
    streaming runtime (streaming/tracker.streaming_profile): the
    a14/a18 profile family run at ingest, a complete-mode streaming
    aggregation whose ENTIRE state is one row per profiled column
    (the e11 count-min argument — state independent of stream length,
    no watermark, unbounded retention safe by construction). The
    drained sink must equal the batch profile the oracle computes
    directly (a18's very text): the a18 merge algebra — order-free
    decimal sums, foldable min/max/counts — is exactly what makes the
    streaming fold correct under any micro-batch split, and the
    multi-batch fold is pinned by tests/test_streaming.py. Closes the
    loop a18 opened: partials merge across BATCH slices there, across
    MICRO-batches here, same contract, same oracle shape."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_profile,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    sink = _drain_to_memory(
        _stage_stream(ev, "e19_stream_profile"), "e19_profile_sink",
        lambda stream: streaming_profile(stream, ["value", "user_id"]),
        "complete", "e19_streaming_profile",
    )
    return sink.select(
        "col_name", "n_rows", "n_null", "min_value", "max_value", "mean_value"
    )


_A16_QS = (0.5, 0.9, 0.99)
_A16_ACCURACY = 100  # deliberately coarse: eps = 1/100 rank error


@register(
    "a16_approx_quantile_audit",
    """
    SELECT source,
           COUNT(*) AS n,
           ROUND(quantile_cont(n_chars, 0.5), 6) AS q50,
           ROUND(quantile_cont(n_chars, 0.9), 6) AS q90,
           ROUND(quantile_cont(n_chars, 0.99), 6) AS q99,
           TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99
    FROM documents GROUP BY source
    """,
)
def a16(spark, sf_dir):
    """Approximate-percentile ACCURACY AUDIT (r10) — the 100-TB twin of
    a12's exact quantile profile, with the accuracy claim itself under
    the oracle. At scale the exact `percentile` (which buffers every
    group value) gives way to `percentile_approx` (Greenwald-Khanna
    sketch: bounded memory, combinable partials, rank error at most
    eps = 1/accuracy); a production profile must MEASURE that the
    sketch honours its bound before trusting it — the same shape as
    v11/d17's recall audits.

    One pass computes both estimators per group plus the group size;
    a second conditional-count pass over the base table (joined to the
    broadcast one-row-per-group sketch output) derives each approx
    value's true rank interval (count <, count <=). The emitted
    ok_p{50,90,99} booleans assert the GK theorem's rank window —
    |rank(approx)/n - q| <= eps, with a +-1-row slack for the
    boundary-rounding convention — so the oracle's literal TRUE is a
    THEOREM the driver re-checks against the sketch's actual output,
    while the exact quantiles are value-matched against DuckDB
    quantile_cont (the type-7 == Spark `percentile` pair a12
    established). Measured errors at sf0.01/sf0.1 in SCALE.md; the
    audit plan is 2 scans + 1 broadcast join — no shuffle of the base
    table beyond the two group-bys."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    qs = list(_A16_QS)
    eps = 1.0 / _A16_ACCURACY
    exact = F.percentile(F.col("n_chars"), F.lit(qs))
    approx = F.percentile_approx(F.col("n_chars"), F.lit(qs), F.lit(_A16_ACCURACY))
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        exact.alias("_exact"),
        approx.alias("_approx"),
    )
    joined = docs.join(F.broadcast(agg), "source")
    rank_aggs = []
    for i in range(len(qs)):
        av = F.element_at("_approx", i + 1)
        rank_aggs.append(
            F.sum((F.col("n_chars") < av).cast("long")).alias(f"_lt{i}")
        )
        rank_aggs.append(
            F.sum((F.col("n_chars") <= av).cast("long")).alias(f"_le{i}")
        )
    audit = joined.groupBy("source").agg(
        F.first("n").alias("n"),
        F.first("_exact").alias("_exact"),
        *rank_aggs,
    )
    cols = [F.col("source"), F.col("n")]
    for i, q in enumerate(qs):
        cols.append(
            F.round(F.element_at("_exact", i + 1), 6).alias(
                f"q{int(q * 100)}"
            )
        )
    for i, q in enumerate(qs):
        # the approx value v occupies ranks (lt, le]; GK guarantees some
        # rank within [(q-eps)n, (q+eps)n]; +-1 row absorbs the
        # floor/ceil convention at the window edges
        ok = (F.col(f"_le{i}") >= (q - eps) * F.col("n") - F.lit(1)) & (
            F.col(f"_lt{i}") + F.lit(1) <= (q + eps) * F.col("n") + F.lit(1)
        )
        cols.append(ok.alias(f"ok_p{int(q * 100)}"))
    return audit.select(*cols)


@register(
    "m3e_kalman_tracking",
    """
    SELECT tl AS timelapse_id, CAST(s AS BIGINT) AS src,
           CAST(d AS BIGINT) AS dst, CAST(g AS INT) AS gap,
           CAST(dist AS DOUBLE) AS dist
    FROM (VALUES
      ('tl', 1, 2, 0, 10.0), ('tl', 2, 3, 0, 0.0),
      ('tl', 3, 4, 0, 0.0), ('tl', 4, 5, 0, 0.0),
      ('tl', 11, 12, 0, 10.0), ('tl', 12, 13, 0, 0.0),
      ('tl', 13, 14, 0, 0.0), ('tl', 14, 15, 0, 0.0)
    ) AS t(tl, s, d, g, dist)
    """,
)
def m3e(spark, sf_dir):
    """M3 KALMAN tracker option (r5c; tracking.py method="kalman" —
    TrackMate's Kalman family, README.md:152-160, lite): constant-
    velocity point prediction before the greedy gate+assign. Golden:
    the crossing-cells fixture where raw nearest-distance greedy SWAPS
    the two identities at the crossing frame (each end is closer to
    the other cell's next detection) while the velocity-predicted
    positions land EXACTLY on the true continuations (dist 0.0 from
    the second link on — visible in the golden). The greedy-vs-kalman
    divergence is pinned in
    tests/test_domain.py::test_kalman_tracking_keeps_identities_through_crossing."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections
    from cellphe_data_pipeline_spark.testing.fixtures import crossing_detections_df

    return track_detections(
        crossing_detections_df(spark),
        linking_max_distance=15.0,
        max_frame_gap=0,
        method="kalman",
    )


@register(
    "m3d_overlap_tracking",
    """
    SELECT path, CAST(f AS INT) AS frame_index, CAST(s AS INT) AS src_mask,
           CAST(d AS INT) AS dst_mask, CAST(iou AS DOUBLE) AS iou
    FROM (VALUES
      ('tl.fake', 0, 1, 1, 0.76),
      ('tl.fake', 0, 2, 2, 0.574713),
      ('tl.fake', 0, 3, 4, 0.752809),
      ('tl.fake', 0, 4, 5, 0.876543),
      ('tl.fake', 1, 1, 1, 0.72),
      ('tl.fake', 1, 2, 2, 0.775281),
      ('tl.fake', 1, 3, 3, 0.662921),
      ('tl.fake', 1, 4, 4, 0.739726),
      ('tl.fake', 1, 5, 5, 0.864198),
      ('tl.fake', 2, 1, 1, 0.72),
      ('tl.fake', 2, 2, 2, 0.584416),
      ('tl.fake', 2, 3, 3, 0.666667),
      ('tl.fake', 2, 4, 4, 0.490909),
      ('tl.fake', 2, 5, 5, 0.865854)
    ) AS t(path, f, s, d, iou)
    """,
)
def m3d(spark, sf_dir):
    """M3 OVERLAP tracker option (r5c; tracking.py overlap_links) — the
    reference's IoU-based tracker (track_images.py tracker menu,
    README.md:152-160) expressed FULLY RELATIONALLY: mask pixels
    (images.mask_pixels) equi-joined across consecutive frames on
    (path, px, py), combinable intersection/area counts, mutual-argmax
    1-1 linking. Unlike the centroid trackers (sequential per-timelapse
    kernel by nature), overlap linking is pure joins — no per-key state
    at any scale. Golden: 4-frame fixture chain (note labels DRIFT:
    frame-0 masks 3→4, 4→5 — the raster-order relabeling that makes
    tracking necessary); cross-checked against a python IoU replay in
    tests/test_domain.py::test_overlap_links_match_python_iou."""
    from cellphe_data_pipeline_spark.domain.images import (
        decode_segment_centroid,
        make_fake_timelapse,
        mask_pixels,
    )
    from cellphe_data_pipeline_spark.domain.tracking import overlap_links

    bins = from_driver_rows(
        spark,
        [("tl.fake", make_fake_timelapse(seed=101, height=48, width=48, n_frames=4))],
        "path string, content binary",
    )
    masks = decode_segment_centroid(bins).select(
        "path", "frame_index", "height", "width", "mask"
    )
    return overlap_links(mask_pixels(masks), iou_threshold=0.1)


@register(
    "u6_union_by_name",
    """
    SELECT doc_id, lang, CAST(n_chars AS INT) AS n_chars, source
    FROM (
      SELECT doc_id, lang, n_chars, NULL AS source
      FROM documents WHERE doc_id < 100
      UNION ALL BY NAME
      SELECT source, lang, doc_id, n_chars
      FROM documents WHERE doc_id >= 400
    ) t
    """,
)
def u6(spark, sf_dir):
    """Schema-evolution union (r5c): two ingest batches whose columns
    arrive in DIFFERENT order, one missing a column entirely — the
    daily reality of long-lived corpus ingestion. unionByName with
    allowMissingColumns aligns by NAME (positional union would silently
    mix doc_id into source — the classic corruption) and nulls the
    absent column; DuckDB's UNION ALL BY NAME is the oracle twin."""
    docs = load_table(spark, sf_dir, "documents")
    old_batch = docs.filter(F.col("doc_id") < 100).select(
        "doc_id", "lang", "n_chars"
    )  # pre-evolution schema: no source column
    new_batch = docs.filter(F.col("doc_id") >= 400).select(
        "source", "lang", "doc_id", "n_chars"
    )  # evolved schema, shuffled column order
    return old_batch.unionByName(new_batch, allowMissingColumns=True).select(
        "doc_id", "lang", F.col("n_chars").cast("int").alias("n_chars"), "source"
    )


@register(
    "c9_split_manifest",
    """
    SELECT doc_id, source,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
    FROM (
      SELECT doc_id, source,
             ('0x' || substring(md5('split1-' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS b
      FROM documents
    ) t
    """,
)
def c9(spark, sf_dir):
    """Deterministic train/val/test split manifest (r5c): 80/10/10 by
    seeded md5 bucket — the same document lands in the same split on
    every run, engine, and scale (RNG splits don't survive re-runs or
    backfills; leakage via re-assignment is a real eval bug). Zero
    shuffle, pure codegen; the seed string versions the split."""
    from cellphe_data_pipeline_spark.functions.scalars import portable_hash64

    docs = load_table(spark, sf_dir, "documents")
    b = portable_hash64(F.col("doc_id").cast("string"), seed="split1-") % 10000
    return docs.select(
        "doc_id",
        "source",
        F.when(b < 8000, "train").when(b < 9000, "val").otherwise("test").alias("split"),
    )


@register(
    "j11_spatial_nn_join",
    """
    WITH pts AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS x,
             CAST(user_id AS DOUBLE) AS y
      FROM events
    ),
    pr AS (SELECT * FROM pts WHERE event_id % 20 = 0),
    pairs AS (
      SELECT p.event_type, p.event_id,
             b.event_id AS neighbor_id,
             (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y) AS d2
      FROM pr p JOIN pts b
        ON p.event_type = b.event_type AND p.event_id <> b.event_id
      WHERE (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y) <= 625.0
    )
    SELECT event_type, event_id, neighbor_id, d2 AS dist2 FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, event_id
                                   ORDER BY d2, neighbor_id) AS rn
      FROM pairs
    ) t WHERE rn = 1
    """,
)
def j11(spark, sf_dir):
    """Radius-bounded spatial nearest-neighbor join (r5c; joins.py
    nearest_neighbor_join) — J7's grid pattern pointed at argmin: each
    probe (every 20th event) matched to its closest same-type point
    within radius 25 via 9-cell explode + hash equi-join + ONE
    combinable min(struct); the oracle is the quadratic theta-join
    formulation the plan never executes."""
    from cellphe_data_pipeline_spark.operators.joins import nearest_neighbor_join

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        "event_type",
        F.col("value").alias("x"),
        F.col("user_id").cast("double").alias("y"),
    )
    return nearest_neighbor_join(
        pts.filter(F.col("event_id") % 20 == 0),
        pts,
        "event_type",
        "x",
        "y",
        "event_id",
        radius=25.0,
    )


@register(
    "t10_normalize_mojibake",
    """
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0 THEN ' cafÃ© â€™quoteâ€™'
                          WHEN doc_id % 5 = 0 THEN ' “smart” – dash… done'
                          ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           (contains(text, 'Ã') OR contains(text, 'â€')
            OR contains(text, 'Â°') OR contains(text, 'Â ')) AS has_mojibake,
           replace(replace(replace(replace(replace(replace(replace(replace(
             text, '‘', ''''), '’', ''''), '“', '"'), '”', '"'),
             '–', '-'), '—', '-'), '…', '...'), ' ', ' ') AS normalized,
           md5(replace(replace(replace(replace(replace(replace(replace(replace(
             text, '‘', ''''), '’', ''''), '“', '"'), '”', '"'),
             '–', '-'), '—', '-'), '…', '...'), ' ', ' ')) AS norm_hash
    FROM aug
    """,
)
def t10(spark, sf_dir):
    """Unicode hygiene (r5c; text.py normalize_text): mojibake flagging
    (UTF-8-as-Latin-1 tell-tales, substring contains — portable, no
    regex-flavor drift) + typographic→ASCII normalisation with an md5
    key for normalised exact-dedup. The synthetic corpus is clean
    ASCII, so deterministic positive cases are INJECTED identically in
    both engines (doc_id%7 mojibake, doc_id%5 typographic) — the
    detection and rewrite paths are both exercised, not vacuously
    false. Pure codegen chain, zero shuffle."""
    from cellphe_data_pipeline_spark.operators.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" cafÃ© â€™quoteâ€™"))
            .when(F.col("doc_id") % 5 == 0, F.lit(" “smart” – dash… done"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return normalize_text(aug)


@register(
    "t11_vocab_oov",
    r"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')),
                                 ' ')) AS tok
      FROM documents
    ),
    tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    counts AS (SELECT tok, COUNT(*) AS n FROM tk GROUP BY tok),
    vocab AS (SELECT tok FROM counts ORDER BY n DESC, tok ASC LIMIT 100)
    SELECT t.doc_id, COUNT(*) AS n_tokens,
           COUNT(*) FILTER (WHERE v.tok IS NULL) AS n_oov,
           ROUND(CAST(COUNT(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate
    FROM tk t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def t11(spark, sf_dir):
    """Corpus vocabulary + per-doc OOV rate (r6; text.py vocab_oov):
    top-100 tokens by corpus frequency (ties by token text —
    deterministic in any engine), then each doc scored by the fraction
    of its token occurrences outside the vocabulary — the
    tokenizer-prep / wrong-language gate. One combinable token count,
    TakeOrdered vocabulary, broadcast membership join, ONE doc-keyed
    shuffle."""
    from cellphe_data_pipeline_spark.operators.text import vocab_oov

    return vocab_oov(load_table(spark, sf_dir, "documents"), vocab_size=100)


def _html_clean_ctes(extra_cols: str = "", doc_rel: str = "documents") -> str:
    """The t13 HTML→text CTE list aug→stripped→tagless→cleanrel,
    ending in ``cleanrel(doc_id[, extra], n_tags, text_clean)`` —
    shared by the t13 oracle and the composed c24 pipeline oracle
    (one canonical text, the r8 lesson). ``extra_cols`` (e.g.
    ``", source"``) is threaded through every stage so payload
    columns survive without a join-back — the SQL twin of the
    operators' ``keep_cols``. ``doc_rel`` redirects the input
    relation (c24 reads its duplicate-injected base corpus)."""
    return (
        r"""aug AS (
      SELECT doc_id{X},
             CASE WHEN doc_id % 3 = 0 THEN
               '<html><head><style>p{color:red}</style>'
               || '<script type="text/javascript">var x=1;<!--x--></script>'
               || '</head><body><p class="a">' || text
               || '</p><br/>&amp; &lt;b&gt;&nbsp;&quot;q&quot;&#39;</body></html>'
             WHEN doc_id % 5 = 0 THEN
               '<div id="main">' || text || '</div><!-- footer\ncomment -->'
             ELSE text END AS text
      FROM documents
    ),
    stripped AS (
      SELECT doc_id{X},
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(COALESCE(text, ''),
               '(?is)<script\b(?:[^>"'']|"[^"]*"|''[^'']*'')*>.*?</script\s*>', ' ', 'g'),
               '(?is)<style\b(?:[^>"'']|"[^"]*"|''[^'']*'')*>.*?</style\s*>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
               '(?is)<script\b(?:[^>"'']|"[^"]*"|''[^'']*'')*>.*$', ' ', 'g'),
               '(?is)<style\b(?:[^>"'']|"[^"]*"|''[^'']*'')*>.*$', ' ', 'g') AS t
      FROM aug
    ),
    tagless AS (
      SELECT doc_id{X},
             CAST(len(string_split_regex(t,
               '</?[a-zA-Z!](?:[^>"'']|"[^"]*"|''[^'']*'')*>')) - 1
                  AS BIGINT) AS n_tags,
             regexp_replace(t,
               '</?[a-zA-Z!](?:[^>"'']|"[^"]*"|''[^'']*'')*>', ' ', 'g') AS t
      FROM stripped
    ),
    cleanrel AS (
      SELECT doc_id{X}, n_tags,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(replace(t,
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
               '\s+', ' ', 'g')) AS text_clean
      FROM tagless
    )"""
    ).replace("{X}", extra_cols).replace("FROM documents", "FROM " + doc_rel)


@register(
    "t13_html_to_text",
    "\n    WITH "
    + _html_clean_ctes()
    + "\n    SELECT doc_id, n_tags, text_clean FROM cleanrel\n    ",
)
def t13(spark, sf_dir):
    """HTML → text extraction (r6; text.py html_to_text) — the WET-file
    step a crawl corpus starts from: script/style/comment elements
    dropped wholesale, tags stripped to spaces, core entities decoded
    AFTER stripping, whitespace collapsed; n_tags is the was-this-HTML
    router signal. The synthetic corpus is plain text, so HTML wrappers
    (with style/script bodies, attributes, entities, a multiline
    comment) are injected identically in both engines — doc_id%3 the
    full-document shape, doc_id%5 the fragment shape, the rest pass
    through untouched (n_tags 0). Zero shuffle, pure codegen."""
    from cellphe_data_pipeline_spark.operators.text import html_to_text

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(
                    '<html><head><style>p{color:red}</style>'
                    '<script type="text/javascript">var x=1;<!--x--></script>'
                    '</head><body><p class="a">'
                ),
                F.col("text"),
                F.lit('</p><br/>&amp; &lt;b&gt;&nbsp;&quot;q&quot;&#39;</body></html>'),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit('<div id="main">'),
                F.col("text"),
                F.lit("</div><!-- footer\ncomment -->"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return html_to_text(aug)


@register(
    "d12_line_dedup",
    r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    docs_l AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0 THEN
               list_concat(
                 list_transform(
                   generate_series(0, CAST(ceil(len(t)/8.0) AS INT) - 1),
                   i -> array_to_string(t[i*8+1 : i*8+8], ' ')),
                 ['cookie banner accept terms'])
             ELSE
               list_transform(
                 generate_series(0, CAST(ceil(len(t)/8.0) AS INT) - 1),
                 i -> array_to_string(t[i*8+1 : i*8+8], ' '))
             END AS lines
      FROM toks
    ),
    ln AS (
      SELECT doc_id, i - 1 AS pos, lines[i] AS line
      FROM docs_l, UNNEST(generate_series(1, len(lines))) AS g(i)
      WHERE lines[i] <> ''
    ),
    freq AS (
      SELECT md5(line) AS h FROM ln GROUP BY md5(line)
      HAVING COUNT(*) >= 3
    ),
    agg AS (
      SELECT ln.doc_id, COUNT(*) AS n_lines,
             CAST(SUM(CASE WHEN f.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
             COALESCE(array_to_string(
               array_agg(line ORDER BY pos) FILTER (WHERE f.h IS NULL),
               chr(10)), '') AS text_clean
      FROM ln LEFT JOIN freq f ON md5(ln.line) = f.h
      GROUP BY ln.doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.n_lines, 0) AS n_lines,
           COALESCE(a.n_dropped, 0) AS n_dropped,
           COALESCE(a.text_clean, '') AS text_clean
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
)
def d12(spark, sf_dir):
    """C4-style line-level dedup (r6; dedup.py drop_common_lines;
    Raffel et al. 2020 §2.2): any line occurring >= 3 times in the
    corpus is dropped from every document — the boilerplate killer
    (nav bars, cookie banners) that doc-pair dedup (d3) and span
    detection (d8) both miss. Docs are lined deterministically (8
    tokens per line, identical list-slicing in both engines) and a
    known boilerplate line is appended to doc_id%4 docs so the common
    path fires ~125 times; surviving lines rejoin in original order.
    One combinable line-hash count + one hash join + one doc-keyed
    re-aggregation."""
    from cellphe_data_pipeline_spark.operators.dedup import drop_common_lines

    from cellphe_data_pipeline_spark.operators.text import _doc_token_array

    docs = load_table(spark, sf_dir, "documents")
    toks = _doc_token_array("text")
    nl = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    base_lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
    )
    lined = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(base_lines, F.array(F.lit("cookie banner accept terms"))),
        )
        .otherwise(base_lines)
        .alias("lines"),
    )
    return drop_common_lines(lined, min_count=3)


@register(
    "w10_gap_fill",
    """
    WITH h AS (
      SELECT user_id, date_trunc('hour', ts) AS h,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events WHERE user_id < 50
    ),
    obs AS (
      SELECT user_id, h, CAST(SUM(v) AS DOUBLE) AS hv
      FROM h GROUP BY user_id, h
    ),
    rng AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM obs GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM rng
    )
    SELECT g.user_id, g.h AS hour_ts,
           (obs.hv IS NOT NULL) AS observed,
           last_value(obs.hv IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS val_filled
    FROM grid g LEFT JOIN obs ON obs.user_id = g.user_id AND obs.h = g.h
    """,
)
def w10(spark, sf_dir):
    """Time-grid gap fill with LOCF (r5c) — the regularisation step
    before any per-entity time-series model: per user, a dense hourly
    grid from first to last observation (F.sequence — codegen, no UDF),
    hourly sums (decimal-exact, the e1 idiom — an unordered double SUM
    would be reduction-order-unstable), missing hours carried forward
    with last-observation (one keyed window, IGNORE NULLS). Shapes: two
    combinable groupBys + a grid explode proportional to the OUTPUT +
    one keyed window — never a per-entity driver loop."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    hours = ev.select(
        "user_id",
        F.date_trunc("hour", "ts").alias("h"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    obs = hours.groupBy("user_id", "h").agg(F.sum("v").cast("double").alias("hv"))
    rng = obs.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = rng.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h"),
    )
    w = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return grid.join(obs, ["user_id", "h"], "left").select(
        "user_id",
        F.col("h").alias("hour_ts"),
        F.col("hv").isNotNull().alias("observed"),
        F.last("hv", ignorenulls=True).over(w).alias("val_filled"),
    )


@register(
    "v10_int8_per_dim",
    """
    WITH e AS (
      SELECT vec_id, CAST(u.pos AS INT) AS pos, CAST(u.x AS DOUBLE) AS x
      FROM (
        SELECT vec_id,
               unnest(list_transform(CAST(embedding AS DOUBLE[]),
                                     (v, i) -> {'pos': i - 1, 'x': v})) AS u
        FROM embeddings
      ) t
    ),
    s AS (SELECT pos, MAX(abs(x)) / 127.0 AS scale FROM e GROUP BY pos)
    SELECT e.vec_id, e.pos, s.scale,
           CAST(CASE WHEN s.scale = 0 THEN 0
                     ELSE floor(e.x / s.scale + 0.5) END AS INT) AS qv
    FROM e JOIN s USING (pos)
    """,
)
def v10(spark, sf_dir):
    """Per-dimension int8 quantization (r5c; similarity.py
    quantize_int8_per_dim) — channel-wise SQ8: corpus-max per
    coordinate sets each dimension's scale, so anisotropic embeddings
    keep resolution everywhere (v5's per-vector scale does not). ONE
    combinable MAX groupBy (dim rows) broadcast back; MAX is
    reduction-order-exact, the half-up floor matches the oracle
    bit-for-bit."""
    from cellphe_data_pipeline_spark.operators.similarity import quantize_int8_per_dim

    return quantize_int8_per_dim(load_table(spark, sf_dir, "embeddings"))


@register(
    "c8_mixture_rebalance",
    """
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT MIN(n) AS min_n FROM c),
    r AS (
      SELECT lang,
             LEAST(10000, (m.min_n * 10000) // c.n) AS rate_bp
      FROM c, m
    )
    SELECT d.doc_id, d.source, d.lang, r.rate_bp
    FROM documents d JOIN r USING (lang)
    WHERE ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          % 10000 < r.rate_bp
    """,
)
def c8(spark, sf_dir):
    """Data-driven mixture rebalancing (r5c; text.py mixture_rebalance):
    every LANGUAGE downsampled toward the smallest language's size (the
    corpus is en-heavy ~3.5:1 — the real multi-source skew case; the
    `source` column is uniform by construction, which would gate
    nothing) — rates are exact integer basis points
    ((min_n*10000) div n), the gate is the portable md5 bucket (c4's
    idiom), so the kept set is bit-identical anywhere. ONE tiny
    combinable count aggregate broadcast back; the corpus never
    shuffles."""
    from cellphe_data_pipeline_spark.operators.text import mixture_rebalance

    docs = load_table(spark, sf_dir, "documents")
    return mixture_rebalance(docs, "doc_id", "lang").select(
        "doc_id", "source", "lang", "rate_bp"
    )


@register(
    "v8_kmeans_train",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id AS cluster_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id IN
            (SELECT DISTINCT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)),
    d AS (
      SELECT e.vec_id, c.cluster_id, e.v,
             list_dot_product(list_transform(e.v, (x, i) -> x - c.cv[i]),
                              list_transform(e.v, (x, i) -> x - c.cv[i])) AS dist
      FROM e, c
    ),
    a AS (
      SELECT vec_id, cluster_id, v,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster_id) AS rn
      FROM d
    ),
    parts AS (
      SELECT cluster_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xq
      FROM a, UNNEST(generate_series(1, len(v))) AS g(i)
      WHERE rn = 1
    )
    SELECT cluster_id, dim,
           CAST(SUM(xq) AS DOUBLE) / COUNT(*) / 1000000.0 AS centroid_val,
           COUNT(*) AS n_members
    FROM parts GROUP BY cluster_id, dim
    """,
)
def v8(spark, sf_dir):
    """Distributed Lloyd k-means iteration for IVF centroid TRAINING
    (r5b): deterministic k-lowest-id seeds, broadcast-k map-side
    assignment (sequential (a-b)^2 fold == DuckDB's list_dot_product of
    the diff vector), FIXED-POINT centroid update (components half-up
    rounded to the 1e-6 grid, summed exactly as int64 — the v5
    quantization idiom — so the unordered SUM is bit-exact in any
    engine at any partitioning). Closes the ivf_topk training loop;
    multi-iteration convergence is numpy-oracle-tested."""
    from cellphe_data_pipeline_spark.operators.similarity import kmeans_lloyd

    return kmeans_lloyd(
        load_table(spark, sf_dir, "embeddings"), k=8, iterations=1
    )


def _pq_oracle_sql(
    dim: int = EMB_DIM,
    m_subs: int = 4,
    n_codes: int = 8,
    n_queries: int = 10,
    k: int = 5,
    train_pred: str = "TRUE",
    query_pred: str | None = None,
) -> str:
    """DuckDB mirror of pq_topk: identical subvector slices, the v8
    fixed-point Lloyd iteration replayed per subspace, identical
    sequential diff-square folds (list_dot_product of the diff vector)
    and identical 1e-6-grid LUT rounding — so codes, LUT entries and
    the exact-bigint ADC sums are bit-equal, and the row_number ties
    break identically. ``train_pred`` restricts the TRAINING slice
    (r9: v15 trains on the base 90% and encodes everything — the v14
    incremental-lifecycle parameterisation); ``query_pred`` selects
    the probes (default: the n_queries lowest ids)."""
    return _pq_cte_chain(
        dim, m_subs, n_codes, n_queries, train_pred, query_pred
    ) + f"""
    SELECT CAST(vec_id AS INT) AS vec_id,
           CAST(neighbor_id AS INT) AS neighbor_id,
           CAST(adc_q AS BIGINT) AS adc_q,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT qid AS vec_id, neighbor_id, adc_q,
             row_number() OVER (PARTITION BY qid ORDER BY adc_q, neighbor_id) AS rank
      FROM sc
    ) r WHERE rank <= {k}
    """


def _pq_cte_chain(
    dim: int = EMB_DIM,
    m_subs: int = 4,
    n_codes: int = 8,
    n_queries: int = 10,
    train_pred: str = "TRUE",
    query_pred: str | None = None,
) -> str:
    """The PQ oracle's CTE chain (train → encode → LUT → ADC scores
    in ``sc``), split out of :func:`_pq_oracle_sql` (r10, byte-
    identical composition — v9/v15's oracle texts are unchanged) so
    v17's recall audit can rank and join against the same scores."""
    sub = dim // m_subs
    if query_pred is None:
        query_pred = f"sub.vec_id < {n_queries}"
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sub AS (
      SELECT vec_id, CAST(m AS INT) AS m,
             v[(m*{sub}+1):((m+1)*{sub})] AS sv
      FROM e, UNNEST(generate_series(0, {m_subs - 1})) AS g(m)
    ),
    subt AS (SELECT * FROM sub WHERE {train_pred}),
    seeds AS (SELECT m, vec_id AS code, sv AS cv FROM subt WHERE vec_id IN
                (SELECT DISTINCT vec_id FROM subt ORDER BY vec_id LIMIT {n_codes})),
    a1 AS (
      SELECT sub.vec_id, sub.m, sub.sv, s.code,
             list_dot_product(list_transform(sub.sv, (x, i) -> x - s.cv[i]),
                              list_transform(sub.sv, (x, i) -> x - s.cv[i])) AS dist
      FROM subt sub JOIN seeds s ON sub.m = s.m
    ),
    asg AS (
      SELECT vec_id, m, sv, code,
             row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
      FROM a1
    ),
    parts AS (
      SELECT m, code, i AS dim,
             CAST(floor(sv[i] * 1000000 + 0.5) AS BIGINT) AS xq
      FROM asg, UNNEST(generate_series(1, len(sv))) AS g(i)
      WHERE rn = 1
    ),
    cb1 AS (
      SELECT m, code, dim,
             CAST(SUM(xq) AS DOUBLE) / COUNT(*) / 1000000.0 AS cval
      FROM parts GROUP BY m, code, dim
    ),
    cb AS (SELECT m, code, list(cval ORDER BY dim) AS cv FROM cb1 GROUP BY m, code),
    enc1 AS (
      SELECT sub.vec_id, sub.m, cb.code,
             list_dot_product(list_transform(sub.sv, (x, i) -> x - cb.cv[i]),
                              list_transform(sub.sv, (x, i) -> x - cb.cv[i])) AS dist
      FROM sub JOIN cb ON sub.m = cb.m
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
        FROM enc1) t WHERE rn = 1
    ),
    lut AS (
      SELECT sub.vec_id AS qid, sub.m, cb.code,
             CAST(floor(list_dot_product(list_transform(sub.sv, (x, i) -> x - cb.cv[i]),
                                         list_transform(sub.sv, (x, i) -> x - cb.cv[i]))
                        * 1000000 + 0.5) AS BIGINT) AS dq
      FROM sub JOIN cb ON sub.m = cb.m
      WHERE {query_pred}
    ),
    sc AS (
      SELECT l.qid, enc.vec_id AS neighbor_id, SUM(l.dq) AS adc_q
      FROM enc JOIN lut l ON enc.m = l.m AND enc.code = l.code
      WHERE l.qid <> enc.vec_id
      GROUP BY l.qid, enc.vec_id
    )"""


def _pq_recall_oracle_sql(n_queries: int = 10, k: int = 5) -> str:
    """DuckDB mirror of v17: the PQ chain's ADC top-k against the
    exact L2 top-k on the same probes, joined into per-query recall
    (the v11 ppm idiom). Exact distances use the identical
    list_dot_product diff-square fold the PQ chain itself uses."""
    return _pq_cte_chain(n_queries=n_queries) + f""",
    q AS (SELECT vec_id, v FROM e WHERE vec_id < {n_queries}),
    exact_k AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT q.vec_id, t.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_dot_product(
                            list_transform(q.v, (x, i) -> x - t.v[i]),
                            list_transform(q.v, (x, i) -> x - t.v[i])), 5) + 0.0,
                          t.vec_id) AS rank
        FROM q JOIN e t ON q.vec_id <> t.vec_id
      ) WHERE rank <= {k}
    ),
    pqk AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT qid AS vec_id, neighbor_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY adc_q, neighbor_id) AS rank
        FROM sc
      ) t WHERE rank <= {k}
    ),
    hits AS (
      SELECT e2.vec_id, COUNT(p.neighbor_id) AS n_hit
      FROM exact_k e2 LEFT JOIN pqk p
        ON p.vec_id = e2.vec_id AND p.neighbor_id = e2.neighbor_id
      GROUP BY e2.vec_id
    ),
    base AS (SELECT vec_id, COUNT(*) AS n_exact FROM exact_k GROUP BY vec_id)
    SELECT CAST(b.vec_id AS BIGINT) AS vec_id, b.n_exact, h.n_hit,
           CAST(h.n_hit * 1000000 AS BIGINT) // b.n_exact AS recall_ppm
    FROM base b JOIN hits h USING (vec_id)
    """


@register("v9_pq_topk", _pq_oracle_sql())
def v9(spark, sf_dir):
    """Product-quantization ADC kNN (r5c; similarity.py pq_topk) — the
    compressed-index ANN scale path: vectors stored as m_subs one-byte
    codes (64x cut at dim=64), codebook trained in-engine with one
    fixed-point Lloyd iteration per subspace (v8's bit-exact idiom),
    queries scored via a broadcast distance LUT + ONE combinable
    bigint-SUM groupBy. Recall vs exact kNN is property-tested in
    tests/test_dedup_text_similarity.py."""
    from cellphe_data_pipeline_spark.operators.similarity import pq_topk

    return pq_topk(load_table(spark, sf_dir, "embeddings"), dim=EMB_DIM)


@register("v17_pq_recall_audit", _pq_recall_oracle_sql())
def v17(spark, sf_dir):
    """PQ recall audit (r10) — completes the per-family ANN quality
    story (v11 audits SRP, v16 curves IVF, v17 audits the COMPRESSED
    index): recall@5 of v9's ADC top-k against the exact top-5 in
    PQ's own metric — squared L2, not cosine (ADC approximates
    subspace L2; auditing against cosine truth would conflate metric
    mismatch with quantization loss). Exact side ranks by the same
    sequential diff-square fold the PQ chain uses
    (similarity.l2_topk_bruteforce — broadcast probes, corpus
    streams); recall emitted per query in integer-exact ppm (the v11
    idiom). This is the number that sizes m_subs/n_codes: PQ trades
    64x storage for exactly the recall this query measures, and a
    production deployment re-runs it on a probe sample after every
    codebook retrain (the v15 lifecycle's acceptance gate)."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        l2_topk_bruteforce,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = l2_topk_bruteforce(emb, k=5, queries=probes).select(
        "vec_id", "neighbor_id"
    )
    pq = pq_topk(emb, dim=EMB_DIM).select(
        F.col("vec_id").alias("pvec"), F.col("neighbor_id").alias("pnb")
    )
    return (
        exact.join(
            pq,
            (exact["vec_id"] == F.col("pvec"))
            & (exact["neighbor_id"] == F.col("pnb")),
            "left",
        )
        .groupBy(exact["vec_id"].cast("long").alias("vec_id"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("pnb").alias("n_hit"),
        )
        .select(
            "vec_id",
            "n_exact",
            "n_hit",
            F.expr("CAST(n_hit * 1000000 AS BIGINT) div n_exact").alias(
                "recall_ppm"
            ),
        )
    )


def _stage_dir(name: str) -> str:
    """Bounded staging dir for the edge-I/O golden queries: one fixed
    directory per query name, wiped and recreated per invocation —
    repeated verify/bench loops reuse the same path instead of leaking
    a fresh mkdtemp each run. (Deletion-on-return would break the LAZY
    plan, which reads the files only when the driver evaluates.)"""
    import shutil
    import tempfile
    import os

    d = os.path.join(tempfile.gettempdir(), "cellphe_stage", name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


@register(
    "s1_glob_scan",
    """
    SELECT fname, CAST(length AS BIGINT) AS length, magic_hex
    FROM (VALUES
      ('a_0001.tiff', 64, '49492A00'),
      ('a_0002.tiff', 128, '49492A00')
    ) AS t(fname, length, magic_hex)
    """,
)
def s1(spark, sf_dir):
    """S1 driver-checked (r5b; was pytest-only because it 'needs fs'):
    a temp directory staged with two .tiff files (TIFF-II magic +
    deterministic padding) and one .txt decoy, scanned via the
    binaryFile source with pathGlobFilter pushdown (domain/images.py
    scan_images; reference glob main.nf:100-141). The golden pins glob
    selection, length metadata, and content access (magic bytes); the
    decoy proves the filter reaches the listing."""
    import os

    from cellphe_data_pipeline_spark.domain.images import scan_images

    d = _stage_dir("s1_scan")
    for fname, size in (("a_0001.tiff", 64), ("a_0002.tiff", 128)):
        with open(os.path.join(d, fname), "wb") as f:
            body = b"II*\x00" + bytes((i % 251 for i in range(size - 4)))
            f.write(body)
    with open(os.path.join(d, "notes.txt"), "w") as f:
        f.write("not an image")
    return scan_images(spark, d, "*.tiff").select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length"),
        F.hex(F.expr("substring(content, 1, 4)")).alias("magic_hex"),
    )


@register(
    "s6_s7_csv_roundtrip",
    """
    SELECT CAST(id AS INT) AS id, name, CAST(val AS DOUBLE) AS val
    FROM (VALUES (1, 'alpha', 1.5), (2, 'beta', -2.25), (3, NULL, 0.0))
      AS t(id, name, val)
    """,
)
def s6_s7(spark, sf_dir):
    """S6+S7 driver-checked (r5b; was pytest-only): headered CSV sink →
    explicit-schema source round-trip through real files (sources/io.py
    read_csv/write_csv — no inference pass), unioned with the S7
    schema-safe empty relation (empty_with_schema + unionByName, the
    reference's header-only empty CSV, frame_features_image.py:72-78).
    Values chosen to round-trip doubles exactly (binary fractions)."""
    from pyspark.sql import types as T

    from cellphe_data_pipeline_spark.sources.io import (
        empty_with_schema,
        read_csv,
        write_csv,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("name", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    df = from_driver_rows(
        spark, [(1, "alpha", 1.5), (2, "beta", -2.25), (3, None, 0.0)], schema
    )
    d = _stage_dir("s6_csv") + "/out"
    write_csv(df, d)
    return read_csv(spark, d, schema).unionByName(empty_with_schema(spark, schema))


@register(
    "s13_config_roundtrip",
    """
    SELECT key, value_json FROM (VALUES
      ('frames_glob', '"*.tiff"'),
      ('min_cell_size', '50'),
      ('tracking', '{"gap": 4, "split": true}')
    ) AS t(key, value_json)
    """,
)
def s13(spark, sf_dir):
    """S13 driver-checked (r5b; was pytest-only): JSON config sink →
    source round-trip through real files (sources/io.py write_config/
    read_config — the reference's params-file contract, main.nf:3-10 +
    save_*_config provenance snapshots, main.nf:57-89), re-emitted as
    sorted (key, canonical-json-value) rows."""
    import json

    from cellphe_data_pipeline_spark.sources.io import read_config, write_config

    cfg = {
        "frames_glob": "*.tiff",
        "min_cell_size": 50,
        "tracking": {"gap": 4, "split": True},
    }
    d = _stage_dir("s13_cfg") + "/cfg"
    write_config(spark, cfg, d)
    back = read_config(spark, d)
    rows = [
        (k, json.dumps(back[k], sort_keys=True, separators=(", ", ": ")))
        for k in sorted(back)
    ]
    return from_driver_rows(spark, rows, "key string, value_json string")


@register(
    "s11_png_mask_sink",
    """
    SELECT CAST(frame_index AS INT) AS frame_index, CAST(h AS INT) AS height,
           CAST(w AS INT) AS width, CAST(s AS BIGINT) AS px_sum,
           CAST(nz AS BIGINT) AS n_nonzero, CAST(mx AS INT) AS px_max
    FROM (VALUES (0, 4, 5, 20, 9, 3)) AS t(frame_index, h, w, s, nz, mx)
    """,
)
def s11(spark, sf_dir):
    """S11 driver-checked (r5b; was pytest-only): a literal uint16 label
    mask through the dependency-free 16-bit grayscale PNG encoder
    (domain/images.py mask_to_png — the reference's exact mask format,
    main.nf:157) and back through an independent in-query decode
    (signature check, IDAT inflate, filter-0 unfilter), emitting pixel
    stats the golden pins. Spec conformance (CRCs, IHDR fields) is
    separately pytest-verified."""
    import struct
    import zlib

    import numpy as np
    import pandas as pd

    from cellphe_data_pipeline_spark.domain.images import mask_to_png

    mask = np.array(
        [
            [0, 0, 1, 1, 0],
            [0, 2, 2, 0, 0],
            [3, 3, 0, 0, 0],
            [0, 3, 3, 2, 0],
        ],
        dtype=np.uint16,
    )
    masks = from_driver_rows(
        spark,
        [("m.fake", 0, 4, 5, mask.tobytes())],
        "path string, frame_index int, height int, width int, mask binary",
    )
    pngs = mask_to_png(masks)

    def decode(batches):
        for pdf in batches:
            out = []
            for _, r in pdf.iterrows():
                blob = bytes(r["png"])
                assert blob[:8] == b"\x89PNG\r\n\x1a\n"
                pos, idat, dims = 8, b"", None
                while pos < len(blob):
                    (size,) = struct.unpack(">I", blob[pos : pos + 4])
                    ctype = blob[pos + 4 : pos + 8]
                    data = blob[pos + 8 : pos + 8 + size]
                    if ctype == b"IHDR":
                        w, h = struct.unpack(">II", data[:8])
                        dims = (h, w)
                    elif ctype == b"IDAT":
                        idat += data
                    pos += 12 + size
                h, w = dims
                raw = zlib.decompress(idat)
                stride = w * 2 + 1
                px = np.stack(
                    [
                        np.frombuffer(
                            raw[y * stride + 1 : (y + 1) * stride], dtype=">u2"
                        ).astype(np.int64)
                        for y in range(h)
                    ]
                )
                out.append(
                    {
                        "frame_index": int(r["frame_index"]),
                        "height": h,
                        "width": w,
                        "px_sum": int(px.sum()),
                        "n_nonzero": int((px > 0).sum()),
                        "px_max": int(px.max()),
                    }
                )
            yield pd.DataFrame(out)

    return pngs.mapInPandas(
        decode,
        "frame_index int, height int, width int, px_sum bigint, "
        "n_nonzero bigint, px_max int",
    )


@register(
    "m1b_otsu_segmentation",
    """
    SELECT path, CAST(fi AS INT) AS frame_index, CAST(mask_id AS INT) AS mask_id,
           CAST(n AS BIGINT) AS n
    FROM (VALUES
      ('bimodal.fake', 0, 0, 352),
      ('bimodal.fake', 0, 1, 20),
      ('bimodal.fake', 0, 2, 28)
    ) AS t(path, fi, mask_id, n)
    """,
)
def m1b(spark, sf_dir):
    """M1 REAL classical kernel (r5b): Otsu auto-threshold + run-based
    union-find labeling (decode_segment_centroid method="otsu",
    domain/images.py) on a hand-derivable bimodal fixture — background
    10, two planted 200-valued blobs of 4x5=20 and 4x7=28 px, scan
    order fixing labels 1 and 2. The golden is computed BY HAND from
    the fixture (Otsu must land between the modes), so it is an
    independent oracle, unlike goldens regenerated from the engine.
    Labeling ≡ pixel-BFS is separately property-tested."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import (
        decode_segment_centroid,
        encode_fake_container,
        mask_label_histogram,
    )

    img = np.full((20, 20), 10, dtype=np.uint8)
    img[2:6, 3:8] = 200
    img[10:14, 10:17] = 200
    bins = from_driver_rows(
        spark,
        [("bimodal.fake", encode_fake_container(img))],
        "path string, content binary",
    )
    return mask_label_histogram(
        decode_segment_centroid(bins, method="otsu").select(
            "path", "frame_index", "height", "width", "mask"
        )
    )


@register(
    "s14_lines_source",
    """
    SELECT value FROM (VALUES ('frame_0001.tiff'), ('frame_0002.tiff'),
                              ('frame_0003.tiff')) AS t(value)
    """,
)
def s14(spark, sf_dir):
    """S14 driver-checked (r5b): newline list -> trimmed rows
    (sources/io.py read_lines — the reference's stdout-lines channel,
    main.nf:425-434), including whitespace-padded and blank-free trim
    behaviour."""
    import os

    from cellphe_data_pipeline_spark.sources.io import read_lines

    d = _stage_dir("s14_lines")
    p = os.path.join(d, "files.txt")
    with open(p, "w") as f:
        f.write("frame_0001.tiff\n  frame_0002.tiff\nframe_0003.tiff  \n")
    return read_lines(spark, p)


@register(
    "s15_publish_roundtrip",
    """
    SELECT part, CAST(id AS INT) AS id, CAST(v AS DOUBLE) AS v
    FROM (VALUES ('a', 1, 0.5), ('a', 2, 1.25), ('b', 3, -4.0))
      AS t(part, id, v)
    """,
)
def s15(spark, sf_dir):
    """S15 driver-checked (r5b): the published-dir sink round-trip —
    `publish` (sources/io.py, the reference's publishDir/-resume stage
    cut) writes partitioned Parquet to a temp stage dir and the query
    re-reads it, proving the cut point is a faithful re-readable
    relation including the partition column."""
    from cellphe_data_pipeline_spark.sources.io import publish

    df = from_driver_rows(
        spark,
        [("a", 1, 0.5), ("a", 2, 1.25), ("b", 3, -4.0)],
        "part string, id int, v double",
    )
    d = _stage_dir("s15_pub") + "/stage"
    publish(df, d, partition_by=("part",))
    return spark.read.parquet(d).select("part", "id", "v")


@register(
    "s9_s10_roi_zip_roundtrip",
    """
    SELECT group_key, CAST(n_rois AS INT) AS n_rois, name,
           CAST(pos AS INT) AS pos, CAST(px AS INT) AS px, CAST(py AS INT) AS py
    FROM (VALUES
      ('f1', 2, '00001-00001', 0, 0, 0),
      ('f1', 2, '00001-00001', 1, 2, 1),
      ('f1', 2, '00001-00001', 2, 3, 4),
      ('f1', 2, '00001-00002', 0, 5, 5),
      ('f1', 2, '00001-00002', 1, 6, 7),
      ('f2', 1, '00002-00001', 0, 9, 0),
      ('f2', 1, '00002-00001', 1, 8, 2)
    ) AS t(group_key, n_rois, name, pos, px, py)
    """,
)
def s9_s10(spark, sf_dir):
    """S9/S10/S12 driver-checked round-trip (r5b; was pytest-only): a
    deterministic ROI table packed into one zip archive per group
    (rois_to_zip — applyInPandas, one archive per frame group,
    main.nf:376-390) and unpacked back to (name, coords) rows
    (rois_from_zip), coordinates re-exploded with positions. The golden
    pins the container/entry layout and the int32-LE vertex payload
    end-to-end through real zipfile bytes."""
    from cellphe_data_pipeline_spark.domain.rois import rois_from_zip, rois_to_zip

    rows = [
        ("f1", "00001-00001", [(0, 0), (2, 1), (3, 4)]),
        ("f1", "00001-00002", [(5, 5), (6, 7)]),
        ("f2", "00002-00001", [(9, 0), (8, 2)]),
    ]
    df = from_driver_rows(
        spark,
        [(g, n, [{"x": x, "y": y} for x, y in pts]) for g, n, pts in rows],
        "frame string, ROI_filename string, coords array<struct<x:int,y:int>>",
    )
    packed = rois_to_zip(df, group_col="frame")
    unpacked = rois_from_zip(packed)
    return unpacked.select(
        "group_key",
        "n_rois",
        "name",
        F.posexplode("coords").alias("pos", "_pt"),
    ).select(
        "group_key", "n_rois", "name", "pos",
        F.col("_pt.x").alias("px"), F.col("_pt.y").alias("py"),
    )


def _minhash_bands_only_sql(num_hashes: int = 16, band_size: int = 4) -> str:
    """The mins+bands prefix of the MinHash oracle, projected as
    (doc_id, band, band_key) — the signature layer alone."""
    hcols = ",\n             ".join(
        f"MIN(('0x' || substring(md5('g{s // 4}' || sh), {1 + 8 * (s % 4)}, 8))::BIGINT)"
        f" AS h{s}"
        for s in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    cases = " ".join(
        "WHEN {b} THEN {expr}".format(
            b=b,
            expr=" + ".join(
                f"h{b * band_size + i}*{i + 1}" for i in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    bands_list = ", ".join(str(b) for b in range(n_bands))
    return f"""
    WITH {SHINGLE_CTE},
    mins AS (
      SELECT doc_id,
             {hcols}
      FROM sh GROUP BY doc_id
    )
    SELECT doc_id, CAST(b AS INT) AS band,
           CAST(CASE b {cases} END AS BIGINT) AS band_key
    FROM mins, UNNEST([{bands_list}]) AS bb(b)
    """


@register("d3b_minhash_expr_bands", _minhash_bands_only_sql())
def d3b(spark, sf_dir):
    """Stateless EXPRESSION-form MinHash signatures (r5b; r8: the
    STAGED-projection shape, dedup.minhash_band_key_rows): the same
    (doc_id, band, band_key) rows as the groupBy signature path,
    computed with ZERO shuffle per doc — the form the streaming source
    uses (streaming_minhash_neardup). The staged selects keep the
    interpreted HOF path from re-evaluating inlined sub-expressions
    (~13s at sf0.1 vs ~150s for one monolithic Column), and the batch
    groupBy form (d3) remains ~5x faster again — see
    minhash_band_key_rows's docstring. This query pins
    staged-expression ≡ SQL oracle equality for the whole hash family
    (staged ≡ groupBy is pinned by test)."""
    from cellphe_data_pipeline_spark.operators.dedup import minhash_band_key_rows

    d = load_table(spark, sf_dir, "documents")
    return minhash_band_key_rows(d)


def _lsh_recall_oracle_sql() -> str:
    """d17: exact-Jaccard truth (d5 shape) LEFT JOIN the LSH band
    candidates (d3b shape), both over the same capped slice, rolled
    up per threshold."""
    capped_shingles = SHINGLE_CTE.replace(
        "FROM documents", f"FROM documents WHERE doc_id < {D5_DOC_CAP}"
    )
    capped_bands = _minhash_bands_only_sql().replace(
        "FROM documents", f"FROM documents WHERE doc_id < {D5_DOC_CAP}"
    )
    return f"""
    WITH truth AS (
      WITH {capped_shingles},
      inter AS (
        SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS ni
        FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
        GROUP BY 1, 2
      ),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
      SELECT i.doc_a, i.doc_b,
             ROUND(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.2
    ),
    cand AS (
      WITH bands AS ({capped_bands})
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    ),
    m AS (
      SELECT t.jaccard,
             CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM truth t
      LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT CAST(th AS DOUBLE) AS threshold,
           COUNT(*) AS n_true_pairs,
           CAST(SUM(hit) AS BIGINT) AS n_lsh_hits,
           CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
    FROM m, UNNEST([0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]) AS t(th)
    WHERE m.jaccard >= CAST(th AS DOUBLE)
    GROUP BY 1
    """


@register("d17_lsh_recall", _lsh_recall_oracle_sql())
def d17(spark, sf_dir):
    """MinHash-LSH RECALL audit (r8) — the dedup twin of v11's ANN
    recall harness, closing the "measure, don't guess" loop for the
    near-dup family: exact all-pairs Jaccard ground truth on a capped
    audit slice (d5's quadratic baseline, affordable by construction)
    left-joined with the production LSH candidate pairs (d3's 16-hash
    4-band signature), rolled up to recall ppm per Jaccard threshold.
    This is how a 100 TB run validates its banding config: recall is
    estimated on a bounded sample slice with the EXACT same signature
    expressions the full-corpus pass uses, so a band/width change
    shows up as a measured recall delta (the S-curve: low-similarity
    pairs are missed by design, 0.8+ pairs must approach 1e6 ppm).
    Truth inclusion filters RAW jaccard >= 0.2 and thresholds compare
    the ROUNDED value in BOTH engines (the d14 rounding lesson)."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        cut_lineage,
        lsh_candidate_pairs,
        minhash_band_keys,
        pairwise_jaccard,
        word_shingles,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < D5_DOC_CAP
    )
    # shingles feed BOTH the exact truth (3 scans) and the signature —
    # same multi-consumer cut as minhash_near_duplicates
    sh = cut_lineage(word_shingles(d), eager=False, name="recall_shingles")
    truth = pairwise_jaccard(sh, threshold=0.2)
    cand = lsh_candidate_pairs(minhash_band_keys(sh), dedup=True)
    marked = truth.join(
        cand.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).select("jaccard", F.coalesce("hit", F.lit(0)).alias("hit"))
    thresholds = [0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]
    return (
        marked.withColumn(
            "threshold", F.explode(F.array(*[F.lit(t) for t in thresholds]))
        )
        .filter(F.col("jaccard") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.sum("hit").alias("n_lsh_hits"),
        )
        .withColumn(
            "recall_ppm", F.expr("n_lsh_hits * 1000000L DIV n_true_pairs")
        )
    )


@register(
    "c6_epoch_shuffle",
    """
    WITH e AS (
      SELECT doc_id, CAST(epoch AS INT) AS epoch
      FROM documents, UNNEST([1, 2]) AS t(epoch)
    ),
    h AS (
      SELECT doc_id, epoch,
             md5('s17' || '-' || epoch || '-' || doc_id) AS h
      FROM e
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, epoch,
           row_number() OVER (ORDER BY epoch, h, doc_id) AS global_pos,
           row_number() OVER (ORDER BY epoch, h, doc_id)
             - (epoch - 1) * n.n_docs AS epoch_pos
    FROM h, n
    """,
)
def c6(spark, sf_dir):
    """Deterministic multi-epoch training-order shuffle (r5b): each
    epoch is a reproducible md5-keyed permutation of the corpus with
    explicit global/within-epoch positions — the shuffled-shard
    manifest a trainer reads (restart-safe: epoch 2 is the same epoch 2
    after resume, unlike RNG .sample/.orderBy(rand())). The ordering is
    W4's two-pass global numbering (range repartition + partition
    offsets), never a single-partition row_number window — the oracle's
    OVER (ORDER BY ...) is exactly the shape the operator avoids."""
    from cellphe_data_pipeline_spark.operators.text import epoch_shuffle

    return epoch_shuffle(
        load_table(spark, sf_dir, "documents"), epochs=2, seed=17
    )


@register(
    "c7_incremental_upsert",
    """
    WITH hist AS (SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16'),
    base AS (
      SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM hist) t WHERE rn = 1
    ),
    chg AS (
      SELECT user_id, event_id, ts, event_type, value,
             (event_type = 'error') AS is_delete
      FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    ),
    u AS (
      SELECT user_id, event_id, ts, event_type, value,
             FALSE AS is_delete, 0 AS src FROM base
      UNION ALL
      SELECT user_id, event_id, ts, event_type, value, is_delete, 1 FROM chg
    ),
    w AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY src DESC, ts DESC, event_id DESC) AS rn
      FROM u
    )
    SELECT user_id, event_id AS last_event_id, ts AS last_ts,
           event_type AS last_type, value AS last_value
    FROM w WHERE rn = 1 AND NOT is_delete
    """,
)
def c7(spark, sf_dir):
    """Incremental latest-wins upsert merge (r5c; operators/cdc.py) —
    the MERGE INTO / SCD-1 maintenance step of an incremental corpus
    ingest: a keyed base snapshot (here the collapsed pre-cutoff event
    state) folds in an op log (post-cutoff events; 'error' rows act as
    delete tombstones) via ONE union + ONE key-window — a single
    |B|+|C| shuffle, no join, no point lookups. With the base bucketed
    on the key only the change log moves."""
    from cellphe_data_pipeline_spark.operators.cdc import collapse_log, merge_upsert

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    cutoff = F.lit("2024-01-16").cast("timestamp")
    base = collapse_log(ev.filter(F.col("ts") < cutoff), ["user_id"], ["ts", "event_id"])
    changes = ev.filter(F.col("ts") >= cutoff).withColumn(
        "is_delete", F.col("event_type") == "error"
    )
    out = merge_upsert(base, changes, ["user_id"], ["ts", "event_id"])
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


@register(
    "t14_url_dedup",
    r"""
    WITH urls AS (
      SELECT doc_id,
        CASE WHEN doc_id % 11 = 0 THEN 'not a url ' || doc_id
             WHEN doc_id % 4 = 0 THEN
               'HTTPS://WWW.Example' || (doc_id % 7) || '.com:443/path/'
               || (doc_id % 50) || '/?utm_source=x&b=2&a=1#frag'
             WHEN doc_id % 4 = 1 THEN
               'https://example' || (doc_id % 7) || '.com/path/'
               || (doc_id % 50) || '?a=1&b=2'
             WHEN doc_id % 4 = 2 THEN
               'http://Example' || (doc_id % 7) || '.com:80/path/'
               || (doc_id % 50) || '/'
             ELSE
               'https://example' || (doc_id % 7) || '.com/path/'
               || (doc_id % 50) || '?b=2&a=1&fbclid=zz&ref=tw'
        END AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS rawq
      FROM parts_src
    ),
    canon AS (
      SELECT doc_id,
        CASE WHEN scheme <> '' THEN
          scheme || '://' ||
          (CASE WHEN scheme = 'http' THEN regexp_replace(regexp_replace(hostport, '^www\.', ''), ':80$', '')
                WHEN scheme = 'https' THEN regexp_replace(regexp_replace(hostport, '^www\.', ''), ':443$', '')
                ELSE regexp_replace(hostport, '^www\.', '') END) ||
          regexp_replace(path0, '/$', '') ||
          (CASE WHEN q <> '' THEN '?' || q ELSE '' END)
        END AS url_canonical
      FROM (
        SELECT *,
          array_to_string(
            list_sort(list_filter(string_split(rawq, '&'),
              p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)'))),
            '&') AS q
        FROM parts)
    )
    SELECT doc_id, url_canonical,
      CASE WHEN url_canonical IS NULL THEN TRUE
           ELSE doc_id = min(doc_id) OVER (PARTITION BY url_canonical) END AS keep,
      CAST(CASE WHEN url_canonical IS NULL THEN 1
                ELSE count(*) OVER (PARTITION BY url_canonical) END AS BIGINT) AS n_group
    FROM canon
    """.replace("FROM parts_src", "FROM urls"),
)
def t14(spark, sf_dir):
    """Canonical-URL dedup (r7; text.py normalize_urls/url_dedup) —
    the RefinedWeb stage-1 recipe: the same page crawled under case,
    www, default-port, tracking-param, param-order, fragment and
    trailing-slash variants collapses to ONE canonical key; dedup is a
    single window shuffle on that key. The synthetic corpus has no URL
    column, so messy variants are injected identically in both engines
    from doc_id (the t13 HTML-injection pattern): four surface forms
    per (host, path) group plus a malformed shape (doc_id%11) that
    must canonicalise to NULL and never merge. Normalisation itself is
    zero-shuffle pure codegen — at 100 TB it runs at parquet-scan
    speed in map tasks."""
    from cellphe_data_pipeline_spark.operators.text import url_dedup

    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id") % 7
    p = F.col("doc_id") % 50
    urls = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.lit("not a url "), F.col("doc_id"))
        )
        .when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTPS://WWW.Example"), k, F.lit(".com:443/path/"),
                p, F.lit("/?utm_source=x&b=2&a=1#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("https://example"), k, F.lit(".com/path/"), p, F.lit("?a=1&b=2")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("http://Example"), k, F.lit(".com:80/path/"), p, F.lit("/")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example"), k, F.lit(".com/path/"),
                p, F.lit("?b=2&a=1&fbclid=zz&ref=tw"),
            )
        )
        .alias("url"),
    )
    return url_dedup(urls).select("doc_id", "url_canonical", "keep", "n_group")


@register(
    "c10_dsir_importance",
    r"""
    WITH toks AS (
      SELECT doc_id, is_tgt, tok FROM (
        SELECT doc_id, (lang = 'en' AND source = 'src0') AS is_tgt,
               UNNEST(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
      ) t WHERE tok <> ''
    ),
    bucketed AS (
      SELECT doc_id, is_tgt,
             ('0x' || substring(md5(tok), 1, 8))::BIGINT % 1024 AS bucket
      FROM toks
    ),
    counts AS (
      SELECT bucket, COUNT(*) AS raw_n,
             SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_n
      FROM bucketed GROUP BY bucket
    ),
    weights AS (
      SELECT bucket,
             CAST((tgt_n + 1) * 1000000 AS BIGINT) // CAST(raw_n + 1 AS BIGINT) AS w_ppm
      FROM counts
    )
    SELECT b.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(w.w_ppm) AS BIGINT) // COUNT(*) AS dsir_ppm
    FROM bucketed b JOIN weights w USING (bucket)
    GROUP BY b.doc_id
    """,
)
def c10(spark, sf_dir):
    """DSIR importance weights (r7; text.py dsir_importance) — hashed
    bag-of-token importance scoring for data selection (Xie et al.,
    NeurIPS 2023), with the target slice = English docs from src0.
    Engine-exact integer form (count-ratio ppm, mean per token; the
    corpus-constant totals term dropped — that drop is
    rank-preserving, the count-ratio-for-log swap is a documented
    scoring deviation, see the operator docstring). ONE combinable bucket groupBy (raw + target
    counted in the same pass), a 1024-row BROADCAST join back, one
    doc-keyed shuffle. All-bigint arithmetic — no float summation
    order-dependence anywhere."""
    from cellphe_data_pipeline_spark.operators.text import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(
        docs, (F.col("lang") == "en") & (F.col("source") == "src0")
    )


@register(
    "d14_containment_neardup",
    r"""
    WITH aug AS (
      SELECT doc_id, CASE WHEN doc_id % 10 = 1 THEN
        'wrapper header boilerplate intro section ' || text ||
        ' wrapper footer boilerplate outro section'
      ELSE text END AS text
      FROM documents
    ),
    toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
      FROM aug
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
      FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 3
    ),
    rare AS (
      SELECT sh FROM sh GROUP BY sh HAVING COUNT(*) <= 5
    ),
    blocked AS (
      SELECT s.doc_id, s.sh FROM sh s JOIN rare r USING (sh)
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocked a JOIN blocked b ON a.sh = b.sh AND a.doc_id < b.doc_id
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cands c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_inter,
           round(CAST(i.n_inter AS DOUBLE) / LEAST(za.n, zb.n), 6) AS containment
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / LEAST(za.n, zb.n) >= 0.8
    """,
)
def d14(spark, sf_dir):
    """Containment near-dup pairs (r7; dedup.py
    containment_near_duplicates) — the asymmetric-duplication case
    MinHash/Jaccard structurally misses: docs nearly CONTAINED in
    larger ones. The injection (identical in both engines) wraps
    doc_id%10==1 docs in boilerplate, so any pre-existing near-dup
    pair involving a wrapped doc becomes exactly the asymmetric case:
    the wrapped doc keeps all the partner's shared shingles but its
    own shingle set grew — Jaccard drops, containment holds.
    Candidates come from rare-shingle blocking (freq <= 5), verify is
    candidate-first; see the operator docstring for the linear-scale
    argument."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        containment_near_duplicates,
    )

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 1,
            F.concat(
                F.lit("wrapper header boilerplate intro section "),
                F.col("text"),
                F.lit(" wrapper footer boilerplate outro section"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return containment_near_duplicates(aug, threshold=0.8, max_shingle_freq=5)


@register(
    "d15_semantic_dedup",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id AS cluster_id, v AS cv FROM e WHERE vec_id IN
            (SELECT DISTINCT vec_id FROM e WHERE vec_id IS NOT NULL
             ORDER BY vec_id LIMIT 8)),
    d AS (
      SELECT e.vec_id, c.cluster_id, e.v,
             list_dot_product(list_transform(e.v, (x, i) -> x - c.cv[i]),
                              list_transform(e.v, (x, i) -> x - c.cv[i])) AS dist
      FROM e, c
    ),
    a AS (
      SELECT vec_id, cluster_id, v,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster_id) AS rn
      FROM d
    ),
    m AS (
      SELECT a.vec_id, a.cluster_id, a.v,
             ROUND(list_dot_product(a.v, c.cv)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(c.cv, c.cv))), 5) + 0.0 AS centroid_sim
      FROM a JOIN c USING (cluster_id) WHERE rn = 1
    ),
    dom AS (
      SELECT DISTINCT x.vec_id
      FROM m x JOIN m y ON x.cluster_id = y.cluster_id
                       AND x.vec_id <> y.vec_id
      WHERE (y.centroid_sim, y.vec_id) < (x.centroid_sim, x.vec_id)
        AND ROUND(list_dot_product(x.v, y.v)
              / (sqrt(list_dot_product(x.v, x.v))
                 * sqrt(list_dot_product(y.v, y.v))), 5) >= 0.35
    )
    SELECT m.vec_id, m.cluster_id, m.centroid_sim,
           (dom.vec_id IS NULL) AS kept
    FROM m LEFT JOIN dom ON m.vec_id = dom.vec_id
    """,
)
def d15(spark, sf_dir):
    """SemDeDup — semantic dedup over the embedding space (r7;
    dedup.py semantic_dedup; Abbas et al. 2023, arXiv:2303.09540):
    IVF-style cluster assignment (broadcast-k, deterministic
    lowest-id seeds — kmeans_lloyd centroids plug in for the paper's
    trained clustering), then inside each cluster drop every vector
    with a >= tau cosine neighbor of lower (centroid_sim, id) — the
    paper's keep-the-least-central rule in its order-free DOMINANCE
    form (deviation documented in the operator docstring). The pair
    stage is keyed on cluster_id, never corpus-wide — the scale
    contract is k proportional to N so per-cluster fan-out stays O(1).
    tau=0.35 because the driver's synthetic embeddings are near-
    orthogonal (the d6 rationale: realistic 0.9 returns zero drops, a
    vacuous check)."""
    from cellphe_data_pipeline_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), k=8, threshold=0.35
    )


# Shared fixed-point Lloyd CTE chain (r8 review: d15b and v13 carried
# verbatim copies — the _bpe_learn_cte_parts pattern applied to the
# k-means family): seed with the 16 lowest ids (c0), assign (d0/a0 —
# ties by cluster_id, the kmeans_lloyd rule), fixed-point 1e-6-grid
# centroid update (parts/ctl/c — the v8 idiom), re-assign against the
# updated centroids (d/a). Exposes CTEs `e` (vectors), `c`
# (cluster_id, cv) and `a` (vec_id, cluster_id, v, rn) for the
# consuming oracle to build on.
def _lloyd_cte_prefix(
    train: str = "e", extra_ctes: str = "", assign: str = "e"
) -> str:
    """Fixed-point-Lloyd CTE chain, parameterised on the TRAINING
    relation (r9: v14 trains on the base slice only and assigns the
    full appended corpus — the incremental-index lifecycle) and (r10)
    the ASSIGNMENT relation (v16 caps both to the evaluation slice).
    `train` feeds seeding + the centroid update; the final d/a
    assignment covers `assign` (default `e`) so consumers can assign
    vectors the trainer never saw. `extra_ctes` is spliced right after
    `e` (slice definitions). Defaults reproduce the r8 text
    byte-for-byte."""
    return ("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    """ + extra_ctes + """c0 AS (SELECT vec_id AS cluster_id, v AS cv FROM {t} WHERE vec_id IN
            (SELECT DISTINCT vec_id FROM {t} WHERE vec_id IS NOT NULL
             ORDER BY vec_id LIMIT 16)),
    d0 AS (
      SELECT {t}.vec_id, c0.cluster_id, {t}.v,
             list_dot_product(list_transform({t}.v, (x, i) -> x - c0.cv[i]),
                              list_transform({t}.v, (x, i) -> x - c0.cv[i])) AS dist
      FROM {t}, c0
    ),
    a0 AS (
      SELECT vec_id, cluster_id, v,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster_id) AS rn
      FROM d0
    ),
    parts AS (
      SELECT cluster_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(v[i] * 1000000 + 0.5) AS BIGINT) AS xq
      FROM a0, UNNEST(generate_series(1, len(v))) AS g(i)
      WHERE rn = 1
    ),
    ctl AS (
      SELECT cluster_id, dim,
             CAST(SUM(xq) AS DOUBLE) / COUNT(*) / 1000000.0 AS centroid_val
      FROM parts GROUP BY cluster_id, dim
    ),
    c AS (
      SELECT cluster_id, list(centroid_val ORDER BY dim) AS cv
      FROM ctl GROUP BY cluster_id
    ),
    d AS (
      SELECT {s}.vec_id, c.cluster_id, {s}.v,
             list_dot_product(list_transform({s}.v, (x, i) -> x - c.cv[i]),
                              list_transform({s}.v, (x, i) -> x - c.cv[i])) AS dist
      FROM {s}, c
    ),
    a AS (
      SELECT vec_id, cluster_id, v,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster_id) AS rn
      FROM d
    ),""").format(t=train, s=assign)


_LLOYD_CTE_PREFIX = _lloyd_cte_prefix()


@register(
    "d15b_semantic_dedup_trained",
    f"""
    {_LLOYD_CTE_PREFIX}
    m AS (
      SELECT a.vec_id, a.cluster_id, a.v,
             ROUND(list_dot_product(a.v, c.cv)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(c.cv, c.cv))), 5) + 0.0 AS centroid_sim
      FROM a JOIN c USING (cluster_id) WHERE rn = 1
    ),
    dom AS (
      SELECT DISTINCT x.vec_id
      FROM m x JOIN m y ON x.cluster_id = y.cluster_id
                       AND x.vec_id <> y.vec_id
      WHERE (y.centroid_sim, y.vec_id) < (x.centroid_sim, x.vec_id)
        AND ROUND(list_dot_product(x.v, y.v)
              / (sqrt(list_dot_product(x.v, x.v))
                 * sqrt(list_dot_product(y.v, y.v))), 5) >= 0.35
    )
    SELECT m.vec_id, m.cluster_id, m.centroid_sim,
           (dom.vec_id IS NULL) AS kept
    FROM m LEFT JOIN dom ON m.vec_id = dom.vec_id
    """,
)
def d15b(spark, sf_dir):
    """SemDeDup at TRAINED scale (r8) — the paper's actual regime:
    clustering comes from the in-engine kmeans_lloyd iteration (v8's
    fixed-point Lloyd — bit-exact centroids in any engine), reshaped
    long -> (cluster_id, cvec) and plugged into semantic_dedup's
    centroid port, at k=16 (vs d15's 8 lowest-id seeds). The scale
    contract stays k proportional to N so per-cluster pair fan-out is
    O(1) (Abbas 2023 used 50k clusters for LAION) — measured fan-out
    at two k values in SCALE.md. The oracle replays seed-assign ->
    fixed-point update -> re-assign -> dominance as one CTE chain."""
    from cellphe_data_pipeline_spark.operators.dedup import semantic_dedup
    from cellphe_data_pipeline_spark.operators.similarity import (
        lloyd_centroid_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, centroids=lloyd_centroid_vectors(emb, k=16), threshold=0.35
    )


@register(
    "e7_streaming_dedup_keys",
    """
    SELECT DISTINCT lang, md5(text) AS content_hash FROM documents
    """,
)
def e7(spark, sf_dir):
    """§2.11 streaming DEDUP runtime under the driver oracle (r7):
    streaming_exact_dedup (dropDuplicatesWithinWatermark — the
    watermark-evicting state store) drained with availableNow over the
    staged documents corpus, keyed on (lang, md5(text)). Emitted rows
    project ONLY the key columns: which physical row arrives first is
    micro-batch-order-dependent, the distinct key set is not — so the
    result is deterministic and equals the batch DISTINCT the oracle
    computes. Completes the streaming-runtime trilogy: e5 = built-in
    stateful agg, e6 = python stateful processor, e7 = the
    key-dedup state store with watermark eviction (the streaming twin
    of d1 exact dedup — how an always-on ingest keeps a corpus
    duplicate-free without re-scanning it). Event time is synthesised
    from doc_id (1s per doc past a fixed epoch) with a 30-day
    watermark delay, far wider than any sf's id span, so no key can be
    evicted mid-drain and the drain is exactly the batch answer."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_exact_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.md5("text").alias("content_hash"),
        F.timestamp_micros(
            (F.lit(1_700_000_000) + F.col("doc_id")) * F.lit(1_000_000)
        ).alias("ts"),
    )
    sink = _drain_to_memory(
        _stage_stream(docs, "e7_stream_dedup"), "e7_dedup_sink",
        lambda stream: streaming_exact_dedup(
            stream, ["lang", "content_hash"], ts_col="ts", watermark="30 days"
        ).select("lang", "content_hash"),
        "append", "e7_streaming_dedup_keys",
    )
    return sink.select("lang", "content_hash")


def _ann_recall_oracle_sql(dim: int | None = None, n_bits: int = 8, seed: int = 7, k: int = 5) -> str:
    """DuckDB mirror of v11: v1's exact top-k and v2's SRP top-k over
    the same capped corpus, joined into per-query recall (ppm,
    integer-exact)."""
    from cellphe_data_pipeline_spark.operators.similarity import srp_planes

    dim = dim or EMB_DIM
    planes = srp_planes(dim, n_bits, seed)
    bucket = " + ".join(
        "(CASE WHEN list_dot_product(emb, [{w}]) >= 0 THEN {v} ELSE 0 END)".format(
            w=", ".join(str(x) for x in plane), v=1 << m
        )
        for m, plane in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings WHERE vec_id < 300),
    n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm,
                 {bucket} AS bucket
          FROM e),
    exact_p AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 5) + 0.0 AS cos_sim
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
    ),
    exact_k AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM exact_p) t WHERE rank <= {k}
    ),
    srp_p AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 5) + 0.0 AS cos_sim
      FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    srp_k AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT vec_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM srp_p) t WHERE rank <= {k}
    ),
    hits AS (
      SELECT e.vec_id, COUNT(s.neighbor_id) AS n_hit
      FROM exact_k e LEFT JOIN srp_k s
        ON s.vec_id = e.vec_id AND s.neighbor_id = e.neighbor_id
      GROUP BY e.vec_id
    ),
    base AS (
      SELECT vec_id, COUNT(*) AS n_exact FROM exact_k GROUP BY vec_id
    )
    SELECT b.vec_id, b.n_exact, h.n_hit,
           CAST(h.n_hit * 1000000 AS BIGINT) // b.n_exact AS recall_ppm
    FROM base b JOIN hits h USING (vec_id)
    """


@register("v11_ann_recall", _ann_recall_oracle_sql())
def v11(spark, sf_dir):
    """ANN quality evaluation (r7): recall@5 of the SRP-bucketed
    search (v2) against the exact brute-force top-5 (v1) over the same
    capped corpus — the measurement every production ANN deployment
    runs before trusting an index (the FAISS/ScaNN evaluation loop).
    Per query: n_exact, n_hit (approx results that appear in the exact
    top-5) and recall in ppm, all bigint-exact (no float averaging).
    Both sides reuse the registry operators unchanged; the hit count
    is one (vec_id, neighbor_id) equi-join of two k-bounded tables —
    at scale this evaluates on a SAMPLED probe set, which is exactly
    what the vec_id cap expresses. Corpus capped at 300 vectors: the
    exact side is the deliberately-quadratic baseline (the v1
    rationale), so the gate stays O(1) as sf grows."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        srp_topk,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    exact = cosine_topk_bruteforce(e, k=5).select("vec_id", "neighbor_id")
    approx = srp_topk(e, dim=EMB_DIM, k=5).select(
        F.col("vec_id"), F.col("neighbor_id").alias("srp_neighbor")
    )
    hits = (
        exact.join(
            approx,
            (exact["vec_id"] == approx["vec_id"])
            & (exact["neighbor_id"] == approx["srp_neighbor"]),
            "left",
        )
        .groupBy(exact["vec_id"].alias("vec_id"))
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("srp_neighbor").alias("n_hit"),
        )
    )
    return hits.select(
        "vec_id",
        "n_exact",
        "n_hit",
        F.expr("CAST(n_hit * 1000000 AS BIGINT) div n_exact").alias("recall_ppm"),
    )


@register(
    "v12_mean_pool_embeddings",
    """
    WITH parts AS (
      SELECT vec_id // 4 AS group_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(CAST(e.embedding[i] AS DOUBLE) * 1000000 + 0.5)
                  AS BIGINT) AS xq
      FROM embeddings e,
           UNNEST(generate_series(1, len(e.embedding))) AS g(i)
    )
    SELECT group_id, dim,
           CAST(SUM(xq) AS DOUBLE) / COUNT(*) / 1000000.0 AS pooled_val,
           COUNT(*) AS n_chunks
    FROM parts GROUP BY group_id, dim
    """,
)
def v12(spark, sf_dir):
    """Chunk-to-document mean pooling (r7; similarity.py
    mean_pool_embeddings): the standard long-document embedding recipe
    — embed bounded chunks, average into the doc vector — in the
    engine's FIXED-POINT form (1e-6-grid int64 sums, the
    v5/v8 quantization idiom) so the unordered SUM is bit-exact at any
    partitioning in any engine. The synthetic grouping vec_id div 4
    stands in for the chunk->doc key a chunking stage (c2) carries.
    ONE posexplode + ONE combinable groupBy; shuffle volume is
    groups x dim, independent of chunk fan-in."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        mean_pool_embeddings,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        F.expr("vec_id div 4").alias("doc_id"), "embedding"
    )
    return mean_pool_embeddings(e, group_col="doc_id")


@register(
    "v13_ivf_published",
    f"""
    {_LLOYD_CTE_PREFIX}
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    asg AS (SELECT vec_id, cluster_id FROM a WHERE rn = 1),
    pr AS (SELECT vec_id, cluster_id FROM a WHERE rn <= 2),
    cand AS (
      SELECT q.vec_id, t.vec_id AS neighbor_id,
             ROUND(list_dot_product(qn.v, tn.v) / (qn.nrm * tn.nrm), 5) + 0.0 AS cos_sim
      FROM pr q
      JOIN asg t ON q.cluster_id = t.cluster_id AND q.vec_id <> t.vec_id
      JOIN n qn ON qn.vec_id = q.vec_id
      JOIN n tn ON tn.vec_id = t.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM (
      SELECT vec_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= 5
    """,
)
def v13(spark, sf_dir):
    """IVF with a PUBLISHED index (r8) — the production
    build-once/query-many ANN lifecycle v3 compresses into one call:
    kmeans_lloyd trains the centroid table in-engine (bit-exact
    fixed-point Lloyd, v8), the index artifact is PUBLISHED to parquet
    (the S15 staged-edge discipline), and the query half reads it back
    and runs assignment + probe + exact-cosine top-k with ZERO
    training jobs — assignment is the rank-1 probe against the
    broadcast index (deterministic (dist, cluster_id) ties). At 100 TB
    the index build amortises over every query batch, and the query
    plan is fully declarative over two scans (corpus + KB-scale
    index). Unlike v3 (Spark-ML KMeans, golden fixture oracle), every
    stage here is ANSI-expressible, so the ENTIRE lifecycle — train →
    publish → assign → probe → rank — is one DuckDB oracle chain on
    the real embeddings table."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        lloyd_centroid_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = lloyd_centroid_vectors(emb, k=16)
    staged = _stage_dir("v13_ivf_index")  # the published index artifact
    cents.write.mode("overwrite").parquet(staged)
    idx = spark.read.parquet(staged)
    return ivf_topk(
        emb, dim=EMB_DIM, k=5, n_probe=2, centroids=idx
    ).select("vec_id", "neighbor_id", "cos_sim", F.col("rank").cast("bigint").alias("rank"))


_V16_PROBES = (1, 2, 4)


def _ivf_recall_curve_oracle_sql(probes=_V16_PROBES, k: int = 5) -> str:
    """DuckDB mirror of v16: the full IVF lifecycle on the capped
    slice (train + assign on es), then one aggregate recall row per
    n_probe — exact_k from brute force, candidates from rn <= p probe
    lists, v13's exact ranking conventions throughout."""
    prefix = _lloyd_cte_prefix(
        train="es",
        assign="es",
        extra_ctes="es AS (SELECT vec_id, v FROM e WHERE vec_id < 300),\n    ",
    )
    per_p = []
    for p in probes:
        per_p.append(f"""
    appr{p} AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT q.vec_id, t.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_dot_product(qn.v, tn.v)
                                / (qn.nrm * tn.nrm), 5) + 0.0 DESC,
                          t.vec_id) AS rank
        FROM (SELECT vec_id, cluster_id FROM a WHERE rn <= {p}) q
        JOIN asg t ON q.cluster_id = t.cluster_id AND q.vec_id <> t.vec_id
        JOIN n qn ON qn.vec_id = q.vec_id
        JOIN n tn ON tn.vec_id = t.vec_id
      ) WHERE rank <= {k}
    ),
    r{p} AS (
      SELECT CAST({p} AS BIGINT) AS n_probe,
             COUNT(*) AS n_exact,
             COUNT(s.neighbor_id) AS n_hit
      FROM exact_k e LEFT JOIN appr{p} s
        ON s.vec_id = e.vec_id AND s.neighbor_id = e.neighbor_id
    )""")
    union = "\n    UNION ALL\n    ".join(
        f"SELECT n_probe, CAST(n_exact AS BIGINT) AS n_exact,"
        f" CAST(n_hit AS BIGINT) AS n_hit,"
        f" CAST(n_hit * 1000000 AS BIGINT) // n_exact AS recall_ppm"
        f" FROM r{p}"
        for p in probes
    )
    return f"""
    {prefix}
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM es),
    asg AS (SELECT vec_id, cluster_id FROM a WHERE rn = 1),
    exact_k AS (
      SELECT vec_id, neighbor_id FROM (
        SELECT a2.vec_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a2.vec_id
                 ORDER BY ROUND(list_dot_product(a2.v, b.v)
                                / (a2.nrm * b.nrm), 5) + 0.0 DESC,
                          b.vec_id) AS rank
        FROM n a2 JOIN n b ON a2.vec_id <> b.vec_id
      ) WHERE rank <= {k}
    ),{','.join(per_p)}
    {union}
    """


@register("v16_ivf_recall_curve", _ivf_recall_curve_oracle_sql())
def v16(spark, sf_dir):
    """IVF recall-vs-probes CURVE (r10) — the capacity-planning twin
    of v11's single-point recall audit: one aggregate recall@5 row per
    n_probe ∈ {1, 2, 4}, against the brute-force exact top-5 on the
    same capped slice. This is the measurement that SIZES an IVF
    deployment — n_probe is the knob trading scan fraction
    (n_probe/n_lists of the corpus) for recall, and the curve's shape
    (steep then flat) tells an operator where the knee is; recall is
    monotone in n_probe by construction (probe sets are nested —
    pinned as a property test). All counts bigint-exact, recall in ppm
    (v11's no-float-averaging discipline); the index is trained,
    published, and queried with the registry operators unchanged; the
    ENTIRE lifecycle (train → assign → probe@p → rank → recall) is one
    DuckDB oracle chain (v13's conventions, _lloyd_cte_prefix
    parameterised on both train and assign). Corpus capped at 300:
    the exact side is the deliberately-quadratic baseline, so the gate
    stays O(1) in sf; at 100 TB the same query runs on a sampled probe
    set against the full published index."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
        lloyd_centroid_vectors,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    cents = lloyd_centroid_vectors(e, k=16)
    staged = _stage_dir("v16_ivf_index")
    cents.write.mode("overwrite").parquet(staged)
    idx = spark.read.parquet(staged)
    exact = cosine_topk_bruteforce(e, k=5).select("vec_id", "neighbor_id")
    curves = []
    for p in _V16_PROBES:
        ap = ivf_topk(e, dim=EMB_DIM, k=5, n_probe=p, centroids=idx).select(
            F.col("vec_id").alias("avec"),
            F.col("neighbor_id").alias("anb"),
        )
        curves.append(
            exact.join(
                ap,
                (exact["vec_id"] == F.col("avec"))
                & (exact["neighbor_id"] == F.col("anb")),
                "left",
            )
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("anb").alias("n_hit"),
            )
            .select(
                F.lit(p).cast("long").alias("n_probe"),
                "n_exact",
                "n_hit",
                F.expr(
                    "CAST(n_hit * 1000000 AS BIGINT) div n_exact"
                ).alias("recall_ppm"),
            )
        )
    out = curves[0]
    for c in curves[1:]:
        out = out.unionAll(c)
    return out


# train-on-base / assign-all / probe-new oracle chain, shared by v14
# (batch append lifecycle) and e15 (the same query half served to a
# probe STREAM — identical semantics, identical rows)
_V14_ORACLE = (
    _lloyd_cte_prefix(
        train="eb",
        extra_ctes="eb AS (SELECT * FROM e WHERE vec_id % 10 <> 0),\n    ",
    )
    + """
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    asg AS (SELECT vec_id, cluster_id FROM a WHERE rn = 1),
    pr AS (SELECT vec_id, cluster_id FROM a
           WHERE rn <= 2 AND vec_id % 10 = 0),
    cand AS (
      SELECT q.vec_id, t.vec_id AS neighbor_id,
             ROUND(list_dot_product(qn.v, tn.v) / (qn.nrm * tn.nrm), 5) + 0.0 AS cos_sim
      FROM pr q
      JOIN asg t ON q.cluster_id = t.cluster_id AND q.vec_id <> t.vec_id
      JOIN n qn ON qn.vec_id = q.vec_id
      JOIN n tn ON tn.vec_id = t.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM (
      SELECT vec_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= 5
    """
)


@register("v14_ivf_append", _V14_ORACLE)
def v14(spark, sf_dir):
    """Incremental IVF index maintenance (r9) — what v13's
    build-once/query-many lifecycle needs when the corpus APPENDS:
    train on the 90% base slice and publish index + bucket table once,
    then assign ONLY the new 10% batch against the published centroids
    (one broadcast argmin pass, O(batch) — no retraining jobs, no
    base-corpus rescan), parquet-APPEND it to the bucket table, and
    serve the new batch's top-5 queries from the refreshed index
    (similarity.ivf_assign_vectors / ivf_query_published). The
    reference analogue is `-resume` stage caching (README.md:206-212):
    reuse the expensive artifact, recompute only the increment. Index
    drift is the documented trade — appended vectors never move the
    centroids; production retrains when a drift monitor (a14/a15 on
    the list_id histogram) degrades, exactly like IVF-Flat services.
    The oracle replays train-on-base → assign-all → probe-new as one
    CTE chain (the v13 Lloyd prefix parameterised on the training
    slice)."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        ivf_assign_vectors,
        ivf_query_published,
        lloyd_centroid_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    new_batch = emb.filter(F.col("vec_id") % 10 == 0)
    # build once: train on base, publish index + assigned bucket table
    idx_dir = _stage_dir("v14_ivf_index")
    lloyd_centroid_vectors(base, k=16).write.mode("overwrite").parquet(idx_dir)
    idx = spark.read.parquet(idx_dir)
    bucket_dir = _stage_dir("v14_ivf_bucket")
    ivf_assign_vectors(base, idx).write.mode("overwrite").parquet(bucket_dir)
    # maintain: assign the new batch against the SAME published
    # centroids and append — the only work the increment pays
    ivf_assign_vectors(new_batch, idx).write.mode("append").parquet(bucket_dir)
    bucket = spark.read.parquet(bucket_dir)
    # query-many: the new batch queries the refreshed bucket table
    return ivf_query_published(new_batch, bucket, idx, k=5, n_probe=2)


@register("e15_streaming_ann_serve", _V14_ORACLE)
def e15(spark, sf_dir):
    """§2.11 streaming ANN index serving (r9; streaming/tracker.
    streaming_ann_serve — the TWELFTH driver-verified streaming
    runtime, and the first to exercise a STREAM-STATIC join and
    ``foreachBatch``): the v14 lifecycle's query half with probes
    arriving as a stream against the published-and-appended index.
    Probe→list assignment is stateless codegen (centroids inlined as
    literals — the srp_planes precedent), candidates come from a
    stream-static hash join on list_id (no state store: the static
    bucket side is re-planned per micro-batch), and per-probe top-5
    runs inside foreachBatch — sound because every candidate for a
    probe is generated in that probe's own micro-batch by the join,
    so per-batch top-k IS global top-k. Must produce the exact rows
    of the batch v14 (same oracle text)."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        ivf_assign_vectors,
        lloyd_centroid_vectors,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_ann_serve,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    new_batch = emb.filter(F.col("vec_id") % 10 == 0)
    idx_dir = _stage_dir("e15_ivf_index")
    lloyd_centroid_vectors(base, k=16).write.mode("overwrite").parquet(idx_dir)
    idx = spark.read.parquet(idx_dir)
    bucket_dir = _stage_dir("e15_ivf_bucket")
    ivf_assign_vectors(base, idx).write.mode("overwrite").parquet(bucket_dir)
    ivf_assign_vectors(new_batch, idx).write.mode("append").parquet(bucket_dir)
    bucket = spark.read.parquet(bucket_dir)
    centroid_rows = [
        (int(r["cluster_id"]), [float(x) for x in r["cvec"]])
        for r in idx.collect()
    ]
    probe_stream = _stage_stream(
        new_batch.select("vec_id", "embedding"), "e15_probe_stream"
    )
    out_dir = _stage_dir("e15_topk_out")
    ckpt_dir = _stage_dir("e15_topk_ckpt")  # wiped: stale file-source
    # checkpoints silently skip already-seen paths on replay
    with session_confs(spark, DRAIN_CONFS):
        streaming_ann_serve(
            probe_stream, bucket, centroid_rows, out_dir,
            k=5, n_probe=2, ckpt_dir=ckpt_dir,
        )
    return spark.read.parquet(out_dir)


@register(
    "e16_streaming_ingest_lifecycle",
    """
    WITH prep AS (
      SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type, value
      FROM events
      WHERE value IS NOT NULL AND value <= 150.0
    ),
    w AS (
      SELECT user_id AS key, t_us, event_id AS last_seq,
             event_type AS last_type, value AS last_value,
             (event_type = 'error') AS is_delete,
             COUNT(*) OVER (PARTITION BY user_id) AS n_rows_applied,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY t_us DESC, event_id DESC) AS rn
      FROM prep WHERE t_us IS NOT NULL AND event_id IS NOT NULL
    )
    SELECT key, t_us, last_seq, last_type, last_value, is_delete,
           CAST(n_rows_applied AS BIGINT) AS n_rows_applied
    FROM w WHERE rn = 1
    """,
)
def e16(spark, sf_dir):
    """§2.11 streaming JOINT LIFECYCLE (r10) — the thirteenth verified
    streaming runtime, and the first to chain a PYTHON stateful
    processor DOWNSTREAM of another stateful operator in one plan
    (streaming/tracker.streaming_ingest_lifecycle) — e9 already chains
    join→dedup, but both its stages are engine-managed; the
    applyInPandasWithState tail is the composition Spark's checker
    historically rejected:
    redelivery dedup (dropDuplicatesWithinWatermark) → quality gate
    (stateless codegen, `value <= 150`) → latest-wins CDC upsert
    (python state server, count_rows=True). The twelve prior e-queries
    each verified one mechanism (e9's join→dedup being the one prior
    chain); production ingest chains them further, and each chain
    class's legality + correctness is its own property (Spark's
    unsupported-operations checker rejects many stateful compositions).

    The staged log REDELIVERS every fifth event as an exact copy
    (at-least-once delivery's duplicate mode), so the dedup stage is
    live, not a no-op. Its effect is provable through the final
    snapshot: the upsert's per-key ``n_rows_applied`` counter must
    equal the ORIGINAL per-user gated row count the oracle computes —
    if any redelivered copy leaked past the dedup, or the gate admitted
    a dropped row, the count (hash-checked per key) would exceed it.
    Winner columns alone could not show this (a duplicate re-applies
    the same winner).

    The sink holds one snapshot row per key per emitting micro-batch;
    (t_us, last_seq) and n_rows_applied are monotone per key, so the
    final state row is the per-key max under (t_us, last_seq,
    n_rows_applied) — correct however availableNow splits the drain
    (multi-micro-batch chaining pinned by tests/test_streaming.py::
    test_streaming_ingest_lifecycle_dedups_across_batches). Event time
    carried as exact integer micros (unix_micros ≡ DuckDB epoch_us).
    The 3650-day watermark spans any sf's 30-day log so no dedup key
    evicts mid-drain; production sets the redelivery horizon instead
    (the state-bounding contract, documented at the operator)."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_ingest_lifecycle,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        "event_type",
        "value",
    )
    redelivered = ev.unionAll(ev.filter(F.col("event_id") % 5 == 0))
    sink = _drain_to_memory(
        _stage_stream(redelivered, "e16_stream_lifecycle"), "e16_lifecycle_sink",
        lambda stream: streaming_ingest_lifecycle(
            stream,
            dedup_keys=["user_id", "event_id"],
            gate_predicate="value IS NOT NULL AND value <= 150.0",
        ),
        "append", "e16_streaming_ingest_lifecycle",
    )
    w = Window.partitionBy("key").orderBy(
        F.col("t_ms").desc(),
        F.col("last_seq").desc(),
        F.col("n_rows_applied").desc(),
    )
    return (
        sink
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "key",
            F.col("t_ms").alias("t_us"),
            "last_seq",
            "last_type",
            "last_value",
            "is_delete",
            "n_rows_applied",
        )
    )


@register(
    "e17_streaming_dedup_rollup",
    """
    SELECT event_type, date_trunc('hour', ts) AS hour_ts, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type, date_trunc('hour', ts)
    """,
)
def e17(spark, sf_dir):
    """§2.11 streaming dedup → WINDOWED ROLLUP chain (r10) — the
    fourteenth verified streaming runtime and e16's BUILT-IN sibling:
    where e16 chained into a python stateful processor, e17 chains the
    two engine-managed state stores Spark's multi-stateful support was
    designed around (SPARK-40925): redelivery dedup
    (dropDuplicatesWithinWatermark) feeding a watermarked tumbling
    window aggregation, in ONE append-mode streaming plan. With e9's
    join→dedup and e16's dedup→python-state, the three r10-verified
    chain classes cover every stateful-operator composition the engine
    uses.

    The staged log again redelivers every fifth event as an exact
    copy. Here the dedup's effect needs NO extra observable: a leaked
    duplicate inflates the rollup's per-window `n` and `sum_value`,
    which the oracle (e1's exact text — the rollup over the ORIGINAL
    events) hash-checks.

    Append-mode + bounded drain mechanics: an append agg only emits a
    window once the watermark passes its end, so a bounded drain would
    hold back every trailing window (e5 used complete mode for this).
    A chained dedup+agg plan is append-only (multi-stateful support is
    append-mode), so e17 instead stages one far-future SENTINEL row
    (event_id -1, ts 2100-01-01): the engine's no-data final
    micro-batch advances the watermark decades past every real window
    and flushes them all, while the sentinel's own window stays held
    back forever — it never reaches the sink or the compare. The
    3650-day delay both spans any sf's log (no dedup key evicts
    mid-drain) and keeps the sentinel-advanced watermark (~2090) clear
    of real 2024 windows. Ordering note: the registry drain stages
    everything in ONE parquet write (no file-trigger cap ⇒ one
    micro-batch), so the sentinel cannot be processed BEFORE real rows
    and late-drop them; a multi-batch deployment must deliver the
    heartbeat last-per-source, exactly as the pinning test sequences
    its files by mtime. Tumbling window(1h) starts are epoch-aligned
    == date_trunc('hour')."""
    import datetime as _dt

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    sentinel = from_driver_rows(
        spark, [(-1, "sentinel", _dt.datetime(2100, 1, 1), 0.0)], ev.schema
    )
    staged = ev.unionAll(ev.filter(F.col("event_id") % 5 == 0)).unionAll(
        sentinel
    )

    def chain(stream):
        return (
            stream.withWatermark("ts", "3650 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy("event_type", F.window("ts", "1 hour").alias("win"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
        )

    sink = _drain_to_memory(
        _stage_stream(staged, "e17_stream_dedup_rollup"), "e17_dedup_rollup_sink",
        chain, "append", "e17_streaming_dedup_rollup",
    )
    return sink.select(
        "event_type", F.col("win.start").alias("hour_ts"), "n", "sum_value"
    )


@register(
    "e18_streaming_join_rollup",
    """
    SELECT date_trunc('hour', p.ts) AS hour_ts,
           COUNT(*) AS n_conversions,
           CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    GROUP BY 1
    """,
)
def e18(spark, sf_dir):
    """§2.11 streaming JOIN → ROLLUP chain (r10) — the fifteenth
    verified streaming runtime and the FOURTH stateful chain class
    (e9 join→dedup, e16 dedup→python-state, e17 dedup→agg, now
    join→agg): conversion attribution, the canonical streaming-
    analytics chain — a stream-stream interval self-join (purchases
    within 1h of a same-user click, the e8 state machinery) feeding a
    watermarked tumbling rollup of conversions + value per
    purchase-hour, ONE append-mode plan
    (streaming/tracker.streaming_join_rollup).

    Bounded-drain mechanics extend e17's sentinel trick to a JOIN: the
    agg's emission watermark is the min over BOTH join branches, so
    the far-future sentinel must pass both side filters — it rides
    through as its own event_type with key -1 (it can never satisfy
    the join's interval condition against real rows), advances both
    watermark nodes, and its non-joining rows aggregate nothing.
    Multiplicity is preserved exactly (a purchase preceded by k clicks
    counts k times — same in the oracle's join); no dedup stage, so
    leaked or lost join state would shift n_conversions and fail the
    hash. Single-write staging ⇒ one micro-batch ⇒ the sentinel cannot
    late-drop real rows (the e17 ordering note)."""
    import datetime as _dt

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_join_rollup,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "value"
    )
    sentinel = from_driver_rows(
        spark, [(-1, "sentinel", _dt.datetime(2100, 1, 1), 0.0)], ev.schema
    )
    sink = _drain_to_memory(
        _stage_stream(ev.unionAll(sentinel), "e18_stream_join_rollup"),
        "e18_join_rollup_sink",
        streaming_join_rollup, "append", "e18_streaming_join_rollup",
    )
    return sink.select(
        F.col("win.start").alias("hour_ts"), "n_conversions", "sum_value"
    )


@register(
    "v15_pq_published",
    _pq_oracle_sql(
        train_pred="vec_id % 10 <> 0", query_pred="sub.vec_id % 10 = 0"
    ),
)
def v15(spark, sf_dir):
    """PQ with a PUBLISHED index + APPEND (r9) — v14's incremental
    lifecycle on the COMPRESSED index family: train the per-subspace
    codebook on the 90% base slice and publish codebook + code table
    (the corpus stored as m_subs one-byte codes per vector — the
    64x-memory-cut artifact), then ENCODE ONLY the new 10% batch
    against the published codebook (one broadcast argmin per
    subvector, O(batch), no retraining — similarity.pq_encode, the
    byte-identical assignment mechanism training used),
    parquet-append, and serve the new batch's ADC top-5 from the
    refreshed code table (pq_query_lut + pq_adc_topk: exact-int64 LUT
    sums, codes-only corpus side). Same documented drift trade as
    v14: appended vectors never move codewords; retrain on an a15
    code-histogram drift signal. Oracle: the v9 PQ chain
    parameterised on its training slice and probe predicate."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_query_lut,
        pq_subvectors,
        pq_train_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    new_batch = emb.filter(F.col("vec_id") % 10 == 0)
    sub_base = pq_subvectors(base, EMB_DIM)
    cb_dir = _stage_dir("v15_pq_codebook")
    pq_train_codebook(sub_base).write.mode("overwrite").parquet(cb_dir)
    cb = spark.read.parquet(cb_dir)
    codes_dir = _stage_dir("v15_pq_codes")
    pq_encode(sub_base, cb).write.mode("overwrite").parquet(codes_dir)
    sub_new = pq_subvectors(new_batch, EMB_DIM)
    pq_encode(sub_new, cb).write.mode("append").parquet(codes_dir)
    codes = spark.read.parquet(codes_dir)
    return pq_adc_topk(codes, pq_query_lut(sub_new, cb), k=5)


def _gopher_chain_ctes(doc_rel: str) -> str:
    """The Gopher feat→m→flags CTE list WITHOUT a final SELECT —
    shared by _gopher_oracle_sql (t15/e10) and the composed c24
    pipeline oracle, which needs the chain as an intermediate stage
    (same r8 lesson: one canonical text, never hand-copies)."""
    chain = r'''feat AS (
      SELECT doc_id,
        list_filter(string_split(trim(regexp_replace(COALESCE(text, ''), '\s+', ' ', 'g')), ' '),
                    x -> x <> '') AS toks,
        list_filter(string_split(COALESCE(text, ''), chr(10)),
                    x -> length(trim(x)) > 0) AS lines,
        length(COALESCE(text, '')) - length(replace(COALESCE(text, ''), '#', '')) AS n_hash,
        (length(COALESCE(text, '')) - length(replace(COALESCE(text, ''), '...', ''))) // 3
          + (length(COALESCE(text, '')) - length(replace(COALESCE(text, ''), '…', ''))) AS n_ell
      FROM aug
    ),
    m AS (
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        CASE WHEN len(toks) > 0 THEN
          round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 6)
        END AS mean_word_len,
        n_hash, n_ell,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(list_filter(lines, x -> regexp_matches(trim(x), '^([-*•])( |$)'))) AS BIGINT) AS n_bullet,
        CAST(len(list_filter(lines, x -> regexp_matches(rtrim(x), '(\.\.\.|…)$'))) AS BIGINT) AS n_ell_end,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
        CAST(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))),
                                ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop
      FROM feat
    ),
    flags AS (
      SELECT doc_id, n_words, mean_word_len,
        CAST(n_words < 50 OR n_words > 100000 AS BIGINT) * 1
        + CAST(mean_word_len IS NULL OR mean_word_len < 3.0 OR mean_word_len > 10.0 AS BIGINT) * 2
        + CAST(COALESCE(CAST(n_hash AS DOUBLE) / NULLIF(n_words, 0) > 0.1
                        OR CAST(n_ell AS DOUBLE) / NULLIF(n_words, 0) > 0.1, TRUE) AS BIGINT) * 4
        + CAST(COALESCE(CAST(n_bullet AS DOUBLE) / NULLIF(n_lines, 0) > 0.9, TRUE) AS BIGINT) * 8
        + CAST(COALESCE(CAST(n_ell_end AS DOUBLE) / NULLIF(n_lines, 0) > 0.3, TRUE) AS BIGINT) * 16
        + CAST(COALESCE(CAST(n_alpha AS DOUBLE) / NULLIF(n_words, 0) < 0.8, TRUE) AS BIGINT) * 32
        + CAST(n_stop < 2 AS BIGINT) * 64 AS fail_mask
      FROM m
    )'''
    return chain.replace("FROM aug", "FROM " + doc_rel, 1)


def _gopher_oracle_sql(doc_rel: str = "documents", prelude: str = "") -> str:
    """Gopher-rule CTE chain shared by t15 (augmented input via the `aug`
    prelude) and e10 (raw readStream input) — r8 review: the two oracles
    were 40-of-41 identical lines maintained by hand."""
    return (
        "\n    WITH " + prelude + _gopher_chain_ctes(doc_rel)
        + """
    SELECT doc_id, n_words, mean_word_len,
           fail_mask = 0 AS keep, fail_mask
    FROM flags
    """
    )


@register(
    "t15_gopher_rules",
    _gopher_oracle_sql(
        doc_rel="aug",
        prelude=r"""aug AS (
      SELECT doc_id,
        CASE WHEN doc_id % 9 = 0 THEN
               '- item one' || chr(10) || '- item two' || chr(10) ||
               '* item three' || chr(10) || text
             WHEN doc_id % 13 = 0 THEN
               text || chr(10) || 'to be continued...' || chr(10) ||
               '### heading ##' || chr(10) || 'more…'
             ELSE text END AS text
      FROM documents
    ),
    """,
    ),
)
def t15(spark, sf_dir):
    """Gopher quality rule set (r7; text.py gopher_rules) — the
    published hard gates (Rae et al. 2021 §A1.1: word-count and
    mean-word-length bounds, #/ellipsis symbol ratios, bullet-start
    and ellipsis-end line fractions, alpha-word fraction, the 2-of-8
    stop-word requirement) with a per-rule fail BITMASK so a curation
    run can audit WHY each doc fell. Bullet/ellipsis shapes are
    injected identically in both engines (doc_id%9 / doc_id%13 — the
    t13 pattern) since the synthetic corpus is single-line. Pure
    codegen, zero shuffle; integer token-length sums (no float
    accumulation)."""
    from cellphe_data_pipeline_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.lit("- item one\n- item two\n* item three\n"), F.col("text")
            ),
        )
        .when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.col("text"),
                F.lit("\nto be continued...\n### heading ##\nmore…"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return gopher_rules(aug)


@register(
    "e8_streaming_interval_join",
    """
    SELECT a.event_id AS l_id, b.event_id AS r_id,
           a.user_id AS l_key, b.user_id AS r_key,
           a.ts AS l_ts, b.ts AS r_ts
    FROM events a JOIN events b
      ON a.user_id <> b.user_id
     AND b.ts >= a.ts - INTERVAL 60 SECOND
     AND b.ts <= a.ts + INTERVAL 60 SECOND
    """,
)
def e8(spark, sf_dir):
    """§2.11 STREAM-STREAM JOIN runtime under the driver oracle (r7):
    streaming_interval_pairs (watermarked bucket-keyed stream-stream
    interval self-join) drained with availableNow — the fourth
    verified streaming runtime, covering the join-state machinery the
    agg (e5), python-state (e6) and dedup-state (e7) paths don't
    touch. INNER stream-stream joins emit matches as both sides
    arrive, so the bounded drain produces exactly the batch pair set;
    each ordered pair appears once (a build row's 3 bucket copies
    contain exactly one copy matching the probe's bucket when
    |Δt| <= window = bucket size). The gate uses a 30-day watermark so
    no join state can be evicted mid-drain whatever order the staged
    parquet is read in — a production deployment would use the tight
    watermark (the operator's default 10 minutes) to bound state; the
    semantics of emitted pairs are identical, late data aside."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_interval_pairs,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    sink = _drain_to_memory(
        _stage_stream(ev, "e8_stream_interval"), "e8_interval_sink",
        lambda stream: streaming_interval_pairs(
            stream, window_seconds=60, watermark="30 days"
        ),
        "append", "e8_streaming_interval_join",
    )
    return sink.select("l_id", "r_id", "l_key", "r_key", "l_ts", "r_ts")


@register(
    "mm6_image_dhash_neardup",
    """
    SELECT * FROM (VALUES
      ('img0.fake#0', 'img1.fake#0', CAST(0 AS BIGINT)),
      ('img0.fake#0', 'img2.fake#0', CAST(2 AS BIGINT)),
      ('img1.fake#0', 'img2.fake#0', CAST(2 AS BIGINT)),
      ('img5.fake#0', 'img6.fake#0', CAST(0 AS BIGINT))
    ) AS t(doc_a, doc_b, hamming)
    """,
)
def mm6(spark, sf_dir):
    """Multimodal IMAGE near-dup pairing (r7): dHash perceptual codes
    (domain/images.frame_dhash — the engine's own exact block-mean
    resize + adjacent-pixel comparisons, 56-bit positive-bigint codes)
    paired through the SAME Manku band machinery as text SimHash
    (dedup.hamming_code_pairs) — one fingerprint-pairing scale path
    shared across modalities. Golden fixture (deterministic gradients,
    both engines see literals): a sparse-noise copy collides exactly
    (dHash ignores sub-block noise), a +40 brightness-saturated copy
    lands at hamming 2 (order mostly preserved), two constant images
    collide at 0, and the three genuinely different images pair with
    nothing. Cross-checked by an independent numpy oracle in
    tests/test_domain.py. Decode is the FAKE codec (real codecs
    absent — the documented environment wall); the Spark plumbing
    (binary payloads → Arrow resize/hash kernels → band join) is the
    real 100 TB path."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import (
        encode_fake_container,
        frame_dhash,
        split_frames,
    )
    from cellphe_data_pipeline_spark.operators.dedup import hamming_code_pairs

    yy, xx = np.mgrid[0:32, 0:32]
    i0 = ((xx * 7 + yy * 3) % 256).astype(np.uint8)
    i1 = i0.astype(int).copy()
    for (py, px) in [(3, 4), (10, 20), (25, 7), (31, 31)]:
        i1[py, px] = min(255, i1[py, px] + 2)
    imgs = {
        "img0.fake": i0,
        "img1.fake": i1.astype(np.uint8),
        "img2.fake": np.minimum(255, i0.astype(int) + 40).astype(np.uint8),
        "img3.fake": ((xx * 13 + yy * 5) % 256).astype(np.uint8),
        "img4.fake": (((31 - xx) * 7 + yy * 3) % 256).astype(np.uint8),
        "img5.fake": np.full((32, 32), 128, np.uint8),
        "img6.fake": np.full((32, 32), 200, np.uint8),
        "img7.fake": ((xx * yy + xx * 29) % 256).astype(np.uint8),
    }
    rows = [
        (name, encode_fake_container(img)) for name, img in imgs.items()
    ]
    bins = from_driver_rows(spark, rows, "path string, content binary")
    # frame_dhash emits one code per (path, frame_index) — key the
    # pairing on the composite id to honor hamming_code_pairs'
    # one-code-per-id contract (r8 ADVICE fix; multi-page inputs would
    # otherwise collide on path and trip the plan-embedded guard)
    codes = frame_dhash(split_frames(bins)).select(
        F.concat_ws("#", "path", "frame_index").alias("frame_id"), "dhash"
    )
    return hamming_code_pairs(
        codes, id_col="frame_id", code_col="dhash", n_bits=56, max_hamming=3
    )


@register(
    "mm7_image_phash_neardup",
    """
    SELECT * FROM (VALUES
      ('img0.fake#0', 'img1.fake#0', CAST(0 AS BIGINT)),
      ('img0.fake#0', 'img2.fake#0', CAST(6 AS BIGINT)),
      ('img1.fake#0', 'img2.fake#0', CAST(6 AS BIGINT)),
      ('img5.fake#0', 'img6.fake#0', CAST(0 AS BIGINT))
    ) AS t(doc_a, doc_b, hamming)
    """,
)
def mm7(spark, sf_dir):
    """Multimodal IMAGE near-dup via DCT pHash (r8;
    domain/images.frame_phash — orthonormal 2-D DCT-II, 8x8
    low-frequency block minus DC and the last coefficient = 62-bit
    positive-bigint codes, median threshold), paired through the same
    Manku band machinery as dHash/SimHash at max_hamming=6 (7 disjoint
    bands — 6 bit errors must leave one band clean). The golden pins
    pHash's complementary strengths vs mm6's dHash: a +40
    non-saturating brightness shift collides EXACTLY (DC dropped),
    a 2x2 box blur lands at hamming 6 (low-pass block), and the two
    constant images collide at hamming 0 via the canonical flat-frame
    code (r9: a flat frame's AC block is pure float cancellation
    noise, so its sign pattern would be BLAS-build-dependent; the
    short-circuit emits all-zeros — under brightness invariance all
    flat frames are one structure) but pair with nothing textured.
    Composite (path#frame) ids per the one-code-per-id contract. Decode is the FAKE codec (environment wall); the
    resize/DCT/band plumbing is the real 100 TB path."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import (
        encode_fake_container,
        frame_phash,
        split_frames,
    )
    from cellphe_data_pipeline_spark.operators.dedup import hamming_code_pairs

    yy, xx = np.mgrid[0:32, 0:32]
    base = ((xx * 5 + yy * 2 + (xx * yy) // 8) % 180).astype(np.uint8)
    blur = base.astype(float)
    blur = (
        blur
        + np.roll(blur, 1, 0)
        + np.roll(blur, 1, 1)
        + np.roll(np.roll(blur, 1, 0), 1, 1)
    ) / 4.0
    imgs = {
        "img0.fake": base,
        "img1.fake": (base + 40).astype(np.uint8),
        "img2.fake": blur.astype(np.uint8),
        "img3.fake": (((31 - xx) * 11 + yy * 7) % 200).astype(np.uint8),
        "img4.fake": ((xx * yy + yy * 13) % 256).astype(np.uint8),
        "img5.fake": np.full((32, 32), 90, np.uint8),
        "img6.fake": np.full((32, 32), 210, np.uint8),
    }
    rows = [
        (name, encode_fake_container(img)) for name, img in imgs.items()
    ]
    bins = from_driver_rows(spark, rows, "path string, content binary")
    codes = frame_phash(split_frames(bins)).select(
        F.concat_ws("#", "path", "frame_index").alias("frame_id"), "phash"
    )
    return hamming_code_pairs(
        codes, id_col="frame_id", code_col="phash", n_bits=62, max_hamming=6
    )


@register(
    "c11_dsir_resample",
    r"""
    WITH toks AS (
      SELECT doc_id, is_tgt, tok FROM (
        SELECT doc_id, (lang = 'en' AND source = 'src0') AS is_tgt,
               UNNEST(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
      ) t WHERE tok <> ''
    ),
    bucketed AS (
      SELECT doc_id, is_tgt,
             ('0x' || substring(md5(tok), 1, 8))::BIGINT % 1024 AS bucket
      FROM toks
    ),
    counts AS (
      SELECT bucket, COUNT(*) AS raw_n,
             SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_n
      FROM bucketed GROUP BY bucket
    ),
    weights AS (
      SELECT bucket,
             CAST((tgt_n + 1) * 1000000 AS BIGINT) // CAST(raw_n + 1 AS BIGINT) AS w_ppm
      FROM counts
    ),
    scored AS (
      SELECT b.doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM(w.w_ppm) AS BIGINT) // COUNT(*) AS dsir_ppm
      FROM bucketed b JOIN weights w USING (bucket)
      GROUP BY b.doc_id
    )
    SELECT doc_id, n_tokens, dsir_ppm,
           ('0x' || substring(md5('dsir-v1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 1000000 AS draw_ppm,
           ('0x' || substring(md5('dsir-v1' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 1000000 < LEAST(1000000, dsir_ppm) AS keep
    FROM scored
    """,
)
def c11(spark, sf_dir):
    """DSIR importance RESAMPLING (r7; text.py dsir_resample) — the
    second half of the Xie et al. recipe: a seeded-md5 Bernoulli draw
    in ppm against each doc's clipped importance weight, so the
    resampled corpus is deterministic across engines/runs/partitionings
    (the c4/c9 seeded-hash contract). Composes c10's weights; the
    accept column is pure codegen, no extra shuffle."""
    from cellphe_data_pipeline_spark.operators.text import dsir_resample

    docs = load_table(spark, sf_dir, "documents")
    return dsir_resample(
        docs, (F.col("lang") == "en") & (F.col("source") == "src0")
    )


@register(
    "t16_sentence_split",
    r"""
    WITH aug AS (
      SELECT doc_id,
             replace(replace(text, ' value ', ' value. '),
                     ' fast ', ' fast! ') AS text
      FROM documents
    ),
    raw AS (
      SELECT doc_id,
             list_transform(
               string_split_regex(COALESCE(text, ''), '[.!?]+\s+'),
               x -> regexp_replace(trim(x), '[.!?]+$', '')) AS sents
      FROM aug
    ),
    numbered AS (
      SELECT doc_id, sents[i] AS sentence,
             CAST(i AS BIGINT) AS raw_id
      FROM raw, UNNEST(range(1, len(sents) + 1)) AS u(i)
    ),
    kept AS (
      SELECT doc_id, sentence,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY raw_id) AS sent_id
      FROM numbered WHERE sentence <> ''
    )
    SELECT doc_id, CAST(sent_id AS BIGINT) AS sent_id, sentence,
           md5(sentence) AS sent_hash
    FROM kept
    """,
)
def t16(spark, sf_dir):
    """Sentence segmentation (r7; text.py split_sentences) — the
    unit-of-dedup prep for sentence/paragraph-level pipelines, split
    on terminal-punctuation runs + whitespace with lookaround-free
    patterns (RE2-portable), punctuation normalised off every
    sentence, md5 hash per sentence for downstream exact dedup. The
    synthetic corpus is punctuation-free, so sentence boundaries are
    injected identically in both engines (replace-based, no regex in
    the injection). Zero shuffle, pure codegen."""
    from cellphe_data_pipeline_spark.operators.text import split_sentences

    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit(" value "), F.lit(" value. ")),
            F.lit(" fast "),
            F.lit(" fast! "),
        ).alias("text"),
    )
    return split_sentences(aug)


@register(
    "t18_jsonl_parse",
    r"""
    WITH lines AS (
      SELECT doc_id,
             to_json(struct_pack(
               id := doc_id,
               meta := struct_pack(lang := lang, source := source),
               text := text,
               tags := ['corpus', 'sf'])) AS line
      FROM documents
    )
    SELECT doc_id,
           CAST(json_extract(line, '$.id') AS BIGINT) AS id,
           json_extract_string(line, '$.meta.lang') AS lang,
           json_extract_string(line, '$.meta.source') AS source,
           CAST(length(json_extract_string(line, '$.text')) AS BIGINT) AS n_chars,
           CAST(json_array_length(json_extract(line, '$.tags')) AS INT) AS n_tags,
           json_extract_string(line, '$.missing.key') AS absent
    FROM lines
    """,
)
def t18(spark, sf_dir):
    """JSONL corpus ingest (r7) — THE exchange format of LLM training
    corpora (every public dump ships as JSON lines). The operator
    under test is schema-declared JSON parsing: ``from_json`` with an
    explicit StructType (nested object, array, and a missing-path
    probe that must yield NULL, not an error) against DuckDB's JSON
    extraction. Each engine serialises the lines with its own JSON
    writer (to_json / struct_pack — correct escaping whatever the
    corpus contains) and parses them back; only the parsed fields are
    compared. A real deployment replaces the synthesis with
    ``spark.read.text`` over .jsonl files — the parse expression is
    identical. Pure codegen (Jackson-backed), zero shuffle, full
    column pruning of unaccessed JSON fields."""
    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents")
    # each engine SERIALISES its own line with its JSON writer (proper
    # escaping of quotes/backslashes/control chars — r7 review), then
    # parses it back; only the parsed FIELDS are compared, so writer
    # differences in key order/whitespace are immaterial
    line = F.to_json(
        F.struct(
            F.col("doc_id").alias("id"),
            F.struct(F.col("lang"), F.col("source")).alias("meta"),
            F.col("text").alias("text"),
            F.array(F.lit("corpus"), F.lit("sf")).alias("tags"),
        )
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("lang", T.StringType()),
                        T.StructField("source", T.StringType()),
                    ]
                ),
            ),
            T.StructField("text", T.StringType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
            T.StructField(
                "missing", T.StructType([T.StructField("key", T.StringType())])
            ),
        ]
    )
    j = F.from_json(line, schema)
    return docs.select(
        "doc_id",
        j["id"].alias("id"),
        j["meta"]["lang"].alias("lang"),
        j["meta"]["source"].alias("source"),
        F.length(j["text"]).cast("bigint").alias("n_chars"),
        F.size(j["tags"]).cast("int").alias("n_tags"),
        j["missing"]["key"].alias("absent"),
    )


def _kcore_oracle_sql(k: int = 3, rounds: int = 24) -> str:
    """DuckDB mirror of g7: iterative peeling is not a monotone
    recursive CTE, so the oracle UNROLLS a fixed number of peeling
    rounds as chained CTEs (degree → keep → induced edges). The
    engine computes the true fixpoint; if ``rounds`` ever
    under-covered a deeper graph the hash would MISMATCH loudly, not
    pass silently — convergence at every test SF is therefore part of
    what the gate proves (empirically the mod-97 graph peels out in
    <10 rounds at every SF)."""
    ctes = ["""WITH raw AS MATERIALIZED (
      SELECT doc_id % 97 AS u, UNNEST([(doc_id * 7) % 97,
                                       (doc_id * 3) % 97,
                                       (doc_id + 1) % 97]) AS v
      FROM documents
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT u, v FROM raw WHERE u <> v
        UNION ALL SELECT v AS u, u AS v FROM raw WHERE u <> v
      )
    )"""]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(f"""d{i} AS MATERIALIZED (SELECT u, COUNT(*) AS dg FROM e{p} GROUP BY u),
    s{i} AS MATERIALIZED (SELECT u FROM d{i} WHERE dg >= {k}),
    e{i} AS MATERIALIZED (SELECT t.u, t.v FROM e{p} t
             JOIN s{i} a ON t.u = a.u JOIN s{i} b ON t.v = b.u)""")
    return (
        ",\n    ".join(ctes)
        + f"""
    SELECT u AS node, COUNT(*) AS core_degree
    FROM e{rounds} GROUP BY u
    """
    )


@register("g7_kcore", _kcore_oracle_sql())
def g7(spark, sf_dir):
    """k-CORE decomposition (r10; operators/graph.kcore) on g6's
    deterministic doc-derived graph — the web-graph quality primitive
    that complements g6's triangles: the high-k core is a link graph's
    densely-interlinked nucleus, low-core nodes its periphery/spam,
    and on a dedup pair graph core number separates true duplicate
    clusters from LSH hub-chains. The engine peels iteratively to the
    TRUE fixpoint (one degree agg + two semi joins per round on the
    shrinking edge list, lineage-cut, count-probe convergence —
    peeling cascades, so this is not a monotone recursive CTE); the
    oracle unrolls a covering number of peeling rounds as chained
    CTEs, so the whole decomposition is still hash-checked on real
    tables at every SF. Cascade semantics (pendant chains unravel,
    propped-up diamonds collapse) pinned by the fixture tests."""
    from cellphe_data_pipeline_spark.operators.graph import kcore

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        F.explode(
            F.array(
                (F.col("doc_id") * 7) % 97,
                (F.col("doc_id") * 3) % 97,
                (F.col("doc_id") + 1) % 97,
            )
        ).alias("dst"),
    )
    return kcore(edges, k=3)


@register(
    "g6_triangle_counts",
    """
    WITH raw AS (
      SELECT doc_id % 97 AS u, UNNEST([(doc_id * 7) % 97,
                                       (doc_id * 3) % 97,
                                       (doc_id + 1) % 97]) AS v
      FROM documents
    ),
    e AS (
      SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b
      FROM raw WHERE u <> v
    ),
    tri AS (
      SELECT ab.a, ab.b, bc.b AS c
      FROM e ab JOIN e bc ON ab.b = bc.a
      WHERE EXISTS (SELECT 1 FROM e ac WHERE ac.a = ab.a AND ac.b = bc.b)
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT UNNEST([a, b, c]) AS node FROM tri) t
    GROUP BY node
    """,
)
def g6(spark, sf_dir):
    """Per-node triangle counting (r7; graph.py triangle_counts) — the
    clustering-coefficient numerator, used here as the dedup-cluster
    quality signal (triangle-dense pair graphs are true duplicate
    groups; triangle-free stars are LSH-band chaining artifacts). The
    classic two-equi-join canonical form with forward-degree ordering
    (never a cartesian); the graph is derived deterministically from
    doc_id in both engines — three edge families (7x, 3x, x+1 mod 97)
    whose union measurably contains triangles (16 on the full residue
    ring; a single functional family is triangle-free)."""
    from cellphe_data_pipeline_spark.operators.graph import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        F.explode(
            F.array(
                (F.col("doc_id") * 7) % 97,
                (F.col("doc_id") * 3) % 97,
                (F.col("doc_id") + 1) % 97,
            )
        ).alias("dst"),
    )
    return triangle_counts(edges)


#: t17's merge list: rank-ordered BPE merges chosen so the corpus
#: vocabulary exercises chained merges (t+h then th+e; r+o then ro+w;
#: a+l and u+e then al+ue) and whole-word collapses ('the', 'row');
#: rank-precedence/left-to-right interaction is covered by the
#: hypothesis property test, not by this fixed table.
BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("e", "r"), ("a", "t"), ("s", "t"),
    ("r", "o"), ("ro", "w"), ("a", "l"), ("u", "e"), ("al", "ue"),
    ("c", "o"), ("co", "l"),
]


def _bpe_oracle_sql() -> str:
    """Dictionary oracle for t17: the corpus token vocabulary is CLOSED
    (31 words, stable across scale factors — verified sf0.01/sf0.1),
    so the reference python BPE (text.bpe_reference, an independent
    implementation of the same public algorithm) enumerates the exact
    word -> subtoken-count map as VALUES. The INNER join fails loud on
    generator drift: an out-of-vocabulary word drops its row here
    while the Spark side counts it, so the gate's count/hash compare
    catches any vocabulary change."""
    from cellphe_data_pipeline_spark.operators.text import bpe_reference

    vocab = [
        "a", "agg", "batch", "big", "column", "customer", "data", "dup",
        "fast", "filter", "group", "hash", "join", "key", "line", "merge",
        "order", "part", "query", "row", "scan", "slow", "small", "sort",
        "spark", "stream", "table", "the", "value", "vector", "window",
    ]
    values = ", ".join(
        f"('{w}', {len(bpe_reference(w, BPE_MERGES))})" for w in vocab
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               UNNEST(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
      ) t WHERE tok <> ''
    ),
    d AS (SELECT * FROM (VALUES {values}) AS v(tok, n_sub))
    SELECT t.doc_id, COUNT(*) AS n_words,
           CAST(SUM(d.n_sub) AS BIGINT) AS n_bpe_tokens
    FROM toks t JOIN d USING (tok)
    GROUP BY t.doc_id
    """


def _bpe_learn_cte_parts(n_merges: int) -> list[str]:
    """The shared learn-chain CTEs (tokens -> counted vocab -> k
    unrolled rounds of pair-count argmax p{i} + replace application
    v{i+1}) used by both the t19 learn oracle and the t22 roundtrip
    oracle. Every level is MATERIALIZED — each is referenced twice, so
    default inlining re-evaluates the base vocabulary exponentially
    (SCALE.md t19 oracle note)."""
    sep = "\x1f"
    s2 = sep + sep
    parts = [
        f"""toks AS (
      SELECT tok FROM (
        SELECT UNNEST(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents) t
      WHERE tok <> '' AND NOT contains(tok, '{sep}')
    ),
    w AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    v0 AS MATERIALIZED (
      SELECT cnt,
             '{sep}' || array_to_string(
               list_transform(generate_series(1, length(tok)), i -> tok[i]),
               '{s2}') || '{sep}' AS s
      FROM w)"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""t{i} AS (SELECT cnt, string_split(s[2:length(s) - 1], '{s2}') AS t FROM v{i}),
    p{i} AS MATERIALIZED (
      SELECT t[g.i] AS lhs, t[g.i + 1] AS rhs, SUM(cnt) AS c
      FROM t{i}, UNNEST(CASE WHEN len(t) >= 2
                             THEN generate_series(1, len(t) - 1)
                             ELSE [] END) AS g(i)
      GROUP BY 1, 2 ORDER BY c DESC, lhs, rhs LIMIT 1)"""
        )
        if i + 1 < n_merges:
            parts.append(
                f"""v{i + 1} AS MATERIALIZED (
      SELECT cnt, replace(s,
        '{sep}' || (SELECT lhs FROM p{i}) || '{s2}' || (SELECT rhs FROM p{i}) || '{sep}',
        '{sep}' || (SELECT lhs FROM p{i}) || (SELECT rhs FROM p{i}) || '{sep}') AS s
      FROM v{i})"""
            )
    return parts


def _bpe_learn_oracle_sql(n_merges: int = 6) -> str:
    """DuckDB mirror of text.bpe_learn_merges: the same sentinel-
    delimited string state, the same literal-replace merge application
    (cell-delimited, so non-overlapping LTR replace == greedy BPE),
    the same (count DESC, lhs, rhs) argmax — unrolled as an n-step CTE
    chain where step i+1's replace takes its pair from step i's
    1-row argmax via scalar subqueries. Fully data-driven (no
    dictionary): word frequencies differ per scale factor, so the
    merges must be computed, not enumerated."""
    parts = _bpe_learn_cte_parts(n_merges)
    selects = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_rank, lhs, rhs,"
        f" CAST(c AS BIGINT) AS pair_count FROM p{i}"
        for i in range(n_merges)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + selects


def _bpe_roundtrip_oracle_sql(n_merges: int = 6) -> str:
    """t22 oracle: the t19 learn chain feeding the t17-shaped apply —
    the learned p{i} pairs are applied IN RANK ORDER to a tok-keyed
    copy of the vocabulary (same sentinel-replace semantics =
    bpe_token_counts' greedy per-rank fold), yielding a data-driven
    word -> subtoken-count dictionary that the per-doc token stream
    inner-joins (fail-loud on vocabulary drift, the t17 contract)."""
    sep = "\x1f"
    s2 = sep + sep
    parts = _bpe_learn_cte_parts(n_merges)
    parts.append(
        f"""a0 AS MATERIALIZED (
      SELECT tok,
             '{sep}' || array_to_string(
               list_transform(generate_series(1, length(tok)), i -> tok[i]),
               '{s2}') || '{sep}' AS s
      FROM w)"""
    )
    for i in range(n_merges):
        parts.append(
            f"""a{i + 1} AS MATERIALIZED (
      SELECT tok, replace(s,
        '{sep}' || (SELECT lhs FROM p{i}) || '{s2}' || (SELECT rhs FROM p{i}) || '{sep}',
        '{sep}' || (SELECT lhs FROM p{i}) || (SELECT rhs FROM p{i}) || '{sep}') AS s
      FROM a{i})"""
        )
    parts.append(
        f"""dict AS (
      SELECT tok, len(string_split(s[2:length(s) - 1], '{s2}')) AS n_sub
      FROM a{n_merges}),
    alltoks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               UNNEST(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents) t
      WHERE tok <> '')"""
    )
    final = (
        "SELECT a.doc_id, COUNT(*) AS n_words,"
        " CAST(SUM(d.n_sub) AS BIGINT) AS n_bpe_tokens"
        " FROM alltoks a JOIN dict d USING (tok) GROUP BY a.doc_id"
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + final


@register("t19_bpe_learn_merges", _bpe_learn_oracle_sql(6))
def t19(spark, sf_dir):
    """BPE merge-table LEARNING (r7; text.py bpe_learn_merges;
    Sennrich 2016) — the training half of the t17 tokenizer, run
    in-engine: one corpus collapse into the counted word vocabulary,
    then per merge one combinable pair-count groupBy + a 1-row
    TakeOrdered argmax + a pure-codegen literal-replace application
    over the sentinel-delimited state (delimited cells make
    non-overlapping replace == the greedy BPE pass — no fold). The
    oracle replays the identical algorithm as an unrolled CTE chain,
    data-driven per scale factor."""
    from cellphe_data_pipeline_spark.operators.text import bpe_learn_merges

    return bpe_learn_merges(load_table(spark, sf_dir, "documents"), n_merges=6)


@register("t22_bpe_roundtrip", _bpe_roundtrip_oracle_sql(6))
def t22(spark, sf_dir):
    """BPE TRAIN -> APPLY roundtrip (r8) — the tokenizer-pipeline
    integration a real corpus run needs (reference analogue: the
    per-stage CSV chain of E3, SURVEY §3): bpe_learn_merges learns the
    6-rule merge table from the corpus (delta strategy), the learned
    rules feed bpe_token_counts verbatim, and every document gets its
    (n_words, n_bpe_tokens) budget under the corpus's OWN tokenizer —
    no hand-shipped merge list anywhere. The learned table crosses the
    stages as a k-row driver list (the bounded argmax idiom); the
    corpus is scanned once for training and once for application. The
    oracle replays learn + apply as one materialized CTE chain."""
    from cellphe_data_pipeline_spark.operators.text import (
        bpe_learn_merges,
        bpe_token_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    learned = bpe_learn_merges(docs, n_merges=6).orderBy("merge_rank").collect()
    return bpe_token_counts(docs, [(r["lhs"], r["rhs"]) for r in learned])


@register("t17_bpe_tokenize", _bpe_oracle_sql())
def t17(spark, sf_dir):
    """REAL BPE tokenization as Catalyst expressions (r7; text.py
    bpe_token_counts): the actual greedy merge algorithm — one
    F.aggregate fold per merge rank, nested in a transform over the
    word array — not the bpe_ish regex approximation. Zero UDF, zero
    shuffle before the per-doc aggregate; the oracle is a dictionary
    join built from the independent python reference over the closed
    corpus vocabulary (fails loud on OOV drift)."""
    from cellphe_data_pipeline_spark.operators.text import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_counts(docs, BPE_MERGES)


@register("t24_bpe_tokenize_arrow", _bpe_oracle_sql())
def t24(spark, sf_dir):
    """BPE tokenization — the PRODUCTION-SCALE Arrow path (r8;
    text.py bpe_token_counts_arrow): t17's expression form builds one
    Catalyst fold per rule (plan growth linear in |merges| —
    pathological at real 30-50k-rule vocabularies); this path runs
    the GPT-2 priority-merge loop in an Arrow-batched kernel over the
    SAME distinct-word relation (per-word cost independent of
    |merges|, rank dict shipped once per task, per-batch word cache).
    Bit-identical to t17 by the rank-order ≡ priority-loop
    equivalence (hypothesis-tested); shares t17's dictionary oracle,
    so the driver independently proves both paths against the same
    truth."""
    from cellphe_data_pipeline_spark.operators.text import (
        bpe_token_counts_arrow,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_token_counts_arrow(docs, BPE_MERGES)


def _fertility_oracle_sql() -> str:
    """t25: the t17 dictionary-BPE oracle rolled up by the corpus
    lang label — per-language tokenizer fertility."""
    from cellphe_data_pipeline_spark.operators.text import bpe_reference

    vocab = [
        "a", "agg", "batch", "big", "column", "customer", "data", "dup",
        "fast", "filter", "group", "hash", "join", "key", "line", "merge",
        "order", "part", "query", "row", "scan", "slow", "small", "sort",
        "spark", "stream", "table", "the", "value", "vector", "window",
    ]
    values = ", ".join(
        f"('{w}', {len(bpe_reference(w, BPE_MERGES))})" for w in vocab
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id,
               UNNEST(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
      ) t WHERE tok <> ''
    ),
    d AS (SELECT * FROM (VALUES {values}) AS v(tok, n_sub)),
    tokc AS (
      SELECT t.doc_id, COUNT(*) AS n_words,
             CAST(SUM(d.n_sub) AS BIGINT) AS n_bpe_tokens
      FROM toks t JOIN d USING (tok)
      GROUP BY t.doc_id
    ),
    b AS (SELECT doc_id, lang, strlen(text) AS n_bytes FROM documents)
    SELECT b.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(tokc.n_bpe_tokens) * 1000000 // SUM(tokc.n_words) AS BIGINT)
             AS tokens_per_word_ppm,
           CAST(SUM(b.n_bytes) * 1000000 // SUM(tokc.n_bpe_tokens) AS BIGINT)
             AS bytes_per_token_ppm
    FROM tokc
    JOIN b USING (doc_id)
    GROUP BY 1
    """


T26_VOCAB_SIZES = (100, 500, 1000, 5000)


@register(
    "t26_token_coverage",
    r"""
    WITH toks AS (
      SELECT UNNEST(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS tok
      FROM documents
    ),
    c AS (SELECT tok, COUNT(*) AS cnt FROM toks WHERE tok <> '' GROUP BY tok),
    t AS (SELECT SUM(cnt) AS total_tokens FROM c),
    r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank FROM c),
    ks AS (SELECT UNNEST([100, 500, 1000, 5000]) AS k)
    SELECT CAST(ks.k AS BIGINT) AS vocab_size,
           CAST(SUM(CASE WHEN r.rank <= ks.k THEN r.cnt ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           CAST(MAX(t.total_tokens) AS BIGINT) AS total_tokens,
           CAST(CAST(SUM(CASE WHEN r.rank <= ks.k THEN r.cnt ELSE 0 END)
                     AS HUGEINT) * 1000000 // MAX(t.total_tokens) AS BIGINT)
             AS coverage_ppm
    FROM ks, r, t
    GROUP BY ks.k
    """,
)
def t26(spark, sf_dir):
    """Vocabulary coverage curve (r9; text.token_coverage_curve) — the
    tokenizer-design profile: per candidate vocab size k, the fraction
    of all corpus token occurrences the top-k types cover (the Zipf
    knee that sizes BPE merge counts and OOV budgets; feeds directly
    into t19's n_merges and t11's vocab choices). Scale shape: one
    map-combinable groupBy(token), a distributed TakeOrdered for the
    max threshold — NEVER a vocabulary-sized global rank window — and
    parameter-bounded per-threshold sums; coverage as exact integer
    ppm via decimal (the t21 discipline). The oracle ranks the full
    vocabulary (fine at oracle scale) with the identical (count desc,
    token) tie rule."""
    from cellphe_data_pipeline_spark.operators.text import (
        token_coverage_curve,
    )

    return token_coverage_curve(
        load_table(spark, sf_dir, "documents"), vocab_sizes=T26_VOCAB_SIZES
    )


@register("t25_tokenizer_fertility", _fertility_oracle_sql())
def t25(spark, sf_dir):
    """Per-language tokenizer FERTILITY (r8): tokens-per-word and
    bytes-per-token by corpus language slice — the standard diagnostic
    for how well a learned tokenizer serves each language of a
    multilingual corpus (high fertility = that language pays more
    context budget per word). Chains t17's real-BPE token counts
    (distinct-word cached) with the corpus language label via one
    co-keyed doc_id join, then a 5-group rollup. (Grouping uses the
    ground-truth lang column, not t2's stopword predictor: the
    synthetic corpus draws all text from one closed English-ish
    vocabulary, so the predictor degenerates to a single class here.)
    ppm ratios follow the t21 overflow discipline: Spark sums go
    through decimal(38,0) numerators (DuckDB's SUM is already
    HUGEINT), so sum(bytes)*1e6 at 100 TB cannot wrap; the ppm
    results themselves are bounded by fertility, far inside int64."""
    from cellphe_data_pipeline_spark.operators.text import bpe_token_counts

    docs = load_table(spark, sf_dir, "documents")
    tok = bpe_token_counts(docs, BPE_MERGES)
    byt = docs.select(
        "doc_id", "lang", F.octet_length("text").alias("n_bytes")
    )
    return (
        tok.join(byt, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(
                "CAST(SUM(n_bpe_tokens) AS DECIMAL(38,0)) * 1000000 DIV SUM(n_words)"
            ).alias("tokens_per_word_ppm"),
            F.expr(
                "CAST(SUM(n_bytes) AS DECIMAL(38,0)) * 1000000 DIV SUM(n_bpe_tokens)"
            ).alias("bytes_per_token_ppm"),
        )
    )


def _streaming_minhash_oracle_sql() -> str:
    return f"""
    WITH bands AS ({_minhash_bands_only_sql()}),
    p AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           epoch_ms((1700000000 + doc_b) * 1000) AS ts_b
    FROM p
    """


@register("e9_streaming_minhash_neardup", _streaming_minhash_oracle_sql())
def e9(spark, sf_dir):
    """§2.11 streaming INGEST-TIME NEAR-DUP runtime under the driver
    oracle (r7): streaming_minhash_neardup — stateless expression-form
    MinHash band keys, watermarked band-keyed stream-stream self-join,
    CHAINED dropDuplicatesWithinWatermark pair collapse (two stateful
    operators in one streaming plan, Spark >= 3.4) — drained with
    availableNow and matched against the batch band-collision pair set
    (the d3b signature layer joined on itself). The fifth verified
    streaming runtime, and the one closest to a production corpus
    ingest: every arriving doc is checked against the standing window
    without re-scanning the corpus. Event time synthesised from doc_id
    (1s apart past a fixed epoch); the gate uses a horizon and
    watermark far wider than any sf's id span so the emitted pair set
    is exactly the batch answer (ts ordering == id ordering, so pair
    orientation doc_a < doc_b is deterministic)."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_minhash_neardup,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.timestamp_micros(
            (F.lit(1_700_000_000) + F.col("doc_id")) * F.lit(1_000_000)
        ).alias("ts"),
    )
    sink = _drain_to_memory(
        _stage_stream(docs, "e9_stream_minhash"), "e9_minhash_sink",
        lambda stream: streaming_minhash_neardup(
            stream, horizon_seconds=10_000_000, watermark="30 days"
        ),
        "append", "e9_streaming_minhash_neardup",
    )
    return sink.select("doc_a", "doc_b", "ts_b")


@register(
    "e10_streaming_quality_gate",
    _gopher_oracle_sql(),
)
def e10(spark, sf_dir):
    """§2.11 streaming QUALITY GATE runtime under the driver oracle
    (r8) — curation at ingest, completing the story e7 (ingest dedup)
    and e9 (ingest near-dup) started: the t15 Gopher rule set
    (text.py gopher_rules, pure stateless codegen — trivially
    streamable, no watermark or state store needed) applied to a real
    readStream over the staged documents corpus and drained with
    availableNow. Every arriving doc gets its keep/fail_mask verdict
    in the micro-batch it arrives in; the drained sink must equal the
    batch Gopher pass the oracle computes. Sixth verified streaming
    runtime."""
    from cellphe_data_pipeline_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sink = _drain_to_memory(
        _stage_stream(docs, "e10_stream_quality"), "e10_quality_sink",
        gopher_rules, "append", "e10_streaming_quality_gate",
    )
    return sink.select(
        "doc_id", "n_words", "mean_word_len", "keep", "fail_mask"
    )


@register(
    "e11_streaming_count_min",
    _CM_TOKS_CTE + r"""
    SELECT r AS row,
           CAST(('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 8))::BIGINT % 256 AS BIGINT) AS col,
           COUNT(*) AS cell_n
    FROM toks, UNNEST([0, 1, 2, 3]) AS g(r)
    GROUP BY 1, 2
    """,
)
def e11(spark, sf_dir):
    """§2.11 streaming COUNT-MIN runtime under the driver oracle (r8)
    — how an always-on ingest maintains corpus token statistics:
    t23's sketch (text.py count_min_cells) as a streaming aggregation
    whose ENTIRE state is the fixed 4x256 cell table — the sketch's
    selling point made literal: state size is independent of corpus
    size, so complete-mode output and unbounded retention are safe by
    construction (contrast e5's watermarked rollup, whose key space
    grows with time). Drained with availableNow into a complete-mode
    memory sink; the final cell table must equal the batch sketch the
    oracle computes. Seventh verified streaming runtime, and the
    streaming member of the sketch family."""
    from cellphe_data_pipeline_spark.operators.text import (
        _doc_tokens,
        count_min_cells,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sink = _drain_to_memory(
        _stage_stream(docs, "e11_stream_cm"), "e11_cm_sink",
        lambda stream: count_min_cells(_doc_tokens(stream), depth=4, width=256),
        "complete", "e11_streaming_count_min",
    )
    return sink.select("row", "col", "cell_n")


@register(
    "e12_streaming_sessionization",
    _session_oracle_sql(with_value=True),
)
def e12(spark, sf_dir):
    """§2.11 streaming SESSIONIZATION runtime under the driver oracle
    (r8): Spark's NATIVE session-window state store
    (streaming/tracker.streaming_session_windows) run as a real
    readStream → merge-on-arrival session aggregation → availableNow
    drain, checked against the same gap-split SQL oracle as the batch
    w7 twin. This is the engine-managed complement to e6's hand-rolled
    applyInPandasWithState sessions: the state store itself merges
    overlapping [ts, ts+30min) extents per user as micro-batches
    arrive, so sessions split across batches converge to the batch
    answer. COMPLETE output mode for the bounded drain (same rationale
    as e5: append's final watermark would hold back trailing
    sessions). Eighth verified streaming runtime."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_session_windows,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    sink = _drain_to_memory(
        _stage_stream(ev, "e12_stream_sessions"), "e12_session_sink",
        streaming_session_windows, "complete", "e12_streaming_sessionization",
    )
    return sink.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


# =====================================================================
# Round-10 session-2 additions: BFS seed distance (g8), incremental
# MV maintenance (c20), grouping sets (a19), distribution windows (w11)
# =====================================================================


def _bfs_oracle_sql(max_hops: int = 8) -> str:
    """DuckDB mirror of g8: level-synchronous BFS unrolled as chained
    MATERIALIZED CTEs (the g7 lesson: each round references the
    previous round's frontier AND visited set, so un-materialized
    inlining re-expands the base scan exponentially). Round i derives
    frontier f_i = neighbours(f_{i-1}) minus visited v_{i-1}, and
    v_i = v_{i-1} union (f_i at hops i). The engine computes the same
    fixed max_hops bound, and BFS level-order makes first-discovery ==
    min-hops on both sides, so the hash checks the whole distance
    map. The mod-97 expander reaches its whole component in <5 hops
    from the 8 seeds at every SF; unreached-within-bound nodes are
    absent on BOTH sides by construction."""
    ctes = ["""WITH raw AS MATERIALIZED (
      SELECT doc_id % 97 AS u, UNNEST([(doc_id * 7) % 97,
                                       (doc_id * 3) % 97,
                                       (doc_id + 1) % 97]) AS v
      FROM documents
    ),
    e0 AS MATERIALIZED (
      SELECT DISTINCT u, v FROM (
        SELECT u, v FROM raw WHERE u <> v
        UNION ALL SELECT v AS u, u AS v FROM raw WHERE u <> v
      )
    ),
    f0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM e0 WHERE u % 13 = 0),
    v0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS hops FROM f0)"""]
    for i in range(1, max_hops + 1):
        p = i - 1
        ctes.append(f"""f{i} AS MATERIALIZED (
      SELECT DISTINCT e.v AS node FROM e0 e JOIN f{p} s ON e.u = s.node
      WHERE e.v NOT IN (SELECT node FROM v{p})),
    v{i} AS MATERIALIZED (
      SELECT node, hops FROM v{p}
      UNION ALL SELECT node, CAST({i} AS BIGINT) AS hops FROM f{i})""")
    return (
        ",\n    ".join(ctes)
        + f"""
    SELECT node, hops FROM v{max_hops}
    """
    )


@register("g8_bfs_hops", _bfs_oracle_sql())
def g8(spark, sf_dir):
    """Multi-source BFS seed distance (r10; operators/graph.bfs_hops)
    on the g6/g7 deterministic doc-derived graph — the crawl-frontier /
    seed-propagation primitive the graph family was missing: CC answers
    WHETHER a node connects, g8 answers HOW FAR (quality seeds at hops
    0, distance-decayed trust outward; on a dedup pair graph, distance
    from a known-bad cluster). Engine: level-synchronous frontier
    expansion — per round one semi join keyed on the (shrinking)
    frontier + one anti join against the visited set, lineage-cut,
    empty-frontier count probe; BFS level order makes first-discovery
    == min-hops with no per-node min reconciliation. Oracle: the same
    rounds unrolled as MATERIALIZED CTEs (the g7 inlining lesson), so
    the full distance map is hash-checked on real tables at every SF.
    Seeds are the 8 residues ≡ 0 (mod 13) present in the edge set."""
    from cellphe_data_pipeline_spark.operators.graph import bfs_hops

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = docs.select(
        (F.col("doc_id") % 97).alias("src"),
        F.explode(
            F.array(
                (F.col("doc_id") * 7) % 97,
                (F.col("doc_id") * 3) % 97,
                (F.col("doc_id") + 1) % 97,
            )
        ).alias("dst"),
    )
    live = edges.filter(F.col("src") != F.col("dst"))
    nodes = (
        live.select(F.col("src").alias("node"))
        .union(live.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(F.col("node") % 13 == 0)
    return bfs_hops(edges, seeds, max_hops=8)


@register(
    "c20_incremental_mv",
    """
    SELECT n.n_name AS nation, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                    CAST(1.0 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def c20(spark, sf_dir):
    """Incremental JOIN-AGGREGATE materialized-view maintenance (r10;
    aggregates.merge_keyed_rollup) — the keyed counterpart of a18's
    whole-table profile merge and the batch core of what e6/c7 do for
    row upserts: a published revenue-by-nation rollup is maintained
    from a base snapshot plus a delta batch by folding the DELTA'S
    rollup into the stored one — the base is never rescanned — and the
    oracle recomputes the view DIRECTLY over base ∪ delta, so
    merge==rescan is the hash-checked contract. Measures are chosen
    mergeable (bigint count + decimal-exact revenue sum — order-free,
    so slices fold in any order); each slice's rollup is the standard
    broadcast-dim star join (supplier→nation broadcast, fact never
    shuffled for the dims) + one combinable groupBy. At 100 TB the
    maintenance cost per ingest batch is O(delta + affected groups)
    instead of an O(base) view rebuild."""
    from cellphe_data_pipeline_spark.operators.aggregates import (
        merge_keyed_rollup,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )

    def slice_rollup(part):
        dec_price = F.col("l_extendedprice").cast("decimal(18,2)")
        dec_disc = (F.lit(1.0) - F.col("l_discount")).cast("decimal(18,2)")
        return (
            part.join(
                F.broadcast(sup), part["l_suppkey"] == sup["s_suppkey"]
            )
            .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(dec_price * dec_disc).alias("_rev"),
            )
        )

    base = slice_rollup(li.filter(F.col("l_orderkey") % 10 != 7))
    delta = slice_rollup(li.filter(F.col("l_orderkey") % 10 == 7))
    merged = merge_keyed_rollup(
        [base, delta], ["nation"], {"n_items": "sum", "_rev": "sum"}
    )
    return merged.select(
        "nation",
        "n_items",
        F.col("_rev").cast("double").alias("revenue"),
    )


@register(
    "a19_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderpriority), ())
    """,
)
def a19(spark, sf_dir):
    """Arbitrary GROUPING SETS with grouping_id (r10) — completes the
    multi-granularity trio (a9 ROLLUP, a11 CUBE): the set list here
    ((status, priority), (priority), ()) is NOT a rollup or cube of
    its columns, so it exercises the general Expand path, and the
    grouping_id bitmask (left column = MSB on both engines) is the
    disambiguator that separates NULL-as-data from NULL-as-subtotal —
    the correctness piece a9/a11 omit. One scan expanded to the three
    grouping sets with partial aggregation per set — at 100 TB one
    pass replaces three unioned scans of the fact."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )


@register(
    "w11_distribution_windows",
    """
    SELECT user_id, event_id,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd,
           NTH_VALUE(event_id, 3) OVER (
             PARTITION BY user_id ORDER BY value, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS third_event
    FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
)
def w11(spark, sf_dir):
    """Distribution window functions (r10) — the remaining SQL window
    surface after w6's rank/lead/ntile: PERCENT_RANK (relative rank in
    [0,1] — the per-group quantile position a quality-score gate cuts
    on), CUME_DIST, and NTH_VALUE over the full-partition frame. Ties
    are broken deterministically (ORDER BY value, event_id) so
    nth_value is cross-engine stable; percent_rank's (rank-1)/(n-1)
    division is identical small-int IEEE arithmetic on both engines,
    rounded at 6dp (non-negative, so no -0.0 class). All four window
    expressions share ONE partition shuffle + sort."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("event_id", 3).over(wf).alias("third_event"),
    )


@register(
    "a20_hll_merge_audit",
    """
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT event_id) AS n_exact,
           TRUE AS ok_single_bound,
           TRUE AS ok_union_bound
    FROM events WHERE event_type IS NOT NULL GROUP BY event_type
    """,
)
def a20(spark, sf_dir):
    """Mergeable HLL distinct-count lifecycle with its accuracy claim
    under the oracle (r10) — closing the trade a18/merge_profiles
    documents ("exact distincts are not algebraic from O(1) state; HLL
    is the mergeable substitute with an error bar") by actually
    shipping the substitute: per-slice DataSketches HLL partials
    (hll_sketch_agg — O(2^lgK) bytes per group regardless of slice
    size), folded with hll_union_agg exactly where merge_keyed_rollup
    folds sums, plus the whole-table single-pass sketch. The a16
    theorem-column idiom carries the accuracy claim: the oracle emits
    literal TRUE for ok_single_bound / ok_union_bound while the engine
    computes |estimate - exact| <= 5% * exact for BOTH the one-pass
    sketch and the slice-union (lgConfigK=12 → rsd ≈ 1.6%, so 5% is a
    ~3-sigma envelope; the sketch is hash-deterministic, so the bound
    is re-verified, not sampled, at every SF). n_exact itself is
    value-matched. At 100 TB this is the distinct-count path: stored
    per-slice sketches make the corpus-wide distinct an O(slices ×
    groups × 2^lgK) fold instead of a global exact-distinct shuffle."""
    # NULL-key discipline (r11 advisor): the estimate/exact stitch below
    # is an INNER equi-join on event_type, which drops a NULL group the
    # oracle's GROUP BY would keep — filter NULL keys symmetrically on
    # both engines (the e21/e22 idiom) rather than relying on the
    # current generation's event_type being non-null.
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select("event_type", "event_id", "user_id")
    )
    slice_preds = [
        (F.col("user_id") % 3 == 0) | F.col("user_id").isNull(),
        F.col("user_id") % 3 == 1,
        F.col("user_id") % 3 == 2,
    ]
    partials = [
        ev.filter(p)
        .groupBy("event_type")
        .agg(F.hll_sketch_agg("event_id").alias("_sk"))
        for p in slice_preds
    ]
    u = partials[0]
    for p in partials[1:]:
        u = u.unionByName(p)
    merged = u.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_union_est")
    )
    whole = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("event_id").alias("n_exact"),
        F.hll_sketch_estimate(F.hll_sketch_agg("event_id")).alias(
            "_single_est"
        ),
    )
    bound = 0.05
    joined = whole.join(F.broadcast(merged), "event_type")
    err = lambda est: F.abs(  # noqa: E731 — local readability helper
        est.cast("double") - F.col("n_exact").cast("double")
    )
    return joined.select(
        "event_type",
        "n_rows",
        "n_exact",
        (err(F.col("_single_est")) <= bound * F.col("n_exact")).alias(
            "ok_single_bound"
        ),
        (err(F.col("_union_est")) <= bound * F.col("n_exact")).alias(
            "ok_union_bound"
        ),
    )


def _stage_ordered_batches(parts, stage_name: str) -> str:
    """Stage a list of DataFrames as ONE parquet file each, with
    strictly increasing mtimes, so that readStream + maxFilesPerTrigger
    =1 replays them as DETERMINISTIC micro-batches in list order
    (FileStreamSource orders by modification time; the 100-second
    spacing makes the order unambiguous at any filesystem timestamp
    granularity). This is the replay harness watermark semantics need:
    which rows are 'late' depends on BATCH BOUNDARIES, so the
    boundaries must be pinned for the oracle to reproduce them."""
    import glob
    import os
    import shutil

    staged = _stage_dir(stage_name)
    for k, part in enumerate(parts):
        tmp = os.path.join(staged, f"_tmp{k}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        files = glob.glob(os.path.join(tmp, "part-*.parquet"))
        assert len(files) == 1, f"{stage_name} batch {k}: {len(files)} files"
        dst = os.path.join(staged, f"b{k}.parquet")
        shutil.move(files[0], dst)
        shutil.rmtree(tmp)
        t = 1_700_000_000 + 100 * k
        os.utime(dst, (t, t))
    return staged


_E20_T1 = "2024-01-12 00:00:00"
_E20_T2 = "2024-01-24 00:00:00"


@register(
    "e20_streaming_late_drop",
    f"""
    WITH v AS (
      SELECT ts, value,
             CASE WHEN event_id % 5 = 2 THEN 2
                  WHEN ts < TIMESTAMP '{_E20_T1}' THEN 0
                  WHEN ts < TIMESTAMP '{_E20_T2}' THEN 1
                  ELSE 2 END AS b
      FROM events WHERE ts IS NOT NULL
    ),
    m AS (
      SELECT MAX(CASE WHEN b = 0 THEN ts END) AS max0,
             MAX(ts) AS maxall
      FROM v
    ),
    kept AS (
      -- late filter for batch k uses the PREVIOUS batch's watermark
      -- (eviction wm of batch k-1 = max event time through batch k-2
      -- minus delay): b0/b1 see the initial epoch-0 watermark (keep
      -- all); b2 sees batch 1's eviction watermark max0 - 2h
      SELECT v.ts, v.value FROM v, m
      WHERE v.b <= 1
         OR (v.b = 2 AND date_trunc('hour', v.ts) + INTERVAL 1 HOUR
               > m.max0 - INTERVAL 2 HOUR)
    )
    SELECT date_trunc('hour', ts) AS win_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM kept
    GROUP BY 1, 2
    HAVING win_end <= (SELECT maxall - INTERVAL 2 HOUR FROM m)
    """,
)
def e20(spark, sf_dir):
    """§2.11 APPEND-mode watermark semantics under the driver oracle
    (r10) — the seventeenth verified streaming runtime and the first
    to pin the two effects the watermark exists for: LATE-ROW DROPPING
    (a row arriving after its window's state was evicted is discarded)
    and ONCE-ONLY EMISSION (a window leaves the state store exactly
    when the watermark passes its end; trailing windows are withheld).
    e5 proved the streaming rollup's VALUES in complete mode, where
    neither effect is visible; e20 makes them the contract.

    Replay protocol: the events table is split into three
    deterministic micro-batches — in-order history (b0: ts < Jan 12),
    more in-order history (b1: Jan 12-24), then a final batch (b2)
    carrying the tail ts >= Jan 24 AND every event_id ≡ 2 (mod 5) row
    from the WHOLE month — genuine stragglers up to 23 days late.
    `_stage_ordered_batches` pins the batch order (one file per
    micro-batch via maxFilesPerTrigger=1, confirmed via
    StreamingQueryProgress: 2918/3217/3865 rows + a no-data batch at
    sf0.01); the watermark delay is 2 hours. The oracle replays
    Spark's TWO-watermark protocol in SQL — the subtlety this query
    exists to pin: EVICTION/EMISSION in batch k uses the current
    watermark (max event time through batch k-1, minus delay;
    watermark stats see every row, including ones the filter then
    drops), but the LATE-ROW FILTER uses the PREVIOUS batch's
    watermark (eventTimeWatermarkForLateEvents — a window only closes
    to stragglers once its state was actually evicted at the END of
    the prior batch, the no-data-loss half of SPARK-24634's contract;
    a same-batch model mis-drops everything between the two marks —
    measured here as 288 of 717 windows wrong). So: b0/b1 filter
    against the initial epoch watermark (keep all), b2 against batch
    1's eviction watermark max(b0) - 2h, and final emission keeps
    windows whose end <= max(all) - 2h. At the data's SFs: b2's
    stragglers before ~Jan 11 22:00 are dropped, later stragglers
    merge into still-open state, and the last ~2 hours of windows are
    withheld — all three magnitudes hash-checked.
    Strictness at the boundary cannot bite: watermarks inherit the
    max-ts microsecond offset while window ends sit on the hour grid,
    so equality is unreachable. At 100 TB/day this is why state stays
    O(open windows): emitted windows leave the store and their
    stragglers are filtered before the shuffle."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        ordered_file_stream,
        streaming_append_rollup,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("ts", "value", "event_id")
    )
    t1 = F.lit(_E20_T1).cast("timestamp")
    t2 = F.lit(_E20_T2).cast("timestamp")
    b = (
        F.when(F.col("event_id") % 5 == 2, 2)
        .when(F.col("ts") < t1, 0)
        .when(F.col("ts") < t2, 1)
        .otherwise(2)
    )
    evb = ev.withColumn("_b", b)
    parts = [
        evb.filter(F.col("_b") == k).select("ts", "value") for k in (0, 1, 2)
    ]
    staged = _stage_ordered_batches(parts, "e20_stream_late")
    sink = _drain_to_memory(
        ordered_file_stream(spark, parts[0].schema, staged),
        "e20_late_sink",
        streaming_append_rollup,
        "append",
        "e20_streaming_late_drop",
    )
    return sink.select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        "n",
        "sum_value",
    )


_E21_C1 = "2024-01-11 00:00:00"
_E21_C2 = "2024-01-21 00:00:00"


@register(
    "e21_streaming_dedup_expiry",
    f"""
    WITH base AS (
      -- event_type filtered non-null: a NULL would diverge the key
      -- builders (concat_ws skips NULLs, CONCAT keeps the separator)
      SELECT CONCAT(user_id, '_', event_type) AS key, ts
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
    ),
    p AS (
      SELECT key,
             MIN(CASE WHEN ts < TIMESTAMP '{_E21_C1}' THEN ts END) AS t0,
             MIN(CASE WHEN ts >= TIMESTAMP '{_E21_C1}'
                       AND ts < TIMESTAMP '{_E21_C2}' THEN ts END) AS t1,
             MIN(CASE WHEN ts >= TIMESTAMP '{_E21_C2}' THEN ts END) AS t2
      FROM base GROUP BY key
    ),
    m AS (SELECT MAX(t0) AS max0 FROM p)
    SELECT key, t0 AS ts, 0 AS src_batch FROM p WHERE t0 IS NOT NULL
    UNION ALL
    SELECT key, t1 AS ts, 1 AS src_batch FROM p
    WHERE t0 IS NULL AND t1 IS NOT NULL
    UNION ALL
    -- a batch-2 re-send re-emits iff the batch-0 state was evicted
    -- before batch 2's presence check: expiry t0 + 4d fell behind the
    -- watermark VISIBLE to that check, which is batch 1's watermark
    -- max(b0) - 4d (the same one-batch lag e20 pins for late rows)
    SELECT key, t2 AS ts, 2 AS src_batch FROM p, m
    WHERE t2 IS NOT NULL AND (
      (t0 IS NULL AND t1 IS NULL)
      OR (t0 IS NOT NULL
          AND t0 + INTERVAL 4 DAY < m.max0 - INTERVAL 4 DAY)
    )
    """,
)
def e21(spark, sf_dir):
    """§2.11 dedup-state EXPIRY semantics under the driver oracle
    (r10) — e20's sibling for dropDuplicatesWithinWatermark, the
    eighteenth verified streaming runtime: what bounds dedup state at
    100 TB/day is that a key's entry EXPIRES once the watermark passes
    first_ts + delay — after which a re-send is re-admitted (the
    at-least-once boundary: bounded state is bought with re-emission
    beyond the redelivery horizon). e7 proved suppression inside the
    horizon; e21 makes the whole three-phase lifecycle the contract:
    suppressed while state lives, evicted when the watermark passes,
    re-admitted after.

    Replay protocol: keys are (user_id, event_type) pairs; three
    time-ordered micro-batches (month thirds at Jan 11 / Jan 21), each
    staged as one row per key (its slice-min ts) so within-batch
    winner choice — which Spark leaves unspecified across partitions —
    cannot enter the contract; watermark delay 4 days. Probed
    semantics the oracle encodes (two fixture probes this round): a
    duplicate is suppressed iff its key is in the state VISIBLE to its
    batch, and the visible state excludes keys whose expiry fell
    behind the PREVIOUS batch's watermark — the same one-batch lag as
    e20's late filter (a key expiring 'during' batch k still suppresses
    batch k's re-sends). So: every batch-0 key emits; batch-1 rows
    emit only for keys unseen in batch 0 (batch 1's visible watermark
    is the epoch); batch-2 rows emit for keys unseen earlier OR keys
    whose batch-0 expiry t0+4d < max(b0)-4d — both the re-admitted and
    the still-suppressed subsets are populated at every SF, and
    duplicates do NOT extend expiry (first-event anchoring). Dedup
    output is append-immediate (no watermark-gated emission), so there
    is no withheld tail — that effect belongs to e20."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        ordered_file_stream,
        streaming_dedup_within_watermark,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            F.concat_ws("_", "user_id", "event_type").alias("key"), "ts"
        )
    )
    c1 = F.lit(_E21_C1).cast("timestamp")
    c2 = F.lit(_E21_C2).cast("timestamp")
    slices = [
        ev.filter(F.col("ts") < c1),
        ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
        ev.filter(F.col("ts") >= c2),
    ]
    parts = [
        s.groupBy("key")
        .agg(F.min("ts").alias("ts"))
        .withColumn("src_batch", F.lit(k).cast("int"))
        for k, s in enumerate(slices)
    ]
    staged = _stage_ordered_batches(parts, "e21_stream_dedup")
    sink = _drain_to_memory(
        ordered_file_stream(spark, parts[0].schema, staged),
        "e21_dedup_sink",
        streaming_dedup_within_watermark,
        "append",
        "e21_streaming_dedup_expiry",
    )
    return sink.select("key", "ts", "src_batch")


def _takedown_closure_oracle_sql() -> str:
    """c21 oracle: d7's cluster chain (MinHash pairs → recursive
    transitive closure) intersected with the seed list, expanded to
    whole clusters, then full-outer-merged with the raw seed list so
    singleton seeds (no near-dup pair) are still in the manifest."""
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(n, m) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n),
    seeds AS (SELECT doc_id FROM documents WHERE doc_id % 83 = 5),
    seed_clusters AS (
      SELECT DISTINCT c.cluster_id FROM comp c
      JOIN seeds s ON c.doc_id = s.doc_id
    ),
    expanded AS (
      SELECT c.doc_id, c.cluster_id FROM comp c
      JOIN seed_clusters sc ON c.cluster_id = sc.cluster_id
    )
    SELECT COALESCE(e.doc_id, s.doc_id) AS doc_id,
           (s.doc_id IS NOT NULL) AS is_seed,
           e.cluster_id
    FROM expanded e FULL OUTER JOIN seeds s ON e.doc_id = s.doc_id
    """


@register("c21_takedown_closure", _takedown_closure_oracle_sql())
def c21(spark, sf_dir):
    """Takedown/compliance DELETE CLOSURE (r10) — the removal-request
    path a training corpus must implement: deleting only the listed
    documents leaves their near-copies (mirrors, re-crawls, light
    edits) in the corpus, so the deletion manifest must close over the
    near-duplicate CLUSTERS the seeds belong to. Composition of proven
    parts: MinHash banded pairs (d3) → transitive clusters (d7's CC) →
    semi join the clusters that contain a seed → expand to every
    member → full-outer-merge with the seed list so singleton seeds
    (nothing similar in the corpus) still appear. Output is the
    auditable manifest: (doc_id, is_seed, cluster_id — NULL for
    singleton seeds); the surviving corpus is one anti join against
    it. Scale shape: the seed list and seed-cluster set are broadcast-
    sized; the pair graph is near-dups only (tiny vs corpus); the
    corpus itself is touched by exactly the banded-candidate scan d3
    already pays — no new corpus self-join, no cartesian anywhere."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_duplicates,
    )

    d = load_table(spark, sf_dir, "documents")
    seeds = d.filter(F.col("doc_id") % 83 == 5).select("doc_id")
    pairs = minhash_near_duplicates(d)
    clusters = dedup_clusters(pairs).select("doc_id", "cluster_id")
    seed_clusters = (
        clusters.join(F.broadcast(seeds), "doc_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    expanded = clusters.join(
        F.broadcast(seed_clusters), "cluster_id", "left_semi"
    )
    return (
        expanded.join(
            seeds.select(F.col("doc_id"), F.lit(True).alias("_s")),
            "doc_id",
            "full_outer",
        )
        .select(
            "doc_id",
            F.col("_s").isNotNull().alias("is_seed"),
            "cluster_id",
        )
    )


_E22_CUT = "2024-01-16 00:00:00"


@register(
    "e22_streaming_outer_join",
    """
    WITH v AS (
      SELECT event_id, user_id, event_type, ts FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IN ('click', 'purchase')
    ),
    c AS (SELECT event_id AS l_id, user_id AS l_key, ts AS l_ts
          FROM v WHERE event_type = 'click'),
    p AS (SELECT event_id AS r_id, user_id AS r_key, ts AS r_ts
          FROM v WHERE event_type = 'purchase'),
    wm AS (SELECT LEAST((SELECT MAX(l_ts) FROM c),
                        (SELECT MAX(r_ts) FROM p))
                  - INTERVAL 2 HOUR AS final_wm),
    matched AS (
      SELECT c.l_id, c.l_key, c.l_ts, p.r_id, p.r_ts
      FROM c JOIN p ON p.r_key = c.l_key
       AND p.r_ts >= c.l_ts AND p.r_ts <= c.l_ts + INTERVAL 1 HOUR
    )
    SELECT l_id, l_key, l_ts, r_id, r_ts FROM matched
    UNION ALL
    SELECT c.l_id, c.l_key, c.l_ts,
           CAST(NULL AS BIGINT) AS r_id, CAST(NULL AS TIMESTAMP) AS r_ts
    FROM c, wm
    WHERE c.l_ts + INTERVAL 1 HOUR < wm.final_wm
      AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.l_id = c.l_id)
    """,
)
def e22(spark, sf_dir):
    """§2.11 stream-stream LEFT OUTER interval join under the driver
    oracle (r10) — the nineteenth verified streaming runtime,
    completing the watermark-semantics matrix this session built
    (e20: aggregation late-drop + once-only emission; e21: dedup-state
    expiry; e22: OUTER-join null-side emission): clicks left-joined to
    same-user purchases inside a 1h attribution window, where a click
    with NO conversion is emitted exactly once with a null right side
    — but only after the watermark proves no partner can still arrive.

    Replay protocol: two time-ordered micro-batches (month halves at
    Jan 16) through `_stage_ordered_batches`; cross-batch pairs near
    the cut exercise the join state (a boundary click's state cannot
    have been evicted when its batch-2 purchase arrives — its interval
    end sits above every watermark the eviction could have used).
    Probed semantics the oracle encodes: the GLOBAL watermark is the
    MIN over both branch watermark nodes (the first probe froze at an
    early purchase-side max), and a never-matched click null-emits iff
    l_ts + 1h < min(max click ts, max purchase ts) - 2h — the final
    no-data batch flushes with the CURRENT watermark, so mid-stream
    vs final eviction timing cannot change the output SET. Three
    subsets all populated at every SF: converted clicks (pair rows,
    possibly several per click), expired unconverted clicks (null
    rows), and the withheld tail (clicks in the last interval+delay,
    absent entirely). At 100 TB this is the funnel/attribution outer
    join run forever on bounded state — eviction by the interval
    bound is what the time-range condition buys."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        ordered_file_stream,
        streaming_left_outer_interval_join,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select("event_id", "user_id", "event_type", "ts")
    )
    cut = F.lit(_E22_CUT).cast("timestamp")
    parts = [ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut)]
    staged = _stage_ordered_batches(parts, "e22_stream_outer")
    sink = _drain_to_memory(
        ordered_file_stream(spark, parts[0].schema, staged),
        "e22_outer_sink",
        streaming_left_outer_interval_join,
        "append",
        "e22_streaming_outer_join",
    )
    return sink.select("l_id", "l_key", "l_ts", "r_id", "r_ts")


@register(
    "w12_time_weighted_avg",
    """
    WITH v AS (
      SELECT user_id, event_id, ts, value FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    d AS (
      SELECT user_id, value, epoch_us(ts) AS t,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS t_next
      FROM v
    ),
    a AS (
      SELECT user_id, COUNT(*) AS n_obs,
             SUM(CAST(value AS DECIMAL(18,2)) * (t_next - t)) AS num,
             MAX(t) - MIN(t) AS den
      FROM d GROUP BY user_id
    )
    SELECT user_id, n_obs,
           ROUND(CASE WHEN den > 0
                      THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                 END, 6) AS twa
    FROM a
    """,
)
def w12(spark, sf_dir):
    """TIME-WEIGHTED average (r10) — the irregular-sampling correction
    plain AVG gets wrong: each observation holds (LOCF) until the next
    one, so its weight is its holding interval, and the per-key TWA is
    sum(value_i * dt_i) / span. The per-track statistic a sparse
    time-lapse needs (frames drop; the reference's per-track means
    silently assume regular sampling) and the standard TWAP shape in
    metrics/finance pipelines. Numerics: weights are exact int64
    microsecond deltas from one LEAD over the (ts, event_id)-ordered
    window (deterministic ties), products decimal-exact
    (DECIMAL(18,2) × BIGINT — order-free sum), ONE double division per
    key at the edge (same rational both engines); value > 0 in this
    corpus so the rounded quotient has no -0.0 class; single-event
    keys yield NULL (zero span). One shuffle: the window partition is
    the groupBy key, so the agg reuses the window's Exchange."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros("ts")
    d = ev.select(
        "user_id",
        "value",
        t.alias("t"),
        F.lead(t).over(w).alias("t_next"),
    )
    a = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(
            F.col("value").cast("decimal(18,2)")
            * (F.col("t_next") - F.col("t"))
        ).alias("_num"),
        (F.max("t") - F.min("t")).alias("_den"),
    )
    return a.select(
        "user_id",
        "n_obs",
        F.round(
            F.when(
                F.col("_den") > 0,
                F.col("_num").cast("double") / F.col("_den").cast("double"),
            ),
            6,
        ).alias("twa"),
    )


@register(
    "s18_schema_evolution",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority,
           CAST(1 AS INT) AS batch_no
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           o_orderpriority,
           CAST(2 AS INT) AS batch_no
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def s18(spark, sf_dir):
    """SOURCE-level schema evolution (r10) — the ingest-drift surface
    piece the source family was missing (u6 proves the RELATIONAL
    union-by-name; s18 proves the STORAGE semantic): a published table
    grows a column mid-life — batch 1 files lack o_orderpriority,
    batch 2 files carry it — and a `mergeSchema` read returns the
    union schema with NULLs for the old files, no rewrite of a single
    old byte. The oracle is the explicit union-by-name the evolved
    read must equal. Two traps recorded for the 100-TB deployment:
    (1) mergeSchema=false takes ONE file's footer as the schema — if
    that file predates the evolution the new column silently vanishes,
    and WHICH file wins is not contractual, so the failure is
    intermittent; (2) mergeSchema=true reads EVERY file's footer at
    planning time — at millions of files that is the listing
    bottleneck, so production pins the evolved schema explicitly
    (`spark.read.schema(evolved)`, same NULL semantics, zero footer
    sweep — equality with the merged read pinned in
    tests/test_ingest.py) and mergeSchema stays a migration-audit
    tool."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    d = _stage_dir("s18_evo") + "/stage"
    b1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit(1).alias("batch_no")
    )
    b2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.lit(2).alias("batch_no"),
    )
    b1.write.mode("overwrite").parquet(d)
    b2.write.mode("append").parquet(d)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(d)
        .select("o_orderkey", "o_totalprice", "o_orderpriority", "batch_no")
    )


@register(
    "a21_correlation_matrix",
    """
    WITH v AS (
      SELECT source,
             CAST(n_chars AS DOUBLE) AS x,
             CAST(length(text) - length(replace(text, ' ', '')) + 1
                  AS DOUBLE) AS y,
             CAST(length(text) - length(replace(text, '.', ''))
                  AS DOUBLE) AS z
      FROM documents
    ),
    a AS (
      SELECT source, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(24,6))) AS sx,
             SUM(CAST(y AS DECIMAL(24,6))) AS sy,
             SUM(CAST(z AS DECIMAL(24,6))) AS sz,
             SUM(CAST(x*x AS DECIMAL(38,12))) AS sxx,
             SUM(CAST(y*y AS DECIMAL(38,12))) AS syy,
             SUM(CAST(z*z AS DECIMAL(38,12))) AS szz,
             SUM(CAST(x*y AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(x*z AS DECIMAL(38,12))) AS sxz,
             SUM(CAST(y*z AS DECIMAL(38,12))) AS syz
      FROM v GROUP BY source
    ),
    c AS (
      SELECT source, n, CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
             CAST(sz AS DOUBLE) AS sz,
             CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy,
             CAST(szz AS DOUBLE) AS szz,
             CAST(sxy AS DOUBLE) AS sxy, CAST(sxz AS DOUBLE) AS sxz,
             CAST(syz AS DOUBLE) AS syz
      FROM a
    ),
    pairs AS (
      SELECT source, n, 'n_chars' AS col_a, 'n_tokens' AS col_b,
             nd*sxy - sx*sy AS num, nd*sxx - sx*sx AS da,
             nd*syy - sy*sy AS db FROM c
      UNION ALL
      SELECT source, n, 'n_chars', 'n_periods',
             nd*sxz - sx*sz, nd*sxx - sx*sx, nd*szz - sz*sz FROM c
      UNION ALL
      SELECT source, n, 'n_tokens', 'n_periods',
             nd*syz - sy*sz, nd*syy - sy*sy, nd*szz - sz*sz FROM c
    )
    SELECT source, col_a, col_b, n,
           ROUND(CASE WHEN da > 0 AND db > 0
                      THEN num / sqrt(da * db) END, 6) + 0.0 AS corr
    FROM pairs
    """,
)
def a21(spark, sf_dir):
    """Per-group CORRELATION MATRIX (r10) — the bivariate completion
    of the profile family (a14 univariate stats, a13 one regression
    pair, a21 all pairs): Pearson r between three derived quality
    signals (chars, whitespace tokens, sentence-period counts) per
    source, unpivoted to (col_a, col_b) rows. The curation diagnostic
    this exists for: near-1 correlations mean redundant quality
    signals (gate on one, drop the rest); a source whose correlation
    structure differs from the corpus is the drift signal a17's
    univariate TVD can miss. Numerics are the a13 idiom end-to-end:
    integer-derived doubles, decimal-exact power/cross sums (order-
    free — ONE combinable groupBy, map-side partials), then identical
    double arithmetic on both engines; sqrt is IEEE-correctly-rounded
    (deterministic given the same operand, which the shared op order
    guarantees); round_z guards the rounded signed quotient's -0.0
    class. Scale: one scan, one shuffle on source, O(groups × 10)
    state — the full k-column matrix is k(k-1)/2 sums in the same
    single pass."""
    from cellphe_data_pipeline_spark.functions.scalars import round_z

    docs = load_table(spark, sf_dir, "documents")
    x = F.col("n_chars").cast("double")
    y = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "))) + 1
    ).cast("double")
    z = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(".")))
    ).cast("double")
    v = docs.select("source", x.alias("x"), y.alias("y"), z.alias("z"))

    def dsum(col, prec="decimal(38,12)"):
        return F.sum(col.cast(prec))

    a = v.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x"), "decimal(24,6)").alias("sx"),
        dsum(F.col("y"), "decimal(24,6)").alias("sy"),
        dsum(F.col("z"), "decimal(24,6)").alias("sz"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
        dsum(F.col("z") * F.col("z")).alias("szz"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("z")).alias("sxz"),
        dsum(F.col("y") * F.col("z")).alias("syz"),
    )
    c = a.select(
        "source",
        "n",
        F.col("n").cast("double").alias("nd"),
        *[
            F.col(s).cast("double").alias(s)
            for s in (
                "sx", "sy", "sz", "sxx", "syy", "szz", "sxy", "sxz", "syz"
            )
        ],
    )

    def pair(ca, cb, s1, s2, s11, s22, s12):
        num = F.col("nd") * F.col(s12) - F.col(s1) * F.col(s2)
        da = F.col("nd") * F.col(s11) - F.col(s1) * F.col(s1)
        db = F.col("nd") * F.col(s22) - F.col(s2) * F.col(s2)
        return c.select(
            "source",
            F.lit(ca).alias("col_a"),
            F.lit(cb).alias("col_b"),
            "n",
            round_z(
                F.when((da > 0) & (db > 0), num / F.sqrt(da * db)), 6
            ).alias("corr"),
        )

    return (
        pair("n_chars", "n_tokens", "sx", "sy", "sxx", "syy", "sxy")
        .unionAll(pair("n_chars", "n_periods", "sx", "sz", "sxx", "szz", "sxz"))
        .unionAll(pair("n_tokens", "n_periods", "sy", "sz", "syy", "szz", "syz"))
        .select("source", "col_a", "col_b", "n", "corr")
    )


_G9_SQL = """
    WITH RECURSIVE nodes AS (
      SELECT DISTINCT doc_id % 97 AS c FROM {docs}
    ),
    edges AS (
      SELECT c AS child, CAST(FLOOR((c - 1) / 3.0) AS BIGINT) AS parent
      FROM nodes WHERE c > 0
    ),
    closure AS (
      SELECT c AS anc, c AS des FROM nodes
      UNION ALL
      SELECT e.parent AS anc, cl.des AS des
      FROM closure cl JOIN edges e ON e.child = cl.anc
    ),
    d AS (SELECT doc_id % 97 AS cat, n_chars FROM {docs})
    SELECT cl.anc AS category,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
    FROM closure cl JOIN d ON d.cat = cl.des
    GROUP BY cl.anc
"""


@register("g9_hierarchy_rollup", _G9_SQL.format(docs="documents"))
def g9(spark, sf_dir):
    """HIERARCHICAL subtree rollup via NATIVE recursive CTE (r10) —
    Spark 4's WITH RECURSIVE run as the engine feature, the same SQL
    text on both engines: a 3-ary category tree over the 97 doc-id
    residues (child c → parent floor((c-1)/3)), the ancestor-descendant
    CLOSURE built by the recursion, then doc counts and char sums
    rolled up to EVERY ancestor — the org-chart/BOM/category-tree
    aggregate warehouses run daily. This is the declarative
    counterpart of the graph family's hand-rolled loops, and the
    docstring is the decision record: native recursion fits MONOTONE,
    hierarchy-shaped workloads (a tree's closure is one unique path
    per node — linear rows, guaranteed termination at the root), while
    UNION ALL recursion on a CYCLIC graph enumerates PATHS, not nodes
    (exponential — g8's frontier loop with its anti-join dedup and
    lineage cuts stays the scale path there, and k-core's CASCADES are
    not expressible as monotone recursion at all, g7). Uncast
    SUM(BIGINT) would be the t26 HUGEINT trap — cast in the final
    projection. One scan for the node set, one for the fact; the
    closure is O(nodes × depth) rows joined to the fact on the
    category key."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    docs.createOrReplaceTempView("g9_documents")
    return spark.sql(_G9_SQL.format(docs="g9_documents"))


@register(
    "t28_variant_ingest",
    r"""
    WITH lines AS (
      SELECT doc_id,
             to_json(struct_pack(
               id := doc_id,
               meta := struct_pack(lang := lang, source := source),
               text := text,
               tags := ['corpus', 'sf'])) AS line
      FROM documents
    )
    SELECT doc_id,
           CAST(json_extract(line, '$.id') AS BIGINT) AS id,
           json_extract_string(line, '$.meta.lang') AS lang,
           json_extract_string(line, '$.tags[1]') AS tag2,
           CAST(json_array_length(json_extract(line, '$.tags')) AS INT)
             AS n_tags,
           CAST(length(json_extract_string(line, '$.text')) AS BIGINT)
             AS n_chars,
           json_extract_string(line, '$.missing.key') AS absent
    FROM lines
    """,
)
def t28(spark, sf_dir):
    """Schema-LESS JSON ingest via the VARIANT type (r10) — Spark 4's
    semi-structured path and t18's modern twin: t18 declares a full
    StructType up front (from_json — the right call when the corpus
    schema is known and stable), t28 parses each line into a VARIANT
    (parse_json: a binary-encoded document, no schema declared) and
    extracts typed fields lazily with variant_get — the right call for
    heterogeneous crawl metadata where fields come and go per source.
    Exercised surface: nested-path extraction with type binding,
    array indexing ($.tags[1]), array materialization
    (variant_get → array<string> → size), and the missing-path probe
    through try_variant_get (NULL, never an error). At 100 TB the
    trade is storage/CPU shaped: VARIANT keeps the full document
    navigable without a schema-evolution migration per new field
    (s18's concern disappears for these columns), at the price of
    per-query extraction work a declared column does once at write
    time — ingest hot fields as real columns, keep the long tail as
    VARIANT. Pure codegen, zero shuffle, same oracle family as t18."""
    docs = load_table(spark, sf_dir, "documents")
    line = F.to_json(
        F.struct(
            F.col("doc_id").alias("id"),
            F.struct(F.col("lang"), F.col("source")).alias("meta"),
            F.col("text").alias("text"),
            F.array(F.lit("corpus"), F.lit("sf")).alias("tags"),
        )
    )
    v = F.parse_json(line)
    return docs.select(
        "doc_id",
        F.variant_get(v, "$.id", "bigint").alias("id"),
        F.variant_get(v, "$.meta.lang", "string").alias("lang"),
        F.variant_get(v, "$.tags[1]", "string").alias("tag2"),
        F.size(F.variant_get(v, "$.tags", "array<string>"))
        .cast("int")
        .alias("n_tags"),
        F.length(F.variant_get(v, "$.text", "string"))
        .cast("bigint")
        .alias("n_chars"),
        F.try_variant_get(v, "$.missing.key", "string").alias("absent"),
    )


@register(
    "o16_partition_merge",
    """
    WITH delta AS (
      SELECT event_id, event_type, value + 1000.0 AS value
      FROM events WHERE event_id % 17 = 3
        AND event_type IN ('click', 'purchase')
      UNION ALL
      SELECT event_id + (SELECT 1 + MAX(event_id) FROM events) AS event_id,
             'click' AS event_type, 1.5 AS value
      FROM events WHERE event_id % 97 = 11
    ),
    merged AS (
      SELECT e.event_id, e.event_type, e.value FROM events e
      WHERE e.event_id NOT IN (SELECT event_id FROM delta)
      UNION ALL
      SELECT event_id, event_type, value FROM delta
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM merged GROUP BY event_type
    """,
)
def o16(spark, sf_dir):
    """Partition-scoped MERGE into a published parquet table (r10) —
    the poor-man's Delta MERGE composed from proven parts, and the
    table-maintenance completion after o14 (restatement) and o15
    (compaction): a delta batch of corrections (value restated on a
    key subset) plus inserts lands in a table partitioned by
    event_type by (1) reading ONLY the affected partitions (static
    partition pruning — the delta touches 'click'/'purchase' by
    construction; a dynamic delta derives the list with one
    O(#partitions) distinct), (2) latest-wins anti-join + union at
    slice scale, (3) dynamic partition overwrite of just those
    directories. The three untouched partitions are never read and
    never rewritten — at 100 TB the merge costs O(affected slices +
    delta), not O(table) (bytes-untouched pinned in
    tests/test_scale.py). The merged frame is lineage-cut before the
    overwrite: a dynamic overwrite whose job PLAN still reads the
    target partitions is the self-overwrite hazard (read-path deleted
    mid-job); at cluster scale stage to a temp dir instead of executor
    memory, same fence. Constraint recorded: the merge key must not
    move rows ACROSS partitions (partition keys are immutable under
    partition-scoped merging — a moved row needs a delete-vector or
    full-table pass). The oracle computes the merged state
    relationally; the engine answers from the POST-MERGE table files,
    so the hash proves the on-disk merge, not just the plan."""
    from cellphe_data_pipeline_spark.checkpoint import cut_lineage
    from cellphe_data_pipeline_spark.operators.scale import (
        overwrite_partitions_dynamic,
        publish_partitioned,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    base_dir = _stage_dir("o16_merge") + "/table"
    publish_partitioned(ev, base_dir, ["event_type"])

    corrections = ev.filter(
        (F.col("event_id") % 17 == 3)
        & F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id", "event_type", (F.col("value") + 1000.0).alias("value")
    )
    # Insert ids are derived ABOVE max(event_id) (r11 advisor): a fixed
    # +1e9 offset collides with a generation whose ids reach 1e9 — a
    # colliding base row in an UNAFFECTED partition would be kept by
    # the partition-scoped anti-join but removed by the oracle's
    # table-wide NOT IN. One O(1)-row agg broadcast fixes the class.
    id_offset = ev.agg((F.lit(1) + F.max("event_id")).alias("_off"))
    inserts = (
        ev.filter(F.col("event_id") % 97 == 11)
        .crossJoin(F.broadcast(id_offset))
        .select(
            (F.col("event_id") + F.col("_off")).alias("event_id"),
            F.lit("click").alias("event_type"),
            F.lit(1.5).alias("value"),
        )
    )
    delta = corrections.unionByName(inserts)

    affected = ["click", "purchase"]
    current = spark.read.parquet(base_dir).filter(
        F.col("event_type").isin(affected)
    )
    merged = current.join(
        F.broadcast(delta.select("event_id")), "event_id", "left_anti"
    ).unionByName(delta.select("event_id", "event_type", "value"))
    merged = cut_lineage(merged, eager=True, name="o16-merged")
    overwrite_partitions_dynamic(merged, base_dir, ["event_type"])

    return (
        spark.read.parquet(base_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


_S19_LINES = [
    "1,2.5,alpha",        # good
    "2,not_a_number,beta",  # type failure in v
    "3,4.5",              # missing column
    "4,5.5,gamma,extra",  # extra column
    "5,6.25,delta",       # good
]


@register(
    "s19_malformed_ingest",
    """
    SELECT id, v, s, corrupt_raw FROM (VALUES
      (1, 2.5, 'alpha', CAST(NULL AS VARCHAR)),
      (2, CAST(NULL AS DOUBLE), 'beta', '2,not_a_number,beta'),
      (3, 4.5, CAST(NULL AS VARCHAR), '3,4.5'),
      (4, 5.5, 'gamma', '4,5.5,gamma,extra'),
      (5, 6.25, 'delta', CAST(NULL AS VARCHAR))
    ) AS t(id, v, s, corrupt_raw)
    """,
)
def s19(spark, sf_dir):
    """Malformed-record ingest discipline (r10) — what a 100 TB crawl
    feed actually looks like: rows with type failures, missing fields,
    extra fields. PERMISSIVE mode (the default, demonstrated
    explicitly) parses what it can and captures the RAW LINE in the
    corrupt-record column instead of killing the job or silently
    dropping data — the quarantine-not-crash contract (p15's
    expectations audit is the relational stage of the same pipeline;
    s19 is the parse stage). Golden semantics pinned per failure
    class: a type failure keeps the parseable fields and flags; a
    missing trailing column is flagged but parsed fields survive; an
    EXTRA column likewise flags while every declared field parses.
    The corrupt column must be declared in the schema (string) and
    costs nothing on clean rows. The alternatives are recorded:
    DROPMALFORMED silently deletes (count the quarantine FIRST),
    FAILFAST for ingest where any corruption means upstream breakage.
    At scale the corrupt-flag filter splits the stream into the clean
    branch and a raw-line quarantine for replay after a parser fix."""
    import os

    d = _stage_dir("s19_csv")
    with open(os.path.join(d, "feed.csv"), "w") as f:
        f.write("\n".join(_S19_LINES) + "\n")
    schema = "id int, v double, s string, corrupt_raw string"
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "corrupt_raw")
        .csv(d)
        .select("id", "v", "s", "corrupt_raw")
    )


@register(
    "s20_snapshot_time_travel",
    """
    WITH delta AS (
      SELECT event_id, event_type, value + 1000.0 AS value
      FROM events WHERE event_id % 17 = 3
        AND event_type IN ('click', 'purchase')
    ),
    v2 AS (
      SELECT e.event_id, e.event_type, e.value FROM events e
      WHERE e.event_id NOT IN (SELECT event_id FROM delta)
      UNION ALL
      SELECT event_id, event_type, value FROM delta
    )
    SELECT 1 AS snapshot_id, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 2 AS snapshot_id, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM v2 GROUP BY event_type
    """,
)
def s20(spark, sf_dir):
    """SNAPSHOT time travel over plain parquet (r10; sources/io.py
    snapshot_* helpers) — the table-format core in miniature and the
    versioned complement of o16's in-place merge: data files are
    IMMUTABLE, a snapshot is an explicit manifest (file list), and a
    correction commits snapshot 2 by writing ONLY the affected
    partitions' replacement files while REUSING every untouched
    snapshot-1 file (copy-on-write at file granularity — reuse pinned
    by test, as is snapshot 1's unchanged read-back AFTER the v2
    commit). The query reads BOTH snapshots through their manifests
    and rolls each up; the oracle computes both states relationally,
    so the hash proves the time-travel reads end-to-end. What this
    buys at 100 TB: reproducibility (a training run pins the exact
    snapshot its corpus came from), rollback (re-read v1 forever),
    and reader-writer isolation (a manifest read never races a
    directory listing mid-write). What it honestly lacks vs
    Iceberg/Delta: the atomic catalog swap — the manifest write is
    the commit point, single-writer assumed (recorded at the
    helpers)."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit,
        snapshot_data_files,
        snapshot_read,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _stage_dir("s20_tt")
    types = ["click", "error", "purchase", "signup", "view"]
    v1_files: list[str] = []
    per_type_files: dict[str, list[str]] = {}
    for t in types:
        d = os.path.join(table, "data", "s1", f"type_{t}")
        ev.filter(F.col("event_type") == t).write.mode("overwrite").parquet(d)
        per_type_files[t] = snapshot_data_files(d)
        v1_files += per_type_files[t]
    snapshot_commit(table, 1, v1_files)

    affected = ["click", "purchase"]
    delta = ev.filter(
        (F.col("event_id") % 17 == 3) & F.col("event_type").isin(affected)
    ).select(
        "event_id", "event_type", (F.col("value") + 1000.0).alias("value")
    )
    v2_files = [
        f
        for t in types
        if t not in affected
        for f in per_type_files[t]  # COW: untouched files REUSED
    ]
    for t in affected:
        cur = spark.read.parquet(*per_type_files[t])
        merged = cur.join(
            F.broadcast(delta.select("event_id")), "event_id", "left_anti"
        ).unionByName(delta.filter(F.col("event_type") == t))
        d = os.path.join(table, "data", "s2", f"type_{t}")
        merged.write.mode("overwrite").parquet(d)
        v2_files += snapshot_data_files(d)
    snapshot_commit(table, 2, v2_files)

    def rollup(df, sid):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        ).select(
            F.lit(sid).cast("int").alias("snapshot_id"),
            "event_type",
            "n",
            "sum_value",
        )

    return rollup(snapshot_read(spark, table, 1), 1).unionByName(
        rollup(snapshot_read(spark, table, 2), 2)
    )


@register(
    "s21_atomic_commit",
    """
    WITH da AS (
      SELECT event_type, value + 500.0 AS value
      FROM events WHERE event_id % 19 = 7
    ),
    db AS (
      SELECT event_type, value + 900.0 AS value
      FROM events WHERE event_id % 23 = 5
    ),
    snap AS (
      SELECT 1 AS snapshot_id, event_type, value FROM events
      UNION ALL
      SELECT 2, event_type, value FROM events
      UNION ALL SELECT 2, event_type, value FROM da
      UNION ALL
      SELECT 3, event_type, value FROM events
      UNION ALL SELECT 3, event_type, value FROM da
      UNION ALL SELECT 3, event_type, value FROM db
    )
    SELECT snapshot_id, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(1 AS INT) AS conflicts
    FROM snap GROUP BY snapshot_id, event_type
    """,
)
def s21(spark, sf_dir):
    """Atomic commit + optimistic concurrency over the snapshot table
    (r11) — closing the gap s20's docstring records (manifest write was
    the commit point, single-writer assumed). Two writers race from the
    same parent snapshot: writer A appends delta_A; writer B reads
    parent 1, but A commits v2 BEFORE B's CAS lands — B's
    create-if-absent of manifests/v2.json fails atomically
    (SnapshotConflict), and the production retry loop
    (io.snapshot_commit_with_retry) REBASES: re-reads current (now 2),
    rebuilds its file list against v2's manifest, commits v3. The
    interleaving is replayed inside the query (A's commit fires inside
    B's first build callback — the exact lost-race window), so the
    conflict path is exercised by the driver gate itself, not only by
    test; `conflicts` carries the operational fact into the hash
    (oracle emits literal 1 — the a16/a20 theorem-column idiom). The
    final state is ORDER-INDEPENDENT because appends commute; the
    oracle replays base → base+A → base+A+B relationally. At 100 TB
    this is the two-racing-backfills day: the loser re-lists one
    manifest and re-links one file — O(metadata), zero data rewrite
    (delta files are REUSED verbatim across the rebase). Commit point =
    POSIX link(2) EEXIST; `current` pointer is a repairable cache, not
    the CAS — see sources/io.py's protocol note for the object-store
    (conditional PUT) mapping."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_commit_with_retry,
        snapshot_data_files,
        snapshot_files,
        snapshot_read,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _stage_dir("s21_commit")

    def write_slice(df, name):
        d = os.path.join(table, "data", name)
        df.write.mode("overwrite").parquet(d)
        return snapshot_data_files(d)

    base_files = write_slice(ev, "base")
    snapshot_commit_atomic(table, 0, base_files)  # v1

    delta_a = ev.filter(F.col("event_id") % 19 == 7).select(
        "event_id", "event_type", (F.col("value") + 500.0).alias("value")
    )
    delta_b = ev.filter(F.col("event_id") % 23 == 5).select(
        "event_id", "event_type", (F.col("value") + 900.0).alias("value")
    )
    files_a = write_slice(delta_a, "wA")
    files_b = write_slice(delta_b, "wB")

    # Writer B's commit attempt, with writer A landing inside B's
    # read-parent -> build -> CAS window (the lost-race interleaving).
    a_done = {"v": False}

    def b_build(parent: int) -> list[str]:
        if not a_done["v"]:
            snapshot_commit_atomic(table, 1, base_files + files_a)  # v2
            a_done["v"] = True
        return snapshot_files(table, parent) + files_b

    final_id, conflicts = snapshot_commit_with_retry(table, b_build)
    assert final_id == 3 and conflicts == 1, (final_id, conflicts)

    def rollup(df, sid):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        ).select(
            F.lit(sid).cast("int").alias("snapshot_id"),
            "event_type",
            "n",
            "sum_value",
            F.lit(conflicts).cast("int").alias("conflicts"),
        )

    out = rollup(snapshot_read(spark, table, 1), 1)
    for sid in (2, 3):
        out = out.unionByName(rollup(snapshot_read(spark, table, sid), sid))
    return out


@register(
    "o17_row_level_merge",
    """
    WITH mx AS (SELECT MAX(event_id) AS m FROM events),
    upd AS (
      SELECT event_id,
             CASE WHEN event_id % 2 = 0 THEN 'relabeled'
                  ELSE event_type END AS event_type,
             value + 250.0 AS value
      FROM events WHERE event_id * 10 < (SELECT m FROM mx)
    ),
    ins AS (
      SELECT event_id + 1 + (SELECT m FROM mx) AS event_id,
             'relabeled' AS event_type, 3.25 AS value
      FROM events WHERE event_id % 101 = 7
    ),
    delta AS (
      SELECT * FROM upd UNION ALL SELECT * FROM ins
    ),
    merged AS (
      SELECT e.event_id, e.event_type, e.value FROM events e
      WHERE e.event_id NOT IN (SELECT event_id FROM delta)
      UNION ALL
      SELECT event_id, event_type, value FROM delta
    )
    SELECT 1 AS snapshot_id, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 2, event_type, COUNT(*),
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
    FROM merged GROUP BY event_type
    """,
)
def o17(spark, sf_dir):
    """Row-level MERGE across partitions via file-level copy-on-write
    (r11; operators/scale.merge_rows_cow) — closing o16's recorded
    constraint ("partition keys are immutable under partition-scoped
    merging"). The delta holds all three MERGE row classes at once:
    plain value restatements, PARTITION-MOVING updates (event_type →
    'relabeled' — the rows o16 could not take), and inserts keyed above
    max(event_id). The base table is committed as fifteen range-
    clustered files (five types × three event_id ranges) under the s21
    snapshot layer; the merge then (1) prunes candidate files by
    per-file [min,max] key stats against the broadcast delta keys —
    the update band is the lowest id decile, so only the low-range
    file per type is a candidate and the other ten files are never
    read — (2) rewrites only candidates with a latest-wins anti-join +
    union, and (3) CAS-commits a snapshot that REUSES every untouched
    file verbatim. The oracle computes the merged state relationally;
    the engine answers BOTH snapshots from manifests, so the hash
    proves the on-disk merge AND that time travel across the merge
    boundary still reads the pre-merge state. At 100 TB the cost is
    O(candidate files + delta); with manifest-held stats the prune is
    metadata-only (the recorded trade in merge_rows_cow's docstring)."""
    import os

    from cellphe_data_pipeline_spark.operators.scale import merge_rows_cow
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_data_files,
        snapshot_read,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _stage_dir("o17_merge")
    types = ["click", "error", "purchase", "signup", "view"]
    v1_files: list[str] = []
    for t in types:
        d = os.path.join(table, "data", "s1", f"type_{t}")
        (
            ev.filter(F.col("event_type") == t)
            .repartitionByRange(3, "event_id")
            .write.mode("overwrite")
            .parquet(d)
        )
        v1_files += snapshot_data_files(d)
    snapshot_commit_atomic(table, 0, v1_files)

    mx = ev.agg(F.max("event_id").alias("_m"))
    upd = (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("event_id") * 10 < F.col("_m"))
        .select(
            "event_id",
            F.when(F.col("event_id") % 2 == 0, "relabeled")
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            (F.col("value") + 250.0).alias("value"),
        )
    )
    ins = (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("event_id") % 101 == 7)
        .select(
            (F.col("event_id") + 1 + F.col("_m")).alias("event_id"),
            F.lit("relabeled").alias("event_type"),
            F.lit(3.25).alias("value"),
        )
    )
    new_id, info = merge_rows_cow(
        spark, table, upd.unionByName(ins), key_col="event_id"
    )
    # operational facts asserted in-query: the commit advanced, the
    # prune left untouched files REUSED (not rewritten), and candidates
    # were a strict subset of the table
    assert new_id == 2, new_id
    assert info["kept_files"] and set(info["kept_files"]) <= set(v1_files)
    assert len(info["hit_files"]) < len(v1_files), info["hit_files"]

    def rollup(df, sid):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        ).select(
            F.lit(sid).cast("int").alias("snapshot_id"),
            "event_type",
            "n",
            "sum_value",
        )

    return rollup(snapshot_read(spark, table, 1), 1).unionByName(
        rollup(snapshot_read(spark, table, 2), 2)
    )


@register(
    "s22_write_audit_publish",
    """
    WITH good AS (
      SELECT event_type, value + 200.0 AS value
      FROM events WHERE event_id % 29 = 3
    ),
    pub AS (
      SELECT event_type, value FROM events
      UNION ALL SELECT event_type, value FROM good
    ),
    q AS (
      SELECT COUNT(*) AS quarantined
      FROM events WHERE event_id % 31 = 4 AND event_id % 2 = 0
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(2 AS INT) AS current_snapshot,
           (SELECT CAST(quarantined AS BIGINT) FROM q) AS quarantined
    FROM pub GROUP BY event_type
    """,
)
def s22(spark, sf_dir):
    """Write-audit-publish (r11) — the WAP pattern that makes a shared
    100 TB table safe to ingest into, composed entirely from proven
    parts: a delta batch is (1) WRITTEN to the immutable file pool as
    staged parquet — invisible, because no manifest references it —
    (2) AUDITED from the staged files themselves (qc_filters.
    expectations_audit, p15's rules engine: the audit sees exactly the
    bytes readers would see, not the pre-write frame), and (3)
    PUBLISHED only if zero rows fail, by the s21 CAS commit advancing
    `current`. Two batches run: a clean one (published, v2) and a
    corrupted one (NULL values injected on half its rows — audit
    fails, the batch is quarantined via the s19 contract and `current`
    does NOT move; its staged files stay orphaned in the pool, never
    readable, reclaimable by a vacuum that keeps manifest-referenced
    files). The engine answers from the published table AFTER both
    attempts, so the hash proves the bad batch never leaked;
    `current_snapshot`/`quarantined` carry the protocol facts (oracle
    emits the expected literals — the theorem-column idiom). At scale
    this is atomic visibility for ingest: auditors and writers race
    freely because staged data has no name until the commit, and a
    failed audit costs zero cleanup on the read path."""
    import os

    from cellphe_data_pipeline_spark.operators.qc_filters import (
        expectations_audit,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_current,
        snapshot_data_files,
        snapshot_files,
        snapshot_read,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _stage_dir("s22_wap")

    def stage(df, name):
        d = os.path.join(table, "data", name)
        df.write.mode("overwrite").parquet(d)
        return d, snapshot_data_files(d)

    _, base_files = stage(ev, "base")
    snapshot_commit_atomic(table, 0, base_files)  # v1

    rules = {
        "value_present": F.col("value").isNotNull(),
        "type_known": F.col("event_type").isin(
            "click", "error", "purchase", "signup", "view"
        ),
    }

    def write_audit_publish(delta, name):
        d, files = stage(delta, name)  # write (invisible: no manifest)
        audited = expectations_audit(spark.read.parquet(d), rules)
        bad = audited.filter(~F.col("passed"))
        n_bad = bad.count()
        if n_bad == 0:
            parent = snapshot_current(table)
            snapshot_commit_atomic(
                table, parent, snapshot_files(table, parent) + files
            )
        else:  # quarantine, never publish
            bad.drop("passed").write.mode("overwrite").parquet(
                os.path.join(table, "quarantine", name)
            )
        return n_bad

    good = ev.filter(F.col("event_id") % 29 == 3).select(
        "event_id", "event_type", (F.col("value") + 200.0).alias("value")
    )
    bad = ev.filter(F.col("event_id") % 31 == 4).select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 2 == 0, F.lit(None)).otherwise(
            F.col("value") + 999.0
        ).alias("value"),
    )
    n_bad_good = write_audit_publish(good, "batch_good")
    quarantined = write_audit_publish(bad, "batch_bad")
    cur = snapshot_current(table)
    assert n_bad_good == 0 and quarantined > 0 and cur == 2, (
        n_bad_good, quarantined, cur,
    )

    return (
        snapshot_read(spark, table, cur)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "event_type",
            "n",
            "sum_value",
            F.lit(cur).cast("int").alias("current_snapshot"),
            F.lit(quarantined).cast("bigint").alias("quarantined"),
        )
    )


@register(
    "e23_streaming_restart",
    """
    WITH v AS (SELECT ts, value FROM events WHERE ts IS NOT NULL),
    m AS (SELECT MAX(ts) AS maxts FROM v)
    SELECT date_trunc('hour', ts) AS win_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM v GROUP BY 1, 2
    HAVING win_end <= (SELECT maxts - INTERVAL 2 HOUR FROM m)
    """,
)
def e23(spark, sf_dir):
    """§2.11 checkpoint-restart / failure recovery (r11) — the one
    streaming surface r10 left unproven, now under the driver oracle:
    the staged event log is drained in TWO separate runs of the same
    job (streaming/tracker.streaming_restartable_drain) — the first
    sees only the first half of the batch files and terminates (the
    stop-between-micro-batches recovery point; a kill -9 differs only
    by replaying one uncommitted batch, whose sink commit is
    idempotent), then the remaining files appear and a second run
    resumes from the SAME checkpoint and parquet sink. The pair must
    equal ONE continuous run: the checkpoint's source log prevents
    re-reading drained files (no duplicate input), the state store +
    watermark restore so hour-windows OPEN at the stop keep
    accumulating across it, and the sink's _spark_metadata commit log
    makes emission exactly-once (a window emitted before the stop
    never re-emits after). The oracle is the batch rollup over the
    whole log with the final-watermark emission rule — it cannot know
    there was a restart, so a hash match IS the exactly-once proof.
    Chunks are ts-ordered (every row on time ⇒ the append-mode drop
    rule never fires; e20 pins that rule separately) via a one-shot
    global sort — a STAGING fixture (10k rows), not the operator.
    tests/test_streaming.py additionally pins a window spanning the
    restart boundary on a hand-built log where the split provably
    bisects an hour. At 100 TB this is the nightly reality: executors
    die, the job restarts, and the ledger must not double-count."""
    import shutil

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("ts", "value", "event_id")
    )
    chunk = F.ntile(4).over(Window.orderBy("ts", "event_id"))
    parts = [
        ev.withColumn("_c", chunk).filter(F.col("_c") == k).drop("_c")
        for k in (1, 2, 3, 4)
    ]
    staged = _stage_ordered_batches(parts, "e23_staged")
    src = _stage_dir("e23_src")
    out = _stage_dir("e23_out")
    ckpt = _stage_dir("e23_ckpt")
    schema = parts[0].schema

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_append_rollup,
        streaming_restartable_drain,
    )

    def transform(stream):
        agg = streaming_append_rollup(stream, ts_col="ts", value_col="value")
        return agg.select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n",
            "sum_value",
        )

    def feed(names):
        for b in names:
            shutil.copy2(f"{staged}/{b}.parquet", f"{src}/{b}.parquet")

    with session_confs(spark, DRAIN_CONFS):
        feed(["b0", "b1"])
        n_first = streaming_restartable_drain(
            spark, schema, src, out, ckpt, transform
        )
        feed(["b2", "b3"])
        n_final = streaming_restartable_drain(
            spark, schema, src, out, ckpt, transform
        )
    # operational facts: the first run emitted (so the restart had
    # committed output to NOT duplicate), and the second added to it
    assert 0 < n_first < n_final, (n_first, n_final)
    return spark.read.parquet(out)


# =====================================================================
# Round-12 session additions
# =====================================================================


@register(
    "w13_ohlc_resample",
    """
    WITH w AS (
      SELECT user_id, date_trunc('hour', ts) AS bucket_ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT user_id, bucket_ts,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
           MIN(value) AS low_value,
           MAX(value) AS high_value,
           COUNT(*) AS n_events
    FROM w GROUP BY user_id, bucket_ts
    """,
)
def w13(spark, sf_dir):
    """Time-bucketed OHLC downsample (r11) — the canonical time-series
    resample (first/last/min/max per user-hour; the reference's
    movement chain consumes per-frame series the same way a market
    pipeline consumes ticks). The 100 TB point is the PHYSICAL
    strategy: open/close are MIN_BY/MAX_BY over a (ts, event_id)
    ordering struct — single-pass, COMBINABLE aggregates whose partial
    state is one (ord, value) pair per group per partition — so the
    whole OHLC row costs ONE hash-aggregate shuffle with map-side
    combine. The window formulation the oracle uses (ROW_NUMBER over a
    per-bucket sort, then re-aggregate) must SORT and move EVERY row
    through the exchange; at 1000 executors that is the difference
    between shuffling |groups| pairs and shuffling the table. The
    struct tie-break (event_id inside the ordering) makes open/close
    deterministic — min_by alone on a tied ts is engine-arbitrary,
    the same class of nondeterminism the a1 argmin query pins."""
    ev = load_table(spark, sf_dir, "events")
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(
        F.min_by("value", ord_).alias("open_value"),
        F.max_by("value", ord_).alias("close_value"),
        F.min("value").alias("low_value"),
        F.max("value").alias("high_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "a23_hll_setops_audit",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click' AND user_id IS NOT NULL),
    b AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'view' AND user_id IS NOT NULL),
    u AS (SELECT user_id FROM a UNION SELECT user_id FROM b)
    SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_union,
           CAST((SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b)
                - (SELECT COUNT(*) FROM u) AS BIGINT) AS n_intersect,
           TRUE AS ok_union_bound,
           TRUE AS ok_intersect_bound
    """,
)
def a23(spark, sf_dir):
    """HLL set-operation estimates under the oracle (r11) — the a20
    lifecycle extended from merge to ALGEBRA: |A∪B| from the UNION of
    two independently-built sketches (hll_union_agg over the stored
    per-segment sketches — the corpus is NEVER rescanned for the
    union), and |A∩B| by inclusion-exclusion (est_a + est_b −
    est_union; HLL has no native intersect — this is the standard
    derivation and its error COMPOUNDS: |err| ≤ err_a + err_b +
    err_union, so the theorem bound is 5% of (n_a + n_b + n_union),
    not 5% of the intersection — the honest bar for why theta
    sketches exist when intersections are small). Exact counts are
    value-matched; the bounds ride as a16/a20-style theorem columns
    (oracle emits literal TRUE, engine computes the inequality —
    hash-deterministic sketches make this re-verified, not sampled,
    at every SF). At 100 TB: audience-overlap / cross-corpus-overlap
    questions answered from O(2^lgK) stored sketch bytes per segment
    instead of a distinct-shuffle over both corpora."""
    # NULL-key discipline (the a20/e21 idiom): COUNT(*) over a DISTINCT
    # subquery KEEPS a NULL row while count_distinct drops it — filter
    # NULL ids symmetrically so a regeneration with NULL user_id
    # cannot diverge the engines
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
    )
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "view")

    def seg(df, tag):
        return df.agg(
            F.hll_sketch_agg("user_id").alias(f"_sk_{tag}"),
            F.count_distinct("user_id").alias(f"n_{tag}"),
        )

    ska, skb = seg(a, "a"), seg(b, "b")
    union_est = (
        ska.select(F.col("_sk_a").alias("_sk"))
        .unionAll(skb.select(F.col("_sk_b").alias("_sk")))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est_union")
        )
    )
    exact_union = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .agg(F.count_distinct("user_id").alias("n_union"))
    )
    row = (
        ska.crossJoin(F.broadcast(skb))
        .crossJoin(F.broadcast(union_est))
        .crossJoin(F.broadcast(exact_union))
    )
    est_a = F.hll_sketch_estimate("_sk_a").cast("double")
    est_b = F.hll_sketch_estimate("_sk_b").cast("double")
    est_u = F.col("_est_union").cast("double")
    est_inter = est_a + est_b - est_u
    n_inter = (F.col("n_a") + F.col("n_b") - F.col("n_union")).cast("bigint")
    bound = 0.05
    return row.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_union").cast("bigint").alias("n_union"),
        n_inter.alias("n_intersect"),
        (
            F.abs(est_u - F.col("n_union").cast("double"))
            <= bound * F.col("n_union")
        ).alias("ok_union_bound"),
        (
            F.abs(est_inter - n_inter.cast("double"))
            <= bound * (F.col("n_a") + F.col("n_b") + F.col("n_union"))
        ).alias("ok_intersect_bound"),
    )


@register(
    "g10_common_neighbors",
    """
    WITH ps AS (
      SELECT DISTINCT l_suppkey AS supp, l_partkey AS part FROM lineitem
    ),
    deg AS (SELECT supp, COUNT(*) AS n_nbrs FROM ps GROUP BY supp),
    pairs AS (
      SELECT x.supp AS node_a, y.supp AS node_b, COUNT(*) AS n_common
      FROM ps x JOIN ps y ON x.part = y.part AND x.supp < y.supp
      GROUP BY 1, 2
    )
    SELECT p.node_a, p.node_b, p.n_common,
           ROUND(CAST(p.n_common AS DOUBLE)
                 / CAST(da.n_nbrs + db.n_nbrs - p.n_common AS DOUBLE),
                 6) AS jaccard
    FROM pairs p
    JOIN deg da ON p.node_a = da.supp
    JOIN deg db ON p.node_b = db.supp
    ORDER BY p.n_common DESC, p.node_a, p.node_b
    LIMIT 100
    """,
)
def g10(spark, sf_dir):
    """Common-neighbor link prediction (r11; graph.py
    common_neighbor_scores) — the co-occurrence / related-item
    primitive the graph family lacked (g2 counts a node's own edges;
    g10 scores PAIRS by shared neighborhood): suppliers ranked by
    catalog overlap (shared parts) with common-neighbor count +
    Jaccard, the top-100 by overlap. Candidate pairs are generated by
    a self-equi-join on the SHARED NEIGHBOR — never node×node, so
    cost is Σ_parts d² (the hub hazard and its frequency-cut
    mitigation are the kernel's documented knob); the top-100 is
    TakeOrderedAndProject (per-partition heaps + one k-row merge),
    never a global sort. Deterministic tie-break (n_common DESC,
    node_a, node_b) makes the LIMIT boundary cross-engine stable.
    The oracle is the same formulation relationally; Jaccard is one
    int-ratio division, identical IEEE op on both engines."""
    from cellphe_data_pipeline_spark.operators.graph import (
        common_neighbor_scores,
    )

    li = load_table(spark, sf_dir, "lineitem")
    scores = common_neighbor_scores(li, "l_suppkey", "l_partkey")
    return scores.orderBy(
        F.col("n_common").desc(), "node_a", "node_b"
    ).limit(100)


@register(
    "j16_cogroup_asof",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS pid, 1 AS side
      FROM events WHERE event_type = 'view' AND ts IS NOT NULL
      UNION ALL
      SELECT user_id, ts, event_id, event_id AS pid, 0 AS side
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    ),
    f AS (
      SELECT user_id, ts, event_id, side,
             LAST_VALUE(pid IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_purchase_id
      FROM u
    )
    SELECT user_id, ts, event_id AS view_id, last_purchase_id
    FROM f WHERE side = 1
    """,
)
def j16(spark, sf_dir):
    """As-of alignment via cogroup + Arrow (r11; joins.py
    asof_join_cogroup) — j9's semantics under the OTHER physical
    strategy: both sides co-shuffled on user_id,
    ``cogroup().applyInPandas`` hands each user's views and purchases
    to one ``pd.merge_asof`` callback. The kernel docstring is the
    decision record (window-union stays JVM-side and wins when the
    logic is relational; cogroup is the shape for imperative per-key
    alignment — DTW, curve fits, the m3 trackers); registering BOTH
    against the same oracle family pins that the cogroup path's
    semantics — tie-break included (right rows sorted by (ts,
    event_id), last eligible wins, exact matches in) — equal the
    window formulation's, by hash. Views aligned to the most recent
    prior-or-simultaneous same-user purchase."""
    from cellphe_data_pipeline_spark.operators.joins import asof_join_cogroup

    # null-ts guard (symmetric with the oracle): merge_asof rejects
    # NaT in the on-column, and null ORDERING differs cross-engine
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("event_id").alias("pid")
    )
    out = asof_join_cogroup(
        views, purchases, key="user_id", ts="ts",
        right_cols=["pid"], tie_col="event_id",
    )
    return out.select(
        "user_id", "ts", "view_id",
        F.col("asof_pid").alias("last_purchase_id"),
    )


@register(
    "e24_streaming_static_enrich",
    """
    WITH dim AS (
      SELECT DISTINCT user_id,
             CASE WHEN user_id % 3 = 0 THEN 'gold'
                  WHEN user_id % 3 = 1 THEN 'silver'
                  ELSE 'bronze' END AS tier
      FROM events
    )
    SELECT d.tier, date_trunc('hour', e.ts) AS hour_ts, COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN dim d ON e.user_id = d.user_id
    WHERE e.ts IS NOT NULL
    GROUP BY d.tier, date_trunc('hour', e.ts)
    """,
)
def e24(spark, sf_dir):
    """§2.11 stream-STATIC enrichment → rollup (r11;
    streaming/tracker.streaming_static_enrich_rollup) — the twentieth
    driver-verified streaming runtime and the join class the
    stream-stream family (e8/e18/e22) does not cover: a fact stream
    broadcast-joined per micro-batch against a BATCH dimension (user →
    tier), feeding a windowed rollup. The join is stateless (no state
    store, no watermark node on the dim side — the watermark belongs
    to the downstream agg), so dim cost is O(|dim|) once, not
    O(stream) state — the reason enrichment is stream-static whenever
    dim staleness is tolerable; the kernel docstring records the
    per-micro-batch re-plan (bounded-staleness SCD feed) and the
    inner-join-drops-unmatched trap (ingest gates use left_outer +
    null-flag, the s19/s22 discipline). COMPLETE drain mode per e5
    (every window emitted regardless of batch split); tumbling 1h
    windows are epoch-aligned = date_trunc('hour')."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_static_enrich_rollup,
    )

    # null-ts symmetry guard (r12, advisor): Spark's streaming window()
    # DROPS null-ts rows while the oracle's date_trunc would keep a NULL
    # hour group — filter both sides explicitly (the a25/e26 pattern) so
    # a testdata regeneration with null timestamps cannot diverge them.
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "value")
    )
    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(F.col("user_id") % 3 == 0, "gold")
            .when(F.col("user_id") % 3 == 1, "silver")
            .otherwise("bronze")
            .alias("tier"),
        )
    )
    sink = _drain_to_memory(
        _stage_stream(ev, "e24_stream_enrich"), "e24_enrich_sink",
        lambda stream: streaming_static_enrich_rollup(stream, dim),
        "complete", "e24_streaming_static_enrich",
    )
    return sink.select(
        "tier", F.col("win.start").alias("hour_ts"), "n", "sum_value"
    )


@register(
    "s23_snapshot_changes",
    """
    WITH mx AS (SELECT MAX(event_id) AS m FROM events),
    aff AS (
      SELECT event_id, event_type, value FROM events
      WHERE event_type IN ('click', 'purchase')
    ),
    upd AS (
      SELECT event_id, event_type, value + 1000.0 AS value FROM aff
      WHERE event_id % 17 = 3 AND event_id % 29 <> 11
    ),
    del AS (SELECT * FROM aff WHERE event_id % 29 = 11),
    ins AS (
      SELECT event_id + 1 + (SELECT m FROM mx) AS event_id,
             'click' AS event_type, 2.75 AS value
      FROM events WHERE event_id % 89 = 13
    )
    SELECT event_id, 'update_pre' AS change_type, event_type, value
    FROM aff WHERE event_id % 17 = 3 AND event_id % 29 <> 11
    UNION ALL SELECT event_id, 'update_post', event_type, value FROM upd
    UNION ALL SELECT event_id, 'delete', event_type, value FROM del
    UNION ALL SELECT event_id, 'insert', event_type, value FROM ins
    """,
)
def s23(spark, sf_dir):
    """Change data feed between snapshots (r11; sources/io.py
    snapshot_changes) — the CDC completion of the lakehouse trio (s20
    time travel, s21 atomic commit, o17 COW merge): "what changed from
    v1 to v2" as typed rows (insert / delete / update_pre /
    update_post), the feed an incremental consumer (a downstream MV,
    c20; a replication target; a retraining trigger, a17) reads
    instead of diffing two full table states. The scale mechanism is
    the MANIFEST DIFF: shared files are byte-identical by the
    immutability contract, so only (v1−v2) and (v2−v1) files are read
    and full-outer-joined — O(rewritten slices), the untouched
    majority pruned by metadata alone (asserted in-query: the three
    untouched type slices are shared, removed/added are strict
    subsets). Rewritten-but-unchanged rows (COW rewrites whole files)
    are dropped by null-safe column comparison — the semantic that
    separates a CDC feed from a file diff. The v2 commit exercises all
    three change classes at once: value restatements, deletes, and
    inserts keyed above max(event_id) (the o16 id discipline); the
    oracle replays the delta relationally, so the hash proves the
    feed end-to-end from the on-disk snapshots."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_changes,
        snapshot_commit_atomic,
        snapshot_data_files,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _stage_dir("s23_cdc")
    types = ["click", "error", "purchase", "signup", "view"]
    v1_files: list[str] = []
    per_type: dict[str, list[str]] = {}
    for t in types:
        d = os.path.join(table, "data", "s1", f"type_{t}")
        ev.filter(F.col("event_type") == t).write.mode("overwrite").parquet(d)
        per_type[t] = snapshot_data_files(d)
        v1_files += per_type[t]
    snapshot_commit_atomic(table, 0, v1_files)

    affected = ["click", "purchase"]
    mx = ev.agg(F.max("event_id").alias("_m"))
    upd = ev.filter(
        (F.col("event_id") % 17 == 3)
        & (F.col("event_id") % 29 != 11)
        & F.col("event_type").isin(affected)
    ).select("event_id", "event_type", (F.col("value") + 1000.0).alias("value"))
    del_keys = ev.filter(
        (F.col("event_id") % 29 == 11) & F.col("event_type").isin(affected)
    ).select("event_id")
    ins = (
        ev.filter(F.col("event_id") % 89 == 13)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("event_id") + 1 + F.col("_m")).alias("event_id"),
            F.lit("click").alias("event_type"),
            F.lit(2.75).alias("value"),
        )
    )
    v2_files = [f for t in types if t not in affected for f in per_type[t]]
    gone = F.broadcast(
        upd.select("event_id").unionByName(del_keys)
    )
    for t in affected:
        cur = spark.read.parquet(*per_type[t])
        merged = cur.join(gone, "event_id", "left_anti").unionByName(
            upd.filter(F.col("event_type") == t)
        )
        if t == "click":
            merged = merged.unionByName(ins)
        d = os.path.join(table, "data", "s2", f"type_{t}")
        merged.write.mode("overwrite").parquet(d)
        v2_files += snapshot_data_files(d)
    snapshot_commit_atomic(table, 1, v2_files)

    changes, info = snapshot_changes(
        spark, table, 1, 2, key_col="event_id",
        compare_cols=["event_type", "value"],
    )
    # metadata-prune facts: the three untouched slices are SHARED
    # (never read), the rewritten slices are the only removed/added
    assert info["shared"] == sorted(
        f for t in types if t not in affected for f in per_type[t]
    )
    assert info["removed"] and info["added"], info
    return changes.select("event_id", "change_type", "event_type", "value")


@register(
    "o18_file_skipping_scan",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           TRUE AS ok_files_skipped
    FROM events WHERE value >= 100.0 AND value <= 140.0
    GROUP BY event_type
    """,
)
def o18(spark, sf_dir):
    """Zone-map file skipping on the READ path (r11; scale.py
    file_key_stats + prune_files_by_range) — the scan-side twin of
    o17's merge prune and the explicit form of what o15's range
    compaction buys implicitly through parquet footers: the table is
    laid out value-clustered (repartitionByRange — each file owns a
    disjoint value range), a per-file [min,max] stats manifest is
    built once (one single-column scan; at cluster scale these stats
    live IN the snapshot manifest, making the prune metadata-only),
    and a range query plans its FILE LIST against the manifest before
    any scan — files whose interval misses [lo,hi] are never opened.
    The prune is a superset admit (footer-stats semantics), so the
    residual predicate still applies; correctness therefore never
    depends on the layout, only the skip count does — the in-query
    assert pins that files WERE skipped, and ``ok_files_skipped``
    carries the fact into the hash (theorem-column idiom). The
    layout+stats+prune trio is the difference between a selective
    range query costing O(matching files) and O(table) at 100 TB —
    the engine-level form of what o9 does with directories and o12
    with buckets, on a column too dense to partition by."""
    from cellphe_data_pipeline_spark.operators.scale import (
        file_key_stats,
        prune_files_by_range,
    )
    from cellphe_data_pipeline_spark.sources.io import snapshot_data_files

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    d = _stage_dir("o18_layout")
    ev.repartitionByRange(16, "value").write.mode("overwrite").parquet(d)
    files = snapshot_data_files(d)
    stats = file_key_stats(spark, files, "value").collect()
    lo, hi = 100.0, 140.0
    selected = prune_files_by_range(stats, lo, hi)
    assert 0 < len(selected) < len(files), (len(selected), len(files))
    return (
        spark.read.parquet(*selected)
        .filter((F.col("value") >= lo) & (F.col("value") <= hi))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "event_type", "n", "sum_value",
            F.lit(len(selected) < len(files)).alias("ok_files_skipped"),
        )
    )


@register(
    "t29_udtf_token_chunks",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    c AS (
      SELECT doc_id, t, len(t) AS n_toks,
             CASE WHEN len(t) <= 8 THEN 1
                  ELSE CAST(CEIL((len(t) - 8) / 6.0) AS INT) + 1 END AS n_chunks
      FROM toks
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           CAST(len(list_slice(t, i * 6 + 1, i * 6 + 8)) AS INT) AS n_tokens,
           array_to_string(list_slice(t, i * 6 + 1, i * 6 + 8), ' ')
             AS chunk_text
    FROM c, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
    """,
)
def t29(spark, sf_dir):
    """Python UDTF surface (r11; text.py token_chunker_udtf) — the one
    table-function API the engine had not exercised: a Python class
    yielding 0..n rows per input row, applied via LATERAL — sliding
    token chunks (window 8, stride 6, ragged tail, zero rows for an
    empty doc). The kernel docstring is the decision record: chunking
    IS relationally expressible (c2 does chars with explode+sequence),
    so this pins the UDTF surface's semantics against the same oracle
    family — the j16-vs-j9 discipline — and records when a UDTF is the
    right tool (imperative expansions: stateful parsers, tokenizer
    libraries, per-row decoders) vs codegen explode. The oracle
    replays the window/stride arithmetic with generate_series +
    list_slice."""
    from cellphe_data_pipeline_spark.operators.text import token_chunker_udtf

    spark.udtf.register("t29_token_chunker", token_chunker_udtf())
    load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).createOrReplaceTempView("_t29_docs")
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_id, c.n_tokens, c.chunk_text
        FROM _t29_docs d, LATERAL t29_token_chunker(d.doc_id, d.text) c
        """
    )


@register(
    "o19_manifest_stats_prune",
    """
    SELECT 'mid' AS band, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           TRUE AS ok_pruned
    FROM events WHERE value >= 100.0 AND value <= 140.0
    GROUP BY event_type
    UNION ALL
    SELECT 'high', event_type, COUNT(*),
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), TRUE
    FROM events WHERE value >= 300.0 AND value <= 350.0
    GROUP BY event_type
    """,
)
def o19(spark, sf_dir):
    """Manifest-embedded statistics (r11; io.py snapshot_commit_atomic
    stats= + snapshot_read_pruned) — closing the trade o17/o18 record
    ("at cluster scale the stats are written INTO the manifest at
    commit time"): the writer pays ONE stats scan at commit and embeds
    per-file [min,max] into the manifest JSON; afterwards EVERY range
    read prunes its file list from the manifest alone — zero data-file
    I/O before the matching files, the true Delta-checkpoint/Iceberg-
    manifest mechanics where o18 recomputed stats per query. Two
    disjoint bands read through the same committed stats (both prunes
    asserted non-trivial in-query); a file with no stats entry is
    ADMITTED — stats are an optimization, never a correctness gate,
    which is what lets stats cover only hot columns at 100 TB. The
    residual predicate applies as always (superset-admit)."""
    from cellphe_data_pipeline_spark.operators.scale import file_key_stats
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_data_files,
        snapshot_read_pruned,
    )
    import os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _stage_dir("o19_stats")
    d = os.path.join(table, "data", "base")
    ev.repartitionByRange(16, "value").write.mode("overwrite").parquet(d)
    files = snapshot_data_files(d)
    from urllib.parse import urlparse

    stats = {
        "value": {
            # _metadata.file_path is a URI; manifests hold plain paths
            urlparse(r["file"]).path: [r["min_v"], r["max_v"]]
            for r in file_key_stats(spark, files, "value").collect()
        }
    }
    assert set(stats["value"]) == set(files)
    snapshot_commit_atomic(table, 0, files, stats=stats)

    out = None
    for tag, lo, hi in (("mid", 100.0, 140.0), ("high", 300.0, 350.0)):
        df, info = snapshot_read_pruned(spark, table, 1, "value", lo, hi)
        assert info["skipped"] and info["kept"], (tag, info)
        band = (
            df.filter((F.col("value") >= lo) & (F.col("value") <= hi))
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.lit(tag).alias("band"), "event_type", "n", "sum_value",
                F.lit(True).alias("ok_pruned"),
            )
        )
        out = band if out is None else out.unionByName(band)
    return out


@register(
    "o20_snapshot_vacuum",
    """
    WITH upd AS (
      SELECT event_id, event_type, value + 77.0 AS value FROM events
      WHERE event_id % 13 = 5 AND event_type = 'click'
    ),
    v2 AS (
      SELECT e.event_id, e.event_type, e.value FROM events e
      WHERE e.event_id NOT IN (SELECT event_id FROM upd)
      UNION ALL SELECT event_id, event_type, value FROM upd
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           TRUE AS ok_orphans_gone,
           TRUE AS ok_expired_cleaned,
           TRUE AS ok_current_intact
    FROM v2 GROUP BY event_type
    """,
)
def o20(spark, sf_dir):
    """Snapshot VACUUM (r11; io.py snapshot_vacuum) — the maintenance
    op the WAP gate points at (s22: quarantined staged files stay
    "orphaned in the pool ... reclaimable by a vacuum that keeps
    manifest-referenced files"). The lifecycle exercised end-to-end:
    v1 commits five type slices; a quarantined batch is STAGED into
    the pool but never committed (the s22 failure path — orphans by
    construction); v2 COW-rewrites only the click slice (four slices
    shared). First vacuum (no expiry): the orphans are deleted, every
    committed file survives, BOTH snapshots still readable. Then
    expiry vacuum (expire_before=2): v1's manifest is removed and its
    now-unreferenced old click file deleted, the four SHARED slices
    survive because v2 still references them — reference-counting
    reachability, with the production retention-horizon caveat
    (in-flight readers/commits need age-gating) recorded in the
    kernel. All deletions and survivals asserted in-query against the
    filesystem; the oracle recomputes v2 relationally, so the hash
    proves the vacuum deleted nothing the current snapshot needs."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_data_files,
        snapshot_read,
        snapshot_vacuum,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _stage_dir("o20_vacuum")
    types = ["click", "error", "purchase", "signup", "view"]
    per_type: dict[str, list[str]] = {}
    v1_files: list[str] = []
    for t in types:
        d = os.path.join(table, "data", "s1", f"type_{t}")
        ev.filter(F.col("event_type") == t).write.mode("overwrite").parquet(d)
        per_type[t] = snapshot_data_files(d)
        v1_files += per_type[t]
    snapshot_commit_atomic(table, 0, v1_files)

    # the s22 failure path: staged into the pool, never committed
    orphan_dir = os.path.join(table, "data", "quarantined_batch")
    ev.limit(50).write.mode("overwrite").parquet(orphan_dir)
    orphans = snapshot_data_files(orphan_dir)

    upd = ev.filter(
        (F.col("event_id") % 13 == 5) & (F.col("event_type") == "click")
    ).select("event_id", "event_type", (F.col("value") + 77.0).alias("value"))
    cur = spark.read.parquet(*per_type["click"])
    merged = cur.join(
        F.broadcast(upd.select("event_id")), "event_id", "left_anti"
    ).unionByName(upd)
    d2 = os.path.join(table, "data", "s2", "type_click")
    merged.write.mode("overwrite").parquet(d2)
    v2_files = [
        f for t in types if t != "click" for f in per_type[t]
    ] + snapshot_data_files(d2)
    snapshot_commit_atomic(table, 1, v2_files)

    info1 = snapshot_vacuum(table)  # reachability-only pass
    assert set(info1["deleted"]) == set(orphans), info1["deleted"]
    assert all(os.path.exists(f) for f in v1_files + v2_files)
    assert snapshot_read(spark, table, 1).count() > 0  # v1 still readable

    info2 = snapshot_vacuum(table, expire_before=2)  # drop v1 history
    assert info2["expired"] == [1], info2["expired"]
    assert set(info2["deleted"]) == set(per_type["click"]), info2["deleted"]
    shared = [f for t in types if t != "click" for f in per_type[t]]
    assert all(os.path.exists(f) for f in shared + v2_files)

    return (
        snapshot_read(spark, table, 2)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "event_type", "n", "sum_value",
            F.lit(True).alias("ok_orphans_gone"),
            F.lit(True).alias("ok_expired_cleaned"),
            F.lit(True).alias("ok_current_intact"),
        )
    )


def _mmr_oracle_sql(k: int = 4, cand_k: int = 10, qmod: int = 40) -> str:
    """v18 oracle: the MMR greedy UNROLLED as chained MATERIALIZED CTEs
    (the g7/g8 lesson — a bounded iterative algorithm's oracle is its
    unrolled rounds). selset0 is empty; each round scores the remaining
    candidates with 0.5·rel − 0.5·COALESCE(max sim to selset, 0) —
    exactly the engine's arithmetic on exactly the same 5-decimal
    rounded inputs — and picks the (score DESC, did) winner."""
    cos = "ROUND(list_dot_product({a}.emb, {b}.emb) / ({a}.nrm * {b}.nrm), 5) + 0.0"
    parts = [f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
    q AS (SELECT * FROM n WHERE vec_id % {qmod} = 0),
    cand AS MATERIALIZED (
      SELECT qid, did, rel FROM (
        SELECT q.vec_id AS qid, c.vec_id AS did,
               {cos.format(a='q', b='c')} AS rel,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {cos.format(a='q', b='c')} DESC, c.vec_id) AS rnk
        FROM q JOIN n c ON q.vec_id <> c.vec_id
      ) t WHERE rnk <= {cand_k}
    ),
    ps AS MATERIALIZED (
      SELECT a.qid, a.did AS d1, b.did AS d2,
             {cos.format(a='x', b='y')} AS sim
      FROM cand a JOIN cand b ON a.qid = b.qid AND a.did <> b.did
      JOIN n x ON x.vec_id = a.did
      JOIN n y ON y.vec_id = b.did
    ),
    selset0 AS (SELECT qid, did FROM cand WHERE 1 = 0)"""]
    for i in range(1, k + 1):
        parts.append(f""",
    m{i} AS (
      SELECT r.qid, r.did, 0.5 * r.rel - 0.5 * COALESCE(mx.ms, 0.0) AS score
      FROM cand r
      LEFT JOIN (
        SELECT p.qid, p.d1 AS did, MAX(p.sim) AS ms
        FROM ps p JOIN selset{i - 1} s ON s.qid = p.qid AND s.did = p.d2
        GROUP BY p.qid, p.d1
      ) mx ON mx.qid = r.qid AND mx.did = r.did
      LEFT JOIN selset{i - 1} x ON x.qid = r.qid AND x.did = r.did
      WHERE x.did IS NULL
    ),
    s{i} AS MATERIALIZED (
      SELECT qid, did, score FROM (
        SELECT qid, did, score,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score DESC, did) AS rn
        FROM m{i}
      ) t WHERE rn = 1
    ),
    selset{i} AS (
      SELECT qid, did FROM selset{i - 1}
      UNION ALL SELECT qid, did FROM s{i}
    )""")
    finals = [
        f"SELECT qid AS vec_id, CAST({i} AS INT) AS pick_rank, "
        f"did AS neighbor_id, score AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL ".join(finals)


@register("v18_mmr_diversify", _mmr_oracle_sql())
def v18(spark, sf_dir):
    """MMR diversification rerank (r11; similarity.py mmr_diversify) —
    the selection stage between retrieval and consumption: from each
    query's exact top-10 (the v1 chain), greedily keep 4 maximizing
    0.5·rel − 0.5·max-sim-to-already-kept, so near-duplicates don't
    crowd the window — the anti-redundancy pass a retrieval-augmented
    training pipeline runs over candidate context (and the per-query
    cousin of d15's corpus-level SemDeDup). Everything FLOAT is
    computed relationally first (candidate rels and candidate-pair
    sims via the sequential-fold cosine, rounded-then-ranked — the v1
    discipline), so the imperative greedy (cogroup + applyInPandas,
    the j16 shape) performs only order-deterministic IEEE ops and the
    unrolled chained-CTE oracle (the g7 lesson) replays it
    bit-for-bit. Scale: cost is per-query k·|C| + |C|² pair sims with
    |C| = the top-k window, never the corpus; one qid shuffle."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        _dot,
        cosine_topk_bruteforce,
        mmr_diversify,
        with_norm,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 40 == 0)
    cand = cosine_topk_bruteforce(e, k=10, queries=q).select(
        F.col("vec_id").alias("qid"),
        F.col("neighbor_id").alias("did"),
        F.col("cos_sim").alias("rel"),
    )
    a, b = cand.alias("ca"), cand.alias("cb")
    cpairs = a.join(
        b,
        (F.col("ca.qid") == F.col("cb.qid"))
        & (F.col("ca.did") != F.col("cb.did")),
    ).select(
        F.col("ca.qid").alias("qid"),
        F.col("ca.did").alias("d1"),
        F.col("cb.did").alias("d2"),
    )
    n1 = with_norm(e).select(
        F.col("vec_id").alias("_v1"),
        F.col("_emb").alias("_e1"),
        F.col("_norm").alias("_n1"),
    )
    n2 = with_norm(e).select(
        F.col("vec_id").alias("_v2"),
        F.col("_emb").alias("_e2"),
        F.col("_norm").alias("_n2"),
    )
    pairs = (
        cpairs
        .join(F.broadcast(n1), F.col("d1") == F.col("_v1"))
        .join(F.broadcast(n2), F.col("d2") == F.col("_v2"))
        .select(
            "qid", "d1", "d2",
            round_z(
                _dot(F.col("_e1"), F.col("_e2"))
                / (F.col("_n1") * F.col("_n2")),
                5,
            ).alias("sim"),
        )
    )
    return mmr_diversify(cand, pairs, k=4, lam=0.5)


@register(
    "e25_streaming_snapshot_sink",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           TRUE AS ok_replay_noop
    FROM events GROUP BY event_type
    """,
)
def e25(spark, sf_dir):
    """§2.11 exactly-once streaming sink into the snapshot table (r11;
    tracker.drain_batches + io.snapshot_append_batch)
    — the twenty-first verified streaming runtime, composing streaming
    with the lakehouse layer: three deterministic micro-batches drain
    through foreachBatch, each CAS-committing a snapshot whose
    manifest records the ``last_batch_id`` watermark (Delta's txn
    action in miniature). The failure mode e23 leaves open is then
    EXERCISED: the engine's contract re-delivers a micro-batch when a
    crash lands between sink output and checkpoint commit — simulated
    by re-invoking the sink with the final batch and its batch_id,
    which must be a NO-OP (returns False, snapshot id unchanged —
    asserted in-query; ok_replay_noop carries the fact). The final
    snapshot's rollup hash-matches the whole-input oracle: every
    input row visible exactly once despite the replay. Also the first
    incremental-ingest lifecycle where each micro-batch is a READABLE
    committed snapshot — a downstream s23 CDC consumer could follow
    the stream batch-by-batch through manifests alone."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_append_batch,
        snapshot_current,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import drain_batches
    import os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    parts = [ev.filter(F.col("event_id") % 3 == m) for m in range(3)]
    staged = _stage_ordered_batches(parts, "e25_batches")
    root = _stage_dir("e25_sink")
    table = os.path.join(root, "table")
    ckpt = os.path.join(root, "ckpt")
    with session_confs(spark, DRAIN_CONFS):
        results = drain_batches(
            spark, parts[0].schema, staged, ckpt,
            lambda b, bid: snapshot_append_batch(table, b, bid),
            "e25_streaming_snapshot_sink",
        )
    assert results == [True, True, True], results
    sid = snapshot_current(table)
    assert sid == 3, sid
    # the re-delivery the engine's contract permits: same batch, same
    # id — the sink must refuse and the table must not advance
    replayed = snapshot_append_batch(table, parts[2], 2)
    assert replayed is False and snapshot_current(table) == 3
    return (
        snapshot_read(spark, table, 3)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "event_type", "n", "sum_value",
            F.lit(True).alias("ok_replay_noop"),
        )
    )


@register(
    "c22_chat_template_render",
    """
    WITH m AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             event_type || '#' || CAST(event_id AS VARCHAR) AS content
      FROM events WHERE ts IS NOT NULL
    ),
    r AS (
      SELECT user_id, rn, content,
             CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END AS role
      FROM m
    )
    SELECT user_id,
           string_agg('<|' || role || '|>' || content, '' ORDER BY rn)
             AS rendered_text,
           COUNT(*) AS n_msgs,
           CAST(COALESCE(SUM(length(content))
                  FILTER (WHERE role = 'assistant'), 0) AS BIGINT)
             AS n_loss_chars
    FROM r GROUP BY user_id
    """,
)
def c22(spark, sf_dir):
    """Chat-template rendering with loss-span accounting (r11) — the
    SFT-data prep step between raw logs and the tokenizer: per-key
    event sequences become alternating-role conversations rendered
    into ONE training string with role sentinels, plus the
    loss-masking arithmetic (assistant-content chars are what the loss
    covers; c14/c15 are the objective-side transforms, c22 is the
    dialogue-format one). The 100 TB mechanism is ordered
    aggregation-concat done right: Spark has no ordered string_agg,
    and collect_list alone is ASSEMBLY-ORDER-NONDETERMINISTIC — the
    deterministic idiom is collect_list(struct(rn, piece)) →
    array_sort → transform → array_join, one combinable groupBy whose
    partial state is each key's pieces (never a window sort over the
    corpus). Conversation length is the skew knob: one hot key's
    transcript must fit executor memory — the j8/cogroup caveat, cap
    turns upstream. The oracle is DuckDB's native ordered string_agg;
    hash equality pins the sort-struct idiom EQUALS ordered
    aggregation."""
    # null-ts guard (the c19 precedent): ASC null ORDERING differs
    # cross-engine (Spark NULLS FIRST, DuckDB NULLS LAST)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    m = ev.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.concat(
            F.col("event_type"), F.lit("#"), F.col("event_id").cast("string")
        ).alias("content"),
    ).select(
        "user_id", "rn", "content",
        F.when(F.col("rn") % 2 == 1, "user")
        .otherwise("assistant")
        .alias("role"),
    )
    piece = F.concat(F.lit("<|"), F.col("role"), F.lit("|>"), F.col("content"))
    return (
        m.select(
            "user_id", F.struct("rn", piece.alias("piece")).alias("_p"),
            "role", "content",
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("_p")), lambda x: x["piece"]
                ),
                "",
            ).alias("rendered_text"),
            F.count(F.lit(1)).alias("n_msgs"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("role") == "assistant", F.length("content")
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).cast("bigint").alias("n_loss_chars"),
        )
    )


@register(
    "u7_multiset_set_ops",
    """
    SELECT user_id, 'intersect_all' AS side, COUNT(*) AS n FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT ALL
      SELECT user_id FROM events WHERE event_type = 'view'
    ) GROUP BY user_id
    UNION ALL
    SELECT user_id, 'except_all', COUNT(*) FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT ALL
      SELECT user_id FROM events WHERE event_type = 'view'
    ) GROUP BY user_id
    """,
)
def u7(spark, sf_dir):
    """Multiset set operations (r11) — u5's missing ALL half:
    INTERSECT ALL keeps min(multiplicity) copies per value, EXCEPT ALL
    subtracts multiplicities — bag semantics SQL defines and Spark
    implements natively (intersectAll/exceptAll plan as aggregate-
    with-count + generate, one shuffle on the value, never a distinct
    that would collapse the counts). The practical reading: per-user
    click-vs-view exposure matching (how many clicks have a matching
    view LEFT OVER after pairing) — the multiplicity arithmetic a
    DISTINCT-based u5 formulation silently destroys. Counts aggregated
    per user so the multiset result is hash-checked via its
    multiplicity vector."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    ia = (
        clicks.intersectAll(views)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.lit("intersect_all").alias("side"), "n")
    )
    ea = (
        clicks.exceptAll(views)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.lit("except_all").alias("side"), "n")
    )
    return ia.unionByName(ea)


def _o21_bucketed_agg(spark, sf_dir):
    """The exchange-free aggregate body of o21, split out so the plan
    test can assert ZERO Exchange end-to-end (scan → partial agg →
    final agg, no shuffle at all)."""
    from cellphe_data_pipeline_spark.operators.scale import (
        publish_bucketed,
        read_bucketed,
    )

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    publish_bucketed(
        ev, "o21_events_bk", ["user_id"], num_buckets=8,
        path=_stage_dir("o21_events_bk"),
    )
    return (
        read_bucketed(spark, "o21_events_bk")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@register(
    "o21_bucketed_agg",
    """
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def o21(spark, sf_dir):
    """Exchange-free aggregation over a bucketed table (r11) — the
    aggregation half of o8's story (o8 proves bucketed JOINS shuffle
    nothing; o21 proves bucketed GROUP BYs don't either): the bucketed
    scan reports HashPartitioning(user_id, 8), which satisfies the
    aggregate's ClusteredDistribution, so the plan is scan → partial
    agg → final agg with ZERO Exchange (pinned by
    tests/test_scale.py::test_o21_bucketed_agg_is_exchange_free).
    Together o8 + o21 are the bucketed-publish payoff at 100 TB: pay
    one clustered write per fact table, then EVERY downstream join AND
    rollup on that key runs shuffle-free — the S15 publish discipline's
    whole economic argument. The oracle aggregates the plain parquet
    original: layout must never change values."""
    return _o21_bucketed_agg(spark, sf_dir)


@register(
    "a25_sliding_window_rollup",
    """
    SELECT win_start, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (
      SELECT user_id, value,
             date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS win_start
      FROM events, UNNEST(generate_series(0, 5)) AS g(k)
      WHERE ts IS NOT NULL
    ) t GROUP BY win_start
    """,
)
def a25(spark, sf_dir):
    """SLIDING-window rollup (r11) — the overlap half of the window
    surface (e1/e5 are tumbling; w7 is session): 6-hour windows
    sliding hourly, so each event belongs to SIX windows — trailing
    6h activity refreshed every hour, the monitoring/trend shape.
    The cost model is the point: Spark's window(ts, '6 hours',
    '1 hour') EXPANDS each row into window/slide = 6 replicas BEFORE
    the shuffle — the overlap factor is a literal input multiplier,
    which is why the slide should be as coarse as the consumer
    tolerates. The production alternative is recorded: compute
    TUMBLING per-slide partials once and fold 6 partials per sliding
    window (a18's merge algebra — sums/counts fold; the n_users exact
    distinct here is deliberately the NON-mergeable measure, the a20
    HLL trade made concrete: at 100 TB you either pay the expand or
    switch distinct to a sketch). The oracle replays the expansion
    with generate_series; epoch-aligned hourly starts equal
    date_trunc arithmetic."""
    # null-ts guard: Spark's window() DROPS a null-ts row while the
    # oracle's date_trunc would keep a NULL group — filter symmetric
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "6 hours", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("win.start").alias("win_start"), "n", "n_users", "sum_value")
    )


def _c23_oracle_sql() -> str:
    """c23 oracle: the d7 closure chain (minhash pairs → WITH RECURSIVE
    transitive closure → min-id cluster labels) left-joined onto the
    corpus, split key = cluster id (or own id for singletons), split by
    the c9 seeded-md5 arithmetic on the KEY."""
    key = "COALESCE(c.cluster_id, d.doc_id)"
    bucket = (
        f"('0x' || substring(md5('leak1-' || CAST({key} AS VARCHAR)), 1, 8))"
        "::BIGINT % 10000"
    )
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(n, m) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n)
    SELECT d.doc_id, {key} AS split_key,
           CASE WHEN {bucket} < 9000 THEN 'train' ELSE 'val' END AS split
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    """


@register("c23_leakage_safe_split", _c23_oracle_sql())
def c23(spark, sf_dir):
    """Leakage-safe train/val split (r11) — the composition c9 warns
    about but cannot enforce alone: a per-DOCUMENT split puts near-
    duplicates on opposite sides of the train/eval boundary, silently
    inflating eval (the contamination c5/c12/c16 scrub AFTER the fact;
    c23 prevents it AT split time). The split key is the near-dup
    CLUSTER (d3 banded pairs → d7 transitive closure → min-id label;
    singletons key on their own doc_id), then the c9 seeded-md5 bucket
    arithmetic applies to the KEY — so every member of a cluster lands
    in the same split BY CONSTRUCTION, not by audit. Cost at 100 TB:
    exactly the banded-candidate scan dedup already pays (the closure
    is the same CC the takedown path c21 uses), plus one broadcast-able
    left join of the cluster labels; the split itself stays zero-
    shuffle codegen. Cluster-side cohesion is pinned by test; the
    oracle replays pairs → WITH RECURSIVE closure → identical md5
    bucket arithmetic."""
    from cellphe_data_pipeline_spark.functions.scalars import portable_hash64
    from cellphe_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_duplicates,
    )

    d = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(minhash_near_duplicates(d)).select(
        "doc_id", "cluster_id"
    )
    key = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    b = portable_hash64(key.cast("string"), seed="leak1-") % 10000
    return d.join(F.broadcast(clusters), "doc_id", "left").select(
        "doc_id",
        key.alias("split_key"),
        F.when(b < 9000, "train").otherwise("val").alias("split"),
    )


@register(
    "j17_forward_asof",
    """
    WITH u AS (
      SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS pid, 0 AS side
      FROM events WHERE event_type = 'view' AND ts IS NOT NULL
      UNION ALL
      SELECT user_id, ts, event_id, event_id AS pid, 1 AS side
      FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    ),
    f AS (
      SELECT user_id, ts, event_id, side,
             FIRST_VALUE(pid IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, side, event_id
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
             ) AS next_purchase_id
      FROM u
    )
    SELECT user_id, ts, event_id AS view_id, next_purchase_id
    FROM f WHERE side = 0
    """,
)
def j17(spark, sf_dir):
    """FORWARD as-of (r11; the `direction` extension of
    joins.asof_join_cogroup) — attribution's other half: j9/j16 answer
    "what came before", j17 answers "what happened NEXT" (each view
    joined to the next at-or-after same-user purchase — the
    time-to-convert primitive; e18 counts such conversions, j17 names
    them). In pd.merge_asof the direction is one argument; the
    window-union formulation needs a fully mirrored second window
    (FIRST_VALUE over the FOLLOWING frame, left-before-right at equal
    ts, min-tie first) — which the oracle spells out, pinning the
    mirror semantics: forward ties take the FIRST (ts, event_id)
    at-or-after, exactly reversing backward's last-at-or-before."""
    from cellphe_data_pipeline_spark.operators.joins import asof_join_cogroup

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("event_id").alias("pid")
    )
    out = asof_join_cogroup(
        views, purchases, key="user_id", ts="ts",
        right_cols=["pid"], tie_col="event_id", direction="forward",
    )
    return out.select(
        "user_id", "ts", "view_id",
        F.col("asof_pid").alias("next_purchase_id"),
    )


@register(
    "e26_streaming_sliding_rollup",
    """
    SELECT win_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM (
      SELECT value,
             date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS win_start
      FROM events, UNNEST(generate_series(0, 5)) AS g(k)
      WHERE ts IS NOT NULL
    ) t GROUP BY win_start
    """,
)
def e26(spark, sf_dir):
    """§2.11 SLIDING-window streaming rollup (r11;
    tracker.streaming_sliding_rollup) — the twenty-second verified
    streaming runtime, completing the window-shape matrix (tumbling
    e5/e20, session e12, sliding e26): 6h windows sliding hourly under
    a watermark, drained complete-mode (every window emitted). The
    state story is the point: the overlap factor multiplies STATE
    rows, not just input expansion — ~window/slide more open windows
    than tumbling at any watermark — and DISTINCT aggregates are
    flatly unsupported in streaming aggregation (the a25 exact
    n_users is impossible here; a20's HLL is the substitute), so the
    batch/streaming split of the same rollup is itself the recorded
    lesson. Oracle = a25's expansion replay minus the distinct."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_sliding_rollup,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())  # symmetric with the oracle
        .select("ts", "value")
    )
    sink = _drain_to_memory(
        _stage_stream(ev, "e26_stream_sliding"), "e26_sliding_sink",
        streaming_sliding_rollup, "complete", "e26_streaming_sliding_rollup",
    )
    return sink.select(
        F.col("win.start").alias("win_start"), "n", "sum_value"
    )


@register(
    "a26_grouped_pandas_mad",
    """
    WITH m AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS n,
           ROUND(median(abs(e.value - m.med)), 6) + 0.0 AS mad
    FROM events e JOIN m ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
)
def a26(spark, sf_dir):
    """Median absolute deviation via a GROUPED-AGG pandas UDF (r11) —
    the one Python-UDF surface the engine had not exercised (scalar
    pandas_udf: rois.py; applyInPandas: a8/m3/j16; mapInPandas: the
    media kernels; UDTF: t29; this is the Series→scalar aggregate
    form, Arrow-shipping each group's column as ONE pandas Series into
    a custom reduction). The statistic is the robust-dispersion gate
    t9's z-score should use when outliers contaminate the std itself
    (MAD's breakdown point is 50% vs the std's 0%). Numeric
    discipline: medians interpolate as (a+b)/2 on both sides, but
    DuckDB's interpolation differs from IEEE averaging in the LAST ULP
    (measured: ~1e-5 of pairs) — exactly the class the conventions
    header's rounding rule exists for; MAD is rounded to 6 decimals
    against values with 2, so the ulp noise is 8 orders below the
    granularity. The honest scale note: a grouped-agg UDF receives the
    WHOLE group (no partial aggregation, one executor per group) — at
    100 TB an exact per-group MAD needs the group to fit (it's the
    cogroup/applyInPandas constraint), else switch to the a16
    approx-quantile machinery."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def _median(arr):
        n = len(arr)
        mid = n // 2
        if n % 2:
            return float(arr[mid])
        return (float(arr[mid - 1]) + float(arr[mid])) / 2.0

    # functionType spelled explicitly: the module runs under
    # `from __future__ import annotations`, which turns the type-hint
    # registration form into unresolvable strings
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def mad_udf(v):
        # dropna FIRST: to_numpy turns None into NaN, which would
        # poison the selection — SQL median ignores NULLs, so must we
        arr = np.sort(v.dropna().to_numpy(dtype="float64"))
        if len(arr) == 0:
            return None
        med = _median(arr)
        return _median(np.sort(np.abs(arr - med)))

    # discovered contract: a grouped-agg pandas UDF cannot be mixed
    # with built-in aggregates in one agg() (INVALID_PANDAS_UDF_
    # PLACEMENT) — the count rides a separate relational agg joined
    # back (broadcast; one row per group)
    ev = load_table(spark, sf_dir, "events")
    mad = ev.groupBy("event_type").agg(
        round_z(mad_udf("value"), 6).alias("mad")
    )
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return n.join(F.broadcast(mad), "event_type").select(
        "event_type", "n", "mad"
    )


@register(
    "s24_cdc_feed_replay",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           TRUE AS ok_feed_reconstructs
    FROM events GROUP BY event_type
    """,
)
def s24(spark, sf_dir):
    """CDC feed-replay invariant (r11) — the duality that makes a
    change feed TRUSTABLE: replaying every snapshot-to-snapshot feed
    from the empty table reconstructs the current table exactly
    (stream-table duality, the property a downstream replica or MV
    maintainer silently depends on). Build: the e25 idempotent sink
    ingests three micro-batches as snapshots v1..v3; consume: s23's
    manifest-diff CDC runs over each CONSECUTIVE pair — including
    from version 0, the bootstrap semantic (initial snapshot's rows
    arrive as INSERTS, so a consumer needs no out-of-band initial
    copy); verify: the concatenated insert feeds equal the final
    table EXACTLY (exceptAll in both directions empty — multiset
    equality, asserted in-query) and the per-pair feeds are
    insert-only (append-only ingest ⇒ no update/delete rows —
    asserted). The oracle rolls up the source events; the engine
    answers from the REPLAYED FEED, so the hash proves feed
    completeness end-to-end, not just table correctness. At 100 TB
    this is the nightly invariant check a replication pipeline runs
    on metadata + rewritten slices only — each pair's diff costs
    O(that batch's files), never O(table)."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_append_batch,
        snapshot_changes,
        snapshot_current,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import drain_batches
    import os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    parts = [ev.filter(F.col("event_id") % 3 == m) for m in range(3)]
    staged = _stage_ordered_batches(parts, "s24_batches")
    root = _stage_dir("s24_replay")
    table = os.path.join(root, "table")
    ckpt = os.path.join(root, "ckpt")
    with session_confs(spark, DRAIN_CONFS):
        results = drain_batches(
            spark, parts[0].schema, staged, ckpt,
            lambda b, bid: snapshot_append_batch(table, b, bid),
            "s24_cdc_feed_replay",
        )
    assert results == [True, True, True], results
    n_snaps = snapshot_current(table)
    assert n_snaps == 3, n_snaps

    feed = None
    for sid in range(1, n_snaps + 1):
        changes, _ = snapshot_changes(
            spark, table, sid - 1, sid, key_col="event_id",
            compare_cols=["event_type", "value"],
        )
        # append-only ingest: every change row must be an insert
        assert changes.filter(F.col("change_type") != "insert").count() == 0
        batch = changes.select("event_id", "event_type", "value")
        feed = batch if feed is None else feed.unionByName(batch)

    final = snapshot_read(spark, table, n_snaps).select(
        "event_id", "event_type", "value"
    )
    # multiset equality: replayed feed == current table, exactly
    assert feed.exceptAll(final).count() == 0
    assert final.exceptAll(feed).count() == 0
    return feed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    ).select(
        "event_type", "n", "sum_value",
        F.lit(True).alias("ok_feed_reconstructs"),
    )


@register(
    "t31_arrow_doc_stats",
    r"""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(strlen(text) AS INT) AS n_bytes,
           CAST(CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS INT)
             AS n_words
    FROM documents
    """,
)
def t31(spark, sf_dir):
    """mapInArrow surface (r11; text.py arrow_doc_stats) — the last
    Python execution surface exercised, completing the ladder the
    engine documents per rung (codegen expression → mapInArrow →
    mapInPandas → row Python): the callback computes byte/char/word
    stats with pyarrow.compute kernels directly on Arrow buffers —
    no pandas materialisation, no string boxing, Python overhead per
    BATCH only. The kernel docstring records the niche (Arrow-only
    libraries — tokenizers' batched encode is the canonical consumer;
    t1 computes comparable stats in JVM codegen, which stays the
    default) and the discovered semantics: Arrow's split_whitespace
    keeps EDGE empties, so trim-then-split with an empty guard is
    what equals Python str.split() and the oracle's regex split."""
    from cellphe_data_pipeline_spark.operators.text import arrow_doc_stats

    return arrow_doc_stats(load_table(spark, sf_dir, "documents"))


@register(
    "e27_streaming_quantile_audit",
    """
    SELECT event_type, COUNT(*) AS n, TRUE AS ok_p50, TRUE AS ok_p90
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
)
def e27(spark, sf_dir):
    """§2.11 quantile SKETCHES inside streaming state (r11) — the
    twenty-third verified streaming runtime and the streaming half of
    a16's accuracy audit: percentile_approx's Greenwald-Khanna summary
    IS a legal streaming aggregation state (bounded memory, mergeable
    partials — the same properties that make it the 100 TB batch
    answer make it the streaming-state answer), accumulated per
    micro-batch in complete mode. The accuracy claim is then audited
    BATCH-side exactly as a16 does: a conditional-count pass derives
    each streamed approx value's true rank interval, and the ok_p
    booleans assert the rank window — with TWICE the single-pass eps,
    because the streaming path COMPRESSES AND MERGES per-batch
    partials and the merged-summary guarantee is the looser 2·eps
    bound (the recorded difference between one-pass and merged GK —
    a16's batch sketch gets eps, e27's streamed one gets 2·eps; both
    theorem-checked at every SF). n is value-matched; the oracle
    emits the literal booleans."""
    acc = 1000
    eps = 1.0 / acc
    qs = [0.5, 0.9]
    # null-value guard (symmetric with the oracle): the sketch skips
    # NULLs while n counts rows — a null-heavy regeneration would
    # shift the rank window against the sketch's true population
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )

    def transform(stream):
        return stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.percentile_approx("value", F.lit(qs), F.lit(acc)).alias(
                "_approx"
            ),
        )

    sink = _drain_to_memory(
        _stage_stream(ev, "e27_stream_q"), "e27_q_sink", transform,
        "complete", "e27_streaming_quantile_audit",
    )
    joined = ev.join(F.broadcast(sink), "event_type")
    rank_aggs = []
    for i in range(len(qs)):
        av = F.element_at("_approx", i + 1)
        rank_aggs.append(
            F.sum((F.col("value") < av).cast("long")).alias(f"_lt{i}")
        )
        rank_aggs.append(
            F.sum((F.col("value") <= av).cast("long")).alias(f"_le{i}")
        )
    audit = joined.groupBy("event_type").agg(
        F.first("n").alias("n"), *rank_aggs
    )
    slack = 2.0 * eps  # merged-summary bound (vs a16's one-pass eps)
    cols = [F.col("event_type"), F.col("n")]
    for i, q in enumerate(qs):
        ok = (
            F.col(f"_le{i}") >= (q - slack) * F.col("n") - F.lit(1)
        ) & (F.col(f"_lt{i}") + F.lit(1) <= (q + slack) * F.col("n") + F.lit(1))
        cols.append(ok.alias(f"ok_p{int(q * 100)}"))
    return audit.select(*cols)


@register(
    "a27_sliding_hll_fold",
    """
    SELECT win_start,
           COUNT(DISTINCT user_id) AS n_users,
           TRUE AS ok_expand_bound, TRUE AS ok_fold_bound
    FROM (
      SELECT user_id,
             date_trunc('hour', ts) - k * INTERVAL 1 HOUR AS win_start
      FROM events, UNNEST(generate_series(0, 5)) AS g(k)
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ) t GROUP BY win_start
    """,
)
def a27(spark, sf_dir):
    """Sliding-window distinct via the TUMBLING-PARTIALS FOLD (r11) —
    shipping the production path a25's docstring records instead of
    only recording it: the corpus is sketched ONCE per hour (tumbling
    HLL partials — one row per hour, O(2^lgK) bytes each), and every
    6h sliding window is then derived by hll_union_agg over its six
    partials. The cost accounting, stated precisely (a first draft
    overclaimed the shuffle): for SKETCH measures map-side combine
    collapses BOTH paths' shuffle to ~|windows|×partitions partial
    rows — the expand's real 6× tax is per-event AGGREGATION WORK
    (six sketch updates per event versus one) plus, for the EXACT
    measure (a25's count_distinct), a genuine 6× shuffled-row blowup
    (exact distinct cannot combine below (window, user) granularity).
    The fold's second dividend is REUSE: stored hourly partials serve
    every window geometry over the same slide without rescanning
    (the a18 merge-algebra dividend). Both estimators are audited in
    one query: the direct expand-then-sketch estimate AND the folded
    estimate each carry a 5% theorem bound against the exact distinct
    (value-matched; lgK=12 ≈ 3σ envelope, hash-deterministic so
    re-verified at every SF) — and fold == merge-of-partials means
    ok_fold_bound also certifies the sketch algebra itself, the a20
    merge contract at window granularity."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("hour", "ts").alias("hr"))
    )
    ks = F.sequence(F.lit(0), F.lit(5))
    expanded = ev.select(
        "user_id", "hr", F.explode(ks).alias("k")
    ).select(
        "user_id",
        (F.col("hr") - F.make_interval(hours=F.col("k"))).alias("win_start"),
    )
    exact_and_direct = expanded.groupBy("win_start").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("_direct"),
    )
    partials = ev.groupBy("hr").agg(
        F.hll_sketch_agg("user_id").alias("_sk")
    )
    folded = (
        partials.select("_sk", F.explode(ks).alias("k"), "hr")
        .select(
            "_sk",
            (F.col("hr") - F.make_interval(hours=F.col("k"))).alias(
                "win_start"
            ),
        )
        .groupBy("win_start")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_folded"))
    )
    bound = 0.05
    joined = exact_and_direct.join(folded, "win_start")
    err = lambda est: F.abs(  # noqa: E731 — local readability helper
        F.col(est).cast("double") - F.col("n_users").cast("double")
    )
    return joined.select(
        "win_start",
        "n_users",
        (err("_direct") <= bound * F.col("n_users")).alias("ok_expand_bound"),
        (err("_folded") <= bound * F.col("n_users")).alias("ok_fold_bound"),
    )


_V19_ORACLE = (
    _lloyd_cte_prefix()
    + """
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    live AS (SELECT vec_id, cluster_id FROM a
             WHERE rn = 1 AND vec_id % 17 <> 3),
    pr AS (SELECT vec_id, cluster_id FROM a
           WHERE rn <= 2 AND vec_id % 10 = 0 AND vec_id % 17 <> 3),
    cand AS (
      SELECT q.vec_id, t.vec_id AS neighbor_id,
             ROUND(list_dot_product(qn.v, tn.v) / (qn.nrm * tn.nrm), 5)
               + 0.0 AS cos_sim
      FROM pr q
      JOIN live t ON q.cluster_id = t.cluster_id AND q.vec_id <> t.vec_id
      JOIN n qn ON qn.vec_id = q.vec_id
      JOIN n tn ON tn.vec_id = t.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM (
      SELECT vec_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= 5
    """
)


@register("v19_ivf_delete", _V19_ORACLE)
def v19(spark, sf_dir):
    """DELETE from the published IVF serving index (r11) — closing the
    loop c21 opens: the takedown path removes documents from the
    CORPUS, but the day the request lands, their vectors are still in
    the SERVING index returning them as neighbors. The lifecycle the
    index family lacked (v13 build, v14 append, v19 delete): the
    bucket table is published PARTITIONED BY list_id; the delete set's
    affected lists are found with one broadcast semi-pass
    (O(#deleted)), ONLY those list partitions are rewritten
    (anti-join at list cost — the o16 dynamic-overwrite machinery on
    the index instead of the fact table), and untouched lists are
    never read or written. Queries against the post-delete index can
    never return a deleted id — asserted in-query AND proven by the
    oracle hash (the oracle's candidate set excludes deletions).
    Centroids deliberately do NOT move (same drift trade v14 records
    for appends — mass deletion from one region degrades list balance
    until the monitored retrain). At 100 TB: takedown latency on
    serving becomes O(affected lists), not an index rebuild."""
    from cellphe_data_pipeline_spark.operators.scale import (
        overwrite_partitions_dynamic,
    )
    from cellphe_data_pipeline_spark.operators.similarity import (
        ivf_assign_vectors,
        ivf_query_published,
        lloyd_centroid_vectors,
    )
    from cellphe_data_pipeline_spark.checkpoint import cut_lineage

    emb = load_table(spark, sf_dir, "embeddings")
    idx_dir = _stage_dir("v19_ivf_index")
    lloyd_centroid_vectors(emb, k=16).write.mode("overwrite").parquet(idx_dir)
    idx = spark.read.parquet(idx_dir)
    bucket_dir = _stage_dir("v19_ivf_bucket")
    ivf_assign_vectors(emb, idx).write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(bucket_dir)

    deleted = emb.filter(F.col("vec_id") % 17 == 3).select("vec_id")
    bucket = spark.read.parquet(bucket_dir)
    affected = [
        r["list_id"]
        for r in bucket.join(F.broadcast(deleted), "vec_id")
        .select("list_id")
        .distinct()
        .collect()
    ]
    n_lists = bucket.select("list_id").distinct().count()
    assert 0 < len(affected) <= n_lists, (len(affected), n_lists)
    survivors = (
        bucket.filter(F.col("list_id").isin(affected))
        .join(F.broadcast(deleted), "vec_id", "left_anti")
    )
    # lineage-cut before overwriting partitions the plan reads (the
    # o16 self-overwrite fence)
    survivors = cut_lineage(survivors, eager=True, name="v19-survivors")
    overwrite_partitions_dynamic(survivors, bucket_dir, ["list_id"])

    refreshed = spark.read.parquet(bucket_dir)
    assert refreshed.join(F.broadcast(deleted), "vec_id").count() == 0
    probes = emb.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") % 17 != 3)
    )
    out = ivf_query_published(probes, refreshed, idx, k=5, n_probe=2)
    return out


@register(
    "j18_multitouch_attribution",
    """
    WITH c AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.value,
             COUNT(*) OVER (PARTITION BY p.event_id) AS n_touch
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.ts <= p.ts
       AND c.ts >= p.ts - INTERVAL 1 HOUR
    )
    SELECT click_id,
           COUNT(*) AS n_purchases,
           ROUND(SUM(value / n_touch), 6) + 0.0 AS credit
    FROM touch GROUP BY click_id
    """,
)
def j18(spark, sf_dir):
    """Linear multi-touch attribution (r11) — the fractional-credit
    semantics the join family lacked (j9/j16 pick ONE prior event;
    e18 counts conversions; j18 DISTRIBUTES each conversion's value
    equally across every click in its 1h lookback): per purchase,
    credit = value / n_touching_clicks, summed per click. The
    physical shape is deliberately NOT a theta join: user_id is an
    equi key, so the touch set is one keyed hash join with the
    interval as a residual filter — per-user joins stay
    shuffle-keyed at any scale (skew = one hyperactive user, the j8
    salting case), never an all-pairs. n_touch rides a purchase-keyed
    window on the SAME shuffled rows. Float discipline: value/n_touch
    is exact IEEE division but the per-click SUM is an unordered
    reduction — rounded to 6 decimals per the conventions header
    (credits are O(10²), accumulation error O(1e-13))."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("click_id")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"), "value",
    )
    touch = p.join(c, "user_id").filter(
        (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    w = Window.partitionBy("purchase_id")
    credited = touch.select(
        "click_id",
        (F.col("value") / F.count(F.lit(1)).over(w)).alias("_credit"),
    )
    return credited.groupBy("click_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        round_z(F.sum("_credit"), 6).alias("credit"),
    )


@register(
    "e28_streaming_merge_sink",
    """
    WITH u1 AS (
      SELECT event_id, event_type, value + 50.0 AS value
      FROM events WHERE event_id % 7 = 2
    ),
    u2 AS (
      SELECT event_id, event_type, value + 90.0 AS value
      FROM events WHERE event_id % 11 = 3
    ),
    final AS (
      SELECT e.event_id, e.event_type, e.value FROM events e
      WHERE event_id % 7 <> 2 AND event_id % 11 <> 3
      UNION ALL
      SELECT event_id, event_type, value FROM u1 WHERE event_id % 11 <> 3
      UNION ALL
      SELECT event_id, event_type, value FROM u2
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           TRUE AS ok_replay_noop
    FROM final GROUP BY event_type
    """,
)
def e28(spark, sf_dir):
    """§2.11 streaming MERGE sink (r11;
    tracker.merge_batch_idempotent) — the twenty-fourth verified
    streaming runtime and e25's append sink upgraded to the
    Delta-streaming-MERGE shape: three micro-batches (full base, then
    two OVERLAPPING correction batches — keys divisible by both 7 and
    11 are updated twice, latest wins) each applied with the o17
    file-level COW merge (zone-map prune, only hit files rewritten)
    and made exactly-once by the manifest batch-id watermark; the
    replay check re-invokes the sink with the final batch (no-op,
    snapshot unchanged — the guard runs BEFORE any merge work, which
    is what makes a non-idempotent MERGE replay-safe by construction).
    The first batch exercises merge_rows_cow's empty-table bootstrap.
    The oracle computes base ∘ u1 ∘ u2 relationally (u2 from BASE
    values — updates replace, they don't compose); the engine answers
    from the final snapshot's files."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_current,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        drain_batches,
        merge_batch_idempotent,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    u1 = ev.filter(F.col("event_id") % 7 == 2).select(
        "event_id", "event_type", (F.col("value") + 50.0).alias("value")
    )
    u2 = ev.filter(F.col("event_id") % 11 == 3).select(
        "event_id", "event_type", (F.col("value") + 90.0).alias("value")
    )
    staged = _stage_ordered_batches([ev, u1, u2], "e28_batches")
    root = _stage_dir("e28_merge_sink")
    table = os.path.join(root, "table")
    ckpt = os.path.join(root, "ckpt")
    with session_confs(spark, DRAIN_CONFS):
        results = drain_batches(
            spark, ev.schema, staged, ckpt,
            lambda b, bid: merge_batch_idempotent(spark, table, b, bid),
            "e28_streaming_merge_sink",
        )
    assert results == [True, True, True], results
    assert snapshot_current(table) == 3
    # the replay the engine's contract permits: re-apply the final
    # batch through the sink's own guarded applier — it must refuse
    # BEFORE any merge work, and the table must not advance
    replayed = merge_batch_idempotent(spark, table, u2, 2)
    assert replayed is False and snapshot_current(table) == 3
    return (
        snapshot_read(spark, table, 3)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "event_type", "n", "sum_value",
            F.lit(True).alias("ok_replay_noop"),
        )
    )


@register(
    "s25_snapshot_rollback",
    """
    WITH bad AS (
      SELECT event_id, event_type, value * 0.0 AS value
      FROM events WHERE event_id % 5 = 1
    ),
    corrupted AS (
      SELECT e.event_id, e.event_type, e.value FROM events e
      WHERE e.event_id NOT IN (SELECT event_id FROM bad)
      UNION ALL SELECT event_id, event_type, value FROM bad
    )
    SELECT 'corrupted' AS state, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM corrupted GROUP BY event_type
    UNION ALL
    SELECT 'current', event_type, COUNT(*),
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
    FROM events GROUP BY event_type
    """,
)
def s25(spark, sf_dir):
    """Snapshot ROLLBACK as a forward commit (r11; io.py
    snapshot_rollback) — the recovery verb completing the table-ops
    set (commit s21, merge o17, CDC s23, vacuum o20, WAP s22): a bad
    merge lands (a fifth of the rows zeroed — the classic botched
    backfill), and rollback reverts `current` by CAS-committing a NEW
    snapshot whose file list IS v1's — history stays linear and
    append-only (the bad snapshot remains readable for forensics
    until an expiry vacuum reclaims it; v3 reuses v1's files
    verbatim, zero data movement), readers see the revert atomically,
    and a concurrent writer races the rollback through the same CAS
    as any commit. The rejected alternative is recorded in the
    helper: moving the pointer backwards would fork it from the
    manifest pool snapshot_current() treats as truth. The query
    returns the CORRUPTED state (read via time travel — forensics
    still works) and the post-rollback CURRENT state; the oracle
    computes both relationally, so the hash proves the revert
    restored v1 exactly AND the bad state stayed readable."""
    import os

    from cellphe_data_pipeline_spark.operators.scale import merge_rows_cow
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_current,
        snapshot_data_files,
        snapshot_files,
        snapshot_read,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    table = _stage_dir("s25_rollback")
    d = os.path.join(table, "data", "base")
    ev.write.mode("overwrite").parquet(d)
    snapshot_commit_atomic(table, 0, snapshot_data_files(d))

    bad = ev.filter(F.col("event_id") % 5 == 1).select(
        "event_id", "event_type", (F.col("value") * 0.0).alias("value")
    )
    merge_rows_cow(spark, table, bad, out_slice="bad_backfill")
    assert snapshot_current(table) == 2

    from cellphe_data_pipeline_spark.sources.io import snapshot_rollback

    new_id = snapshot_rollback(table, 1)
    assert new_id == 3 and snapshot_current(table) == 3
    # zero data movement: v3's manifest IS v1's file list
    assert snapshot_files(table, 3) == snapshot_files(table, 1)

    def rollup(df, tag):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        ).select(F.lit(tag).alias("state"), "event_type", "n", "sum_value")

    return rollup(snapshot_read(spark, table, 2), "corrupted").unionByName(
        rollup(snapshot_read(spark, table, snapshot_current(table)), "current")
    )


@register(
    "m7_msd_lags",
    """
    WITH s AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS t
      FROM events WHERE ts IS NOT NULL
    )
    SELECT a.user_id, CAST(lag.tau AS INT) AS tau,
           COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(
             (CAST(b.value AS DECIMAL(18,2)) - CAST(a.value AS DECIMAL(18,2)))
             * (CAST(b.value AS DECIMAL(18,2)) - CAST(a.value AS DECIMAL(18,2)))
           ) AS DOUBLE) / COUNT(*), 6) + 0.0 AS msd
    FROM s a
    JOIN (SELECT UNNEST(generate_series(1, 3)) AS tau) lag ON TRUE
    JOIN s b ON b.user_id = a.user_id AND b.t = a.t + lag.tau
    GROUP BY a.user_id, lag.tau
    """,
)
def m7(spark, sf_dir):
    """Mean-squared-displacement curve (r11) — the diffusion-analysis
    depth the movement family (M5) reports single-step stats for:
    MSD(τ) = ⟨(x(t+τ) − x(t))²⟩ per track and lag τ ∈ {1,2,3}, whose
    SHAPE over τ classifies motion (linear = Brownian, superlinear =
    directed, plateau = confined — the CellPhe-domain question a
    tracking pipeline's consumers actually ask; reference tracks =
    user event sequences under the TESTDATA.md mapping). Physical
    shape: ONE window shuffle keys the per-track sequence numbers,
    then lagged pairs come from a SELF-EQUI-JOIN on (track, t+τ) with
    τ exploded — keyed join, never a theta join; all three lags ride
    one plan, sharing the sequence scan. Squared displacement is
    exact IEEE; the per-(track,τ) AVG is an unordered reduction,
    rounded per the conventions header."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id", "value", F.row_number().over(w).alias("t")
    )
    a = s.select(
        F.col("user_id").alias("_u"), F.col("value").alias("_va"),
        F.col("t").alias("_ta"),
    ).select(
        "_u", "_va", "_ta", F.explode(F.sequence(F.lit(1), F.lit(3))).alias("tau")
    )
    b = s.select(
        F.col("user_id").alias("_ub"), F.col("value").alias("_vb"),
        F.col("t").alias("_tb"),
    )
    pairs = a.join(
        b,
        (F.col("_u") == F.col("_ub"))
        & (F.col("_tb") == F.col("_ta") + F.col("tau")),
    )
    # decimal-exact squared-displacement sum (the conventions-header
    # money-sum discipline): 2dp values subtract and square EXACTLY in
    # decimal, the sum is order-free, one double division at the end —
    # a plain double AVG diverged in the last ulp at ~1e4 magnitudes
    d = F.col("_vb").cast("decimal(18,2)") - F.col("_va").cast(
        "decimal(18,2)"
    )
    return pairs.groupBy(
        F.col("_u").alias("user_id"), F.col("tau").cast("int").alias("tau")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        round_z(
            F.sum(d * d).cast("double") / F.count(F.lit(1)), 6
        ).alias("msd"),
    )


@register(
    "e29_streaming_observe",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           (SELECT COUNT(*) FROM events) AS obs_total_rows
    FROM events GROUP BY event_type
    """,
)
def e29(spark, sf_dir):
    """§2.11 in-flight observability on a STREAM (r11) — p16's
    df.observe discipline carried into the streaming runtime (the
    twenty-fifth verified): the observe node rides the streaming plan
    and its metrics arrive per micro-batch in
    StreamingQueryProgress.observedMetrics — the self-monitoring
    channel a 24/7 ingest reads instead of running audit queries
    against itself. The observed row count is summed across the
    drain's progress entries and emitted INTO the result
    (obs_total_rows), value-matched against the oracle's relational
    count — the driver hash proves the progress-channel metrics equal
    a rescan, p16's contract at streaming cadence. The batch rollup
    rows prove the observe node changed nothing downstream. Recorded
    contract: metrics are per-BATCH (cumulative reading = caller's
    fold, exactly how a metrics exporter consumes them)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    )
    from cellphe_data_pipeline_spark.streaming.tracker import drain

    observed = _stage_stream(ev, "e29_stream_obs").observe(
        "e29_obs", F.count(F.lit(1)).alias("obs_rows")
    )
    transformed = observed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )
    with session_confs(spark, DRAIN_CONFS):
        q = drain(
            transformed.writeStream.format("memory")
            .queryName("e29_obs_sink")
            .outputMode("complete"),
            "e29_streaming_observe",
        )
    total_obs = 0
    for prog in q.recentProgress:
        om = (prog or {}).get("observedMetrics") or {}
        if "e29_obs" in om:
            total_obs += om["e29_obs"]["obs_rows"]
    assert total_obs > 0, "observe metrics never surfaced in progress"
    return spark.table("e29_obs_sink").select(
        "event_type", "n", "sum_value",
        F.lit(total_obs).cast("bigint").alias("obs_total_rows"),
    )


# =====================================================================
# Round-12 additions (r11 verdict asks #4-#6). Per the r12 rotation
# policy these land REGISTRY-ONLY this round — local-gate + test
# proven, queued for the r13 driver window via _NEXT_WINDOW_QUEUE —
# so the whole r12 driver window stays spent on the stale-proof
# rotation the verdict asked for.
# =====================================================================


_C24_CANNED = (
    "deterministic fixtures keep both engines aligned during every "
    "verification round because the oracle and the engine must agree "
    "on every byte of the corpus while careful reviewers measure "
    "shuffle plans across distributed clusters and tune partition "
    "counts before committing large scale changes so that document "
    "quality gates stay green and replay remains stable"
)


def _c24_injected_corpus(spark, sf_dir):
    """Shared duplicate-injected, HTML-wrapped corpus for c24 and its
    streaming twin e31 — byte-identical to the oracles' basedocs/aug
    CTEs (the one-canonical-text discipline: one fixture expression,
    never hand-copies). Deterministic duplicate injection (the t13
    fixture discipline — identical in both engines): every 7th
    training doc becomes a canned passage suffixed with a doc_id//70
    GROUP marker, so exact dedup has real work in the shape real
    corpora have — many SMALL duplicate groups (~10 docs each), never
    one corpus-wide clique (a single giant identical set makes the
    near-dup candidate pass quadratic, which is a fixture artifact,
    not a pipeline property; bench docs < 20 are untouched). Returns
    (docs, aug): the canned-dup corpus and its HTML-wrapped form."""
    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    docs = raw.select(
        "doc_id",
        "source",
        F.when(
            (F.col("doc_id") % 7 == 1) & (F.col("doc_id") >= 20),
            F.concat(
                F.lit(_C24_CANNED + " group marker "),
                F.expr("CAST(doc_id DIV 70 AS STRING)"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    aug = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(
                    '<html><head><style>p{color:red}</style>'
                    '<script type="text/javascript">var x=1;<!--x--></script>'
                    '</head><body><p class="a">'
                ),
                F.col("text"),
                F.lit('</p><br/>&amp; &lt;b&gt;&nbsp;&quot;q&quot;&#39;</body></html>'),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit('<div id="main">'),
                F.col("text"),
                F.lit("</div><!-- footer\ncomment -->"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return docs, aug


def _c24_oracle_sql(
    contam_rel: str = "basedocs", contam_text: str = "text"
) -> str:
    """c24 oracle: the composed corpus pipeline replayed stage-for-
    stage from the canonical CTE helpers (t13 chain via
    _html_clean_ctes, Gopher via _gopher_chain_ctes, minhash pairs via
    _minhash_oracle_sql redirected to the duplicate-injected base,
    c23's closure + seeded-split arithmetic, c13's packing chain) —
    one query, zero hand-copied stage text.

    ``contam_rel``/``contam_text`` pick which text the
    decontamination stage shingles: c24 shingles the RAW corpus
    (basedocs.text — the batch pipeline sees the corpus pre-clean),
    its streaming twin e32 shingles the CLEANED text
    (cleanrel.text_clean — a stream only ever has the crawl HTML, so
    its bench-overlap check runs on what ingest recovered). One
    canonical oracle text, one parameter, zero hand-copies."""
    bucket = (
        "('0x' || substring(md5('leak1-' || "
        "CAST(COALESCE(cluster_id, doc_id) AS VARCHAR)), 1, 8))"
        "::BIGINT % 10000"
    )
    bpe = (
        r"'''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+"
        r"| ?[^\sa-zA-Z0-9]+'"
    )
    pairs_sql = _minhash_oracle_sql().replace("FROM documents", "FROM basedocs")
    return f"""
    WITH RECURSIVE basedocs AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 1 AND doc_id >= 20
                  THEN '{_C24_CANNED}'
                       || ' group marker ' || CAST(doc_id // 70 AS VARCHAR)
                  ELSE text END AS text
      FROM documents
    ),
    {_html_clean_ctes(", source", doc_rel="basedocs")},
    gin AS (SELECT doc_id, text_clean AS text FROM cleanrel),
    {_gopher_chain_ctes("gin")},
    curated AS (
      SELECT c.doc_id, c.source, c.text_clean
      FROM cleanrel c JOIN flags f USING (doc_id)
      WHERE f.fail_mask & 63 = 0
    ),
    exact_rep AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY md5(text_clean)
                                  ORDER BY doc_id) AS rn
        FROM curated
      ) t WHERE rn = 1
    ),
    pairs AS ({pairs_sql}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(n, m) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n),
    toks4 AS (
      SELECT doc_id,
             string_split(trim(regexp_replace({contam_text}, '\\s+', ' ', 'g')), ' ') AS t
      FROM {contam_rel}
    ),
    sh4 AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+3], ' ') AS sh
      FROM toks4,
           UNNEST(CASE WHEN len(t) >= 4 THEN generate_series(1, len(t)-3)
                       ELSE [] END) AS g(i)
    ),
    contam AS (
      SELECT DISTINCT s.doc_id
      FROM sh4 s JOIN (SELECT DISTINCT sh FROM sh4 WHERE doc_id < 20) b
        USING (sh)
      WHERE s.doc_id >= 20
    ),
    corpus AS (
      SELECT c.doc_id, c.source, c.text_clean, comp.cluster_id
      FROM curated c LEFT JOIN comp ON comp.doc_id = c.doc_id
      WHERE c.doc_id >= 20
        AND c.doc_id IN (SELECT doc_id FROM exact_rep)
        AND c.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    labeled AS (
      SELECT doc_id, text_clean,
             (CASE WHEN {bucket} < 9000 THEN 'train' ELSE 'val' END)
               || '/' || source AS stream
      FROM corpus
    ),
    pt AS (
      SELECT doc_id, stream,
             len(regexp_extract_all(text_clean, {bpe})) AS n_tokens
      FROM labeled
    ),
    pc AS (
      SELECT doc_id, stream, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start
      FROM pt
    ),
    ps AS (
      SELECT doc_id, stream, n_tokens,
             CAST(start AS BIGINT) AS start,
             CAST(start + n_tokens - 1 AS BIGINT) AS fin
      FROM pc WHERE n_tokens > 0
    )
    SELECT stream, CAST(w AS BIGINT) AS window_id, doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(GREATEST(0, start - w * 512) AS BIGINT) AS tok_start,
           CAST(LEAST(511, fin - w * 512) AS BIGINT) AS tok_end
    FROM ps, UNNEST(generate_series(start // 512, fin // 512)) AS g(w)
    """


@register("c24_corpus_pipeline", _c24_oracle_sql())
def c24(spark, sf_dir):
    """Composed LLM-corpus pipeline (r12; the r11 verdict's ask #5) —
    ingest → curate → dedup → decontaminate → split → pack as ONE
    lazy plan, because at 100 TB the COMPOSITION is the product: what
    each stage's shuffle inherits decides whether the corpus is read
    once or five times. Stages, all pre-existing operators:

      1. INGEST: t13's HTML→text (injected crawl shapes, zero-shuffle
         codegen) — `keep_cols` threads the payload through so no
         stage pays a join-back;
      2. CURATE: t15's Gopher gate on the CLEANED text, same
         projection, still zero shuffle. The gate is the RULE SUBSET
         applicable to this corpus (fail_mask & 63 == 0 — the
         stop-word rule, bit 64, is excluded because the synthetic
         corpus contains no English stop words by construction and
         would empty the pipeline; a real deployment gates on the
         full mask, and t15's own query proves every bit);
      3. DEDUP: exact duplicates dropped by content hash
         (row_number over md5(text_clean), keep min doc_id — the ONE
         corpus-keyed shuffle this side of packing);
      4. DECONTAMINATE: c5's 3-gram overlap vs the doc_id < 20 bench
         slice, bench side broadcast, applied as a broadcast
         anti-join;
      5. SPLIT: c23's leakage-safe assignment — the key is the
         NEAR-DUP CLUSTER (d3 pairs → d7 closure), so near-duplicates
         that survive exact dedup cannot straddle train/val; labels
         broadcast;
      6. PACK: c13's 512-token context windows per (split, source)
         stream — the packing window shuffle, keyed on the stream.

    Stage ORDER is load-bearing and recorded: exact-dedup runs on
    CURATED text (cheaper: curation is map-side, dedup shuffles);
    near-dup clustering runs on RAW text (fingerprints must see the
    corpus before any lossy transform, and the takedown/split
    machinery c21/c23 key on the same raw clusters); a non-
    representative whose duplicate group head fails curation keeps
    its own slot (exact groups are keyed on the CURATED survivor set,
    not pre-curation ids). Plan contract (tests/test_plans.py): ZERO
    sort-merge joins — every enrichment side (contamination list,
    cluster labels) broadcasts; the corpus stream shuffles exactly
    twice (content-hash dedup, stream packing), each on a key no
    earlier stage could provide."""
    from cellphe_data_pipeline_spark.functions.scalars import portable_hash64
    from cellphe_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        flag_contaminated,
        minhash_near_duplicates,
    )
    from cellphe_data_pipeline_spark.operators.text import (
        gopher_rules,
        html_to_text,
        pack_context_windows,
    )

    docs, aug = _c24_injected_corpus(spark, sf_dir)
    clean = html_to_text(aug, keep_cols=["source"])
    # gate_mask=63 applies the rule gate INSIDE the operator on its
    # staged count attributes (r16): an external .filter on the
    # computed fail_mask is optimizer-pushed below the projections,
    # re-inlining the whole interpreted HOF tree into the predicate —
    # measured 3x on this leg (gopher_rules docstring)
    curated = gopher_rules(
        clean,
        text_col="text_clean",
        keep_cols=["source", "text_clean"],
        gate_mask=63,
    ).select("doc_id", "source", "text_clean")

    # stage 3: exact dedup — one content-keyed shuffle, no join-back
    w = Window.partitionBy(F.md5(F.col("text_clean"))).orderBy("doc_id")
    deduped = (
        curated.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # stage 4/5 sides: bench-overlap list + raw-text near-dup clusters.
    # 4-gram overlap (not the corpus's 3-gram shingles): measured on
    # this corpus, 3-grams flag 379/480 training docs (the synthetic
    # vocabulary is repetitive — everything overlaps), 4-grams flag 36
    # — a real gate instead of a corpus wipe; production uses 13-grams
    # (GPT-3) for the same reason, scaled to real text entropy.
    contam = flag_contaminated(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        n=4,
    ).select("doc_id")
    clusters = dedup_clusters(minhash_near_duplicates(docs)).select(
        "doc_id", "cluster_id"
    )

    corpus = (
        deduped.filter(F.col("doc_id") >= 20)
        .join(F.broadcast(contam), "doc_id", "left_anti")
        .join(F.broadcast(clusters), "doc_id", "left")
    )
    key = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    split = F.when(
        portable_hash64(key.cast("string"), seed="leak1-") % 10000 < 9000,
        "train",
    ).otherwise("val")
    staged = corpus.select(
        "doc_id",
        F.concat_ws("/", split, F.col("source")).alias("source"),
        F.col("text_clean").alias("text"),
    )
    return pack_context_windows(staged, window_tokens=512)


@register(
    "o22_snapshot_compaction",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           TRUE AS ok_rows_invariant,
           TRUE AS ok_time_travel,
           TRUE AS ok_vacuum_reclaimed
    FROM events WHERE event_id IS NOT NULL GROUP BY event_type
    """,
)
def o22(spark, sf_dir):
    """Compaction UNDER a snapshot (r12; operators/scale.snapshot_compact
    — the r11 verdict's ask #4): o15's small-file rewrite and the
    s20-s25 snapshot layer run as ONE machine, the way real table
    maintenance works. Lifecycle exercised end-to-end on a table built
    the way streams actually leave them: six append commits of 4-file
    slices (24 small files — the o15 debris shape), then ONE
    compaction commit (2 range-sorted files, key-disjoint by
    construction), with every contract asserted in-query against the
    filesystem:

      - row INVARIANCE: pre/post order-insensitive row hash equal
        (compaction is metadata motion — zero row changes, the claim
        the driver oracle then re-proves by recomputing the rollup
        relationally from the raw table);
      - file-count collapse: 24 -> 2, and the compacted files carry
        DISJOINT key ranges (file_key_stats), which is what makes
        later point/range scans footer-prunable;
      - concurrent-reader story: the PRE-compaction snapshot stays
        readable (time travel) with the identical row hash until
        VACUUM with expiry reclaims all 24 pre-compaction files, after
        which the compacted snapshot is still intact (reference-
        counting reachability, the o20 machinery).

    At 100 TB: the rewrite is O(live bytes under the maintained
    partition), never blocks readers (old snapshot served until the
    pointer advances), and the commit is the same s21 CAS every writer
    uses — a racing append simply wins or loses the ordinary way."""
    import os

    from cellphe_data_pipeline_spark.operators.scale import (
        file_key_stats,
        snapshot_compact,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_data_files,
        snapshot_files,
        snapshot_read,
        snapshot_vacuum,
    )

    # null symmetry (r12, the r11 sweep discipline): a null event_id
    # would fall out of every %6 slice in the engine while the oracle's
    # full-table rollup kept it — filter both sides explicitly
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull())
        .select("event_id", "event_type", "value")
    )
    table = _stage_dir("o22_compact")

    # six fine-grained append commits, 4 small files each (the debris)
    acc: list[str] = []
    for i in range(6):
        d = os.path.join(table, "data", f"s{i + 1}_append")
        ev.filter(F.col("event_id") % 6 == i).repartition(4).write.mode(
            "overwrite"
        ).parquet(d)
        acc = acc + snapshot_data_files(d)
        snapshot_commit_atomic(table, i, list(acc))
    pre_files = snapshot_files(table, 6)
    assert len(pre_files) == 24, len(pre_files)

    def row_hash(df):
        # order-insensitive multiset hash: sum of bounded crc32s (no
        # bigint overflow under ANSI — 60k * 2^32 << 2^63)
        return df.agg(
            F.sum(
                F.crc32(
                    F.concat_ws(
                        "|",
                        F.col("event_id"),
                        F.col("event_type"),
                        F.col("value").cast("string"),
                    )
                )
            )
        ).collect()[0][0]

    pre_hash = row_hash(snapshot_read(spark, table, 6))

    new_id, info = snapshot_compact(
        spark, table, sort_cols=["event_id"], target_partitions=2
    )
    assert new_id == 7 and set(info["replaced"]) == set(pre_files)
    post_files = snapshot_files(table, 7)
    assert len(post_files) == 2, post_files

    # compacted files are key-disjoint ranges (footer-prunable layout)
    stats = sorted(
        (r["min_v"], r["max_v"])
        for r in file_key_stats(spark, post_files, "event_id").collect()
    )
    assert stats[0][1] < stats[1][0], stats

    # row invariance + time travel across the compaction boundary
    assert row_hash(snapshot_read(spark, table, 7)) == pre_hash
    assert row_hash(snapshot_read(spark, table, 6)) == pre_hash

    # vacuum with expiry reclaims every pre-compaction file, keeps v7
    vinfo = snapshot_vacuum(table, expire_before=7)
    assert vinfo["expired"] == [1, 2, 3, 4, 5, 6], vinfo["expired"]
    assert set(vinfo["deleted"]) == set(pre_files)
    assert all(os.path.exists(f) for f in post_files)
    assert row_hash(snapshot_read(spark, table, 7)) == pre_hash

    return (
        snapshot_read(spark, table, 7)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "event_type", "n", "sum_value",
            F.lit(True).alias("ok_rows_invariant"),
            F.lit(True).alias("ok_time_travel"),
            F.lit(True).alias("ok_vacuum_reclaimed"),
        )
    )


_E30_ORACLE = (
    _lloyd_cte_prefix()
    + """
    n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
    live AS (SELECT vec_id, cluster_id FROM a
             WHERE rn = 1 AND vec_id % 17 <> 3 AND vec_id % 23 <> 5),
    pr AS (SELECT vec_id, cluster_id FROM a
           WHERE rn <= 2 AND vec_id % 10 = 0
             AND vec_id % 17 <> 3 AND vec_id % 23 <> 5),
    cand AS (
      SELECT q.vec_id, t.vec_id AS neighbor_id,
             ROUND(list_dot_product(qn.v, tn.v) / (qn.nrm * tn.nrm), 5)
               + 0.0 AS cos_sim
      FROM pr q
      JOIN live t ON q.cluster_id = t.cluster_id AND q.vec_id <> t.vec_id
      JOIN n qn ON qn.vec_id = q.vec_id
      JOIN n tn ON tn.vec_id = t.vec_id
    )
    SELECT vec_id, neighbor_id, cos_sim, rank FROM (
      SELECT vec_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM cand
    ) WHERE rank <= 5
    """
)


@register("e30_streaming_ivf_delete", _E30_ORACLE)
def e30(spark, sf_dir):
    """§2.11 streaming DELETE maintenance of the published IVF index
    (r12; tracker.ivf_delete_batch_idempotent — the r11 verdict's ask
    #6): v19 closed batch takedown; e30 closes the SERVING loop — a
    takedown stream (two ordered micro-batches of vec_ids) applied to
    the live bucket store via foreachBatch, each batch an O(affected
    lists) partition rewrite (the shared similarity.ivf_delete_ids
    kernel), exactly-once via the sidecar batch-id watermark. The
    replay contract is proven the e28 way: re-invoking the applier
    with the final batch refuses via the watermark and the store is
    byte-untouched; and because the rewrite itself is IDEMPOTENT, a
    crash BETWEEN rewrite and watermark write replays into identical
    content — both legs of the exactly-once argument, asserted
    in-query. Post-drain, a probe query against the refreshed index
    can never return a deleted id (asserted AND oracle-proven: the
    oracle's candidate set excludes both delete batches). At 100 TB:
    ingest appends (v14), takedowns stream in, queries keep hitting
    the published store throughout — no rebuild, no downtime."""
    import os

    from cellphe_data_pipeline_spark.operators.similarity import (
        ivf_assign_vectors,
        ivf_query_published,
        lloyd_centroid_vectors,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        drain_batches,
        ivf_delete_batch_idempotent,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx_dir = _stage_dir("e30_ivf_index")
    lloyd_centroid_vectors(emb, k=16).write.mode("overwrite").parquet(idx_dir)
    idx = spark.read.parquet(idx_dir)
    bucket_dir = _stage_dir("e30_ivf_bucket")
    ivf_assign_vectors(emb, idx).write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(bucket_dir)

    d1 = emb.filter(F.col("vec_id") % 17 == 3).select("vec_id")
    d2 = emb.filter(F.col("vec_id") % 23 == 5).select("vec_id")
    staged = _stage_ordered_batches([d1, d2], "e30_takedown_batches")
    ckpt = os.path.join(_stage_dir("e30_ckpt"), "ckpt")
    with session_confs(spark, DRAIN_CONFS):
        results = drain_batches(
            spark, d1.schema, staged, ckpt,
            lambda b, bid: ivf_delete_batch_idempotent(
                spark, bucket_dir, b, bid
            ),
            "e30_streaming_ivf_delete",
        )
    assert results == [True, True], results

    # replay leg 1: the watermark refuses the final batch re-delivery
    assert ivf_delete_batch_idempotent(spark, bucket_dir, d2, 1) is False
    # replay leg 2: the rewrite is idempotent — re-applying the final
    # batch as a NEWER id must leave the surviving row set identical
    before = spark.read.parquet(bucket_dir).count()
    assert ivf_delete_batch_idempotent(spark, bucket_dir, d2, 2) is True
    assert spark.read.parquet(bucket_dir).count() == before

    refreshed = spark.read.parquet(bucket_dir)
    deleted = d1.unionByName(d2)
    assert refreshed.join(F.broadcast(deleted), "vec_id").count() == 0
    probes = emb.filter(
        (F.col("vec_id") % 10 == 0)
        & (F.col("vec_id") % 17 != 3)
        & (F.col("vec_id") % 23 != 5)
    )
    return ivf_query_published(probes, refreshed, idx, k=5, n_probe=2)


@register(
    "s26_snapshot_refs",
    """
    WITH base AS (
      SELECT event_id, event_type, value FROM events
      WHERE event_id IS NOT NULL
    ),
    upd AS (
      SELECT event_id, event_type, value + 77.0 AS value FROM base
      WHERE event_id % 13 = 5 AND event_type = 'click'
    ),
    v2 AS (
      SELECT b.event_id, b.event_type, b.value FROM base b
      WHERE b.event_id NOT IN (SELECT event_id FROM upd)
      UNION ALL SELECT event_id, event_type, value FROM upd
    )
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           TRUE AS ok_promoted,
           TRUE AS ok_bad_not_promoted,
           TRUE AS ok_ref_pinned_vacuum
    FROM v2 GROUP BY event_type
    """,
)
def s26(spark, sf_dir):
    """Named refs over the snapshot pool (r12; io.py snapshot_set_ref /
    snapshot_read_ref) — the serving indirection that completes the
    table-ops set: commit/merge/CDC/vacuum/rollback/compaction move
    SNAPSHOTS, refs decide what readers CONSUME. Lifecycle, the WAP
    gate (s22) finished end-to-end:

      1. v1 commits; ref `prod` -> v1 (serving starts);
      2. a good correction lands as v2 via COW merge; the audit
         passes (in-query: the update delta equals +77 on exactly the
         touched keys) -> promotion is ONE atomic pointer swap,
         `prod` -> v2;
      3. a BAD batch lands as v3 (values zeroed, the s25 botched
         backfill); its audit fails -> `prod` stays at v2: readers
         never see v3 even though it is the current snapshot —
         publish-by-pointer means a bad commit is a non-event for
         serving;
      4. vacuum with expiry: v1 (unpinned) expires, v2 SURVIVES
         whatever expire_before says because `prod` pins it —
         expiring a ref'd snapshot would dangle every reader
         (Iceberg's expire_snapshots retained-refs rule), asserted
         against the filesystem.

    The query answers from the PROD REF (never the current snapshot),
    so the oracle hash proves serving reads exactly the blessed v2
    state. At 100 TB the swap is a catalog row update: promotion and
    rollback-of-serving are O(1) metadata, zero data movement."""
    from cellphe_data_pipeline_spark.operators.scale import merge_rows_cow
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_current,
        snapshot_data_files,
        snapshot_read,
        snapshot_read_ref,
        snapshot_resolve_ref,
        snapshot_set_ref,
        snapshot_vacuum,
    )
    import os

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull())
        .select("event_id", "event_type", "value")
    )
    table = _stage_dir("s26_refs")
    d1 = os.path.join(table, "data", "s1")
    ev.write.mode("overwrite").parquet(d1)
    snapshot_commit_atomic(table, 0, snapshot_data_files(d1))
    snapshot_set_ref(table, "prod", 1)

    # good correction -> v2; audit passes -> promote
    upd = ev.filter(
        (F.col("event_id") % 13 == 5) & (F.col("event_type") == "click")
    ).select("event_id", "event_type", (F.col("value") + 77.0).alias("value"))
    merge_rows_cow(spark, table, upd, key_col="event_id", out_slice="good")
    n_upd = upd.count()
    delta = (
        snapshot_read(spark, table, 2)
        .agg(F.sum(F.col("value").cast("decimal(18,2)")))
        .collect()[0][0]
        - snapshot_read(spark, table, 1)
        .agg(F.sum(F.col("value").cast("decimal(18,2)")))
        .collect()[0][0]
    )
    assert float(delta) == 77.0 * n_upd, (delta, n_upd)  # audit
    snapshot_set_ref(table, "prod", 2)  # promotion = pointer swap

    # bad batch -> v3; audit fails -> prod NOT promoted
    bad = ev.filter(F.col("event_id") % 5 == 1).select(
        "event_id", "event_type", (F.col("value") * 0.0).alias("value")
    )
    merge_rows_cow(spark, table, bad, key_col="event_id", out_slice="bad")
    assert snapshot_current(table) == 3
    assert snapshot_resolve_ref(table, "prod") == 2  # readers unaffected

    # expiry vacuum: v1 goes, ref-pinned v2 survives any expire_before
    info = snapshot_vacuum(table, expire_before=99)
    assert info["expired"] == [1], info["expired"]
    prod = snapshot_read_ref(spark, table, "prod")  # still resolvable

    return prod.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    ).select(
        "event_type", "n", "sum_value",
        F.lit(True).alias("ok_promoted"),
        F.lit(True).alias("ok_bad_not_promoted"),
        F.lit(True).alias("ok_ref_pinned_vacuum"),
    )


_C25_BPE = (
    r"'''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+"
    r"| ?[^\sa-zA-Z0-9]+'"
)


@register(
    "c25_pack_samples_nosplit",
    """
    WITH RECURSIVE t AS (
      SELECT doc_id, source AS stream,
             CAST(len(regexp_extract_all(text, {bpe})) AS BIGINT) AS n
      FROM documents
    ),
    o AS (
      SELECT doc_id, stream, n,
             ROW_NUMBER() OVER (PARTITION BY stream ORDER BY doc_id) AS rn
      FROM t WHERE n > 0
    ),
    f(stream, rn, doc_id, n, bin_id, fill, tok_start) AS (
      SELECT stream, rn, doc_id, n, CAST(0 AS BIGINT),
             LEAST(n, 512), CAST(0 AS BIGINT)
      FROM o WHERE rn = 1
      UNION ALL
      SELECT o.stream, o.rn, o.doc_id, o.n,
             CASE WHEN f.fill + LEAST(o.n, 512) <= 512
                  THEN f.bin_id ELSE f.bin_id + 1 END,
             CASE WHEN f.fill + LEAST(o.n, 512) <= 512
                  THEN f.fill + LEAST(o.n, 512) ELSE LEAST(o.n, 512) END,
             CASE WHEN f.fill + LEAST(o.n, 512) <= 512
                  THEN f.fill ELSE CAST(0 AS BIGINT) END
      FROM f JOIN o ON o.stream = f.stream AND o.rn = f.rn + 1
    )
    SELECT stream, bin_id, doc_id, n AS n_tokens, tok_start,
           CAST(tok_start + LEAST(n, 512) - 1 AS BIGINT) AS tok_end,
           n > 512 AS truncated
    FROM f
    """.replace("{bpe}", _C25_BPE),
)
def c25(spark, sf_dir):
    """NO-SPLIT sample packing (r12; text.pack_samples_nosplit) — the
    SFT/instruction-tuning loader's packing, completing the packing
    matrix: c3 assigns docs to the shard where they START, c13 splits
    docs across fixed pretraining windows, c25 keeps samples WHOLE
    (a split conversation is a corrupted training example) and packs
    them next-fit into fixed-capacity bins per stream, oversized docs
    truncated-and-flagged in a bin of their own. Padding waste per
    bin = capacity − max(tok_end) − 1 is directly measurable from the
    manifest — the efficiency lever that motivates packing at all.

    Next-fit is a sequential integer fold (each decision depends on
    the running fill — no frame-based window expresses it), run per
    stream via applyInPandas over one stream-keyed shuffle; the
    oracle UNROLLS the same fold as a recursive CTE stepping one doc
    per stream per iteration (the g7/j16 discipline: a bounded
    iterative kernel's oracle is its unrolled rounds), so every bin
    id, offset, and truncation flag is bit-checked. Scale: streams
    are the parallel unit (the c3/c13 contract); a mega-stream is
    sharded upstream — recorded in the kernel docstring with the
    first-fit-decreasing trade."""
    from cellphe_data_pipeline_spark.operators.text import (
        pack_samples_nosplit,
    )

    return pack_samples_nosplit(
        load_table(spark, sf_dir, "documents"), window_tokens=512
    )


@register(
    "d18_best_representative",
    f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle_sql()}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    reach(n, m) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT e.b, r.m FROM reach r JOIN edges e ON e.a = r.n
    ),
    comp AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n),
    scored AS (
      SELECT c.doc_id, c.cluster_id,
             CAST(len(regexp_extract_all(d.text, {_C25_BPE})) AS BIGINT)
               AS n_tokens
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY n_tokens DESC, doc_id) = 1 AS keep
    FROM scored
    """,
)
def d18(spark, sf_dir):
    """Quality-aware dedup representative (r12) — the canonical-pick
    POLICY knob d3/d7's min-id convention hides: production curation
    keeps the BEST member of each near-dup cluster, not the first
    (near-duplicates are usually a full document plus its truncated
    or boilerplate-wrapped variants — min-id keeps whichever crawled
    first). Policy here: highest token count wins (the longest member
    is the superset in the common truncation case), ties to min
    doc_id for determinism; any scalar quality score (t1's features,
    a classifier margin) drops into the same argmax slot. Output is
    the per-member verdict (doc_id, cluster_id, n_tokens, keep) —
    `filter(NOT keep)` is the drop-list the corpus anti-joins, and
    the losers stay attributed to their cluster for audit.

    Physical shape: the d3 banded candidate scan + d7 star closure
    (both proven machinery, costing what dedup already pays), one
    codegen token count on the CLUSTERED MEMBERS ONLY (never the
    corpus — clusters are the skewed minority), and an a1-style
    row_number window keyed by cluster. "Never the corpus" is a PLAN
    invariant, not a hope (r13, per the r12 verdict): the corpus
    streams through a broadcast hash join against the cluster table
    (CC's localCheckpoint makes the broadcast side a materialized
    read, not a recompute) and the token-count Project sits ABOVE the
    join — Catalyst has no rule that pushes a computed projection
    below a join, and tests/test_plans.py::test_d18 gates it. If
    cluster membership ever outgrows the broadcast budget the hint
    degrades to a shuffled hash join with the Project still above the
    join — the invariant survives; only the join strategy changes.
    The oracle replays pairs → WITH RECURSIVE closure → identical
    scoring and tie order."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_duplicates,
    )
    from cellphe_data_pipeline_spark.operators.text import (
        bpe_ish_token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(minhash_near_duplicates(docs)).select(
        "doc_id", "cluster_id"
    )
    scored = (
        docs.select("doc_id", "text")
        .join(F.broadcast(clusters), "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            bpe_ish_token_count(F.col("text")).alias("n_tokens"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return scored.select(
        "doc_id", "cluster_id", "n_tokens",
        (F.row_number().over(w) == 1).alias("keep"),
    )


@register(
    "s27_manifest_list",
    """
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS ok_shard_byte_identity,
           TRUE AS ok_commit_cost_o_changed,
           TRUE AS ok_time_travel,
           TRUE AS ok_vacuum_reclaimed
    FROM orders WHERE o_orderkey % 6 <> 0 GROUP BY o_orderstatus
    """,
)
def s27(spark, sf_dir):
    """Manifest-LIST tier for the snapshot layer (r13;
    io.snapshot_commit_sharded — the r12 verdict's ask #4, closing the
    gap it names: "one JSON manifest enumerating every file is the
    known listing wall at millions of files... no manifest-list/
    partitioned-manifest tier"). Design = Iceberg's manifest-of-
    manifests (public spec): a snapshot points at immutable content-
    addressed SHARD manifests; an append reuses every parent shard by
    path and writes ONE new shard; a delete rewrites only intersecting
    shards. Commit cost is O(changed shards), never O(table) — the
    property measured in SCALE.md's metadata curve (flat commit bytes
    grow linearly with file count; sharded append bytes are flat).

    Lifecycle, every contract asserted in-query against the
    filesystem:
      1. six sharded append commits (3-file orders slices, 18 files):
         each commit writes exactly one new shard and reuses every
         prior shard BY PATH — their md5s are recorded at first
         appearance and re-checked at the end (byte identity, not
         convention);
      2. one delete commit removing slice 0: the single intersecting
         shard is dropped (emptied), the other five reused
         byte-identically; zero data files move (COW at metadata);
      3. time travel: the pre-delete snapshot still serves ALL rows
         (order-insensitive crc hash) after the delete commit;
      4. vacuum with expiry reclaims slice 0's data files AND the
         orphaned shard manifest (shards are reference-counted like
         data files), leaving the live snapshot byte-identical.

    The final read answers from the sharded snapshot v7, which the
    oracle recomputes relationally from raw orders — proving the
    manifest-list resolution path returns exactly the right file set.
    Flat parents upgrade on their first sharded commit (wrapped as one
    shard) and both tiers share the same link(2) CAS point
    (tests/test_ingest.py pins both).

    The full tier story, each leg pinned in tests/test_ingest.py:
    shard-level [min,max] bounds ride in the manifest list so range
    reads SKIP whole shards without opening them
    (test_sharded_prune_skips_whole_shards); data compaction on a
    sharded table is tier-preserving — it commits a manifest list
    rewriting only intersecting shards, never a silent flat downgrade
    (test_snapshot_compact_preserves_manifest_tier); and the
    per-commit shard dribble is merged by manifest-list compaction
    (snapshot_compact_manifests, Iceberg's rewrite_manifests) with
    the table byte-identical and the read-side cost collapsing back
    to one parse — measured in SCALE.md's metadata curve
    (test_snapshot_compact_manifests_byte_identical_table)."""
    import hashlib
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_files,
        snapshot_read,
        snapshot_vacuum,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = _stage_dir("s27_mlist")

    def md5(rel):
        with open(os.path.join(table, rel), "rb") as f:
            return hashlib.md5(f.read()).hexdigest()

    slice_files: list[list[str]] = []
    shard_md5: dict[str, str] = {}
    for i in range(6):
        d = os.path.join(table, "data", f"s{i + 1}_append")
        orders.filter(F.col("o_orderkey") % 6 == i).repartition(3).write.mode(
            "overwrite"
        ).parquet(d)
        files = snapshot_data_files(d)
        slice_files.append(files)
        _, info = snapshot_commit_sharded(table, i, files)
        # commit cost O(1): one new shard, zero rewrites, all prior
        # shards reused by path
        assert info["added"] is not None and not info["rewritten"], info
        assert set(info["reused"]) == set(shard_md5), info
        shard_md5[info["added"]] = md5(info["added"])
    assert len(snapshot_files(table, 6)) == 18

    def row_hash(df):
        return df.agg(
            F.sum(
                F.crc32(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey"),
                        F.col("o_orderstatus"),
                        F.col("o_totalprice").cast("string"),
                    )
                )
            )
        ).collect()[0][0]

    pre_hash = row_hash(snapshot_read(spark, table, 6))

    # delete slice 0: one shard emptied-and-dropped, five reused
    _, dinfo = snapshot_commit_sharded(
        table, 6, [], removed_files=slice_files[0]
    )
    assert dinfo["added"] is None and not dinfo["rewritten"], dinfo
    assert len(dinfo["reused"]) == 5, dinfo
    assert len(snapshot_files(table, 7)) == 15

    # untouched-shard byte identity across the whole lifecycle
    for rel in dinfo["reused"]:
        assert md5(rel) == shard_md5[rel], rel

    # time travel across the delete commit
    assert row_hash(snapshot_read(spark, table, 6)) == pre_hash

    # vacuum: slice-0 data files + the orphaned shard reclaimed
    vinfo = snapshot_vacuum(table, expire_before=7)
    assert set(vinfo["deleted"]) == set(slice_files[0]), vinfo
    assert len(vinfo["deleted_shards"]) == 1, vinfo
    assert all(os.path.exists(f) for f in snapshot_files(table, 7))

    return (
        snapshot_read(spark, table, 7)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            "o_orderstatus", "n", "sum_price",
            F.lit(True).alias("ok_shard_byte_identity"),
            F.lit(True).alias("ok_commit_cost_o_changed"),
            F.lit(True).alias("ok_time_travel"),
            F.lit(True).alias("ok_vacuum_reclaimed"),
        )
    )


@register(
    "a28_kmv_intersect_audit",
    """
    WITH a AS (SELECT o_orderkey AS k FROM orders
               WHERE o_totalprice > 150000),
    b AS (SELECT o_orderkey AS k FROM orders
          WHERE o_orderpriority = '1-URGENT'),
    u AS (SELECT k FROM a UNION SELECT k FROM b)
    SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_union,
           CAST((SELECT COUNT(*) FROM a JOIN b USING (k)) AS BIGINT)
             AS n_intersect,
           TRUE AS ok_union_bound,
           TRUE AS ok_intersect_bound,
           TRUE AS ok_tighter_than_ie
    """,
)
def a28(spark, sf_dir):
    """KMV/theta-style sketch INTERSECTION with an honest per-estimate
    bound (r13; aggregates.kmv_sketch — the r12 verdict's ask #5,
    closing the gap a23 records in writing: HLL inclusion-exclusion's
    error compounds to ~5% of (n_a + n_b + n_union), a dishonest bound
    when the intersection is small; theta sketches are the named fix).

    Sets: order keys with totalprice > 150k (A) vs priority 1-URGENT
    (B) — each key occurs once, so the intersection (~19% of the
    union here, arbitrarily small in general) is a genuine set
    overlap, not the saturated user_id overlap a23 measures. Sketch
    algebra, all on ≤ 2k rows: θ = k-th smallest hash of the merged
    sketch (θ=1 ⇒ sketches are exhaustive and estimates exact);
    every retained hash below θ is a uniform θ-rate sample of A∪B
    observed by BOTH sketches (θ ≤ min θ_a, θ_b), so j = |{h ≤ θ:
    h ∈ sk_a ∧ h ∈ sk_b}| is Binomial(|A∩B|, θ) and |A∩B| ≈ j/θ with
    bound 4·√(j+1)/θ — a bound that scales with the INTERSECTION.

    Theorem columns (the a16/a20/a23 idiom — oracle emits literal
    TRUE, engine computes the inequality, hash-deterministic sketches
    make it re-verified at every SF):
      - ok_union_bound: |(k−1)/θ − n_union| ≤ 4·n_union/√(k−1);
      - ok_intersect_bound: |j/θ − n_intersect| ≤ 4·√(j+1)/θ;
      - ok_tighter_than_ie: 4·√(j+1)/θ ≤ 0.05·(n_a+n_b+n_union) —
        the KMV bound beats a23's inclusion-exclusion bound on these
        sets at every SF, measured not asserted.

    At 100 TB: the corpus pays the one distinct shuffle an exact
    count-distinct pays anyway (the exact columns here are the AUDIT,
    not the product); stored per-segment sketches then answer any
    union/intersection at O(k) bytes with per-answer error bars."""
    from cellphe_data_pipeline_spark.operators.aggregates import (
        kmv_merge,
        kmv_sketch,
        kmv_theta,
    )

    k = 1024
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    a = orders.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_orderkey").alias("k")
    )
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    )
    tagged = a.select(F.lit("a").alias("tag"), "k").unionAll(
        b.select(F.lit("b").alias("tag"), "k")
    )
    sk = kmv_sketch(tagged, "k", "tag", k=k)
    ska = sk.filter(F.col("tag") == "a").select("h")
    skb = sk.filter(F.col("tag") == "b").select("h")

    # merged sketch: k smallest of the union of retained hashes —
    # one sketch-sized AGGREGATE (r15, kmv_merge: collect_set →
    # sort_array → slice; replaced the unpartitioned row_number
    # window that planned a single-partition WindowExec)
    kth = kmv_merge(ska.unionAll(skb), k)
    theta_m = kth.agg(
        F.when(F.count(F.lit(1)) >= k, kmv_theta(F.max("h")))
        .otherwise(F.lit(1.0))
        .alias("theta"),
        F.count(F.lit(1)).alias("m"),
    )
    j_row = (
        kth.join(ska, "h", "semi")
        .join(skb, "h", "semi")
        .agg(F.count(F.lit(1)).alias("j"))
    )
    exacts = (
        a.select(F.lit(1).alias("_in_a"), "k")
        .join(b.select(F.lit(1).alias("_in_b"), "k"), "k", "full_outer")
        .agg(
            F.sum("_in_a").alias("n_a"),
            F.sum("_in_b").alias("n_b"),
            F.count(F.lit(1)).alias("n_union"),
            F.sum(F.col("_in_a") * F.col("_in_b")).alias("n_intersect"),
        )
    )
    row = exacts.crossJoin(F.broadcast(theta_m)).crossJoin(
        F.broadcast(j_row)
    )
    theta = F.col("theta")
    est_u = F.when(theta < 1.0, (F.lit(float(k - 1)) / theta)).otherwise(
        F.col("m").cast("double")
    )
    est_i = F.col("j").cast("double") / theta
    kmv_bound = F.lit(4.0) * F.sqrt(F.col("j").cast("double") + 1.0) / theta
    return row.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_union").cast("bigint").alias("n_union"),
        F.col("n_intersect").cast("bigint").alias("n_intersect"),
        (
            F.abs(est_u - F.col("n_union").cast("double"))
            <= F.lit(4.0) * F.col("n_union") / F.lit(math.sqrt(k - 1))
        ).alias("ok_union_bound"),
        (
            F.abs(est_i - F.col("n_intersect").cast("double")) <= kmv_bound
        ).alias("ok_intersect_bound"),
        (
            kmv_bound
            <= 0.05
            * (F.col("n_a") + F.col("n_b") + F.col("n_union")).cast("double")
        ).alias("ok_tighter_than_ie"),
    )


@register(
    "a29_kmv_segment_lifecycle",
    """
    WITH a AS (SELECT o_orderkey AS k FROM orders
               WHERE o_totalprice > 150000),
    b AS (SELECT o_orderkey AS k FROM orders
          WHERE o_orderpriority = '1-URGENT'),
    u AS (SELECT k FROM a UNION SELECT k FROM b),
    segs AS (SELECT DISTINCT 'a' AS tag, k % 4 AS s FROM a
             UNION SELECT DISTINCT 'b' AS tag, k % 4 AS s FROM b)
    SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_union,
           CAST((SELECT COUNT(*) FROM a JOIN b USING (k)) AS BIGINT)
             AS n_intersect,
           CAST((SELECT COUNT(*) FROM segs) AS BIGINT)
             AS n_segment_sketches,
           TRUE AS ok_merge_equals_rescan,
           TRUE AS ok_union_bound,
           TRUE AS ok_intersect_bound
    """,
)
def a29(spark, sf_dir):
    """KMV sketch SEGMENT LIFECYCLE (r14; the r13 verdict's ask #4) —
    a28 builds and intersects in one query; this is the a20-style
    stored-sketch path a 100 TB deployment actually runs: per-SEGMENT
    sketches built once (segment = o_orderkey % 4 — four independent
    corpus slices, the daily-partition shape), STORED as a table,
    read back and merged at O(k) per tag WITHOUT rescanning the
    corpus, the per-estimate bound re-verified on the MERGED sketch.

    The lifecycle leans on bottom-k being a semilattice: the k
    smallest hashes of a union equal the k smallest of the union of
    per-segment bottom-k's, so the merge is exactly-right, not
    approximately-right — asserted relationally as
    ok_merge_equals_rescan (stored-segment merge vs a direct
    whole-corpus sketch, compared as multisets via exceptAll both
    ways; hashes are unseeded md5, so the comparison is deterministic
    at every SF). The union/intersection estimates and their bounds
    are then a28's algebra applied to the merged sketches:
      - ok_union_bound: |(k−1)/θ − n_union| ≤ 4·n_union/√(k−1);
      - ok_intersect_bound: |j/θ − n_intersect| ≤ 4·√(j+1)/θ.

    At 100 TB: each segment pays its own one distinct shuffle ONCE at
    ingest; every later union/intersection across any segment subset
    is an O(k·segments) fold over the stored sketch table — the
    distinct-count/overlap analogue of a20's stored HLL slices, with
    theta's honest per-estimate error bar instead of
    inclusion-exclusion compounding."""
    from cellphe_data_pipeline_spark.operators.aggregates import (
        kmv_check_format,
        kmv_merge,
        kmv_sketch,
        kmv_theta,
    )
    import os

    k = 1024
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    a = orders.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_orderkey").alias("k")
    )
    b = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    )
    tagged = a.select(F.lit("a").alias("tag"), "k").unionAll(
        b.select(F.lit("b").alias("tag"), "k")
    )

    # build + STORE per-segment sketches (the ingest-side, once-ever
    # pass over the corpus); segment rides inside the sketch tag
    seg_tagged = tagged.select(
        F.concat_ws("|", "tag", (F.col("k") % 4).cast("string")).alias(
            "tag"
        ),
        "k",
    )
    store = os.path.join(_stage_dir("a29_sketches"), "segments")
    kmv_sketch(seg_tagged, "k", "tag", k=k).write.parquet(store)

    # lifecycle side: everything below reads ONLY the sketch table;
    # kmv_check_format is the v1/v2 schema guard (r15, advisor-low —
    # a pre-r14 double-h sketch fails loudly here instead of
    # mis-scaling by 2^60 through kmv_theta)
    stored = kmv_check_format(spark.read.parquet(store)).select(
        F.split("tag", r"\|").getItem(0).alias("tag"), "h"
    )
    # per-tag merge of the stored segment sketches — one sketch-sized
    # aggregate per tag (r15, kmv_merge; replaced the row_number
    # windows that planned single-partition WindowExecs, ask #7)
    merged = kmv_merge(stored, k, keys=("tag",))
    direct = kmv_sketch(tagged, "k", "tag", k=k)  # the rescan reference
    mism = (
        merged.exceptAll(direct)
        .unionAll(direct.exceptAll(merged))
        .agg(F.count(F.lit(1)).alias("n_mismatch"))
    )
    n_segs = spark.read.parquet(store).agg(
        F.count_distinct("tag").alias("n_segment_sketches")
    )

    ska = merged.filter(F.col("tag") == "a").select("h")
    skb = merged.filter(F.col("tag") == "b").select("h")
    kth = kmv_merge(ska.unionAll(skb), k)
    theta_m = kth.agg(
        F.when(F.count(F.lit(1)) >= k, kmv_theta(F.max("h")))
        .otherwise(F.lit(1.0))
        .alias("theta"),
        F.count(F.lit(1)).alias("m"),
    )
    j_row = (
        kth.join(ska, "h", "semi")
        .join(skb, "h", "semi")
        .agg(F.count(F.lit(1)).alias("j"))
    )
    exacts = (
        a.select(F.lit(1).alias("_in_a"), "k")
        .join(b.select(F.lit(1).alias("_in_b"), "k"), "k", "full_outer")
        .agg(
            F.sum("_in_a").alias("n_a"),
            F.sum("_in_b").alias("n_b"),
            F.count(F.lit(1)).alias("n_union"),
            F.sum(F.col("_in_a") * F.col("_in_b")).alias("n_intersect"),
        )
    )
    row = (
        exacts.crossJoin(F.broadcast(theta_m))
        .crossJoin(F.broadcast(j_row))
        .crossJoin(F.broadcast(mism))
        .crossJoin(F.broadcast(n_segs))
    )
    theta = F.col("theta")
    est_u = F.when(theta < 1.0, (F.lit(float(k - 1)) / theta)).otherwise(
        F.col("m").cast("double")
    )
    est_i = F.col("j").cast("double") / theta
    kmv_bound = F.lit(4.0) * F.sqrt(F.col("j").cast("double") + 1.0) / theta
    return row.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_union").cast("bigint").alias("n_union"),
        F.col("n_intersect").cast("bigint").alias("n_intersect"),
        F.col("n_segment_sketches").cast("bigint").alias(
            "n_segment_sketches"
        ),
        (F.col("n_mismatch") == 0).alias("ok_merge_equals_rescan"),
        (
            F.abs(est_u - F.col("n_union").cast("double"))
            <= F.lit(4.0) * F.col("n_union") / F.lit(math.sqrt(k - 1))
        ).alias("ok_union_bound"),
        (
            F.abs(est_i - F.col("n_intersect").cast("double")) <= kmv_bound
        ).alias("ok_intersect_bound"),
    )


def _e31_oracle_sql() -> str:
    """e31 oracle: c24's stage SUBSET (ingest → curate → exact dedup →
    pack, no decontamination/split — the streaming twin carries no
    bench list or cluster labels) replayed from the same canonical CTE
    helpers, stream key = source, all docs kept."""
    bpe = (
        r"'''s|''t|''re|''ve|''m|''ll|''d| ?[a-zA-Z]+| ?[0-9]+"
        r"| ?[^\sa-zA-Z0-9]+'"
    )
    return f"""
    WITH basedocs AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 1 AND doc_id >= 20
                  THEN '{_C24_CANNED}'
                       || ' group marker ' || CAST(doc_id // 70 AS VARCHAR)
                  ELSE text END AS text
      FROM documents
    ),
    {_html_clean_ctes(", source", doc_rel="basedocs")},
    gin AS (SELECT doc_id, text_clean AS text FROM cleanrel),
    {_gopher_chain_ctes("gin")},
    curated AS (
      SELECT c.doc_id, c.source, c.text_clean
      FROM cleanrel c JOIN flags f USING (doc_id)
      WHERE f.fail_mask & 63 = 0
    ),
    kept AS (
      SELECT doc_id, source AS stream, text_clean FROM (
        SELECT doc_id, source, text_clean,
               ROW_NUMBER() OVER (PARTITION BY md5(text_clean)
                                  ORDER BY doc_id) AS rn
        FROM curated
      ) t WHERE rn = 1
    ),
    pt AS (
      SELECT doc_id, stream,
             len(regexp_extract_all(text_clean, {bpe})) AS n_tokens
      FROM kept
    ),
    pc AS (
      SELECT doc_id, stream, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS start
      FROM pt
    ),
    ps AS (
      SELECT doc_id, stream, n_tokens,
             CAST(start AS BIGINT) AS start,
             CAST(start + n_tokens - 1 AS BIGINT) AS fin
      FROM pc WHERE n_tokens > 0
    )
    SELECT stream, CAST(w AS BIGINT) AS window_id, doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(GREATEST(0, start - w * 512) AS BIGINT) AS tok_start,
           CAST(LEAST(511, fin - w * 512) AS BIGINT) AS tok_end
    FROM ps, UNNEST(generate_series(start // 512, fin // 512)) AS g(w)
    """


@register("e31_streaming_corpus_ingest", _e31_oracle_sql())
def e31(spark, sf_dir):
    """§2.11 streaming COMPOSED corpus ingest (r13;
    tracker.streaming_corpus_ingest_drain — the r12 verdict's ask #6:
    "the curation pipeline IS the ingest path"). c24's
    ingest→curate→dedup→pack stage subset as ONE availableNow plan:
    the stateless stages (t13 html strip, t15 Gopher gate) run inside
    the streaming plan; exact dedup and c13 packing run in the
    foreachBatch sink with their state in the LAKEHOUSE — cross-batch
    dedup state is a seen-hash snapshot table (queryable, restart-
    proof), packing state is per-stream token offsets carried in the
    windows table's own manifest (the e25 last_batch_id idiom,
    extended with `pack_offsets`). Windows straddle micro-batch
    boundaries exactly as batch windows straddle doc boundaries —
    the SAME explode_token_windows kernel computes both.

    Exactly-once, both legs asserted in-query: four ordered
    micro-batches commit 4/0; a full REPLAY of the same files through
    a fresh checkpoint is refused by the manifest watermark before
    any packing work (0 committed / 4 skipped), and the final table
    is byte-identical to the single-pass result (row hash compared).
    The driver oracle then replays the batch-subset pipeline
    relationally — proving streaming arrival (in doc order, the
    _stage_ordered_batches pin) composes to exactly the batch answer.

    At 100 TB: per-batch work is O(batch) for every stage except the
    seen-table probe (O(seen) scan here; bucketed/bloom-fronted in
    production — recorded in the drain's docstring), and the commit
    is the ordinary s21 CAS — the ingest path and the maintenance
    path share one table format."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_current,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_corpus_ingest_drain,
    )
    import os

    _, aug = _c24_injected_corpus(spark, sf_dir)
    mx = aug.agg(F.max("doc_id")).collect()[0][0]  # bounded: one row
    cuts = [0, mx // 4 + 1, mx // 2 + 1, (3 * mx) // 4 + 1, mx + 1]
    parts = [
        aug.filter(
            (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
        )
        for i in range(4)
    ]
    staged = _stage_ordered_batches(parts, "e31_batches")
    root = _stage_dir("e31_sink")
    table = os.path.join(root, "table")
    seen = os.path.join(root, "seen")
    with session_confs(spark, DRAIN_CONFS):
        results = streaming_corpus_ingest_drain(
            spark, parts[0].schema, staged, table, seen,
            os.path.join(root, "ckpt"),
        )
    assert results == [True] * 4, results
    sid = snapshot_current(table)

    def row_hash(df):
        return df.agg(
            F.sum(
                F.crc32(
                    F.concat_ws(
                        "|", "stream", "window_id", "doc_id",
                        "n_tokens", "tok_start", "tok_end",
                    )
                )
            )
        ).collect()[0][0]

    pre = row_hash(snapshot_read(spark, table, sid))
    # replay leg: same files, fresh checkpoint — the watermark must
    # refuse every batch before any packing work, table unchanged
    with session_confs(spark, DRAIN_CONFS):
        results = streaming_corpus_ingest_drain(
            spark, parts[0].schema, staged, table, seen,
            os.path.join(root, "ckpt_replay"),
        )
    assert results == [False] * 4, results
    assert snapshot_current(table) == sid
    assert row_hash(snapshot_read(spark, table, sid)) == pre
    return snapshot_read(spark, table, sid).select(
        "stream", "window_id", "doc_id", "n_tokens", "tok_start", "tok_end"
    )


@register(
    "e32_streaming_corpus_full",
    _c24_oracle_sql(contam_rel="cleanrel", contam_text="text_clean"),
)
def e32(spark, sf_dir):
    """§2.11 streaming corpus ingest at FULL c24 stage parity (r14;
    tracker.streaming_corpus_full_ingest_drain — the r13 verdict's
    ask #2: "bring e31 to full c24 stage parity"). All SIX composed-
    pipeline stages stream: ingest (t13) → curate (t15) → exact dedup
    → decontaminate (c5, bloom-prefiltered candidate-first verify) →
    leakage-safe split (c23, cluster-label broadcast) → pack (c13),
    each placed by its state class — stateless stages and the
    stream-static label join in the streaming plan; dedup, the
    decontamination gate, and packing in the foreachBatch sink with
    state in the lakehouse (seen-hash snapshot table, manifest-carried
    pack offsets).

    The two enrichment SIDES are batch-published static tables, staged
    here the way production publishes them: near-dup cluster labels
    from the same minhash→closure job c24 runs (clustering is a batch
    job; its output is the stream's broadcast side), and the cleaned
    bench slice for decontamination. Decontamination shingles CLEANED
    text (the oracle replays the same choice — a stream only has the
    crawl HTML; see _c24_oracle_sql's parameter note).

    Exactly-once, asserted in-query exactly as e31: four ordered
    micro-batches commit 4/0; a full replay through a fresh checkpoint
    is refused at the manifest watermark (0/4) with the table row-hash
    unchanged. The partial-crash leg and the gate's seen-table
    contract (gated-out representatives still suppress later
    duplicates) are pinned in tests/test_streaming.py. The driver
    oracle replays all six stages relationally — streaming arrival in
    doc order composes to exactly the batch answer, enrichments
    included."""
    from cellphe_data_pipeline_spark.operators.dedup import (
        dedup_clusters,
        minhash_near_duplicates,
    )
    from cellphe_data_pipeline_spark.operators.text import html_to_text
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_current,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_corpus_full_ingest_drain,
    )
    import os

    docs, aug = _c24_injected_corpus(spark, sf_dir)
    root = _stage_dir("e32_sink")
    # batch-published static sides (the c23 label table + bench slice)
    clusters_dir = os.path.join(root, "clusters")
    bench_dir = os.path.join(root, "bench")
    with session_confs(spark, DRAIN_CONFS):
        dedup_clusters(minhash_near_duplicates(docs)).select(
            "doc_id", "cluster_id"
        ).write.parquet(clusters_dir)
        html_to_text(aug.filter(F.col("doc_id") < 20)).select(
            "doc_id", "text_clean"
        ).write.parquet(bench_dir)

    mx = aug.agg(F.max("doc_id")).collect()[0][0]  # bounded: one row
    cuts = [0, mx // 4 + 1, mx // 2 + 1, (3 * mx) // 4 + 1, mx + 1]
    parts = [
        aug.filter(
            (F.col("doc_id") >= cuts[i]) & (F.col("doc_id") < cuts[i + 1])
        )
        for i in range(4)
    ]
    staged = _stage_ordered_batches(parts, "e32_batches")
    table = os.path.join(root, "table")
    seen = os.path.join(root, "seen")
    with session_confs(spark, DRAIN_CONFS):
        results = streaming_corpus_full_ingest_drain(
            spark, parts[0].schema, staged, table, seen,
            os.path.join(root, "ckpt"), clusters_dir, bench_dir,
        )
    assert results == [True] * 4, results
    sid = snapshot_current(table)

    def row_hash(df):
        return df.agg(
            F.sum(
                F.crc32(
                    F.concat_ws(
                        "|", "stream", "window_id", "doc_id",
                        "n_tokens", "tok_start", "tok_end",
                    )
                )
            )
        ).collect()[0][0]

    pre = row_hash(snapshot_read(spark, table, sid))
    with session_confs(spark, DRAIN_CONFS):
        results = streaming_corpus_full_ingest_drain(
            spark, parts[0].schema, staged, table, seen,
            os.path.join(root, "ckpt_replay"), clusters_dir, bench_dir,
        )
    assert results == [False] * 4, results
    assert snapshot_current(table) == sid
    assert row_hash(snapshot_read(spark, table, sid)) == pre
    return snapshot_read(spark, table, sid).select(
        "stream", "window_id", "doc_id", "n_tokens", "tok_start", "tok_end"
    )


@register(
    "o23_sharded_maintenance",
    """
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty,
           TRUE AS ok_shard_prune,
           TRUE AS ok_manifest_compaction,
           TRUE AS ok_tier_preserved,
           TRUE AS ok_rows_invariant
    FROM lineitem GROUP BY l_returnflag
    """,
)
def o23(spark, sf_dir):
    """Sharded-tier MAINTENANCE lifecycle (r13) — the driver-facing
    proof of the three behaviors that complete s27's manifest-list
    story (each also unit-pinned in tests/test_ingest.py):

      1. SHARD PRUNING: six range-keyed sharded appends with per-file
         stats (file_key_stats at commit — the o19 writer-pays
         contract) give the manifest list shard-level bounds; a range
         read inside one slice opens exactly ONE shard — the other
         five are skipped without ever being opened (asserted from
         snapshot_read_pruned's info), and the pruned result equals
         the direct filter (count-checked in-query).
      2. MANIFEST COMPACTION: two one-file dribble commits (the
         stream-sink shape) are merged by snapshot_compact_manifests
         with the resolved FILE LIST BYTE-IDENTICAL (asserted) and
         data_change=false — metadata motion only.
      3. TIER-PRESERVING DATA COMPACTION: a selective compaction
         (small_file_bytes catches only the dribble files) commits a
         MANIFEST LIST (never a flat downgrade), rewrites only the
         merged-dribble shard, and reuses the six range shards BY
         PATH (md5-asserted byte identity); the row multiset is
         invariant (crc hash equal across all three maintenance
         commits — time travel included).

    The final rollup answers from the post-maintenance snapshot; the
    oracle recomputes it from raw lineitem (nothing was ever
    deleted), so the value hash proves every maintenance step
    preserved the table exactly. At 100 TB: reads prune at O(matching
    shards) metadata, sink dribble costs O(batch) per commit and is
    merged on the maintenance cadence, and maintenance itself costs
    O(debris) in data AND metadata."""
    import hashlib
    import os

    from cellphe_data_pipeline_spark.operators.scale import (
        file_key_stats,
        snapshot_compact,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_compact_manifests,
        snapshot_data_files,
        snapshot_files,
        snapshot_manifest,
        snapshot_read,
        snapshot_read_pruned,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    table = _stage_dir("o23_maint")

    def md5(rel):
        with open(os.path.join(table, rel), "rb") as f:
            return hashlib.md5(f.read()).hexdigest()

    mx = li.agg(F.max("l_orderkey")).collect()[0][0]  # bounded: 1 row
    cuts = [((mx + 6) // 6) * i for i in range(6)] + [mx + 1]
    parent = 0
    range_shards: dict[str, str] = {}
    for i in range(6):
        d = os.path.join(table, "data", f"s{i + 1}_range")
        li.filter(
            (F.col("l_orderkey") >= cuts[i]) & (F.col("l_orderkey") < cuts[i + 1])
        ).repartition(2).write.mode("overwrite").parquet(d)
        files = snapshot_data_files(d)
        from urllib.parse import urlparse

        stats = {
            "l_orderkey": {
                urlparse(r["file"]).path: [r["min_v"], r["max_v"]]
                for r in file_key_stats(spark, files, "l_orderkey").collect()
            }
        }
        parent, info = snapshot_commit_sharded(table, parent, files, stats=stats)
        range_shards[info["added"]] = md5(info["added"])

    def row_hash(sid):
        return (
            snapshot_read(spark, table, sid)
            .agg(
                F.sum(
                    F.crc32(
                        F.concat_ws(
                            "|", "l_orderkey", "l_returnflag",
                            F.col("l_quantity").cast("string"),
                        )
                    )
                )
            )
            .collect()[0][0]
        )

    pre_hash = row_hash(6)

    # 1. shard prune: a read inside slice 3 opens exactly one shard
    probe_lo, probe_hi = cuts[2], cuts[3] - 1
    pruned, pinfo = snapshot_read_pruned(
        spark, table, 6, "l_orderkey", probe_lo, probe_hi
    )
    assert len(pinfo["shards_opened"]) == 1, pinfo
    assert len(pinfo["shards_skipped"]) == 5, pinfo
    want = li.filter(
        (F.col("l_orderkey") >= probe_lo) & (F.col("l_orderkey") <= probe_hi)
    ).count()
    got = pruned.filter(
        (F.col("l_orderkey") >= probe_lo) & (F.col("l_orderkey") <= probe_hi)
    ).count()
    assert got == want, (got, want)

    # sink-shaped dribble: two one-file commits of key-SHIFTED rows
    # (l_orderkey > mx — disjoint from the base table by construction,
    # so the final rollup can exclude them with one filter and the
    # oracle stays a plain scan of raw lineitem)
    dribble: list[str] = []
    for n in range(2):
        d = os.path.join(table, "data", f"dribble{n}")
        li.filter(F.col("l_orderkey") == cuts[1] + n).withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(mx + 1000)
        ).coalesce(1).write.mode("overwrite").parquet(d)
        files = snapshot_data_files(d)
        dribble += files
        parent, _ = snapshot_commit_sharded(table, parent, files)
    v8_hash = row_hash(8)

    # 2. manifest compaction: byte-identical file list, fewer shards
    pre_files = snapshot_files(table, 8)
    parent, minfo = snapshot_compact_manifests(table, min_files=2)
    assert parent == 9, parent
    assert snapshot_files(table, 9) == pre_files, "file list changed"
    assert len(minfo["merged"]) == 2 and len(minfo["new"]) == 1, minfo
    assert snapshot_manifest(table, 9).get("data_change") is False
    assert row_hash(9) == v8_hash

    # 3. tier-preserving selective compaction of the dribble only
    threshold = max(os.path.getsize(f) for f in dribble) + 1
    big_sizes = [
        os.path.getsize(f) for f in pre_files if f not in set(dribble)
    ]
    assert min(big_sizes) >= threshold, "threshold would catch range files"
    new_id, cinfo = snapshot_compact(
        spark, table, sort_cols=["l_orderkey"], target_partitions=1,
        small_file_bytes=threshold,
    )
    assert new_id == 10 and set(cinfo["replaced"]) == set(dribble)
    man = snapshot_manifest(table, 10)
    assert "shards" in man and "files" not in man  # tier preserved
    for rel, h in range_shards.items():
        assert rel in man["shards"] and md5(rel) == h  # byte identity
    assert row_hash(10) == v8_hash
    assert row_hash(6) == pre_hash  # time travel intact

    # the oracle recomputes from raw lineitem: the key-shifted dribble
    # rows are excluded by one filter (disjoint by construction)
    final = snapshot_read(spark, table, 10).filter(
        F.col("l_orderkey") <= mx
    )
    return final.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    ).select(
        "l_returnflag", "n", "sum_qty",
        F.lit(True).alias("ok_shard_prune"),
        F.lit(True).alias("ok_manifest_compaction"),
        F.lit(True).alias("ok_tier_preserved"),
        F.lit(True).alias("ok_rows_invariant"),
    )


@register(
    "s28_string_conjunctive_prune",
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS ok_string_prune,
           TRUE AS ok_conjunction_is_intersection,
           TRUE AS ok_fewer_than_either
    FROM orders
    WHERE o_orderpriority <= '2-HIGH'
      AND o_orderkey <= (SELECT MAX(o_orderkey) // 2 FROM orders)
    GROUP BY o_orderpriority
    """,
)
def s28(spark, sf_dir):
    """STRING-bounded + CONJUNCTIVE shard-stats pruning (r14; the r13
    verdict's ask #5: "s27/o23 prune on one int key... prove the
    per-column stats dict"). Six sharded appends on a 3×2 grid —
    three o_orderpriority bands ('1'-'2', '3', '4'-'5': lexicographic
    STRING bounds, the date-string/tag-prefix shape) × two o_orderkey
    halves — each commit carrying honest per-file [min, max] for BOTH
    columns (writer-pays, the o19 contract). Then three pruned reads
    through snapshot_read_pruned_multi, asserted in-query:

      - STRING predicate alone (priority ≤ '2-HIGH') opens exactly
        the two low-band shards — string bounds zone-map exactly as
        ints do;
      - INT predicate alone (orderkey ≤ mid) opens the three
        low-half shards;
      - the CONJUNCTION opens exactly ONE shard — the intersection of
        the two single-predicate admitted sets, asserted set-equal
        and strictly smaller than either (the multi-predicate read
        never opens a shard any predicate excludes).

    The rollup answers from the conjunctive pruned read with the
    residual predicate applied (superset-admit semantics); the oracle
    recomputes it from raw orders, so the value hash proves pruning
    dropped no qualifying row. At 100 TB: a typical serving read
    carries several predicates (tenant string + time range + key
    band); conjunctive shard skipping multiplies the per-predicate
    selectivities at METADATA cost, before any footer or row group is
    touched."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_read_pruned_multi,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]  # bounded
    mid = mx // 2
    bands = [("1", "2"), ("3", "3"), ("4", "5")]
    halves = [(0, mid), (mid + 1, mx)]
    table = _stage_dir("s28_prune")
    parent = 0
    shard_of: dict[tuple, str] = {}
    for b_lo, b_hi in bands:
        for k_lo, k_hi in halves:
            d = os.path.join(table, "data", f"p{b_lo}_k{k_lo}")
            part = orders.filter(
                (F.substring("o_orderpriority", 1, 1) >= b_lo)
                & (F.substring("o_orderpriority", 1, 1) <= b_hi)
                & (F.col("o_orderkey") >= k_lo)
                & (F.col("o_orderkey") <= k_hi)
            )
            part.coalesce(1).write.mode("overwrite").parquet(d)
            files = snapshot_data_files(d)
            # honest writer-pays bounds: the slice's own min/max
            lohi = part.agg(
                F.min("o_orderpriority"), F.max("o_orderpriority"),
                F.min("o_orderkey"), F.max("o_orderkey"),
            ).collect()[0]
            stats = {
                "o_orderpriority": {fp: [lohi[0], lohi[1]] for fp in files},
                "o_orderkey": {fp: [lohi[2], lohi[3]] for fp in files},
            }
            parent, info = snapshot_commit_sharded(
                table, parent, files, stats=stats
            )
            shard_of[(b_lo, k_lo)] = info["added"]

    # string predicate alone: the two low-band shards
    _, i_str = snapshot_read_pruned_multi(
        spark, table, parent, {"o_orderpriority": ("1-URGENT", "2-HIGH")}
    )
    assert sorted(i_str["shards_opened"]) == sorted(
        [shard_of[("1", 0)], shard_of[("1", mid + 1)]]
    ), i_str
    # int predicate alone: the three low-half shards
    _, i_int = snapshot_read_pruned_multi(
        spark, table, parent, {"o_orderkey": (0, mid)}
    )
    assert sorted(i_int["shards_opened"]) == sorted(
        [shard_of[(b, 0)] for b, _ in bands]
    ), i_int
    # conjunction: exactly the intersection, strictly fewer than either
    pruned, i_conj = snapshot_read_pruned_multi(
        spark,
        table,
        parent,
        {"o_orderpriority": ("1-URGENT", "2-HIGH"), "o_orderkey": (0, mid)},
    )
    assert set(i_conj["shards_opened"]) == set(
        i_str["shards_opened"]
    ) & set(i_int["shards_opened"]), i_conj
    assert len(i_conj["shards_opened"]) == 1
    assert len(i_conj["shards_opened"]) < len(i_str["shards_opened"])
    assert len(i_conj["shards_opened"]) < len(i_int["shards_opened"])

    final = pruned.filter(  # residual predicate: superset-admit
        (F.col("o_orderpriority") <= "2-HIGH") & (F.col("o_orderkey") <= mid)
    )
    return final.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    ).select(
        "o_orderpriority", "n", "sum_price",
        F.lit(True).alias("ok_string_prune"),
        F.lit(True).alias("ok_conjunction_is_intersection"),
        F.lit(True).alias("ok_fewer_than_either"),
    )


def _build_range_sharded_orders(spark, sf_dir, table):
    """Shared fixture builder for the MOR-tier queries (o24, e33): a
    6-slice range-sharded orders table with honest per-file
    o_orderkey stats (the o19 writer-pays contract). Returns
    (orders, c, slice_files) where c is the slice width."""
    import os

    from urllib.parse import urlparse

    from cellphe_data_pipeline_spark.operators.scale import file_key_stats
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_data_files,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]  # bounded
    c = (mx + 6) // 6
    cuts = [c * i for i in range(6)] + [mx + 1]
    parent = 0
    slice_files: dict[int, list] = {}
    for i in range(6):
        d = os.path.join(table, "data", f"s{i + 1}")
        orders.filter(
            (F.col("o_orderkey") >= cuts[i])
            & (F.col("o_orderkey") < cuts[i + 1])
        ).repartition(2).write.mode("overwrite").parquet(d)
        files = snapshot_data_files(d)
        slice_files[i] = files
        stats = {
            "o_orderkey": {
                urlparse(r["file"]).path: [r["min_v"], r["max_v"]]
                for r in file_key_stats(
                    spark, files, "o_orderkey"
                ).collect()
            }
        }
        parent, _ = snapshot_commit_sharded(table, parent, files, stats=stats)
    return orders, c, slice_files


@register(
    "o24_mor_equality_delete",
    """
    WITH cut AS (SELECT (MAX(o_orderkey) + 6) // 6 AS c FROM orders)
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS ok_zero_rewrite_commit,
           TRUE AS ok_time_travel,
           TRUE AS ok_bounded_fold,
           TRUE AS ok_fold_invariant
    FROM orders, cut
    WHERE NOT (o_orderkey >= 2 * c AND o_orderkey < 3 * c
               AND o_orderkey % 2 = 1)
    GROUP BY o_orderpriority
    """,
)
def o24(spark, sf_dir):
    """MERGE-ON-READ equality-delete lifecycle (r14;
    io.snapshot_delete_keys / snapshot_apply_deletes) — the deletion
    tier COW lacks at 100 TB: o17's copy-on-write DELETE rewrites
    every file containing any affected key, which for a scattered
    takedown/GDPR key set is a table-scale rewrite paid at ingest
    urgency. The MOR commit writes the KEY SET as a parquet delete
    file appended to the snapshot's delete_files — O(delete set)
    commit, ZERO data files touched — and every reader anti-joins the
    broadcast key set at read time (Iceberg v2 equality deletes; the
    design is public spec). Maintenance folds deletes into the data
    on its own cadence, using shard/file stats to rewrite only
    candidate files.

    Lifecycle driven end-to-end on a 6-slice range-sharded orders
    table (per-file key stats, the o19 writer-pays contract), every
    contract asserted in-query against the filesystem:

      - ok_zero_rewrite_commit: the delete commit (odd keys within
        slice 3) changes NO data file — resolved file list identical
        pre/post, only delete_files grew;
      - ok_time_travel: the pre-delete snapshot still reads every row
        (delete_files are per-snapshot state; rollback restores them
        — pinned in tests);
      - ok_bounded_fold: snapshot_apply_deletes rewrites EXACTLY the
        slice-3 files (stats-range candidates; the other five slices
        reused by path) and clears delete_files;
      - ok_fold_invariant: order-insensitive row hash equal between
        the MOR view and the folded table.

    The rollup answers from the FOLDED snapshot; the oracle
    recomputes it from raw orders with the delete predicate — the
    value hash proves the MOR mask and its fold drop exactly the
    deleted keys, nothing else. At 100 TB: delete commits are O(keys)
    at urgency time, reads pay one broadcast probe per outstanding
    delete file, and the rewrite happens once, bounded by stats, on
    the maintenance cadence."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_apply_deletes,
        snapshot_delete_keys,
        snapshot_files,
        snapshot_manifest,
        snapshot_read,
    )

    table = _stage_dir("o24_mor")
    orders, c, slice_files = _build_range_sharded_orders(
        spark, sf_dir, table
    )

    def row_hash(df):
        return df.agg(
            F.sum(
                F.crc32(
                    F.concat_ws(
                        "|", "o_orderkey", "o_orderpriority",
                        F.col("o_totalprice").cast("string"),
                    )
                )
            )
        ).collect()[0][0]

    # MOR delete: odd keys inside slice 3 — zero data files rewritten
    pre_files = set(snapshot_files(table, 6))
    keys = orders.filter(
        (F.col("o_orderkey") >= 2 * c)
        & (F.col("o_orderkey") < 3 * c)
        & (F.col("o_orderkey") % 2 == 1)
    ).select("o_orderkey")
    did = snapshot_delete_keys(spark, table, "o_orderkey", keys)
    assert set(snapshot_files(table, did)) == pre_files, "data rewritten"
    assert snapshot_manifest(table, did)["delete_files"], "no delete file"

    # time travel: pre-delete snapshot unmasked
    assert snapshot_read(spark, table, 6).count() == orders.count()
    mor_hash = row_hash(snapshot_read(spark, table, did))

    # fold: exactly the slice-3 files rewritten, five slices reused
    fid, finfo = snapshot_apply_deletes(spark, table)
    assert sorted(finfo["rewritten"]) == sorted(slice_files[2]), finfo
    assert set(finfo["reused"]) == pre_files - set(slice_files[2])
    assert snapshot_manifest(table, fid).get("delete_files", []) == []
    assert row_hash(snapshot_read(spark, table, fid)) == mor_hash

    return snapshot_read(spark, table, fid).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    ).select(
        "o_orderpriority", "n", "sum_price",
        F.lit(True).alias("ok_zero_rewrite_commit"),
        F.lit(True).alias("ok_time_travel"),
        F.lit(True).alias("ok_bounded_fold"),
        F.lit(True).alias("ok_fold_invariant"),
    )


@register(
    "e33_streaming_mor_takedown",
    """
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS ok_zero_rewrite,
           TRUE AS ok_exactly_once,
           TRUE AS ok_fold_invariant
    FROM orders WHERE o_orderkey % 7 <> 2
    GROUP BY o_orderpriority
    """,
)
def e33(spark, sf_dir):
    """§2.11 streaming TAKEDOWN against a published table via MOR
    tombstone commits (r14; tracker.mor_takedown_apply_batch) —
    the table-format completion of the takedown family: c21's closure
    computes WHAT to remove, v19/e30 remove from the serving INDEX,
    this removes from the CORPUS TABLE itself at streaming latency.
    Each micro-batch of takedown keys (o_orderkey % 7 == 2, arriving
    in three key-range batches) becomes ONE equality-delete commit:
    O(batch keys) bytes, ZERO data files touched — asserted in-query
    by comparing the resolved file list across all three commits —
    and the keys are masked for every reader from the next read on.
    The snapshot-wide tombstone semantics (o24) are exactly the
    takedown contract: a replayed ingest re-delivering a taken-down
    key stays masked until maintenance folds the tombstones.

    Exactly-once, both legs in-query: three ordered batches commit
    3/0; a fresh-checkpoint replay refuses all three at the manifest
    watermark (0/3) with the snapshot id unchanged. Maintenance then
    folds the tombstones (stats-bounded rewrite) and the rollup
    answers from the FOLDED table — the oracle recomputes it from raw
    orders with the takedown predicate, so the value hash proves the
    urgent path + the deferred fold dropped exactly the streamed
    keys. At 100 TB: takedown latency is one micro-batch, the
    expensive rewrite is deferred, batched, and bounded by stats."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_apply_deletes,
        snapshot_current,
        snapshot_files,
        snapshot_manifest,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        drain_batches,
        mor_takedown_apply_batch,
    )
    import os

    root = _stage_dir("e33_takedown")
    table = os.path.join(root, "table")
    orders, c, _ = _build_range_sharded_orders(spark, sf_dir, table)
    base_files = set(snapshot_files(table, 6))

    takedown = orders.filter(F.col("o_orderkey") % 7 == 2).select(
        "o_orderkey"
    )
    bounds = [(0, 2 * c), (2 * c, 4 * c), (4 * c, 7 * c)]
    parts = [
        takedown.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
        )
        for lo, hi in bounds
    ]
    staged = _stage_ordered_batches(parts, "e33_batches")

    def takedown_drain(ckpt):
        with session_confs(spark, DRAIN_CONFS):
            return drain_batches(
                spark, parts[0].schema, staged, os.path.join(root, ckpt),
                lambda b, bid: mor_takedown_apply_batch(
                    spark, table, "o_orderkey", b, bid
                ),
                "e33_streaming_mor_takedown",
            )

    results = takedown_drain("ckpt")
    assert results == [True, True, True], results
    sid = snapshot_current(table)
    assert sid == 9
    # zero data rewrite across all three takedown commits
    assert set(snapshot_files(table, sid)) == base_files
    assert len(snapshot_manifest(table, sid)["delete_files"]) == 3

    # replay leg: fresh checkpoint, same batches — all refused
    results = takedown_drain("ckpt_replay")
    assert results == [False, False, False], results
    assert snapshot_current(table) == sid

    def row_hash(df):
        return df.agg(
            F.sum(
                F.crc32(
                    F.concat_ws(
                        "|", "o_orderkey", "o_orderpriority",
                        F.col("o_totalprice").cast("string"),
                    )
                )
            )
        ).collect()[0][0]

    mor_hash = row_hash(snapshot_read(spark, table, sid))
    fid, finfo = snapshot_apply_deletes(spark, table)
    assert snapshot_manifest(table, fid).get("delete_files", []) == []
    assert row_hash(snapshot_read(spark, table, fid)) == mor_hash

    return snapshot_read(spark, table, fid).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    ).select(
        "o_orderpriority", "n", "sum_price",
        F.lit(True).alias("ok_zero_rewrite"),
        F.lit(True).alias("ok_exactly_once"),
        F.lit(True).alias("ok_fold_invariant"),
    )


@register(
    "o25_mor_commit_cadence",
    """
    WITH cut AS (SELECT (MAX(o_orderkey) + 6) // 6 AS c FROM orders)
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS ok_plan_depth_capped,
           TRUE AS ok_zero_rewrite_commits,
           TRUE AS ok_bounded_fold,
           TRUE AS ok_fold_stats_prune
    FROM orders, cut
    WHERE NOT (o_orderkey >= c AND o_orderkey < 3 * c
               AND o_orderkey % 5 = 3)
    GROUP BY o_orderpriority
    """,
)
def o25(spark, sf_dir):
    """MOR delete-commit CADENCE read (r15; the r14 verdict's ask #3
    driver-proven end-to-end) — the read-side scaling contract o24's
    single-commit lifecycle doesn't exercise: a table taking one
    takedown commit per micro-batch (e33's pattern) accumulates
    delete files between maintenance folds, and the reader must stay
    CONSTANT-DEPTH in the number of those commits. Engine:
    io._apply_delete_files unions all outstanding delete files per
    key COLUMN into ONE multi-path scan masked by ONE broadcast
    anti-join (Iceberg readers make the same move: all equality
    deletes applicable to a task merge into one filter, spec
    §"Scan Planning" — public).

    Lifecycle, every contract asserted in-query on a 6-slice
    range-sharded orders table with per-file key stats:
      - TWO delete commits land (keys ≡ 3 mod 5, one commit per
        slice, slices 2 and 3), each touching ZERO data files
        (ok_zero_rewrite_commits);
      - the masked read's EXECUTED plan carries exactly ONE
        BroadcastHashJoin — not one per commit (ok_plan_depth_capped,
        the structural fact; the plan pin in tests/test_plans.py
        holds it at 5 and 7 commits);
      - the fold rewrites exactly the slice-2/3 files (stats-range
        candidates; four slices reused by path — ok_bounded_fold);
      - the fold output carries RECOMPUTED per-file [min,max], so a
        post-fold pruned read of a slice-1 key range opens NO fold
        file and NO other slice (ok_fold_stats_prune — the r15
        advisor fix driver-proven: pre-fix, folded files lost their
        bounds forever).

    The rollup answers from the folded table; the pruned read is the
    assertion probe only. Oracle recomputes from raw orders with the
    delete predicate. At 100 TB: reader cost tracks
    delete KEYS (one hash probe), never delete COMMITS; maintenance
    cost tracks affected files, and pruning quality survives the
    maintenance."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_apply_deletes,
        snapshot_current,
        snapshot_delete_keys,
        snapshot_files,
        snapshot_read,
        snapshot_read_pruned,
    )

    table = _stage_dir("o25_mor_cadence")
    orders, c, slice_files = _build_range_sharded_orders(
        spark, sf_dir, table
    )

    # one delete commit per affected slice — the micro-batch cadence
    pre_files = set(snapshot_files(table, 6))
    for lo, hi in [(c, 2 * c), (2 * c, 3 * c)]:
        keys = orders.filter(
            (F.col("o_orderkey") >= lo)
            & (F.col("o_orderkey") < hi)
            & (F.col("o_orderkey") % 5 == 3)
        ).select("o_orderkey")
        did = snapshot_delete_keys(spark, table, "o_orderkey", keys)
        assert set(snapshot_files(table, did)) == pre_files, "rewrite"

    # constant plan depth: 2 commits, ONE broadcast anti-join
    cur = snapshot_current(table)
    masked = snapshot_read(spark, table, cur)
    ex = masked._jdf.queryExecution().executedPlan().toString()
    assert ex.count("BroadcastHashJoin") == 1, ex
    assert "SortMergeJoin" not in ex, ex

    # bounded fold: exactly the slice-2/3 files rewritten
    affected = set(slice_files[1]) | set(slice_files[2])
    fid, finfo = snapshot_apply_deletes(spark, table)
    assert set(finfo["rewritten"]) == affected, finfo
    assert set(finfo["reused"]) == pre_files - affected

    # fold-output stats: a slice-1 range prune must skip every fold
    # file AND every other slice (bounds were recomputed at the fold)
    probe_hi = c // 2
    pruned, pinfo = snapshot_read_pruned(
        spark, table, fid, "o_orderkey", 0, probe_hi
    )
    kept = set(pinfo["kept"])
    assert kept == set(slice_files[0]), pinfo
    assert pruned.filter(
        (F.col("o_orderkey") >= 0) & (F.col("o_orderkey") <= probe_hi)
    ).count() == orders.filter(F.col("o_orderkey") <= probe_hi).count()

    return snapshot_read(spark, table, fid).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    ).select(
        "o_orderpriority", "n", "sum_price",
        F.lit(True).alias("ok_plan_depth_capped"),
        F.lit(True).alias("ok_zero_rewrite_commits"),
        F.lit(True).alias("ok_bounded_fold"),
        F.lit(True).alias("ok_fold_stats_prune"),
    )


@register(
    "o26_mor_concurrent_writers",
    """
    WITH survivors AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
      WHERE o_orderkey % 9 NOT IN (1, 4)
    ),
    appended AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_orderpriority,
             o_totalprice
      FROM orders WHERE o_orderkey % 13 = 2
    ),
    final AS (
      SELECT * FROM survivors UNION ALL SELECT * FROM appended
    )
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS ok_linear_history,
           TRUE AS ok_delete_union,
           TRUE AS ok_no_resurrection
    FROM final GROUP BY o_orderpriority
    """,
)
def o26(spark, sf_dir):
    """CONCURRENT MOR writers (r15; the r14 verdict's ask #4 and the
    advisor-medium fix, driver-proven): two delete writers and one
    appender race from overlapping parents through the sharded CAS —
    the exact multi-writer shape a takedown service plus a streaming
    ingest produce against one table. The old delete commit
    (data/deletes/d{parent+1} + mode=overwrite, no retry) let the CAS
    loser clobber the winner's delete-file parts; the r15 commit
    writes each delete set to a collision-free per-call dir and
    rebases through a retry loop that RE-READS the fresh parent's
    delete list — so every interleaving converges to the same table
    state (what makes this gate-checkable: the assertions hold for
    ANY serialization, and the final row multiset is
    interleaving-independent).

    The race, in-query (threads + barrier, the test_ingest.py stress
    shape run at gate scale):
      - writer A: MOR-delete keys ≡ 1 (mod 9); writer B: keys ≡ 4
        (mod 9); writer C: append a batch whose keys are shifted by
        10M — and which also RE-DELIVERS writer A's keys verbatim
        (the replayed-ingest case the snapshot-wide tombstone
        contract exists for).
    Asserted after the join: linear history (base + 3 commits, no
    gaps — ok_linear_history); the head manifest carries BOTH delete
    entries with every referenced delete-file part present on disk
    (ok_delete_union); the re-delivered rows stay masked — the final
    read contains the shifted batch but NOT the re-delivered
    tombstoned keys (ok_no_resurrection).

    Oracle: raw orders minus both key classes, union the shifted
    batch. At 100 TB: delete and append writers never serialize
    through a lock — optimistic CAS with O(change) rebase cost,
    Iceberg's commit model (spec §"Optimistic Concurrency",
    public)."""
    import os
    import threading

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_commit_sharded_with_retry,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_manifest,
        snapshot_read,
    )

    table = _stage_dir("o26_mor_race")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    d = os.path.join(table, "data", "base")
    orders.repartition(4).write.mode("overwrite").parquet(d)
    snapshot_commit_sharded(table, 0, snapshot_data_files(d))

    # the appended batch: shifted keys + a verbatim re-delivery of
    # writer A's tombstoned rows (staged BEFORE the race — the race
    # is over COMMITS, not writes)
    shifted = orders.filter(F.col("o_orderkey") % 13 == 2).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderpriority",
        "o_totalprice",
    )
    redelivered = orders.filter(F.col("o_orderkey") % 9 == 1)
    batch_dir = os.path.join(table, "data", "batch_c")
    shifted.unionByName(redelivered).write.mode("overwrite").parquet(
        batch_dir
    )
    batch_files = snapshot_data_files(batch_dir)

    errors: list[BaseException] = []
    barrier = threading.Barrier(3)

    def deleter(residue: int) -> None:
        try:
            keys = orders.filter(
                F.col("o_orderkey") % 9 == residue
            ).select("o_orderkey")
            barrier.wait()
            snapshot_delete_keys(spark, table, "o_orderkey", keys)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    def appender() -> None:
        try:
            barrier.wait()
            snapshot_commit_sharded_with_retry(table, batch_files)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=deleter, args=(1,)),
        threading.Thread(target=deleter, args=(4,)),
        threading.Thread(target=appender),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    cur = snapshot_current(table)
    assert cur == 4, cur  # base + 3 racing commits, linear
    dels = snapshot_manifest(table, cur)["delete_files"]
    assert len(dels) == 2, dels  # the union: neither entry lost
    for entry in dels:
        assert entry["key"] == "o_orderkey"
        for p in entry["paths"]:
            assert os.path.exists(p), f"missing delete part {p}"

    return snapshot_read(spark, table, cur).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    ).select(
        "o_orderpriority", "n", "sum_price",
        F.lit(True).alias("ok_linear_history"),
        F.lit(True).alias("ok_delete_union"),
        F.lit(True).alias("ok_no_resurrection"),
    )


@register(
    "a30_kmv_takedown_rebuild",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(SUM(CASE WHEN o_orderkey % 3 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after,
           CAST(4 AS BIGINT) AS n_segment_sketches,
           TRUE AS ok_stale_upper_bound,
           TRUE AS ok_rebuild_exact,
           TRUE AS ok_rebuilt_bound
    FROM orders
    """,
)
def a30(spark, sf_dir):
    """KMV stored-sketch lifecycle COMPOSED with the MOR delete tier
    (r15; the r14 verdict's ask #6 driver-proven — the rule
    aggregates.kmv_sketch's docstring states, exercised end-to-end):
    per-segment sketches are built at ingest and STORED; then a
    takedown lands as an equality-delete commit; what happens to the
    sketches? A KMV sketch is NOT subtractive (eviction history is
    gone — deleted keys' hashes can't be removed), so the contract
    has two halves, each asserted in-query:

      - STALE IS AN UPPER BOUND (ok_stale_upper_bound): the pre-
        takedown merged estimate exceeds the true surviving distinct
        count — a 33% bite (keys ≡ 0 mod 3) clears the sketch's own
        ±4/√(k−1) error bar by 2.6×, so the inequality is structural,
        not luck;
      - REBUILD FROM THE MASKED READ IS EXACT (ok_rebuild_exact):
        re-sketching each segment from snapshot_read — which applies
        the delete masks — yields hash-identical sketches to a direct
        sketch of the surviving keys (unseeded md5: deterministic
        across runs, engines, and SFs), because the masked read IS
        the surviving key set; the rebuilt merged estimate then sits
        inside the standard KMV bound around the true post-takedown
        count (ok_rebuilt_bound).

    Lifecycle rule this proves: rebuild affected segments from the
    MOR-masked read on the maintenance cadence (one pass over the
    surviving segment, never the corpus); serve stale estimates as
    upper bounds until then. The exact columns (n_before, n_after)
    are the oracle's audit; the sketch algebra is Beyer et al.
    (SIGMOD'07) as in a28/a29. At 100 TB: a takedown costs the
    sketch store O(affected segments × segment scan), not a corpus
    re-sketch — the same affected-list-only discipline as the IVF
    index's delete path (v19)."""
    import os

    from cellphe_data_pipeline_spark.operators.aggregates import (
        kmv_check_format,
        kmv_merge,
        kmv_sketch,
        kmv_theta,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_read,
    )

    k = 1024
    root = _stage_dir("a30_kmv_takedown")
    table = os.path.join(root, "table")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    d = os.path.join(table, "data", "base")
    orders.repartition(4).write.mode("overwrite").parquet(d)
    snapshot_commit_sharded(table, 0, snapshot_data_files(d))

    def seg_tagged(df):
        return df.select(
            F.concat(
                F.lit("s"), (F.col("o_orderkey") % 4).cast("string")
            ).alias("tag"),
            F.col("o_orderkey").alias("key"),
        )

    # ingest-side: per-segment sketches built from the PUBLISHED
    # table and stored (the a29 lifecycle, now against a real table)
    store = os.path.join(root, "sketches")
    kmv_sketch(
        seg_tagged(snapshot_read(spark, table, 1)), "key", "tag", k=k
    ).write.parquet(store)

    def estimate(sk):
        row = sk.agg(
            F.count(F.lit(1)).alias("m"), F.max("h").alias("hmax")
        ).collect()[0]  # bounded: one row over a sketch-sized input
        if row["m"] < k:
            return float(row["m"])
        return float(k - 1) / (row["hmax"] / float(2**60))

    # takedown: a 33% bite as an equality-delete commit
    snapshot_delete_keys(
        spark,
        table,
        "o_orderkey",
        orders.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey"),
    )
    cur = snapshot_current(table)
    masked = snapshot_read(spark, table, cur)
    n_before = orders.count()
    n_after = masked.count()

    stored = kmv_check_format(spark.read.parquet(store))
    est_stale = estimate(kmv_merge(stored.select("h"), k))
    assert est_stale > n_after, (est_stale, n_after)

    # maintenance-side: rebuild every segment from the MASKED read
    rebuilt = kmv_sketch(seg_tagged(masked), "key", "tag", k=k)
    reference = kmv_sketch(
        seg_tagged(orders.filter(F.col("o_orderkey") % 3 != 0)),
        "key",
        "tag",
        k=k,
    )
    mism = (
        rebuilt.exceptAll(reference)
        .unionAll(reference.exceptAll(rebuilt))
        .count()
    )
    assert mism == 0, mism

    est_rebuilt = estimate(kmv_merge(rebuilt.select("h"), k))
    bound = 4.0 * n_after / (k - 1) ** 0.5
    assert abs(est_rebuilt - n_after) <= bound, (est_rebuilt, n_after)

    return from_driver_rows(
        spark,
        [(n_before, n_after, 4)],
        "n_before bigint, n_after bigint, n_segment_sketches bigint",
    ).select(
        "n_before", "n_after", "n_segment_sketches",
        F.lit(True).alias("ok_stale_upper_bound"),
        F.lit(True).alias("ok_rebuild_exact"),
        F.lit(True).alias("ok_rebuilt_bound"),
    )


@register(
    "v20_filtered_ann",
    """
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, label, emb,
                 sqrt(list_dot_product(emb, emb)) AS nrm FROM e),
    p AS (
      SELECT a.vec_id, a.label, b.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 5)
               + 0.0 AS cos_sim
      FROM n a JOIN n b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT vec_id, label, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id)
               AS rank
      FROM p
    )
    SELECT vec_id, label, neighbor_id, cos_sim, rank
    FROM r WHERE rank <= 3
    """,
)
def v20(spark, sf_dir):
    """FILTERED vector search (r15; similarity.cosine_topk_filtered) —
    the metadata-constrained ANN surface the v-family lacked: top-3
    cosine neighbors per vector AMONG VECTORS SHARING ITS LABEL
    (tenant/language/collection in production). Pre-filter semantics
    (filter-then-search): the candidate set is restricted before
    ranking, so every query gets its true k nearest admissible
    neighbors — post-filtering a global top-k silently under-returns
    whenever a query's neighborhood is dominated by out-of-filter
    vectors (the recall cliff vector stores document; pre-filtering
    is the named fix).

    Physical: the filter predicate makes the self-join an EQUI-join
    hash-partitioned on label — candidate pairs are bounded per
    label group, never corpus-wide, and the plan contains no
    cartesian/nested-loop node (pinned in tests/test_plans.py). The
    oracle mirrors the exact same algebra in SQL (list_dot_product +
    the label equi-join), so the value hash proves the filtered
    ranking end-to-end. At 100 TB: partition the stored index by the
    filter column and each query probes one partition; inside a huge
    group, compose with the SRP/IVF bucket probe (v2/v3) unchanged —
    the filter join and the bucket join stack."""
    from cellphe_data_pipeline_spark.operators.similarity import (
        cosine_topk_filtered,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_filtered(e, "label", k=3)


@register(
    "e34_streaming_kmv_distinct",
    """
    SELECT o_orderpriority AS tag,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           TRUE AS ok_stream_equals_rescan,
           TRUE AS ok_estimate_bound,
           TRUE AS ok_exactly_once,
           TRUE AS ok_bounded_state
    FROM orders GROUP BY o_orderpriority
    """,
)
def e34(spark, sf_dir):
    """§2.11 streaming DISTINCT-COUNT via stored KMV sketches (r15;
    tracker.kmv_distinct_apply_batch) — the streaming aggregate
    whose exact form needs UNBOUNDED state (every distinct key seen),
    solved the way production streams solve it: per-batch bottom-k
    sketches folded into a stored sketch table, state capped at
    k·tags rows however long the stream runs (ok_bounded_state,
    asserted). Three ordered micro-batches of (priority, custkey)
    rows drain through foreachBatch; each batch sketches its keys and
    merges via the kmv_merge semilattice into the snapshot-committed
    store.

    The semilattice is what makes this gate-checkable: bottom-k
    merging is associative/commutative/idempotent, so the STREAMED
    store is hash-identical to a one-shot batch sketch of the same
    rows (ok_stream_equals_rescan — multiset-compared via exceptAll
    both ways; unseeded md5 keys make it deterministic at every SF).
    Exactly-once both legs in-query: 3/0 commits on the first drain,
    0/3 refusals on a fresh-checkpoint replay with the snapshot id
    unchanged (ok_exactly_once). Per-tag estimates from the stored
    sketch sit inside the standard KMV bound around the EXACT
    distinct counts (ok_estimate_bound), and the exact counts are
    what the oracle recomputes — the estimate audits the sketch, the
    oracle audits the engine.

    At 100 TB: per-batch cost is one distinct shuffle over the BATCH
    plus a k·tags-row merge; the sketch table answers any later
    union/intersection (a28/a29/a30 algebra) at O(k) without
    touching the stream's history. Completes the streaming sketch
    family: e11 count-min (frequency), e19 moment profiles, e34
    distinct cardinality."""
    import os

    from cellphe_data_pipeline_spark.operators.aggregates import (
        kmv_check_format,
        kmv_sketch,
        kmv_theta,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_current,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        drain_batches,
        kmv_distinct_apply_batch,
    )

    k = 512
    root = _stage_dir("e34_kmv_stream")
    table = os.path.join(root, "sketches")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("tag"),
        F.col("o_custkey").alias("key"),
        "o_orderkey",
    )
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]  # bounded
    c = (mx + 3) // 3
    parts = [
        orders.filter(
            (F.col("o_orderkey") >= c * i)
            & (F.col("o_orderkey") < (c * (i + 1) if i < 2 else mx + 1))
        ).select("tag", "key")
        for i in range(3)
    ]
    staged = _stage_ordered_batches(parts, "e34_batches")

    def sketch_drain(ckpt):
        with session_confs(spark, DRAIN_CONFS):
            return drain_batches(
                spark, parts[0].schema, staged, os.path.join(root, ckpt),
                lambda b, bid: kmv_distinct_apply_batch(
                    spark, table, "key", "tag", b, bid, k=k
                ),
                "e34_streaming_kmv_distinct",
            )

    results = sketch_drain("ckpt")
    assert results == [True, True, True], results
    sid = snapshot_current(table)

    # replay leg: fresh checkpoint, same batches — all refused
    results = sketch_drain("ckpt_replay")
    assert results == [False, False, False], results
    assert snapshot_current(table) == sid

    stored = kmv_check_format(snapshot_read(spark, table, sid))
    direct = kmv_sketch(orders.select("tag", "key"), "key", "tag", k=k)
    mism = (
        stored.exceptAll(direct).unionAll(direct.exceptAll(stored)).count()
    )
    assert mism == 0, mism

    # per-tag estimate vs exact, inside the KMV bound (bounded
    # collects: sketch-sized and tag-count-sized)
    est = {
        r["tag"]: (
            float(r["m"])
            if r["m"] < k
            else float(k - 1) / (r["hmax"] / float(2**60))
        )
        for r in stored.groupBy("tag")
        .agg(F.count(F.lit(1)).alias("m"), F.max("h").alias("hmax"))
        .collect()
    }
    exact = (
        orders.groupBy("tag")
        .agg(F.count_distinct("key").alias("n_distinct"))
    )
    for r in exact.collect():
        bound = 4.0 * r["n_distinct"] / (k - 1) ** 0.5
        assert abs(est[r["tag"]] - r["n_distinct"]) <= bound, (
            r["tag"], est[r["tag"]], r["n_distinct"],
        )
    n_tags = exact.count()
    assert stored.count() <= k * n_tags  # state cap

    return exact.select(
        "tag",
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        F.lit(True).alias("ok_stream_equals_rescan"),
        F.lit(True).alias("ok_estimate_bound"),
        F.lit(True).alias("ok_exactly_once"),
        F.lit(True).alias("ok_bounded_state"),
    )


# o27's range layouts sample their boundaries with Spark's RangePartitioner
# sketch, whose reservoir seed depends on the RDD id, so the 16 file
# boundaries (and how many files a probe skips) changed from run to run.
# A per-partition hint this large makes the sketch's sample Spark's 1M-row
# cap, so every input partition holding fewer than 3M / n_partitions rows
# is kept whole and the boundaries are a function of the data alone.
O27_LAYOUT_CONFS = {
    "spark.sql.execution.rangeExchange.sampleSizePerPartition": "1000000"
}


def _o27_layouts(spark, sf_dir, root):
    """o27's two 16-file layouts of a lineitem slice under ``root``:
    ``"z"`` (range-partitioned by the z-key of the rank-normalised
    l_orderkey and l_partkey) and ``"linear"`` (by l_orderkey). Each is a
    committed snapshot table with per-file [min, max] stats for both
    columns; returns the slice, its (orderkey, partkey) bounds and
    ``{name: (table, n_files, stats)}``."""
    import os

    from urllib.parse import urlparse

    from cellphe_data_pipeline_spark.operators.scale import (
        file_key_stats,
        zorder_key,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_data_files,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag", "l_quantity"
    )
    row = li.agg(
        F.min("l_orderkey").alias("omn"), F.max("l_orderkey").alias("omx"),
        F.min("l_partkey").alias("pmn"), F.max("l_partkey").alias("pmx"),
    ).collect()[0]  # bounded: 1 row
    omn, omx, pmn, pmx = row["omn"], row["omx"], row["pmn"], row["pmx"]
    bits = 10
    top = (1 << bits) - 1
    x = ((F.col("l_orderkey") - omn) * top / max(omx - omn, 1)).cast("bigint")
    y = ((F.col("l_partkey") - pmn) * top / max(pmx - pmn, 1)).cast("bigint")

    def publish(df, name):
        table = os.path.join(root, name)
        d = os.path.join(table, "data", "s1")
        with session_confs(spark, O27_LAYOUT_CONFS):
            df.repartitionByRange(16, F.col("_z")).drop(
                "_z"
            ).write.mode("overwrite").parquet(d)
        files = snapshot_data_files(d)
        stats = {}
        for col in ("l_orderkey", "l_partkey"):
            stats[col] = {
                urlparse(r["file"]).path: [r["min_v"], r["max_v"]]
                for r in file_key_stats(spark, files, col).collect()
            }
        snapshot_commit_sharded(table, 0, files, stats=stats)
        return table, len(files), stats

    layouts = {
        "z": publish(li.withColumn("_z", zorder_key(x, y, bits=bits)), "z"),
        "linear": publish(li.withColumn("_z", F.col("l_orderkey")), "linear"),
    }
    return li, (omn, omx, pmn, pmx), layouts


@register(
    "o27_zorder_table",
    """
    WITH b AS (SELECT MIN(l_partkey) AS mn, MAX(l_partkey) AS mx
               FROM lineitem)
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           TRUE AS ok_prune_both_dims,
           TRUE AS ok_zorder_beats_linear,
           TRUE AS ok_superset_admit_exact
    FROM lineitem, b
    WHERE l_partkey >= mn + (mx - mn) // 8
      AND l_partkey <= mn + (mx - mn) // 4
    GROUP BY l_returnflag
    """,
)
def o27(spark, sf_dir):
    """Z-ORDER CLUSTERED TABLE with two-dimensional data skipping
    (r15; scale.zorder_key + the snapshot stats tier, end-to-end) —
    o7 computes the Morton keys; this PUBLISHES a table in z-key
    ranges and proves the skipping claim against the manifest, the
    way Delta/Iceberg OPTIMIZE ZORDER users consume it. Two layouts
    of the same lineitem slice, 16 files each, per-file [min,max]
    committed for BOTH l_orderkey and l_partkey (the o19 writer-pays
    contract):

      - LINEAR: range-partitioned by l_orderkey alone — tight stats
        on that column, arbitrary on the other;
      - Z-ORDER: range-partitioned by the bit-interleaved z-key of
        the two rank-normalized columns.

    Asserted in-query via snapshot_read_pruned's kept/skipped lists:
      - ok_prune_both_dims: on the z-layout, a quarter-range probe on
        EITHER column skips at least half the files — one layout
        serves both predicate families;
      - ok_zorder_beats_linear: on the SECONDARY column the linear
        layout skips (essentially) nothing while the z-layout skips
        ≥ half — the measured reason ZORDER exists;
      - ok_superset_admit_exact: the pruned read + residual predicate
        returns exactly the full-scan answer (stats are an
        optimization, never a correctness gate).

    The rollup answers from the z-layout's PRUNED read with the
    residual filter applied; the oracle recomputes from raw lineitem
    with the same integer-arithmetic range. At 100 TB: a z-ordered
    maintenance rewrite (the compaction cadence o15/o23 already run)
    turns every two-column dashboard/lookup family from full scans
    into O(matching files) reads — data layout as an optimizer
    surface, no index structure to maintain."""
    from cellphe_data_pipeline_spark.sources.io import snapshot_read_pruned

    li, (omn, omx, pmn, pmx), layouts = _o27_layouts(
        spark, sf_dir, _stage_dir("o27_zorder")
    )
    (ztab, zn, _), (ltab, ln, _) = layouts["z"], layouts["linear"]

    def probe(table, col, lo, hi):
        df, info = snapshot_read_pruned(spark, table, 1, col, lo, hi)
        return df.filter((F.col(col) >= lo) & (F.col(col) <= hi)), info

    o_lo, o_hi = omn + (omx - omn) // 8, omn + (omx - omn) // 4
    p_lo, p_hi = pmn + (pmx - pmn) // 8, pmn + (pmx - pmn) // 4

    # z-layout: BOTH dims prune at least half the files
    _, z_o = probe(ztab, "l_orderkey", o_lo, o_hi)
    zp_df, z_p = probe(ztab, "l_partkey", p_lo, p_hi)
    assert len(z_o["skipped"]) >= zn // 2, z_o
    assert len(z_p["skipped"]) >= zn // 2, z_p

    # linear layout: primary prunes hard, secondary barely at all —
    # and the z-layout strictly beats it on the secondary column
    _, l_o = probe(ltab, "l_orderkey", o_lo, o_hi)
    _, l_p = probe(ltab, "l_partkey", p_lo, p_hi)
    assert len(l_o["skipped"]) >= ln // 2, l_o
    assert len(z_p["skipped"]) > len(l_p["skipped"]), (z_p, l_p)

    # superset-admit exactness: pruned+residual == full-scan answer
    full = li.filter(
        (F.col("l_partkey") >= p_lo) & (F.col("l_partkey") <= p_hi)
    )
    assert zp_df.count() == full.count()

    return zp_df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
    ).select(
        "l_returnflag", "n", "sum_qty",
        F.lit(True).alias("ok_prune_both_dims"),
        F.lit(True).alias("ok_zorder_beats_linear"),
        F.lit(True).alias("ok_superset_admit_exact"),
    )


@register(
    "o28_mor_cdc",
    """
    SELECT CAST(1 AS INT) AS step, 'insert' AS change_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS ok_fold_feed_empty,
           TRUE AS ok_mv_matches_direct,
           TRUE AS ok_resurrect_feed
    FROM orders WHERE o_orderkey % 11 = 5
    UNION ALL
    SELECT CAST(2 AS INT), 'delete', COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
           TRUE, TRUE, TRUE
    FROM orders WHERE o_orderkey % 9 = 1
    """,
)
def o28(spark, sf_dir):
    """CDC over MOR deletes (r15; io.snapshot_changes, mask-aware) —
    closing the trade the r14 MOR tier recorded in writing: "a
    delete-file-only commit is a metadata change [the CDC feed]
    reports as empty", which would let every incremental-MV consumer
    keep serving tombstoned rows forever. The feed is now the diff of
    the snapshots' MOR VIEWS: file-diff sides are masked by their own
    snapshot's delete files, and a tombstone VALUE delta turns
    shared-file rows into delete/insert changes with full row values
    (what MV consumers need — Iceberg's changelog scan pays the same
    read for the same reason).

    Four-commit lifecycle, each feed's shape asserted in-query:
      - append commit → feed is pure inserts, computed from the
        manifest diff alone (removed list empty);
      - tombstone commit (keys ≡ 1 mod 9) → feed is DELETE rows
        CARRYING VALUES (the oracle sums the deleted rows'
        o_totalprice — the value hash proves the feed read the right
        rows), produced by one broadcast semi-join scan of shared
        files, info names the delta column;
      - fold commit → feed EMPTY (ok_fold_feed_empty): the fold
        materializes the masks into rewritten files, so the MOR view
        is unchanged and the mask-aware diff says so — consumers skip
        maintenance commits with zero re-diff;
      - rollback to the pre-delete snapshot → feed emits the
        tombstoned rows back as INSERTS (ok_resurrect_feed): the
        resurrected-visibility direction of the same delta.
    Then the MV contract end-to-end (ok_mv_matches_direct): base rows
    + insert feed − delete feed == the direct MOR read, compared as
    multisets.

    Output: per-step change summaries (steps 1-2; steps 3-4 assert
    structurally). At 100 TB: appends stay metadata-only CDC, a
    takedown's feed costs one masked scan of shared files bounded by
    broadcast key sets, and maintenance folds cost consumers
    nothing."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_apply_deletes,
        snapshot_changes,
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_read,
        snapshot_rollback,
    )

    table = _stage_dir("o28_mor_cdc")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    d = os.path.join(table, "data", "base")
    orders.repartition(4).write.mode("overwrite").parquet(d)
    snapshot_commit_sharded(table, 0, snapshot_data_files(d))

    appended = orders.filter(F.col("o_orderkey") % 11 == 5).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        "o_orderpriority",
        "o_totalprice",
    )
    d2 = os.path.join(table, "data", "b2")
    appended.write.mode("overwrite").parquet(d2)
    snapshot_commit_sharded(
        table, 1, snapshot_data_files(d2)
    )  # -> snapshot 2

    takedown = orders.filter(F.col("o_orderkey") % 9 == 1).select(
        "o_orderkey"
    )
    snapshot_delete_keys(spark, table, "o_orderkey", takedown)  # -> 3

    cols = ["o_orderpriority", "o_totalprice"]
    f1, i1 = snapshot_changes(spark, table, 1, 2, "o_orderkey", cols)
    assert i1["removed"] == [] and not i1["delete_delta_cols"], i1

    f2, i2 = snapshot_changes(spark, table, 2, 3, "o_orderkey", cols)
    assert i2["delete_delta_cols"] == ["o_orderkey"], i2
    assert i2["removed"] == [] and i2["added"] == [], i2

    # rollback to the pre-delete snapshot: ZERO file changes, masks
    # only — the tombstoned rows come back as inserts through the
    # resurrect direction of the value delta
    rid = snapshot_rollback(table, 2)  # -> 4
    f4, i4 = snapshot_changes(spark, table, 3, rid, "o_orderkey", cols)
    assert i4["removed"] == [] and i4["added"] == [], i4
    res = f4.groupBy("change_type").count().collect()
    assert {r["change_type"] for r in res} == {"insert"}, res
    assert res[0]["count"] == takedown.count()

    # re-delete, then FOLD: the maintenance commit's feed is empty
    snapshot_delete_keys(spark, table, "o_orderkey", takedown)  # -> 5
    snapshot_apply_deletes(spark, table)  # -> 6
    f5, _ = snapshot_changes(spark, table, 5, 6, "o_orderkey", cols)
    assert f5.count() == 0, "fold must be invisible to CDC consumers"

    # MV contract: base + inserts - deletes == direct MOR read at 3
    base = snapshot_read(spark, table, 1)
    ins = f1.filter(F.col("change_type") == "insert").select(
        "o_orderkey", *cols
    )
    dels = f2.filter(F.col("change_type") == "delete").select(
        "o_orderkey"
    )
    mv = base.unionByName(ins).join(
        F.broadcast(dels), "o_orderkey", "left_anti"
    )
    direct = snapshot_read(spark, table, 3)
    assert (
        mv.exceptAll(direct).unionAll(direct.exceptAll(mv)).count() == 0
    )

    def summarize(step, feed, ct):
        return feed.filter(F.col("change_type") == ct).agg(
            F.lit(step).cast("int").alias("step"),
            F.lit(ct).alias("change_type"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )

    return (
        summarize(1, f1, "insert")
        .unionByName(summarize(2, f2, "delete"))
        .select(
            "step", "change_type", "n", "sum_price",
            F.lit(True).alias("ok_fold_feed_empty"),
            F.lit(True).alias("ok_mv_matches_direct"),
            F.lit(True).alias("ok_resurrect_feed"),
        )
    )


@register(
    "s29_partition_evolution",
    """
    WITH b AS (SELECT MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx
               FROM orders)
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS ok_old_layout_prunes_old_col,
           TRUE AS ok_new_layout_prunes_new_col,
           TRUE AS ok_cross_layout_superset_admit,
           TRUE AS ok_rewrite_completes_evolution
    FROM orders, b
    WHERE o_orderkey <= mn + (mx - mn) // 4
    GROUP BY o_orderpriority
    """,
)
def s29(spark, sf_dir):
    """PARTITION-SPEC EVOLUTION (r15) — Iceberg's marquee table-format
    claim ("change the partition layout without rewriting old data",
    spec §"Partition Evolution", public), realized here the
    stats-first way: because every reader prunes from PER-FILE
    [min,max] bounds rather than from path-encoded partition values,
    files written under DIFFERENT layouts coexist in one table and
    each is pruned by whatever bounds its writer recorded — layout is
    a write-side optimization, never a read-side contract.

    Lifecycle, each phase asserted against the pruned reader's
    kept/skipped lists:
      - spec v1 writes one file per o_orderpriority (string bounds on
        the priority column — lexicographic zone maps, the s28
        machinery);
      - spec v2 appends range-shards on o_orderkey (int bounds);
      - MIXED reads: a priority probe skips exactly the v1 files of
        other priorities (ok_old_layout_prunes_old_col) while
        ADMITTING every v2 file (no priority bounds — superset-admit,
        ok_cross_layout_superset_admit: stats never gate
        correctness); an orderkey probe prunes v2 and admits v1
        (ok_new_layout_prunes_new_col) — exactly Iceberg's documented
        semantics that pre-evolution data answers new-spec queries by
        scan, not by error;
      - a maintenance REWRITE re-sorts the v1 files under v2's layout
        with bounds on BOTH columns, after which the orderkey probe
        prunes the whole table (ok_rewrite_completes_evolution) — the
        migration is a compaction-cadence rewrite, amortized, never a
        blocking table rewrite at ALTER time.

    The rollup answers from the post-rewrite pruned read (+residual);
    the oracle recomputes from raw orders. At 100 TB: an ALTER of the
    partition spec is a metadata decision that costs zero data I/O;
    old files keep answering, and each compaction pass migrates what
    it touches."""
    import os

    from urllib.parse import urlparse

    from cellphe_data_pipeline_spark.operators.scale import file_key_stats
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_read_pruned,
    )

    table = _stage_dir("s29_evolution")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    row = orders.agg(
        F.min("o_orderkey").alias("mn"), F.max("o_orderkey").alias("mx")
    ).collect()[0]  # bounded
    mn, mx = row["mn"], row["mx"]
    half = mn + (mx - mn) // 2

    def stats_for(files, cols):
        out = {}
        for col in cols:
            out[col] = {
                urlparse(r["file"]).path: [r["min_v"], r["max_v"]]
                for r in file_key_stats(spark, files, col).collect()
            }
        return out

    # spec v1: one file per priority, bounds on the priority string.
    # Only the FIRST HALF of the key range lands under v1 — the rest
    # arrives after the spec change, the evolution timeline.
    v1 = orders.filter(F.col("o_orderkey") <= half)
    prios = sorted(
        r["o_orderpriority"]
        for r in orders.select("o_orderpriority").distinct().collect()
    )  # bounded: 5 values
    v1_files: dict[str, list] = {}
    parent = 0
    for p in prios:
        d = os.path.join(table, "data", f"v1_{p.split('-')[0]}")
        v1.filter(F.col("o_orderpriority") == p).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        files = snapshot_data_files(d)
        v1_files[p] = files
        parent, _ = snapshot_commit_sharded(
            table, parent, files, stats=stats_for(files, ["o_orderpriority"])
        )
    all_v1 = [fp for fps in v1_files.values() for fp in fps]

    # spec v2: range shards on o_orderkey for the second half
    v2 = orders.filter(F.col("o_orderkey") > half)
    cuts = [half + ((mx - half + 4) // 4) * i for i in range(4)] + [mx + 1]
    v2_all: list = []
    for i in range(4):
        d = os.path.join(table, "data", f"v2_s{i}")
        v2.filter(
            (F.col("o_orderkey") > cuts[i] if i == 0 else F.col("o_orderkey") >= cuts[i])
            & (F.col("o_orderkey") < cuts[i + 1])
        ).coalesce(1).write.mode("overwrite").parquet(d)
        files = snapshot_data_files(d)
        st = stats_for(files, ["o_orderkey"])
        if not st["o_orderkey"]:
            continue  # empty range shard (sparse keys): nothing to commit
        v2_all.extend(files)
        parent, _ = snapshot_commit_sharded(table, parent, files, stats=st)

    # MIXED reads — assert on the KEPT set, which is prune-level
    # agnostic (non-matching v1 commits are skipped at the SHARD
    # level here, so their files never even appear in the skipped
    # list — the manifest-list unlisting that makes prune I/O
    # O(admitted shards))
    probe_p = prios[0]
    _, ip = snapshot_read_pruned(
        spark, table, parent, "o_orderpriority", probe_p, probe_p
    )
    # exactly: the probe priority's v1 file + every v2 file
    # (superset-admit — v2 has no priority bounds)
    assert set(ip["kept"]) == set(v1_files[probe_p]) | set(v2_all), ip

    k_hi = mn + (mx - mn) // 4
    _, ik = snapshot_read_pruned(
        spark, table, parent, "o_orderkey", mn, k_hi
    )
    # probe range is inside the v1 half: every v2 shard pruned,
    # every v1 file admitted (no orderkey bounds under spec v1)
    assert set(ik["kept"]) == set(all_v1), ik

    # maintenance rewrite: migrate the v1 files to spec v2 layout
    # with bounds on BOTH columns — removed by path, added re-sorted
    mig = os.path.join(table, "data", "migrated")
    spark.read.parquet(*all_v1).repartitionByRange(
        4, F.col("o_orderkey")
    ).sortWithinPartitions("o_orderkey").write.mode("overwrite").parquet(mig)
    mig_files = snapshot_data_files(mig)
    parent, _ = snapshot_commit_sharded(
        table,
        parent,
        mig_files,
        removed_files=all_v1,
        stats=stats_for(mig_files, ["o_orderkey", "o_orderpriority"]),
    )
    pruned, ik2 = snapshot_read_pruned(
        spark, table, snapshot_current(table), "o_orderkey", mn, k_hi
    )
    # post-rewrite: the whole table prunes on the new column — kept
    # is a strict subset of the migrated shards, zero v2 files open
    assert set(ik2["kept"]) <= set(mig_files), ik2
    assert len(ik2["kept"]) < len(mig_files), ik2

    return pruned.filter(F.col("o_orderkey") <= k_hi).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    ).select(
        "o_orderpriority", "n", "sum_price",
        F.lit(True).alias("ok_old_layout_prunes_old_col"),
        F.lit(True).alias("ok_new_layout_prunes_new_col"),
        F.lit(True).alias("ok_cross_layout_superset_admit"),
        F.lit(True).alias("ok_rewrite_completes_evolution"),
    )


@register(
    "o29_bloom_point_lookup",
    """
    WITH c AS (SELECT o_custkey, COUNT(*) AS cnt FROM orders
               GROUP BY o_custkey),
    m AS (SELECT MIN(cnt) AS mncnt FROM c),
    pick AS (SELECT MIN(o_custkey) AS ck FROM c, m WHERE cnt = mncnt)
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS ok_zonemap_cannot_prune,
           TRUE AS ok_bloom_prunes,
           TRUE AS ok_no_false_negative
    FROM orders, pick WHERE o_custkey = ck
    GROUP BY o_orderpriority
    """,
)
def o29(spark, sf_dir):
    """FILE-LEVEL BLOOM INDEX point lookup (r15; scale.
    build_file_blooms / bloom_admits) — the secondary-index half of
    data skipping, the gap zone maps leave open: the table's layout
    is range-sharded by o_orderkey (the primary access path), so a
    point lookup on o_custkey — hash-scattered across every shard —
    intersects every file's [min,max] and the zone-map reader prunes
    NOTHING (ok_zonemap_cannot_prune, asserted: skipped list empty).
    A per-file Bloom over the column's distinct values, committed
    into the manifest at write time (Iceberg/Delta file-level bloom
    indexes; parquet embeds the same structure per row group), turns
    the same lookup into a metadata test:

      - ok_bloom_prunes: ≥ half the files are skipped without
        opening (false-positive rate at the committed m=2^17, k=5 is
        a few percent at gate scale);
      - ok_no_false_negative: the admitted set contains every file
        that truly holds the key — Blooms err ONLY toward admission,
        and a file with no bloom recorded is admitted (the o19
        stats-never-gate-correctness contract, applied to indexes).

    The probe key is the smallest single-order customer (computed
    identically in the oracle), so the lookup is a genuine
    needle-in-one-file. The rollup answers from the bloom-admitted
    read with the residual predicate; the oracle recomputes from raw
    orders. At 100 TB: the bloom build rides the committing writer's
    stream (parquet's own bloom write path — the driver-side fold
    here is the gate-scale miniature, documented in the operator),
    costs m/8 bytes per file in the manifest, and converts
    point-lookup families on ANY column into O(matching files) reads
    without re-laying-out the table — the index complements z-order
    (o27), which serves range families."""
    import os

    from cellphe_data_pipeline_spark.operators.scale import (
        bloom_admits,
        build_file_blooms,
        file_key_stats,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_manifest,
        snapshot_read_pruned,
    )
    from urllib.parse import urlparse

    table = _stage_dir("o29_bloom")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    d = os.path.join(table, "data", "s1")
    orders.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
        "o_orderkey"
    ).write.mode("overwrite").parquet(d)
    files = snapshot_data_files(d)
    stats = {
        "o_custkey": {
            urlparse(r["file"]).path: [r["min_v"], r["max_v"]]
            for r in file_key_stats(spark, files, "o_custkey").collect()
        }
    }
    bloom = build_file_blooms(spark, files, "o_custkey")
    snapshot_commit_sharded(
        table, 0, files, stats=stats, extra={"bloom_o_custkey": bloom}
    )

    # the probe: the fewest-orders customer, smallest key on ties —
    # deterministic at every SF and computed identically in the
    # oracle (a needle touching the fewest possible files)
    counts = orders.groupBy("o_custkey").count()
    mncnt = counts.agg(F.min("count")).collect()[0][0]  # bounded
    ck = (
        counts.filter(F.col("count") == mncnt)
        .agg(F.min("o_custkey"))
        .collect()[0][0]
    )  # bounded: 1 row

    # zone maps can't prune a scattered point key under this layout
    _, zinfo = snapshot_read_pruned(
        spark, table, 1, "o_custkey", ck, ck
    )
    assert zinfo["skipped"] == [], zinfo

    # the files that truly hold the key (for the skip bound below)
    truth = {
        urlparse(r["file"]).path
        for r in orders.filter(F.col("o_custkey") == ck)
        .join(
            spark.read.parquet(*files).select(
                F.col("_metadata.file_path").alias("file"), "o_orderkey"
            ),
            "o_orderkey",
        )
        .select("file")
        .distinct()
        .collect()  # bounded: the probe key's files
    }

    # the bloom can: metadata-only admit test per file. At least
    # half of the truly-skippable files must skip (false positives
    # bounded), and no false negative is ever allowed.
    doc = snapshot_manifest(table, 1)["bloom_o_custkey"]
    kept = [fp for fp in files if bloom_admits(doc, fp, ck)]
    skipped = sorted(set(files) - set(kept))
    skippable = len(files) - len(truth)
    assert len(skipped) >= max(1, skippable // 2), (skipped, truth)
    assert truth <= set(kept), (truth, kept)

    return (
        spark.read.parquet(*kept)
        .filter(F.col("o_custkey") == ck)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .select(
            "o_orderpriority", "n", "sum_price",
            F.lit(True).alias("ok_zonemap_cannot_prune"),
            F.lit(True).alias("ok_bloom_prunes"),
            F.lit(True).alias("ok_no_false_negative"),
        )
    )


@register(
    "e35_streaming_cdc_apply",
    """
    WITH base AS (SELECT o_orderkey AS k, o_orderpriority, o_totalprice
                  FROM orders),
    final AS (
      SELECT k, o_orderpriority,
             CASE WHEN k % 9 = 4 THEN o_totalprice + 1000
                  ELSE o_totalprice END AS price
      FROM base
      WHERE (k % 3 = 0 AND (k % 6 <> 0 OR k % 12 = 0)) OR k % 3 = 1
    )
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price,
           TRUE AS ok_exactly_once,
           TRUE AS ok_update_via_cow,
           TRUE AS ok_reinsert_untombstones
    FROM final GROUP BY o_orderpriority
    """,
)
def e35(spark, sf_dir):
    """§2.11 streaming CDC-APPLY (r15; tracker.cdc_apply_batch via
    drain_batches) — the CONSUMER half of the
    change-data-feed story, closing the loop o28's MOR-aware feed
    opened: a change stream maintains a derived table, each change
    class routed to the cost-right primitive of the table format
    (the Delta CDF / Iceberg changelog consumer topology):

      - batch 1 bootstraps with inserts (keys ≡ 0 mod 3);
      - batch 2 inserts (≡ 1 mod 3) and DELETES (≡ 0 mod 6) — the
        deletes land as ONE MOR tombstone commit, O(keys);
      - batch 3 UPDATES (≡ 4 mod 9: price + 1000) as
        update_pre/update_post pairs — routed through the COW merge,
        because the snapshot-wide tombstone cannot express
        replace-in-place (the o24 decision record exercised at its
        boundary: ok_update_via_cow) — and RE-INSERTS previously
        deleted keys (≡ 0 mod 12), the delete-then-reinsert case
        every real CDC feed contains: old physical copies PURGE
        (scale.purge_rows_cow — without it, un-masking would
        resurrect the old row next to the new one, the double-row
        trap), the new rows ride the same value-watermarked append
        as every insert, and the keys UN-tombstone LAST
        (snapshot_undelete_keys, O(delete set), zero data files) —
        ok_reinsert_untombstones, asserted against the surviving
        delete sets. Every step is either value-watermarked from the
        feed or idempotent under replayed state, so crash replays at
        ANY step boundary re-apply only the missing work.

    Exactly-once PER STEP through the shared last_batch_ids map
    (writer ids cdc_merge/cdc_ins/cdc_del): the first drain commits
    merge×1, insert×3, delete×1; a fresh-checkpoint full replay
    applies NOTHING and leaves the snapshot id unchanged
    (ok_exactly_once, both legs asserted). The rollup answers from
    the final MOR read; the oracle recomputes the end state from raw
    orders. At 100 TB: feed-cadence cost is O(batch) for
    inserts/deletes, O(affected files) for updates; derived tables
    track takedowns at streaming latency."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_current,
        snapshot_manifest,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        cdc_apply_batch,
        drain_batches,
    )

    root = _stage_dir("e35_cdc_apply")
    table = os.path.join(root, "mv")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey"), "o_orderpriority", "o_totalprice"
    )
    k = F.col("o_orderkey")

    def tagged(df, ct):
        return df.select(
            "o_orderkey",
            F.lit(ct).alias("change_type"),
            "o_orderpriority",
            "o_totalprice",
        )

    b1 = tagged(orders.filter(k % 3 == 0), "insert")
    b2 = tagged(orders.filter(k % 3 == 1), "insert").unionByName(
        tagged(orders.filter(k % 6 == 0), "delete")
    )
    upd = orders.filter(k % 9 == 4)
    b3 = (
        tagged(upd, "update_pre")
        .unionByName(
            tagged(
                upd.withColumn(
                    "o_totalprice", F.col("o_totalprice") + 1000
                ),
                "update_post",
            )
        )
        .unionByName(tagged(orders.filter(k % 12 == 0), "insert"))
    )
    staged = _stage_ordered_batches([b1, b2, b3], "e35_batches")

    def cdc_drain(ckpt):
        with session_confs(spark, DRAIN_CONFS):
            results = drain_batches(
                spark, b1.schema, staged, os.path.join(root, ckpt),
                lambda b, bid: cdc_apply_batch(
                    spark, table, "o_orderkey", b, bid
                ),
                "e35_streaming_cdc_apply",
            )
        steps = ("merged", "purged", "inserted", "deleted", "undeleted")
        return {"batches": len(results)} | {
            step: sum(int(r[step]) for r in results) for step in steps
        }

    counts = cdc_drain("ckpt")
    assert counts == {
        "batches": 3, "merged": 1, "purged": 1,
        "inserted": 3, "deleted": 1, "undeleted": 1,
    }, counts
    sid = snapshot_current(table)

    # the re-insert un-tombstoned exactly the k%12 keys: surviving
    # delete sets hold (k%6==0) minus (k%12==0), i.e. k%12==6
    dels = snapshot_manifest(table, sid).get("delete_files", [])
    assert dels, "tombstones must remain for the never-reinserted keys"
    masked = spark.read.parquet(
        *[p for d in dels for p in d["paths"]]
    ).select("o_orderkey")
    n_exp = orders.filter(k % 12 == 6).count()
    assert masked.count() == n_exp, (masked.count(), n_exp)

    # replay leg: fresh checkpoint, same batches — nothing applies
    counts2 = cdc_drain("ckpt_replay")
    assert counts2 == {
        "batches": 3, "merged": 0, "purged": 0,
        "inserted": 0, "deleted": 0, "undeleted": 0,
    }, counts2
    assert snapshot_current(table) == sid

    return snapshot_read(spark, table, sid).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    ).select(
        "o_orderpriority", "n", "sum_price",
        F.lit(True).alias("ok_exactly_once"),
        F.lit(True).alias("ok_update_via_cow"),
        F.lit(True).alias("ok_reinsert_untombstones"),
    )


@register(
    "o30_merge_metadata_prune",
    """
    WITH cut AS (SELECT (MAX(o_orderkey) + 6) // 6 AS c FROM orders)
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(
             CASE WHEN o_orderkey >= 2 * c AND o_orderkey < 3 * c
                       AND o_orderkey % 4 = 1
                  THEN o_totalprice + 500 ELSE o_totalprice END
             AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           TRUE AS ok_metadata_only_prune,
           TRUE AS ok_candidates_one_slice,
           TRUE AS ok_untouched_reused
    FROM orders, cut GROUP BY o_orderpriority
    """,
)
def o30(spark, sf_dir):
    """MERGE with METADATA-ONLY candidate pruning (r15;
    scale.merge_rows_cow(use_manifest_stats=True)) — closing the
    trade o17's protocol step 1 recorded in writing since r11 ("at
    cluster scale the stats are written INTO the manifest at commit
    time so pruning is a metadata-only operation"): the candidate
    detection now consults the COMMITTED per-file [min,max] bounds
    instead of rescanning the merge key column, so a correction
    batch's prune costs manifest JSON, not a table-wide column scan —
    at 100 TB the difference between O(manifest) and O(table) per
    merge. Shipped as an opt-in proven by THIS query (the sanctioned
    e32-then-c24 pattern: every existing merge caller keeps its
    byte-identical path and its recorded proof; the flag's flip is
    an r16 re-proof decision).

    Driven on the 6-slice range-sharded orders table (per-file
    o_orderkey bounds committed at write, the o19 writer-pays
    contract): a price restatement for keys ≡ 1 mod 4 INSIDE slice 3
    merges with use_manifest_stats=True, and the info contract
    asserts all three facts in-query:
      - ok_metadata_only_prune: every base file's bounds came from
        the manifest, ZERO files re-scanned for stats
        (stats_from_manifest == 12, stats_recomputed == 0);
      - ok_candidates_one_slice: the hit list is exactly slice 3's
        files (bounds admit only the slice whose range the delta
        touches);
      - ok_untouched_reused: the other five slices' files are reused
        by path in the committed snapshot.
    The rollup answers from the merged table; the oracle recomputes
    the restatement from raw orders."""
    from cellphe_data_pipeline_spark.operators.scale import merge_rows_cow
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_files,
        snapshot_read,
    )

    table = _stage_dir("o30_merge_meta")
    orders, c, slice_files = _build_range_sharded_orders(
        spark, sf_dir, table
    )

    delta = orders.filter(
        (F.col("o_orderkey") >= 2 * c)
        & (F.col("o_orderkey") < 3 * c)
        & (F.col("o_orderkey") % 4 == 1)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 500)

    nid, info = merge_rows_cow(
        spark,
        table,
        delta,
        key_col="o_orderkey",
        out_slice="restate",
        use_manifest_stats=True,
    )
    n_files = sum(len(v) for v in slice_files.values())
    assert info["stats_from_manifest"] == n_files, info
    assert info["stats_recomputed"] == 0, info
    assert sorted(info["hit_files"]) == sorted(slice_files[2]), info
    untouched = {
        fp for i, v in slice_files.items() if i != 2 for fp in v
    }
    assert untouched <= set(snapshot_files(table, nid)), info

    return snapshot_read(spark, table, nid).groupBy(
        "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    ).select(
        "o_orderpriority", "n", "sum_price",
        F.lit(True).alias("ok_metadata_only_prune"),
        F.lit(True).alias("ok_candidates_one_slice"),
        F.lit(True).alias("ok_untouched_reused"),
    )


@register(
    "a31_quantile_sample_lifecycle",
    """
    SELECT o_orderpriority AS tag,
           CAST(COUNT(*) AS BIGINT) AS n,
           MEDIAN(o_totalprice) AS exact_median,
           TRUE AS ok_merge_equals_rescan,
           TRUE AS ok_dkw_median,
           TRUE AS ok_dkw_p90,
           TRUE AS ok_bounded_state
    FROM orders GROUP BY o_orderpriority
    """,
)
def a31(spark, sf_dir):
    """MERGEABLE QUANTILE SAMPLE lifecycle (r15;
    aggregates.kmv_value_sample / kmv_sample_merge) — completing the
    stored-sketch trio: count-min answers FREQUENCY (t23/e11), KMV
    answers CARDINALITY (a28-a30/e34), this answers QUANTILES, with
    the same storable/mergeable/streamable shape. The sketch is the
    KMV bottom-k machinery carrying the VALUE column: the k rows with
    smallest md5(key) are a simple random sample without replacement
    (uniform hash over unique keys), so the sample's empirical CDF
    estimates ANY quantile with the distribution-free DKW bound
    sup|F_m − F| ≤ √(ln(2/δ)/2m) — an honest per-estimate error bar,
    where approx_percentile's accuracy knob is a rank guarantee with
    no stored, mergeable artifact (a16's audit covers that surface;
    this one is the STORED lifecycle).

    Lifecycle, asserted in-query at every SF (unseeded md5 makes the
    sample deterministic across runs and engines):
      - per-SEGMENT samples (o_orderkey % 4 within each priority)
        built once, STORED, read back (kmv_check_format guards the
        h schema), merged at O(k) per tag — merged equals a direct
        whole-corpus sample EXACTLY (bottom-k semilattice,
        exceptAll both ways: ok_merge_equals_rescan);
      - median and p90 estimated from the merged sample via the
        ceil(p·m)-th order statistic; each estimate's TRUE rank in
        the full data sits within ε + 5/m of p, ε at δ = 1e-6
        (ok_dkw_median / ok_dkw_p90 — exhaustive and exact below
        m = k, genuinely sampled above it);
      - state never exceeds k rows per segment (ok_bounded_state).

    The exact columns (n, exact MEDIAN — the a3 cross-engine-exact
    form) are the oracle's audit. At 100 TB: each segment pays one
    narrow shuffle at ingest; any later quantile over any segment
    subset is an O(k·segments) fold — percentile dashboards over a
    corpus without rescanning it, the quantile analogue of the a29
    stored-distinct story."""
    import math as _math
    import os

    from cellphe_data_pipeline_spark.operators.aggregates import (
        kmv_check_format,
        kmv_sample_merge,
        kmv_value_sample,
    )

    k = 2048
    root = _stage_dir("a31_qsample")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    seg = orders.select(
        F.concat_ws(
            "|", "o_orderpriority", (F.col("o_orderkey") % 4).cast("string")
        ).alias("seg_tag"),
        "o_orderkey",
        "o_totalprice",
    )
    store = os.path.join(root, "samples")
    kmv_value_sample(
        seg, "o_orderkey", "o_totalprice", "seg_tag", k=k
    ).write.parquet(store)

    stored = kmv_check_format(spark.read.parquet(store))
    assert (
        stored.groupBy("tag").count().agg(F.max("count")).collect()[0][0]
        <= k
    )  # bounded state, per segment
    by_prio = stored.select(
        F.split("tag", r"\|").getItem(0).alias("tag"), "h", "v"
    )
    merged = kmv_sample_merge(by_prio, k, keys=("tag",))

    tagged = orders.select(
        F.col("o_orderpriority").alias("tag"), "o_orderkey", "o_totalprice"
    )
    direct = kmv_value_sample(
        tagged, "o_orderkey", "o_totalprice", "tag", k=k
    )
    mism = (
        merged.exceptAll(direct).unionAll(direct.exceptAll(merged)).count()
    )
    assert mism == 0, mism

    # per-tag order-statistic estimates from the sketch-sized sample
    ests = {
        r["tag"]: (r["vals"], len(r["vals"]))
        for r in merged.groupBy("tag")
        .agg(F.sort_array(F.collect_list("v")).alias("vals"))
        .collect()  # bounded: ≤ k values per tag
    }
    exact_n = {
        r["tag"]: r["n"]
        for r in tagged.groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: one row per priority
    }
    checks = []
    for tag, (vals, m) in ests.items():
        eps = _math.sqrt(_math.log(2.0 / 1e-6) / (2.0 * m)) + 5.0 / m
        for p in (0.5, 0.9):
            est = vals[min(m - 1, _math.ceil(p * m) - 1)]
            checks.append((tag, p, est, eps))
    # one pass computes every estimate's true rank
    rank_exprs = [
        (
            F.sum(
                F.when(
                    (F.col("tag") == tag) & (F.col("o_totalprice") <= est),
                    1,
                ).otherwise(0)
            )
            / F.lit(exact_n[tag])
        ).alias(f"r_{i}")
        for i, (tag, p, est, eps) in enumerate(checks)
    ]
    ranks = tagged.agg(*rank_exprs).collect()[0]  # bounded: 1 row
    for i, (tag, p, est, eps) in enumerate(checks):
        assert abs(ranks[f"r_{i}"] - p) <= eps, (tag, p, ranks[f"r_{i}"], eps)

    return tagged.groupBy("tag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.median("o_totalprice").alias("exact_median"),
    ).select(
        "tag", "n", "exact_median",
        F.lit(True).alias("ok_merge_equals_rescan"),
        F.lit(True).alias("ok_dkw_median"),
        F.lit(True).alias("ok_dkw_p90"),
        F.lit(True).alias("ok_bounded_state"),
    )


# =====================================================================
# Driver correctness-window ordering
# =====================================================================
# The driver's CORRECTNESS gate samples the FIRST 50 registry entries
# (dict insertion order). The window ROTATES per round (r5 policy,
# formalising the r4 advisor's suggestion) by verification recency:
#   1. queries whose PHYSICAL PLAN or implementation changed without
#      a recent external proof (r8: the j10/j11 grid-family SHJ pins
#      from r7), then queries NEW this round (never driver-proven)
#      and this round's changed-code re-verifications;
#   2. then the least-recently-proven cohort (r8: the r04-proven 35
#      plus the oldest r05-proven members).
# Everything displaced is driver-proven in a recorded
# CORRECTNESS_r0N.json AND stays in the local 100%-coverage gate
# (scripts/verify_local.py); tests/test_registry.py enforces both the
# prefix order and the displaced-means-proven invariant mechanically.
_DRIVER_WINDOW_PRIORITY = [
    # =============== ROUND-15 WINDOW (queue + changed + rotation) =====
    # Composition per the r14 verdict asks #1 and #2 together:
    #   1. the 5-query _NEXT_WINDOW_QUEUE (r14 additions, never
    #      driver-proven — MUST-take first slots);
    #   2. the CHANGED-CODE re-proof cohort (13): every registered
    #      query whose ENGINE PATH changed this round —
    #      the 8 queries whose CC/closure loops switched from a
    #      constant loop partition count to edge-count sizing (ask #2: c24,
    #      g4, g4b, d7, d11, c21, c23, d18), a28 (sketch merge moved
    #      from an unpartitioned row_number window to the kmv_merge
    #      aggregate, ask #7), s23/s24 (snapshot_changes went
    #      MOR-aware — the delete-feed trade closed), s25
    #      (snapshot_rollback now re-states the target's full
    #      manifest body, advisor-low), s26 (snapshot_set_ref's tag
    #      guard went atomic, advisor-low);
    #   3. the full 31-query r9-proven cohort (the oldest debt —
    #      ledger recomputed from CORRECTNESS_r01-r14 this session,
    #      histogram r9x31 r10x48 r11x49 r12x50 r13x50 r14x50);
    #   4. the alphabetically-first r10-proven to fill 50.
    # 5 + 13 + 31 + 1 = 50. After this round the oldest cohort is
    # r10-proven (47 queries).
    #
    # Changed-code audit for r15 (what changed, and why everything
    # else keeps its proof): (a) _apply_delete_files now folds all
    # outstanding delete files into ONE broadcast anti-join per key
    # column — inert for every manifest without delete_files (plan
    # pin: bare scan unchanged), driver-proven via the queued
    # o24/e33; (b) snapshot_delete_keys gained a collision-free
    # delete dir + CAS retry and snapshot_apply_deletes gained the
    # empty-candidates short-circuit + fold-output stats recompute —
    # both paths are exercised ONLY by o24/e33 (queued) and the new
    # barrier stresses in test_ingest.py; (c) rollback/set_ref
    # changes re-prove via s25/s26 below; (d) kmv_sketch is UNCHANGED
    # (only its docstring grew the MOR-composition rule), kmv_merge/
    # kmv_check_format are new helpers used by a28 (below) and a29
    # (queued). All 16 queue+changed queries were locally
    # oracle-verified via scripts/verify_local.py this session before
    # taking window slots.
    #
    # The r14 queue (never driver-proven — MUST-take slots):
    "e32_streaming_corpus_full",
    "a29_kmv_segment_lifecycle",
    "s28_string_conjunctive_prune",
    "o24_mor_equality_delete",
    "e33_streaming_mor_takedown",
    # Changed-code re-proofs (alphabetical; s23/s24 joined late-round
    # when snapshot_changes went MOR-aware — both locally re-verified
    # after that change):
    "a28_kmv_intersect_audit",
    "c21_takedown_closure",
    "c23_leakage_safe_split",
    "c24_corpus_pipeline",
    "d7_dedup_clusters",
    "d11_quality_keep_list",
    "d18_best_representative",
    "g4_connected_components",
    "g4b_renumber_tracks",
    "s23_snapshot_changes",
    "s24_cdc_feed_replay",
    "s25_snapshot_rollback",
    "s26_snapshot_refs",
    # The full r9-proven cohort, oldest debt first (alphabetical):
    "e1_hourly_rollup",
    "e2_sessionize",
    "j12_aqe_skew_split",
    "j13_fuzzy_entity_join",
    "m4_static_features",
    "m6b_mask_contours",
    "mm7_image_phash_neardup",
    "o10_dpp_join",
    "o11_bloom_filtered_join",
    "o12_bucket_pruned_lookup",
    "s1_glob_scan",
    "s5_jpeg_gray",
    "s8b_trackmate_edges",
    "t4_token_counts",
    "t5_redact",
    "t6_repetition",
    "t9_zscore_outliers",
    "u3_u4_multi_concat",
    "u5_intersect_except",
    "v13_ivf_published",
    "v14_ivf_append",
    "v15_pq_published",
    "v1_cosine_topk",
    "v2_srp_topk",
    "v3_ivf_topk",
    "v4_probe_topk",
    "v7_int8_srp_topk",
    "w10_gap_fill",
    "w6_rank_lead_ntile",
    "w7_session_window",
    "w9_ewma",
    # The alphabetically-first r10-proven (fills to 50):
    "a16_approx_quantile_audit",
    # =============== end round-15 window ===============
    # r16 window plan (continuity note): lead with whatever
    # _NEXT_WINDOW_QUEUE holds at the r15 close (r15 additions, each
    # locally oracle-verified before queueing — 12 at close: the MOR
    # cadence/race/CDC trio o25/o26/o28, the sketch lifecycles
    # a30/e34/a31, v20 filtered ANN, o27 z-order, s29 partition
    # evolution, o29 bloom index, e35 CDC apply, o30 metadata-prune
    # merge), then the remaining
    # r10-proven queries (46 after this window re-proves c21/a16),
    # oldest first, to fill 50.
    # Prior-round windows (r1-r14) are recorded in git history and in
    # the CORRECTNESS_r0N.json artifacts; everything past slot 50
    # keeps its registration order and is driver-proven in a recorded
    # round (tests/test_registry.py enforces displaced-means-proven).
]

# Queries added THIS round, queued for the NEXT round's driver window
# (the r11 verdict's ask #1 sanctioned exactly this split: "New
# operators, if any, can land registry-only with local-gate + test
# proof and take r13 slots"). The displaced-means-proven invariant is
# RELAXED for these names only — tests/test_registry.py admits a
# never-driver-proven query outside the window iff it is listed here,
# keeps this queue small (it must fit the next window alongside the
# rotation debt), and requires each entry to be locally gated (an
# oracle or a rows-only registration, like every other query). The
# r13 window MUST lead with these names.
_NEXT_WINDOW_QUEUE = [
    # r15 additions land here as they are built (each locally
    # oracle-verified before queueing); the r14 queue (e32, a29, s28,
    # o24, e33) graduated into the r15 window's first five slots
    # above.
    "o25_mor_commit_cadence",
    "o26_mor_concurrent_writers",
    "a30_kmv_takedown_rebuild",
    "v20_filtered_ann",
    "e34_streaming_kmv_distinct",
    "o27_zorder_table",
    "o28_mor_cdc",
    "s29_partition_evolution",
    "o29_bloom_point_lookup",
    "e35_streaming_cdc_apply",
    "o30_merge_metadata_prune",
    "a31_quantile_sample_lifecycle",
]



def _reorder_registry() -> None:
    # Mutate REGISTRY in place: other modules hold references to this
    # exact dict object (`from ...queries import REGISTRY`).
    head = {n: REGISTRY[n] for n in _DRIVER_WINDOW_PRIORITY if n in REGISTRY}
    tail = {n: e for n, e in REGISTRY.items() if n not in head}
    REGISTRY.clear()
    REGISTRY.update(head)
    REGISTRY.update(tail)


_reorder_registry()
