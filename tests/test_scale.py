"""Scale-operator tests: bucketed joins must be exchange-free, salted
joins must preserve join semantics while spreading hot keys."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.operators.scale import (
    publish_bucketed,
    read_bucketed,
    salted_join,
)


def _plan(df, mode="simple") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped in the finally block
    a = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    publish_bucketed(a, "bk_a", ["k"], num_buckets=8)
    publish_bucketed(b, "bk_b", ["k"], num_buckets=8)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # tiny test tables would be broadcast (which also disables
        # bucketing); force the shuffle-join path the 100 TB case takes
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = read_bucketed(spark, "bk_a").join(read_bucketed(spark, "bk_b"), "k")
        p = _plan(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # co-located buckets: zero shuffle
        assert "Bucketed: true" in _plan(j, mode="formatted") or "SelectedBucketsCount" in _plan(j, mode="formatted")
        assert j.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [(k, i) for k in ("hot", "a", "b") for i in range(200 if k == "hot" else 5)],
        "key string, lv int",
    )
    right = spark.createDataFrame(
        [("hot", 1), ("a", 2), ("c", 3)], "key string, rv int"
    )
    plain = sorted(map(tuple, left.join(right, "key").collect()))
    salted = sorted(map(tuple, salted_join(left, right, "key", salt=4).collect()))
    assert plain == salted
    # salt actually spreads the hot key across shards
    lsalt = left.withColumn(
        "_salt", F.pmod(F.xxhash64("key", "lv"), F.lit(4)).cast("int")
    )
    n_shards = (
        lsalt.filter(F.col("key") == "hot").select("_salt").distinct().count()
    )
    assert n_shards > 1


def test_salted_join_rejects_outer(spark):
    import pytest

    left = spark.createDataFrame([("a", 1)], "key string, lv int")
    right = spark.createDataFrame([("a", 2)], "key string, rv int")
    for how in ("right", "full", "outer", "right_outer"):
        with pytest.raises(ValueError, match="inner.*left"):
            salted_join(left, right, "key", salt=4, how=how)
    # left join still supported and unmatched-left preserved exactly once
    left2 = spark.createDataFrame([("a", 1), ("b", 9)], "key string, lv int")
    rows = sorted(map(tuple, salted_join(left2, right, "key", salt=4, how="left").collect()))
    assert rows == [("a", 1, 2), ("b", 9, None)]


def test_global_row_number_properties(spark):
    from cellphe_data_pipeline_spark.operators.scale import global_row_number

    # empty input
    empty = spark.createDataFrame([], "k int, v int")
    assert global_row_number(empty, ["k"]).collect() == []

    # tiny input, num_parts > rows
    one = spark.createDataFrame([(5, 1), (2, 2)], "k int, v int")
    got = {r["k"]: r["rn"] for r in global_row_number(one, ["k"], num_parts=8).collect()}
    assert got == {2: 1, 5: 2}

    # start offset
    got = {r["k"]: r["rn"] for r in global_row_number(one, ["k"], start=100).collect()}
    assert got == {2: 100, 5: 101}

    # permutation property on a larger scrambled set: numbering is a
    # bijection 1..N consistent with the total order
    import random

    rng = random.Random(3)
    keys = list(range(2000))
    rng.shuffle(keys)
    df = spark.createDataFrame([(k, k % 7) for k in keys], "k int, grp int")
    rows = global_row_number(df, ["k"], num_parts=5).collect()
    assert sorted(r["rn"] for r in rows) == list(range(1, 2001))
    assert all(r["rn"] == r["k"] + 1 for r in rows)


def test_o27_layouts_are_deterministic(spark, tmp_path):
    """o27's range-partitioned layouts come out the same on every build:
    two builds in one session (fresh RDD ids, so fresh sampling seeds)
    give identical per-file [min, max] stats on both columns."""
    from cellphe_data_pipeline_spark.queries import _o27_layouts

    def file_stats(root):
        _, _, layouts = _o27_layouts(spark, "/root/testdata/sf0.01", str(root))
        return {
            name: {col: sorted(per_file.values()) for col, per_file in stats.items()}
            for name, (_, _, stats) in layouts.items()
        }

    first = file_stats(tmp_path / "a")
    assert len(first["z"]["l_orderkey"]) == 16
    assert file_stats(tmp_path / "b") == first


def test_zorder_buckets_have_tighter_bboxes_than_row_order(spark):
    """r7 z-order: on a 64x64 grid enumerated row-major, bucketing by
    z-key yields per-bucket bounding boxes that are tight in BOTH
    dimensions (16x16 squares: side sum 32) where row-major runs are
    full-width strips (4x64: side sum 68) — a predicate on either
    column prunes z-buckets, but only an x-predicate prunes strips.
    That per-dimension tightness is the min/max-footer data-skipping
    win. Also pins the interleave arithmetic against a python
    reference."""
    from cellphe_data_pipeline_spark.operators.scale import zorder_key

    n = 64
    pts = [(i, i // n, i % n) for i in range(n * n)]
    df = spark.createDataFrame(pts, "rid bigint, x bigint, y bigint")
    out = df.select(
        "rid", "x", "y", zorder_key("x", "y", bits=6).alias("z")
    ).collect()

    def py_z(x, y, bits=6):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for r in out:
        assert r["z"] == py_z(r["x"], r["y"])

    n_buckets = 16
    per = (n * n) // n_buckets

    def mean_bbox_side_sum(keyed):
        keyed = sorted(keyed)
        sums = []
        for b in range(n_buckets):
            cell = keyed[b * per : (b + 1) * per]
            xs = [x for _, x, _ in cell]
            ys = [y for _, _, y in cell]
            sums.append((max(xs) - min(xs) + 1) + (max(ys) - min(ys) + 1))
        return sum(sums) / len(sums)

    z_sum = mean_bbox_side_sum([(r["z"], r["x"], r["y"]) for r in out])
    row_sum = mean_bbox_side_sum([(r["rid"], r["x"], r["y"]) for r in out])
    assert z_sum == 32.0 and row_sum == 68.0  # squares vs strips


def test_o8_registered_query_join_is_exchange_free(spark):
    """The o8 driver query's join body must read co-located buckets:
    SortMergeJoin with zero Exchange (the plain parquet join would
    show two)."""
    from cellphe_data_pipeline_spark.queries import _o8_bucketed_join

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = _o8_bucketed_join(spark, "/root/testdata/sf0.001")
        p = _plan(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        spark.sql("DROP TABLE IF EXISTS o8_cust_bk")
        spark.sql("DROP TABLE IF EXISTS o8_orders_bk")


def test_partitioned_publish_scan_is_partition_pruned(spark, tmp_path):
    """publish_partitioned + filtered read must resolve the predicate
    against the directory tree: the filter appears in PartitionFilters
    and the scan selects 1 of the 3 partition dirs."""
    from cellphe_data_pipeline_spark.operators.scale import (
        publish_partitioned,
    )

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(300)],
        "id bigint, part string, v double",
    )
    path = str(tmp_path / "part_pub")
    publish_partitioned(df, path, ["part"])
    back = spark.read.parquet(path).filter(F.col("part") == "b")
    p = _plan(back, mode="formatted")
    assert "PartitionFilters" in p
    # the partition predicate must NOT degrade to a data filter
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert pf and "part" in pf.group(1)
    df_filters = re.search(r"DataFilters: \[([^\]]*)\]", p)
    if df_filters:
        assert "part" not in df_filters.group(1)
    assert back.count() == 100
    # pruning is observable in the executed scan: only the part=b files
    files = [r[0] for r in back.select(F.input_file_name()).distinct().collect()]
    assert files and all("part=b" in f for f in files)


def test_key_skew_profile_hitters_and_ppm(spark):
    from cellphe_data_pipeline_spark.operators.scale import key_skew_profile

    # key 1: 6 rows, key 2: 3 rows, keys 3/4: tie at 2, key 5: 1 (14 total, 5 keys)
    rows = [(1,)] * 6 + [(2,)] * 3 + [(3,)] * 2 + [(4,)] * 2 + [(5,)]
    df = spark.createDataFrame(rows, "k bigint")
    got = key_skew_profile(df, "k", top_k=3).collect()
    assert [(r["key"], r["cnt"]) for r in got] == [(1, 6), (2, 3), (3, 2)]
    r0 = got[0]
    assert r0["share_ppm"] == 6 * 1000000 // 14
    assert r0["vs_mean_ppm"] == 6 * 1000000 * 5 // 14


def test_key_skew_vs_mean_ppm_survives_sub_ppm_shares(spark):
    """Regression for the r8 review's floor-first finding: a hub key
    whose corpus SHARE rounds to 0 ppm must still show its true
    multiple-of-mean (the exact regime the profile exists for). The
    expression is evaluated with literal totals mimicking 1e10 rows
    over 1e8 keys, where the old share_ppm*n_keys form returned 0."""
    r = spark.sql(
        """SELECT CAST(5000 AS BIGINT) * 1000000L DIV 10000000000 AS share_ppm,
                  CAST(CAST(5000 AS DECIMAL(38,0)) * 1000000 * 100000000
                       DIV 10000000000 AS BIGINT) AS vs_mean_ppm"""
    ).collect()[0]
    assert r["share_ppm"] == 0           # sub-ppm share...
    assert r["vs_mean_ppm"] == 50000000  # ...but 50x the mean, preserved


def test_o10_dpp_join_prunes_fact_scan_at_runtime(spark):
    """The o10 driver query must carry a DynamicPruningExpression in
    the partitioned fact scan's PartitionFilters (the dim's HAVING
    survivors are unknowable at plan time), and the executed plan must
    keep it — the runtime sibling of the static o9 PartitionFilters
    test."""
    from cellphe_data_pipeline_spark.queries import REGISTRY

    q = REGISTRY["o10_dpp_join"].fn(spark, "/root/testdata/sf0.001")
    p = _plan(q, mode="formatted")
    assert "dynamicpruning" in p.lower()
    assert "PartitionFilters" in p
    rows = {r["event_type"]: r for r in q.collect()}
    ex = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in ex.lower()
    # every surviving group satisfies the dim's HAVING bound, and the
    # pruned-scan counts equal the dim's own counts (join fan-out 1)
    assert rows, "DPP join returned no groups"
    for r in rows.values():
        assert r["n_rows"] == r["n_type"]


def test_j12_skew_join_split_fires_and_preserves_values(spark):
    """Under J12_SKEW_CONFS the 97%-hot join must show a skew-split
    shuffle read in the EXECUTED plan (skew=true / 'skewed'), and the
    mitigated result must match the same join executed with default
    thresholds (mitigation must never change values). Runs at sf0.01:
    the thresholds are sized to that shuffle; sf0.001's hot partition
    sits below any splittable size."""
    from cellphe_data_pipeline_spark.queries import (
        J12_SKEW_CONFS,
        _j12_skewed_sides,
    )
    from cellphe_data_pipeline_spark.session import session_confs

    sf = "/root/testdata/sf0.01"
    li, dim = _j12_skewed_sides(spark, sf)
    agg = (
        li.hint("MERGE")
        .join(dim, "skew_key")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    with session_confs(spark, J12_SKEW_CONFS):
        skewed_rows = {r["l_returnflag"]: r["n_rows"] for r in agg.collect()}
        ex = agg._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in ex or "skewed" in ex, (
        "AQE skew split did not fire:\n" + ex[:2000]
    )
    li2, dim2 = _j12_skewed_sides(spark, sf)
    plain = {
        r["l_returnflag"]: r["n_rows"]
        for r in li2.join(dim2, "skew_key")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    }
    assert skewed_rows == plain


def test_round_z_normalizes_negative_zero(spark):
    """The r9 gate lesson in one assertion: Spark's round drops the
    sign of a rounded tiny-negative (so this passes trivially here),
    and round_z guarantees the +0.0 bit pattern survives any engine's
    rounding — NULL-transparent, identity elsewhere."""
    import math

    from cellphe_data_pipeline_spark.functions.scalars import round_z

    r = spark.createDataFrame(
        [(-1e-9, 1.25, -1.25, None)], "a double, b double, c double, d double"
    ).select(
        round_z(F.col("a"), 6).alias("a"),
        round_z(F.col("b"), 1).alias("b"),
        round_z(F.col("c"), 1).alias("c"),
        round_z(F.col("d"), 6).alias("d"),
    ).collect()[0]
    assert r["a"] == 0.0 and math.copysign(1.0, r["a"]) == 1.0
    assert r["b"] == 1.2 or r["b"] == 1.3  # engine HALF_UP: 1.3
    assert r["c"] == -r["b"]
    assert r["d"] is None


def test_o11_bloom_runtime_filter_fires_and_preserves_values(spark):
    """Under O11_BLOOM_CONFS the fact scan must carry the injected
    might_contain(bloom subquery) predicate in the EXECUTED plan, and
    the bloom-filtered result must match the same join with default
    thresholds (false positives are discarded by the join; no false
    negatives by construction)."""
    from cellphe_data_pipeline_spark.queries import (
        O11_BLOOM_CONFS,
        _o11_bloom_join,
    )
    from cellphe_data_pipeline_spark.session import session_confs

    sf = "/root/testdata/sf0.01"
    agg = _o11_bloom_join(spark, sf)
    with session_confs(spark, O11_BLOOM_CONFS):
        got = {r["l_returnflag"]: (r["n_rows"], r["sum_price"]) for r in agg.collect()}
        ex = agg._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in ex, "bloom runtime filter did not inject:\n" + ex[:2000]
    plain = {
        r["l_returnflag"]: (r["n_rows"], r["sum_price"])
        for r in _o11_bloom_join(spark, sf).collect()
    }
    assert got == plain


def test_o12_bucket_pruning_fires_and_respects_planner_trap(spark):
    """Under O12_BUCKET_CONFS the bucketed point lookup must read a
    strict subset of buckets (SelectedBucketsCount k/8 with k<8) —
    and WITHOUT the conf the auto-bucketed-scan heuristic silently
    discards the pruning (Bucketed: false), which is exactly the trap
    the conf exists to defuse."""
    from cellphe_data_pipeline_spark.queries import (
        O12_BUCKET_CONFS,
        O12_KEYS,
        _o12_pruned_lookup,
    )
    from cellphe_data_pipeline_spark.session import session_confs

    import re

    sf = "/root/testdata/sf0.001"
    try:
        with session_confs(spark, O12_BUCKET_CONFS):
            t = _o12_pruned_lookup(spark, sf)
            p = _plan(t, mode="formatted")
            m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", p)
            assert m, "no bucket pruning in plan:\n" + p[:1500]
            assert int(m.group(1)) < int(m.group(2))
            assert {r["c_custkey"] for r in t.collect()} == set(O12_KEYS)
        # the trap: default heuristic disables the bucketed scan for a
        # lookup-shaped plan (no operator needs the clustering)
        t2 = _o12_pruned_lookup(spark, sf)
        assert "Bucketed: false" in _plan(t2, mode="formatted")
    finally:
        spark.sql("DROP TABLE IF EXISTS o12_cust_bk")


def test_round_z_bits_match_duckdb_round_plus_zero(spark):
    """Cross-engine bit contract behind every round_z/`ROUND(..)+0.0`
    pair: for a sweep of hostile values (tiny negatives, half-up
    boundaries, negative halves, exact representables), Spark's
    round_z and DuckDB's ROUND(x, 6) + 0.0 must agree to the BIT —
    the exact axis the driver hashes and the r8 a13 red exposed."""
    import struct

    import duckdb

    from cellphe_data_pipeline_spark.functions.scalars import round_z

    vals = [
        -1e-9, 1e-9, -4.999e-7, 4.999e-7, -5e-7, 5e-7, -1.5e-6,
        0.0, -0.0, 1.0000005, -1.0000005, 123.4567894999,
        -123.4567895001, 2.5e-6, -2.5e-6, 1e12 + 0.5e-6,
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r["y"]
        for r in sdf.select(round_z(F.col("x"), 6).alias("y")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute("SELECT ROUND(CAST(? AS DOUBLE), 6) + 0.0", [v]).fetchone()[0]
        for v in vals
    ]
    for v, g, w in zip(vals, got, want):
        assert struct.pack("<d", g) == struct.pack("<d", w), (v, g, w)


def test_session_confs_restores_and_unsets(spark):
    import pytest

    from cellphe_data_pipeline_spark.session import session_confs

    key_known = "spark.sql.autoBroadcastJoinThreshold"
    key_fresh = "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
    saved = spark.conf.get(key_known)
    before_fresh = spark.conf.get(key_fresh)  # engine default, not session-set
    with session_confs(spark, {key_known: "-1", key_fresh: "1KB"}):
        assert spark.conf.get(key_known) == "-1"
        assert spark.conf.get(key_fresh) in ("1KB", "1024b")
    assert spark.conf.get(key_known) == saved
    assert spark.conf.get(key_fresh) == before_fresh
    with pytest.raises(ValueError):
        with session_confs(spark, {key_known: "-1"}):
            raise ValueError
    assert spark.conf.get(key_known) == saved


def test_o13_aqe_coalesces_oversized_shuffle(spark):
    """Under O13_COALESCE_CONFS the 256-reducer agg shuffle must be
    fused at runtime into far fewer partitions (`AQEShuffleRead
    coalesced`, no skew split), and the result must match the same agg
    under default confs — coalescing must never change values."""
    from cellphe_data_pipeline_spark.queries import (
        O13_COALESCE_CONFS,
        _o13_agg,
    )
    from cellphe_data_pipeline_spark.session import session_confs

    sf = "/root/testdata/sf0.01"
    agg = _o13_agg(spark, sf)
    with session_confs(spark, O13_COALESCE_CONFS):
        fused = {r["o_orderpriority"]: r["n_orders"] for r in agg.collect()}
        ex = agg._jdf.queryExecution().executedPlan().toString()
    assert "coalesced" in ex, "AQE coalesce did not fire:\n" + ex[:2000]
    assert "skewed" not in ex
    plain = {
        r["o_orderpriority"]: r["n_orders"]
        for r in _o13_agg(spark, sf).collect()
    }
    assert fused == plain and len(plain) == 5


def test_j14_runtime_promotes_smj_to_broadcast(spark):
    """The j14 lifecycle: with the static broadcast threshold OFF the
    adaptive plan starts as a SortMergeJoin (isFinalPlan=false); after
    execution the dim side's actual bytes undershoot the ADAPTIVE
    threshold and DynamicJoinSelection rewrites to BroadcastHashJoin
    with a local (no-exchange) shuffle read on the fact side. Values
    must match the default-conf join."""
    from cellphe_data_pipeline_spark.queries import (
        J14_PROMOTE_CONFS,
        _j14_join,
    )
    from cellphe_data_pipeline_spark.session import session_confs

    sf = "/root/testdata/sf0.01"
    agg = _j14_join(spark, sf)
    with session_confs(spark, J14_PROMOTE_CONFS):
        pre = agg._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in pre and "isFinalPlan=false" in pre, (
            "static plan should be SMJ before runtime stats:\n" + pre[:2000]
        )
        promoted = {r["s_nationkey"]: r["n_rows"] for r in agg.collect()}
        ex = agg._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in ex and "isFinalPlan=true" in ex, (
        "runtime promotion to broadcast did not fire:\n" + ex[:2000]
    )
    assert "AQEShuffleRead local" in ex
    plain = {
        r["s_nationkey"]: r["n_rows"] for r in _j14_join(spark, sf).collect()
    }
    assert promoted == plain


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """overwrite_partitions_dynamic replaces ONLY the partitions in the
    incoming frame; the default (static) mode's same call wipes the
    table first — both directions pinned, because the static behavior
    is the data-destroying trap the helper exists to fence off."""
    from cellphe_data_pipeline_spark.operators.scale import (
        overwrite_partitions_dynamic,
        publish_partitioned,
    )

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "id bigint, part string, value double",
    )
    path = str(tmp_path / "dyn_part")
    publish_partitioned(df, path, ["part"])
    fix = spark.createDataFrame([(9, "b", 99.0)], df.schema)
    overwrite_partitions_dynamic(fix, path, ["part"])
    got = {
        (r["part"], r["id"]): r["value"]
        for r in spark.read.parquet(path).collect()
    }
    # b replaced wholesale; a and c byte-untouched
    assert got == {("a", 1): 10.0, ("a", 2): 20.0, ("b", 9): 99.0, ("c", 4): 40.0}
    # the conf is restored (scoped to the write)
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"
    # the static trap: the same overwrite call under the default mode
    # deletes every other partition
    fix2 = spark.createDataFrame([(8, "b", 88.0)], df.schema)
    fix2.write.mode("overwrite").partitionBy("part").parquet(path)
    left = {(r["part"], r["id"]) for r in spark.read.parquet(path).collect()}
    assert left == {("b", 8)}


def test_compact_files_count_and_disjoint_ranges(spark, tmp_path):
    """compact_files' two mechanical claims: the file count collapses
    to the target, and each output file covers a DISJOINT sorted range
    of the sort key (what makes parquet min/max footers prune point
    scans post-compaction). Values must be a pure relayout."""
    import glob as _glob

    from cellphe_data_pipeline_spark.operators.scale import compact_files

    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 997).alias("v")
    )
    frag = str(tmp_path / "frag")
    df.repartition(64).write.parquet(frag)
    assert len(_glob.glob(frag + "/part-*.parquet")) >= 32
    out = str(tmp_path / "compact")
    compact_files(spark, frag, out, sort_cols=["k"], target_partitions=4)
    files = sorted(_glob.glob(out + "/part-*.parquet"))
    assert 1 <= len(files) <= 4
    # per-file key ranges must not overlap
    ranges = []
    for f in files:
        mm = spark.read.parquet(f).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi")
        ).collect()[0]
        ranges.append((mm["lo"], mm["hi"]))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges {ranges}"
    # pure relayout
    got = spark.read.parquet(out).agg(
        F.count(F.lit(1)), F.sum("v"), F.min("k"), F.max("k")
    ).collect()[0]
    assert tuple(got) == (10_000, df.agg(F.sum("v")).collect()[0][0], 0, 9_999)


def test_compact_files_max_records_per_file(spark, tmp_path):
    """maxRecordsPerFile splits an oversized range partition into
    size-capped files (the upper bound of the compaction window)."""
    import glob as _glob

    from cellphe_data_pipeline_spark.operators.scale import compact_files

    df = spark.range(5_000).select(F.col("id").alias("k"))
    frag = str(tmp_path / "frag2")
    df.repartition(16).write.parquet(frag)
    out = str(tmp_path / "compact2")
    compact_files(
        spark, frag, out, sort_cols=["k"], target_partitions=1,
        max_records_per_file=1_000,
    )
    files = _glob.glob(out + "/part-*.parquet")
    assert len(files) >= 5
    assert spark.read.parquet(out).count() == 5_000


def test_j15_not_in_uses_null_aware_hash_anti_join(spark):
    """j15's two pins: (1) semantics — NOT IN drops NULL-lhs rows
    while NOT EXISTS keeps them (n_not_exists = n_not_in +
    n_null_lhs, the list side having no nulls); (2) physical — the
    NOT IN lowers to a single-broadcast HASH anti join with the
    isNullAwareAntiJoin flag (the trailing `true` on the BHJ line),
    never a BroadcastNestedLoopJoin."""
    from cellphe_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["j15_null_aware_anti_join"].fn(
        spark, "/root/testdata/sf0.01"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti, BuildRight, true" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    r = df.collect()[0]
    assert r["n_null_lhs"] > 0, "fixture must exercise the NULL path"
    assert r["n_not_exists"] == r["n_not_in"] + r["n_null_lhs"]


def test_partition_merge_leaves_untouched_partitions_byte_identical(spark, tmp_path):
    """o16's contract at the filesystem level: after the
    partition-scoped merge, the partition directories the delta never
    touched hold the exact same files (names + sizes + mtimes) —
    proving the merge cost O(affected slices), not O(table)."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.checkpoint import cut_lineage
    from cellphe_data_pipeline_spark.operators.scale import (
        overwrite_partitions_dynamic,
        publish_partitioned,
    )

    rows = [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(90)]
    df = spark.createDataFrame(rows, "event_id bigint, part string, value double")
    d = str(tmp_path / "merge_tbl")
    publish_partitioned(df, d, ["part"])

    def snapshot(p):
        out = {}
        for root, _, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                st = os.stat(fp)
                out[fp] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot(os.path.join(d, "part=c"))

    delta = df.filter((F.col("event_id") % 5 == 0) & (F.col("part") != "c")).select(
        "event_id", "part", (F.col("value") + 100.0).alias("value")
    )
    current = spark.read.parquet(d).filter(F.col("part").isin(["a", "b"]))
    merged = current.join(delta.select("event_id"), "event_id", "left_anti").unionByName(delta)
    merged = cut_lineage(merged, eager=True, name="test-merge")
    overwrite_partitions_dynamic(merged, d, ["part"])

    assert snapshot(os.path.join(d, "part=c")) == before  # untouched bytes
    got = {r["event_id"]: r["value"] for r in spark.read.parquet(d).collect()}
    for i, p, v in rows:
        want = v + 100.0 if (i % 5 == 0 and p != "c") else v
        assert got[i] == want, i


def test_merge_rows_cow_prunes_reuses_and_moves_rows(spark, tmp_path):
    """o17's contract at the file level: the COW merge (1) prunes —
    files whose [min,max] key range excludes every delta key are never
    rewritten and appear VERBATIM (same path, size, mtime) in the new
    manifest; (2) moves rows across partition values (the case o16
    recorded as impossible under directory-scoped merging); (3) leaves
    the old snapshot readable unchanged (time travel over the merge)."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.scale import merge_rows_cow
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_data_files,
        snapshot_files,
        snapshot_read,
    )

    table = str(tmp_path / "cow")
    rows = [(i, ["a", "b"][i % 2], float(i)) for i in range(60)]
    df = spark.createDataFrame(
        rows, "event_id bigint, part string, value double"
    )
    v1 = []
    for p in ("a", "b"):
        d = os.path.join(table, "data", "s1", p)
        (
            df.filter(F.col("part") == p)
            .repartitionByRange(3, "event_id")
            .write.parquet(d)
        )
        v1 += snapshot_data_files(d)
    snapshot_commit_atomic(table, 0, v1)
    v1_state = {
        r["event_id"]: (r["part"], r["value"])
        for r in snapshot_read(spark, table, 1).collect()
    }

    # delta: low-id band only (prunable), one row MOVES part a -> z,
    # one insert above max
    delta = spark.createDataFrame(
        [(2, "z", 1000.0), (3, "b", 2000.0), (999, "z", 3000.0)],
        "event_id bigint, part string, value double",
    )
    stat = {f: os.stat(f) for f in v1}
    new_id, info = merge_rows_cow(spark, table, delta, key_col="event_id")
    assert new_id == 2

    # pruning: only the low-range file per part is a candidate
    assert len(info["hit_files"]) == 2, info["hit_files"]
    assert len(info["kept_files"]) == 4
    # verbatim reuse: kept files are the SAME files, untouched bytes
    for f in info["kept_files"]:
        st = os.stat(f)
        assert (st.st_size, st.st_mtime_ns) == (
            stat[f].st_size,
            stat[f].st_mtime_ns,
        ), f
    assert set(info["kept_files"]) < set(snapshot_files(table, 2))

    got = {
        r["event_id"]: (r["part"], r["value"])
        for r in snapshot_read(spark, table, 2).collect()
    }
    want = dict(v1_state)
    want[2] = ("z", 1000.0)   # moved across partition values
    want[3] = ("b", 2000.0)
    want[999] = ("z", 3000.0)  # insert
    assert got == want
    # time travel: the pre-merge snapshot is unchanged
    got1 = {
        r["event_id"]: (r["part"], r["value"])
        for r in snapshot_read(spark, table, 1).collect()
    }
    assert got1 == v1_state


def test_file_key_stats_and_range_prune(spark, tmp_path):
    """Zone-map primitives: stats are per-file exact, the prune admits
    a superset of true hits and never drops a file whose interval
    intersects the query range."""
    from cellphe_data_pipeline_spark.operators.scale import (
        file_key_stats,
        prune_files_by_range,
    )
    from cellphe_data_pipeline_spark.sources.io import snapshot_data_files

    d = str(tmp_path / "layout")
    df = spark.range(0, 300).select(F.col("id").cast("double").alias("v"))
    df.repartitionByRange(3, "v").write.parquet(d)
    files = snapshot_data_files(d)
    stats = file_key_stats(spark, files, "v").collect()
    assert len(stats) == 3
    assert sum(r["n_rows"] for r in stats) == 300
    ivs = sorted((r["min_v"], r["max_v"]) for r in stats)
    for (_, hi_a), (lo_b, _) in zip(ivs, ivs[1:]):
        assert hi_a < lo_b  # range layout => disjoint per-file ranges

    sel = prune_files_by_range(stats, ivs[1][0] + 1, ivs[1][1] - 1)
    assert len(sel) == 1  # mid-range query touches exactly one file
    got = (
        spark.read.parquet(*sel)
        .filter((F.col("v") >= ivs[1][0] + 1) & (F.col("v") <= ivs[1][1] - 1))
        .count()
    )
    want = df.filter(
        (F.col("v") >= ivs[1][0] + 1) & (F.col("v") <= ivs[1][1] - 1)
    ).count()
    assert got == want
    # a range outside every interval selects nothing
    assert prune_files_by_range(stats, 1e9, 2e9) == []


def test_o21_bucketed_agg_is_exchange_free(spark, sf_dir):
    """Bucketed scan satisfies the aggregate's distribution: the whole
    plan (scan -> partial agg -> final agg) must contain NO Exchange."""
    from cellphe_data_pipeline_spark.queries import _o21_bucketed_agg

    plan = (
        _o21_bucketed_agg(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_prune_admits_all_null_stats_file(spark, tmp_path):
    """A file whose stat column is entirely NULL has NULL min/max —
    the prune must admit it, not crash on the None comparison."""
    from cellphe_data_pipeline_spark.operators.scale import (
        file_key_stats,
        prune_files_by_range,
    )
    from cellphe_data_pipeline_spark.sources.io import snapshot_data_files

    d = str(tmp_path / "mix")
    spark.createDataFrame([(1, 5.0)], "k bigint, v double").coalesce(
        1
    ).write.parquet(d + "/a")
    spark.createDataFrame(
        [(2, None)], "k bigint, v double"
    ).coalesce(1).write.parquet(d + "/b")
    files = snapshot_data_files(d)
    stats = file_key_stats(spark, files, "v").collect()
    sel = prune_files_by_range(stats, 100.0, 200.0)
    # the valued file (5.0 outside range) is skipped; the all-null
    # file is admitted
    assert len(sel) == 1 and sel[0].endswith(".parquet")
    assert (
        spark.read.parquet(*sel).filter("v >= 100 AND v <= 200").count() == 0
    )


def test_snapshot_compact_preserves_rows_and_watermark(spark, tmp_path):
    """r12 (verdict ask #4): compaction as a snapshot commit — row set
    byte-identical, old snapshot readable until vacuumed, and the e25
    exactly-once watermark survives the maintenance commit (the
    carry-forward contract: OPTIMIZE between stream batches must not
    re-enable replay)."""
    from cellphe_data_pipeline_spark.operators.scale import snapshot_compact
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_append_batch,
        snapshot_current,
        snapshot_manifest,
        snapshot_read,
    )

    table = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "event_id bigint, v double"
    )
    b2 = spark.createDataFrame(
        [(3, 3.0), (4, 4.0)], "event_id bigint, v double"
    )
    assert snapshot_append_batch(table, b1, batch_id=1)
    assert snapshot_append_batch(table, b2, batch_id=2)

    new_id, info = snapshot_compact(
        spark, table, sort_cols=["event_id"], target_partitions=1
    )
    assert new_id == 3 and len(info["new_files"]) == 1

    got = {
        r["event_id"]: r["v"]
        for r in snapshot_read(spark, table, 3).collect()
    }
    assert got == {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0}
    # pre-compaction snapshot still time-travel readable
    assert snapshot_read(spark, table, 2).count() == 4

    # watermark carried: batch 2 replay refused, batch 3 admitted
    assert snapshot_manifest(table, 3)["last_batch_id"] == 2
    assert snapshot_append_batch(table, b2, batch_id=2) is False
    assert snapshot_append_batch(
        table,
        spark.createDataFrame([(5, 5.0)], "event_id bigint, v double"),
        batch_id=3,
    )
    assert snapshot_read(spark, table, snapshot_current(table)).count() == 5


def test_snapshot_compact_loses_cas_race_cleanly(spark, tmp_path):
    """A concurrent append committing between the compaction's read
    and its CAS must surface SnapshotConflict (never clobber the
    racing commit) — the single-maintainer contract the kernel
    docstring records; the caller's retry loop re-reads and re-runs."""
    import pytest

    from cellphe_data_pipeline_spark.operators.scale import snapshot_compact
    from cellphe_data_pipeline_spark.sources.io import (
        SnapshotConflict,
        snapshot_append_batch,
        snapshot_commit_atomic,
        snapshot_current,
        snapshot_files,
        snapshot_read,
    )

    table = str(tmp_path / "t")
    snapshot_append_batch(
        table,
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "event_id bigint, v double"),
        batch_id=1,
    )

    # race: advance the table AFTER compact has read parent=1 — emulate
    # by committing v2 ourselves and then compacting "against" v1
    racing_files = snapshot_files(table, 1)
    snapshot_commit_atomic(table, 1, racing_files)  # v2 (the racer wins)

    import cellphe_data_pipeline_spark.sources.io as io_mod

    orig = io_mod.snapshot_current

    def stale_current(td):
        return 1  # what compact saw before the racer committed

    io_mod.snapshot_current = stale_current
    try:
        with pytest.raises(SnapshotConflict):
            snapshot_compact(spark, table, sort_cols=["event_id"])
    finally:
        io_mod.snapshot_current = orig

    # the racer's commit is intact and a fresh compaction succeeds
    assert snapshot_current(table) == 2
    new_id, _ = snapshot_compact(spark, table, sort_cols=["event_id"])
    assert new_id == 3
    assert snapshot_read(spark, table, 3).count() == 2


def test_snapshot_compact_selective_and_stats_refresh(spark, tmp_path):
    """r12: the two production refinements of compaction-under-
    snapshot. (a) small_file_bytes compacts ONLY the small-file debris
    and reuses large files verbatim — maintenance is O(small files),
    never O(table); below 2 small files it is a no-op that commits
    nothing. (b) stats_col embeds refreshed zone maps in the commit,
    and a post-compaction pruned read skips files from the manifest
    alone."""
    import os

    from cellphe_data_pipeline_spark.operators.scale import snapshot_compact
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_current,
        snapshot_data_files,
        snapshot_read,
        snapshot_read_pruned,
    )

    table = str(tmp_path / "t")
    # one LARGE file (ids 0..999) + four tiny ones (3 rows each)
    big_dir = f"{table}/data/big"
    spark.range(1000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v") \
        .coalesce(1).write.parquet(big_dir)
    files = snapshot_data_files(big_dir)
    for i in range(4):
        d = f"{table}/data/small{i}"
        spark.createDataFrame(
            [(1000 + i * 3 + j, float(j)) for j in range(3)],
            "k bigint, v double",
        ).coalesce(1).write.parquet(d)
        files += snapshot_data_files(d)
    snapshot_commit_atomic(table, 0, files)
    big_file = snapshot_data_files(big_dir)[0]
    threshold = os.path.getsize(big_file)  # big is AT threshold: kept

    new_id, info = snapshot_compact(
        spark, table, sort_cols=["k"], target_partitions=1,
        small_file_bytes=threshold, stats_col="k",
    )
    assert new_id == 2
    assert info["kept"] == [big_file]          # large file reused verbatim
    assert len(info["replaced"]) == 4          # only the debris rewritten
    assert len(info["new_files"]) == 1
    assert snapshot_read(spark, table, 2).count() == 1012

    # refreshed zone maps prune from the manifest alone: a read over
    # the small-id range must skip the compacted debris file
    df, pinfo = snapshot_read_pruned(spark, table, 2, "k", 0, 500)
    assert pinfo["kept"] == [big_file], pinfo
    assert pinfo["skipped"] == info["new_files"], pinfo
    assert df.filter("k <= 500").count() == 501

    # second pass: nothing small enough twice -> no-op, no new commit
    nid2, info2 = snapshot_compact(
        spark, table, sort_cols=["k"], small_file_bytes=threshold,
    )
    assert nid2 == 2 and snapshot_current(table) == 2
    assert info2["replaced"] == [] and info2["new_files"] == []
    assert set(info2["kept"]) == {big_file, *info["new_files"]}


def test_file_bloom_build_and_admit(spark, tmp_path):
    """r15 (o29): per-file Bloom index — no false negatives ever
    (every present value admits its file), false positives bounded at
    the sized m/k, absent-bloom files admitted (indexes never gate
    correctness)."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.scale import (
        bloom_admits,
        build_file_blooms,
    )
    from cellphe_data_pipeline_spark.sources.io import snapshot_data_files

    d = str(tmp_path / "t")
    # two files with disjoint value sets
    spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    ).repartitionByRange(2, "k").write.parquet(d)
    files = snapshot_data_files(d)
    assert len(files) == 2
    doc = build_file_blooms(spark, files, "k", m_bits=8192, k=5)

    rows = (
        spark.read.parquet(d)
        .select(F.col("_metadata.file_path").alias("f"), "k")
        .collect()
    )
    from urllib.parse import urlparse

    by_file: dict = {}
    for r in rows:
        by_file.setdefault(urlparse(r["f"]).path, set()).add(r["k"])

    fp_hits = 0
    trials = 0
    for fp, vals in by_file.items():
        for v in vals:
            assert bloom_admits(doc, fp, v)  # no false negatives
        other = set(range(500)) - vals
        for v in sorted(other):
            trials += 1
            if bloom_admits(doc, fp, v):
                fp_hits += 1
    # 250 values * 5 hashes in 8192 bits: fill ~0.14, fp ~0.014^... 
    # generous bound: under 10% false positives
    assert fp_hits / trials < 0.10, (fp_hits, trials)

    # values never written: admitted almost never, absent bloom: always
    assert bloom_admits({"m": 8192, "k": 5, "files": {}}, files[0], 123)


def test_file_bloom_adaptive_sizing_keeps_fp_bounded(spark, tmp_path):
    """r16 advisor fix: ``m_bits`` is a floor — a file whose distinct
    count exceeds the floor's ~m/10 capacity gets a bigger
    power-of-two bitset (recorded per file in ``m_by_file``), keeping
    the false-positive rate bounded where the fixed-size form
    saturated toward admit-everything. Files under capacity keep the
    floor (byte-identical to the pre-fix doc), and docs without
    ``m_by_file`` still probe via the doc-level "m"."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.scale import (
        bloom_admits,
        build_file_blooms,
    )
    from cellphe_data_pipeline_spark.sources.io import snapshot_data_files

    d = str(tmp_path / "t")
    # one file with 4000 distinct values: a 1024-bit floor (capacity
    # ~100) would saturate; adaptive sizing must pick >= 40960 bits
    spark.range(0, 4000).select(F.col("id").alias("k")).coalesce(
        1
    ).write.parquet(d)
    files = snapshot_data_files(d)
    assert len(files) == 1
    doc = build_file_blooms(spark, files, "k", m_bits=1024, k=5)
    fp = files[0]
    assert doc["m"] == 1024
    m_f = doc["m_by_file"][fp]
    assert m_f >= 40000 and (m_f & (m_f - 1)) == 0  # power of two
    # no false negatives
    for v in range(0, 4000, 97):
        assert bloom_admits(doc, fp, v)
    # false positives bounded (the fixed 1024-bit form admits ~100%)
    hits = sum(
        1 for v in range(4000, 8000) if bloom_admits(doc, fp, v)
    )
    assert hits / 4000 < 0.10, hits
    # pre-m_by_file docs still probe through the doc-level "m"
    legacy = {"m": 1024, "k": 5, "files": {}}
    assert bloom_admits(legacy, fp, 1)
