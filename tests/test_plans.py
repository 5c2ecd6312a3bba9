"""Physical-plan quality gates (SURVEY §4: the scale contract).

These are regression tests on `.explain` output: filters reach the
parquet scan, column pruning applies, small dims broadcast, the density
join never degenerates to a cartesian, and the self-kNN theta join never
broadcasts the corpus (the round-1 scale flaw)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from cellphe_data_pipeline_spark.queries import REGISTRY


def plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark, sf_dir):
    df = REGISTRY["p1_p2_filter_min_obs"].fn(spark, sf_dir)
    p = plan(df)
    assert "PushedFilters" in p
    assert "GreaterThanOrEqual(l_quantity,30.0)" in p
    # column pruning: untouched wide columns never reach the scan
    assert "l_comment" not in p


def test_broadcast_dims(spark, sf_dir):
    p = plan(REGISTRY["j1_broadcast_dim_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_density_join_no_cartesian(spark, sf_dir):
    p = plan(REGISTRY["j7_density_grid_join"].fn(spark, sf_dir))
    # grid bucketing turns the distance predicate into an equi-join on
    # (frame, cell); anything nested-loop-shaped means the bucketing broke
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_srp_topk_is_bucketed_equi_join(spark, sf_dir):
    # v1 brute force is the documented quadratic baseline (nested-loop at
    # test scale); the SCALE path v2 must be a plain hash-partitioned
    # equi-join on the bucket code — never nested-loop, never cartesian
    p2 = plan(REGISTRY["v2_srp_topk"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in p2
    assert "BroadcastNestedLoopJoin" not in p2
    assert "SortMergeJoin" in p2 or "ShuffledHashJoin" in p2 or "BroadcastHashJoin" in p2


def test_int8_srp_topk_is_bucketed_equi_join(spark, sf_dir):
    # v7 (quantized scale path) must keep v2's join shape: equi-join on
    # the bucket code, never nested-loop/cartesian — the int8 scoring
    # changes the payload, not the data motion
    p7 = plan(REGISTRY["v7_int8_srp_topk"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in p7
    assert "BroadcastNestedLoopJoin" not in p7
    assert "SortMergeJoin" in p7 or "ShuffledHashJoin" in p7 or "BroadcastHashJoin" in p7


def test_srp_neardup_is_bucketed_equi_join(spark, sf_dir):
    # d6 theta join is the quadratic oracle baseline; the SCALE path d6b
    # must stay candidate-bucketed: every join an equi-join, no
    # nested-loop anywhere despite the 4-band union + verify joins
    p = plan(REGISTRY["d6b_srp_neardup"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_interval_join_is_bucketed_equi_join(spark, sf_dir):
    # the oracle is the theta join; the engine plan must be the ±1
    # time-bucket hash equi-join — nested-loop anywhere means the
    # bucketing regressed to the quadratic form
    p = plan(REGISTRY["j10_interval_join"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_clip_segments_single_keyed_window(spark, sf_dir):
    # mm3's running cut count must be a path-KEYED window (parallel
    # across videos), never a global one
    p = plan(REGISTRY["mm3_clip_segments"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in p
    assert "No Partition Defined" not in p


def test_movement_single_shuffle(spark, sf_dir):
    # every window/lag/cumsum shares ONE hash partitioning on the key —
    # exactly one exchange in the whole plan (simple mode: one line/node)
    p = plan(REGISTRY["m5_movement_features"].fn(spark, sf_dir), mode="simple")
    assert p.count("Exchange") == 1
    # expression work happens inside codegen'd stages, not interpreted
    assert "WholeStageCodegen subtrees" in plan(
        REGISTRY["m5_movement_features"].fn(spark, sf_dir), mode="codegen"
    )


def test_qc_filter_single_shuffle(spark, sf_dir):
    p = plan(REGISTRY["p1_p2_filter_min_obs"].fn(spark, sf_dir), mode="simple")
    assert p.count("Exchange") == 1  # window form, not groupBy+join-back


def test_exact_dedup_partial_agg(spark, sf_dir):
    p = plan(REGISTRY["d1_exact_dedup"].fn(spark, sf_dir), mode="simple")
    # map-side combine: partial HashAggregate before the exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(content_hash" in p


def test_topk_is_take_ordered(spark, sf_dir):
    # global ORDER BY + LIMIT must plan as TakeOrderedAndProject — a
    # per-partition heap + driver merge, never a full global sort
    p = plan(REGISTRY["o5_topk"].fn(spark, sf_dir), mode="simple")
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p


def test_summary_plan_no_cartesian(spark):
    """The r5 frame-summary stage (movement ⋈ features ⋈ density) must
    stay cartesian-free: the density arm is the grid-bucketed J7 shape
    and every other join is keyed. Plan-regression gate on the WHOLE
    pipeline summary output."""
    from cellphe_data_pipeline_spark.domain.images import make_fake_image
    from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline

    bins = spark.createDataFrame(
        [("pl.fake", bytearray(make_fake_image(seed=9, height=20, width=20, n_frames=3)))],
        "path string, content binary",
    )
    out = run_pipeline(bins, qc={"minimum_cell_size": 2.0, "minimum_observations": 1})
    plan = out["summary"]._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_renumber_tracks_broadcasts_track_ids_under_cap(spark, monkeypatch):
    """On the DISTRIBUTED path (EDGE_DRIVER_CAP set to 0 — below the cap
    the whole renumbering short-circuits to the driver oracle and the
    plan is a LocalTableScan), under TRACK_DIM_DRIVER_CAP the head table
    is numbered driver-side and the final track-id join must be a
    BROADCAST of the tiny id relation, never a shuffle of the labelled
    node table (r5)."""
    from cellphe_data_pipeline_spark.domain import lineage
    from cellphe_data_pipeline_spark.domain.lineage import renumber_tracks

    # 4 cells over 5 frames: node id = frame*4 + cell, edges advance one
    # frame (the temporal-DAG contract renumber_tracks documents)
    nodes = spark.createDataFrame(
        [(i, i // 4) for i in range(20)], "ID long, FRAME int"
    )
    edges = spark.createDataFrame(
        [(i, i + 4) for i in range(16)], "src long, dst long"
    )
    with monkeypatch.context() as m:
        m.setattr(lineage, "EDGE_DRIVER_CAP", 0)
        tracks = renumber_tracks(nodes, edges)
    plan = tracks._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # and the default path on the same input IS the driver short-circuit:
    # a bare local-relation scan, no joins at all
    local_plan = (
        renumber_tracks(nodes, edges)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in local_plan
    assert "Exchange" not in local_plan


def test_global_numbering_has_no_single_partition_window(spark, sf_dir):
    """Regression guard for the round-3 scale fix: the numbering queries
    (w4/o1) must contain NO WindowExec at all — the two-pass partition-
    offset form replaces the single-partition global window."""
    import io
    from contextlib import redirect_stdout
    import __spark_entry__ as m

    for name in ("w4_natsort_row_number", "o1_multikey_sort_rank"):
        df = m.queries()[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "Window" not in plan, f"{name} regressed to a window plan:\n{plan}"


def test_ewma_single_window(spark, sf_dir):
    # all 8 lag terms must share ONE window spec: one exchange, one
    # Window node — never a per-lag re-sort
    p = plan(REGISTRY["w9_ewma"].fn(spark, sf_dir), mode="simple")
    assert p.count("Exchange") == 1
    assert p.count("Window") == 1


def test_pagerank_no_cartesian_broadcastable_rank(spark, sf_dir):
    # per-iteration: node-keyed joins only; never a cartesian
    p = plan(REGISTRY["g5_pagerank"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in p


def test_spatial_nn_join_no_cartesian(spark, sf_dir):
    # the NN argmin must ride the 9-cell hash equi-join, never the
    # oracle's quadratic theta join
    p = plan(REGISTRY["j11_spatial_nn_join"].fn(spark, sf_dir), mode="simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_incremental_mv_fold_is_broadcast_star(spark, sf_dir):
    """c20's slice rollups must star-join their dims by BROADCAST (the
    fact is never shuffled for supplier/nation) and never fall back to
    a sort-merge join; the fold itself is aggregation, not a join."""
    p = plan(REGISTRY["c20_incremental_mv"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_grouping_sets_is_one_expand_pass(spark, sf_dir):
    """a19 must run as ONE scan expanded to the grouping sets (the
    Expand operator), not unioned per-set scans: exactly one orders
    scan in the plan."""
    df = REGISTRY["a19_grouping_sets"].fn(spark, sf_dir)
    p = plan(df)
    assert "Expand" in p
    # simple mode prints the tree once (formatted repeats nodes in the
    # detail section): exactly one scan feeds the Expand
    assert plan(df, mode="simple").count("Scan parquet") == 1


def test_twa_single_exchange(spark, sf_dir):
    """w12's groupBy key equals its window partition key, so the agg
    rides the window's Exchange: exactly one in the whole plan."""
    df = REGISTRY["w12_time_weighted_avg"].fn(spark, sf_dir)
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert ex.count("Exchange") == 1


def test_g10_topk_is_take_ordered_no_cartesian(spark, sf_dir):
    """g10's top-100 must plan as TakeOrderedAndProject (per-partition
    heaps + one k-row merge, never a global sort), and candidate
    generation must be the neighbor equi-join — no cartesian."""
    df = REGISTRY["g10_common_neighbors"].fn(spark, sf_dir)
    p = plan(df)
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p


def test_c23_cluster_label_join_broadcasts(spark, sf_dir):
    """c23's final label join must broadcast the cluster-label side —
    the corpus never shuffles for the split assignment."""
    df = REGISTRY["c23_leakage_safe_split"].fn(spark, sf_dir)
    p = plan(df, mode="simple")
    assert "BroadcastHashJoin" in p, p


def test_a27_fold_branch_shuffles_partials_not_events(spark, sf_dir):
    """a27's folded branch must aggregate tumbling partials FIRST
    (groupBy hr on the event stream), then fold — visible as the
    hll_sketch_agg partial feeding an hll_union_agg, with the union
    side's expansion applied to the PARTIAL rows (explode after the
    first aggregate, not before it)."""
    df = REGISTRY["a27_sliding_hll_fold"].fn(spark, sf_dir)
    p = plan(df, mode="simple")
    assert "hll_union_agg" in p and "hll_sketch_agg" in p, p
    # the fold branch's explode (Generate) sits ABOVE its first
    # HashAggregate in the tree: find a Generate whose subtree
    # contains the partial agg — cheap structural probe: the plan
    # contains a Generate that appears BEFORE a hll_sketch_agg line
    # below it (tree prints parents first)
    lines = p.splitlines()
    gen_idx = [i for i, ln in enumerate(lines) if "Generate" in ln]
    agg_idx = [i for i, ln in enumerate(lines) if "hll_sketch_agg" in ln]
    assert gen_idx and agg_idx
    assert any(g < max(agg_idx) for g in gen_idx), p


def test_j16_cogroup_plan_is_two_sided_key_shuffle(spark, sf_dir):
    """j16 must plan as FlatMapCoGroupsInPandas over two key-hash
    Exchanges — the co-shuffle the kernel documents."""
    df = REGISTRY["j16_cogroup_asof"].fn(spark, sf_dir)
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in ex, ex
    assert ex.count("Exchange") >= 2, ex


def test_c24_composition_no_smj_two_corpus_shuffles(spark, sf_dir):
    """r12 (verdict ask #5): the composed corpus pipeline's plan
    contract — every enrichment side (contamination list, cluster
    labels) BROADCASTS (zero sort-merge joins anywhere), and the
    corpus stream itself shuffles exactly twice: once on the content
    hash (exact-dedup window) and once on the packing stream key. A
    stage re-shuffling what a prior stage already keyed would show up
    as a second exchange on either key."""
    df = REGISTRY["c24_corpus_pipeline"].fn(spark, sf_dir)
    p = plan(df, mode="simple")
    assert "SortMergeJoin" not in p, p
    assert p.count("BroadcastHashJoin") >= 3, p
    # exactly one packing shuffle (the stream key exists nowhere
    # upstream) and one content-hash shuffle (the dedup window)
    stream_ex = [
        ln for ln in p.splitlines()
        if "Exchange hashpartitioning(stream#" in ln
    ]
    md5_ex = [
        ln for ln in p.splitlines()
        if "Exchange hashpartitioning(_w0#" in ln
    ]
    assert len(stream_ex) == 1, p
    assert len(md5_ex) == 1, p


def test_c25_nosplit_packing_is_one_stream_shuffle(spark, sf_dir):
    """r12 (c25): the next-fit fold must plan as FlatMapGroupsInPandas
    over exactly ONE stream-keyed Exchange — the token count stays in
    codegen below the shuffle, and nothing re-shuffles the output."""
    df = REGISTRY["c25_pack_samples_nosplit"].fn(spark, sf_dir)
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in ex, ex
    assert ex.count("Exchange") == 1, ex


def test_d18_token_count_never_evaluates_on_the_corpus(spark, sf_dir):
    """r13 (r12 verdict ask #2): d18's docstring claims the quality
    score (the BPE-ish regexp token count) touches only CLUSTERED
    MEMBERS, never the corpus. Gate it structurally: in the optimized
    plan the regexp Project must sit ABOVE the clusters⋈docs join
    (tree prints parents first), and the corpus side below the join
    must be a bare column projection over the parquet relation — no
    regexp anywhere under the join."""
    df = REGISTRY["d18_best_representative"].fn(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    lines = opt.splitlines()
    regexp_idx = [i for i, ln in enumerate(lines) if "regexp_extract_all" in ln]
    join_idx = [i for i, ln in enumerate(lines) if "Join Inner" in ln]
    assert len(regexp_idx) == 1, opt  # scored exactly once, nowhere else
    assert join_idx, opt
    assert regexp_idx[0] < min(join_idx), opt  # Project is a parent of the join
    # and the physical strategy is the broadcast the docstring records
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in ex, ex


def test_mor_read_masks_via_broadcast_anti_never_smj(spark, tmp_path):
    """r14 (MOR tier): a delete-masked read must plan each outstanding
    delete file as a BROADCAST anti hash join (one map-side probe per
    delete file, no shuffle added to the scan) and never a
    SortMergeJoin; a read of a snapshot WITHOUT delete files must
    plan as the bare scan — zero joins, the mask costs nothing when
    absent."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_read,
    )

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).write.parquet(d)
    snapshot_commit_sharded(
        table, snapshot_current(table), snapshot_data_files(d)
    )
    bare = snapshot_read(spark, table, 1)
    ex0 = bare._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in ex0, ex0  # no mask, no join

    keys = spark.range(10, 20).select(F.col("id").alias("k"))
    snapshot_delete_keys(spark, table, "k", keys)
    masked = snapshot_read(spark, table, 2)
    ex = masked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in ex and "LeftAnti" in ex, ex
    assert "SortMergeJoin" not in ex, ex
    got = masked.count()
    assert got == 990


def test_mor_read_plan_depth_one_anti_join_per_key_column(spark, tmp_path):
    """r15 (the r14 verdict's ask #3): however many delete COMMITS are
    outstanding, the masked read plans exactly ONE broadcast anti-join
    per distinct key COLUMN — all of a column's delete files are read
    as one multi-path scan. The old per-file fold accumulated one join
    node per commit (e33's one-takedown-per-batch cadence grew the
    plan without bound between maintenance folds)."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_read,
    )

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("g")
    ).write.parquet(d)
    snapshot_commit_sharded(table, 0, snapshot_data_files(d))

    # five delete commits on the SAME key column
    for i in range(5):
        keys = spark.range(i * 10, i * 10 + 5).select(F.col("id").alias("k"))
        snapshot_delete_keys(spark, table, "k", keys)
    cur = snapshot_current(table)
    masked = snapshot_read(spark, table, cur)
    ex = masked._jdf.queryExecution().executedPlan().toString()
    assert ex.count("BroadcastHashJoin") == 1, ex
    assert "SortMergeJoin" not in ex, ex
    # 5 commits x 5 keys, all distinct, all in range
    assert masked.count() == 1000 - 25

    # a second key COLUMN adds exactly one more join, not one per file
    snapshot_delete_keys(
        spark, table, "g", spark.createDataFrame([(7,)], "g bigint")
    )
    snapshot_delete_keys(
        spark, table, "g", spark.createDataFrame([(8,)], "g bigint")
    )
    masked2 = snapshot_read(spark, table, snapshot_current(table))
    ex2 = masked2._jdf.queryExecution().executedPlan().toString()
    assert ex2.count("BroadcastHashJoin") == 2, ex2
    # g in {7,8} masks 200 rows; 21 of the k-deleted rows had g in
    # {7,8} too (k=7,8,17,27,37,... computed below) — count exactly
    expect = sum(
        1
        for k in range(1000)
        if not (any(i * 10 <= k < i * 10 + 5 for i in range(5)))
        and k % 10 not in (7, 8)
    )
    assert masked2.count() == expect


def test_kmv_merge_plans_no_single_partition_window(spark):
    """r15 (ask #7): the sketch-merge step must compile to an
    AGGREGATE, not an unpartitioned WindowExec (the 'No Partition
    Defined' warning at every a28/a29 run)."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.aggregates import (
        kmv_merge,
        kmv_sketch,
    )

    df = spark.range(0, 5000).select(
        (F.col("id") % 2).cast("string").alias("tag"),
        F.col("id").alias("k"),
    )
    # materialize the sketch so the merge's plan stands alone
    # (kmv_sketch itself plans per-tag — PARTITIONED — windows)
    sk = kmv_sketch(df, "k", "tag", k=256).localCheckpoint(eager=True)
    merged = kmv_merge(sk.select("h"), 256)
    ex = merged._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in ex, ex
    per_tag = kmv_merge(sk, 256, keys=("tag",))
    ex2 = per_tag._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in ex2, ex2
    # and the merge is value-correct: per-tag merge of an already
    # bottom-k sketch is the sketch itself
    assert per_tag.exceptAll(sk).unionAll(sk.exceptAll(per_tag)).count() == 0


def test_filtered_ann_plans_equi_join_never_cartesian(spark):
    """r15 (v20): the filtered vector search's label constraint must
    plan as an EQUI-join (hash-partitioned per filter group) — never
    a CartesianProduct / BroadcastNestedLoopJoin, which is what a
    theta-only self-join degrades to."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.similarity import (
        cosine_topk_filtered,
    )

    df = spark.range(0, 200).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).cast("int").alias("label"),
        F.array(
            (F.col("id") % 7).cast("float"),
            (F.col("id") % 5).cast("float"),
            (F.col("id") % 3 + 1).cast("float"),
        ).alias("embedding"),
    )
    out = cosine_topk_filtered(df, "label", k=3)
    ex = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in ex, ex
    assert "BroadcastNestedLoopJoin" not in ex, ex
    # pre-filter semantics: every neighbor shares the query's label
    joined = out.count()
    assert joined == 200 * 3
