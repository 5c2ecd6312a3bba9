"""QC report tables over real pipeline output (tracking_qc /
segmentation_qc analogues)."""

from __future__ import annotations

import statistics

from cellphe_data_pipeline_spark.domain.images import (
    decode_segment_centroid,
    make_fake_timelapse,
    mask_label_histogram,
)
from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline
from cellphe_data_pipeline_spark.plans.qc import segmentation_qc, tracking_qc


def test_qc_reports(spark):
    bins = spark.createDataFrame(
        [("tl.fake", bytearray(make_fake_timelapse(seed=7, height=40, width=40, n_frames=8, n_cells=5)))],
        "path string, content binary",
    )
    out = run_pipeline(bins)

    qc = tracking_qc(out["spots"], out["spots_filtered"])
    lengths = qc["track_lengths"].collect()
    raw = {r["TRACK_ID"]: r["track_length"] for r in lengths if r["type"] == "raw"}
    filt = {r["TRACK_ID"]: r["track_length"] for r in lengths if r["type"] == "filtered"}
    assert raw and filt
    assert all(filt[t] >= 3 for t in filt)  # QC min_observations
    summ = {r["type"]: r for r in qc["track_length_summary"].collect()}
    assert summ["raw"]["median_val"] == statistics.median(raw.values())
    dists = qc["frame_distances"].collect()
    assert all(r["frame_dist"] >= 0 for r in dists)
    for r in dists:
        assert r["cum_frame_dist"] >= r["frame_dist"] - 1e-9
    td = {r["TRACK_ID"]: r["total_dist"] for r in qc["total_distance"].collect()}
    by_track: dict = {}
    for r in dists:
        by_track[r["TRACK_ID"]] = by_track.get(r["TRACK_ID"], 0.0) + r["frame_dist"]
    for t, v in td.items():
        assert abs(by_track[t] - v) < 1e-6

    hist = mask_label_histogram(
        decode_segment_centroid(bins).select(
            "path", "frame_index", "height", "width", "mask"
        )
    )
    seg = segmentation_qc(hist)
    areas = seg["cell_areas"].collect()
    assert all(r["mask_id"] != 0 for r in areas)
    cpf = {r["frame_index"]: r["n_cells"] for r in seg["cells_per_frame"].collect()}
    assert len(cpf) == 8
    assert all(1 <= n <= 6 for n in cpf.values())  # ~5 disks per frame


def test_segmentation_highlight_frames(spark):
    """r6: the highlight table routes params.QC.segmentation_highlight
    — every stride-th frame, 'outline' = boundary pixels, 'fill' =
    every labeled pixel (so outline ⊆ fill and fill count = total
    area), unknown method falls back to outline like the report."""
    from cellphe_data_pipeline_spark.plans.qc import segmentation_highlight_frames

    bins = spark.createDataFrame(
        [("tl.fake", bytearray(make_fake_timelapse(seed=9, height=32, width=32, n_frames=12, n_cells=3)))],
        "path string, content binary",
    )
    masks = decode_segment_centroid(bins).select(
        "path", "frame_index", "height", "width", "mask"
    )
    fill = segmentation_highlight_frames(masks, "fill", stride=10).collect()
    outline = segmentation_highlight_frames(masks, "outline", stride=10).collect()
    # stride: frames 0 and 10 only
    assert {r["frame_index"] for r in fill} == {0, 10}
    assert {r["frame_index"] for r in outline} <= {0, 10}
    fset = {(r["frame_index"], r["px"], r["py"]) for r in fill}
    oset = {(r["frame_index"], r["px"], r["py"]) for r in outline}
    assert oset and oset <= fset  # boundary pixels are labeled pixels
    # fill pixel count per frame == summed label areas (histogram A5)
    hist = {
        (r["frame_index"], r["mask_id"]): r["n"]
        for r in mask_label_histogram(masks).collect()
        if r["mask_id"] != 0 and r["frame_index"] in (0, 10)
    }
    assert len(fset) == sum(hist.values())
    # unknown method: the report's documented fallback, not an error
    fb = segmentation_highlight_frames(masks, "sparkle", stride=10).collect()
    assert {(r["frame_index"], r["px"], r["py"]) for r in fb} == oset


def test_expectations_audit_properties(spark):
    """Property test: for arbitrary rows and rule outcomes —
    (1) failed_rules is exactly the sorted set of rules whose
    predicate is not TRUE on that row (NULL counts as failure),
    (2) passed ⟺ failed_rules empty, (3) the audit never drops or
    duplicates rows."""
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.qc_filters import (
        expectations_audit,
    )

    cell = st.one_of(st.none(), st.integers(min_value=-5, max_value=5))

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.tuples(cell, cell), min_size=1, max_size=12))
    def check(rows):
        df = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(rows)],
            "rid int, a int, b int",
        )
        out = expectations_audit(
            df,
            {
                "a_nonneg": F.col("a") >= 0,
                "b_small": F.col("b") < 3,
                "a_present": F.col("a").isNotNull(),
            },
        ).collect()
        assert len(out) == len(rows)
        assert sorted(r["rid"] for r in out) == list(range(len(rows)))
        for r in out:
            a, b = rows[r["rid"]]
            want = sorted(
                name
                for name, ok in [
                    ("a_nonneg", a is not None and a >= 0),
                    ("b_small", b is not None and b < 3),
                    ("a_present", a is not None),
                ]
                if not ok
            )
            assert list(r["failed_rules"]) == want, (a, b, r)
            assert r["passed"] == (not want)

    check()


def test_observe_stats_survive_aqe_replanning(spark):
    """p16's contract: observed metrics equal a relational rescan even
    when the enclosing action runs under AQE (re-planned at runtime —
    the executed plan must actually be adaptive for the pin to mean
    anything), and a second observe point after a filter counts only
    the surviving branch."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.qc_filters import observe_stats

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = spark.createDataFrame(
        [(i % 7, float(i), None if i % 5 == 0 else i) for i in range(300)],
        "k bigint, v double, maybe bigint",
    )
    observed, obs = observe_stats(
        df,
        "t_src",
        {
            "n": F.count(F.lit(1)),
            "nulls": F.sum(F.col("maybe").isNull().cast("bigint")),
            "mx": F.max("v"),
        },
    )
    filtered, obs2 = observe_stats(
        observed.filter(F.col("k") != 0), "t_clean", {"n": F.count(F.lit(1))}
    )
    # force a shuffle so AQE has something to re-plan, then act
    out = filtered.groupBy("k").agg(F.sum("v").alias("sv"))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" in plan and "isFinalPlan=true" in plan

    assert obs.get == {"n": 300, "nulls": 60, "mx": 299.0}
    assert obs2.get == {"n": 300 - len([i for i in range(300) if i % 7 == 0])}
