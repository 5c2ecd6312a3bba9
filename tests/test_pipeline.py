"""End-to-end chain test (SURVEY §3 E3): fake timelapse through
split → segment → detect → track → renumber → QC → movement →
time-series, checking cross-stage invariants."""

from __future__ import annotations

import pytest

from cellphe_data_pipeline_spark.domain.images import make_fake_image
from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline


def test_full_pipeline(spark):
    bins = spark.createDataFrame(
        [
            ("tl_a.fake", bytearray(make_fake_image(seed=21, height=24, width=24, n_frames=4))),
            ("tl_b.fake", bytearray(make_fake_image(seed=22, height=24, width=24, n_frames=3))),
        ],
        "path string, content binary",
    )
    out = run_pipeline(bins)

    frames = out["frames"].collect()
    assert len(frames) == 7

    dets = out["detections"].collect()
    assert len(dets) > 0
    assert all(r["mask_id"] != 0 for r in dets)
    assert all(0 <= r["x"] < 24 and 0 <= r["y"] < 24 for r in dets)

    spots = out["spots"].collect()
    # every spot belongs to exactly one 1-indexed track
    tids = {r["TRACK_ID"] for r in spots}
    assert min(tids) == 1
    # ids of one track are frame-monotone (temporal DAG held)
    by_track: dict = {}
    for r in sorted(spots, key=lambda r: r["frame"]):
        by_track.setdefault((r["timelapse_id"], r["TRACK_ID"]), []).append(r["frame"])
    for fs in by_track.values():
        assert fs == sorted(fs)
        assert len(fs) == len(set(fs))  # one spot per frame per track

    filtered = out["spots_filtered"].collect()
    counts: dict = {}
    for r in filtered:
        assert r["AREA"] >= 2.0
        counts[r["TRACK_ID"]] = counts.get(r["TRACK_ID"], 0) + 1
    assert all(c >= 3 for c in counts.values())

    movement = out["movement"].collect()
    for r in movement:
        assert r["Dis"] <= r["Trac"] + 1e-9
        assert 0.0 <= r["D2T"] <= 1.0 + 1e-12

    ts = out["timeseries"].collect()
    assert {r["TRACK_ID"] for r in ts} == set(counts)
    for r in ts:
        assert r["n_obs"] == counts[r["TRACK_ID"]]

    # M4 stage (r4): one feature row per QC-surviving (cell, frame)
    # computed from mask-boundary ROIs. Keys are a subset of the
    # filtered spots' (path, frame, low-21-bit mask label): cells whose
    # boundary has <3 pixels are skipped — the reference's
    # RuntimeError-on-degenerate -> skip (frame_features_image.py:66-70)
    feats = out["features"].collect()
    want_keys = {
        (r["timelapse_id"], r["frame"], int(r["id"]) & ((1 << 21) - 1))
        for r in filtered
    }
    got_keys = {(r["path"], r["FrameID"], r["CellID"]) for r in feats}
    assert got_keys <= want_keys
    assert len(got_keys) > 0
    from cellphe_data_pipeline_spark.domain.images import mask_rois

    boundary_n = {
        (r["path"], r["FrameID"], r["CellID"]): len(r["coords"])
        for r in mask_rois(out["masks"]).collect()
    }
    for k in want_keys - got_keys:
        assert boundary_n[k] < 3  # only degenerates are skipped
    from cellphe_data_pipeline_spark.domain.features import STATIC_FEATURE_NAMES

    for r in feats[:5]:
        d = r.asDict()
        assert all(n in d and d[n] is not None for n in STATIC_FEATURE_NAMES)
        assert d["Area"] > 0 and d["Perim"] > 0
    # Order-dependent features are computed on a true contour traversal
    # (r5, ADVICE r4 high): every step of a Moore-traced closed boundary
    # is 8-adjacent, so Boundary_len <= Perim <= sqrt(2)*Boundary_len.
    # A lexicographically-ordered boundary zigzags and blows through the
    # upper bound (and with it Compactness = Perim^2/(4*pi*Area)).
    import math

    for r in feats:
        assert r["Boundary_len"] - 1e-9 <= r["Perim"] <= math.sqrt(2) * r["Boundary_len"] + 1e-9
    # reference 3-part ROI naming on the pipeline path (parse_xml.py:
    # 202-211): FRAME-TRACK-CELL, zero-padded to data-driven widths
    for r in feats:
        parts = r["ROI_filename"].split("-")
        assert len(parts) == 3
        assert int(parts[0]) == r["FrameID"] and int(parts[2]) == r["CellID"]

    # r5: frame-summary table — the reference's final CSV shape
    # (create_frame_summary_features.py): movement + static features +
    # the un-stubbed dens column (reference hard-codes 0 after its
    # pandas density OOM'd, :57-62)
    summary = out["summary"].collect()
    assert {(r["timelapse_id"], r["frame"], r["CellID"]) for r in summary} == got_keys
    d0 = summary[0].asDict()
    for n in ("TRACK_ID", "Dis", "Trac", "D2T", "Vel", "dens", "Perim", "ROI_filename"):
        assert n in d0
    assert all(r["dens"] >= 0.0 for r in summary)
    # the fake frames carry many cells in a 24x24 field with radius 25:
    # every cell sharing its frame with another QC-surviving cell has a
    # positive neighbor count — the stub-vs-un-stubbed difference
    frame_pop: dict = {}
    for r in filtered:
        k = (r["timelapse_id"], r["frame"])
        frame_pop[k] = frame_pop.get(k, 0) + 1
    for r in summary:
        if frame_pop[(r["timelapse_id"], r["frame"])] > 1:
            assert r["dens"] > 0

    # determinism: same input -> same spot set
    out2 = run_pipeline(bins)
    s1 = sorted((r["timelapse_id"], r["id"], r["TRACK_ID"]) for r in spots)
    s2 = sorted(
        (r["timelapse_id"], r["id"], r["TRACK_ID"]) for r in out2["spots"].collect()
    )
    assert s1 == s2


def test_pipeline_split_tracks(spark):
    """A dividing cell through the WHOLE chain (r5, M3 phase 2): one
    blob in frames 0-1 splits into two in frame 2. With
    ALLOW_TRACK_SPLITTING the tracker emits the 1→2 split link and G4
    renumbering keeps the parent's track on one child and assigns the
    other a NEW track id — the reference's division semantics
    (templates/cyto3.json:31-38 + parse_xml.py:151-153)."""
    import numpy as np

    h = w = 24
    yy, xx = np.mgrid[0:h, 0:w]
    frames = np.zeros((3, h, w), dtype=np.uint8)

    def disk(img, cx, cy, r=3):
        img[(xx - cx) ** 2 + (yy - cy) ** 2 <= r * r] = 200

    disk(frames[0], 10, 10)
    disk(frames[1], 10, 10)
    disk(frames[2], 6, 10)   # near child: continues the parent track
    disk(frames[2], 15, 10)  # far child: reachable only via the split link
    bins = spark.createDataFrame(
        [("div.fake", bytearray(fake1_container(frames)))], "path string, content binary"
    )
    out = run_pipeline(
        bins,
        qc={"minimum_cell_size": 2.0, "minimum_observations": 1},
        allow_splitting=True,
        splitting_max_distance=6.0,
    )
    spots = out["spots"].collect()
    by_frame: dict = {}
    for r in spots:
        by_frame.setdefault(r["frame"], []).append(r)
    assert len(by_frame[0]) == 1 and len(by_frame[1]) == 1 and len(by_frame[2]) == 2
    parent_tid = by_frame[0][0]["TRACK_ID"]
    assert by_frame[1][0]["TRACK_ID"] == parent_tid
    child_tids = {r["TRACK_ID"] for r in by_frame[2]}
    # one child continues the parent's track, the other is renumbered
    assert parent_tid in child_tids and len(child_tids) == 2
    # without the flag, the far child is a disconnected singleton and is
    # DROPPED by renumbering (isolated node) — the split link is what
    # brings it into the lineage at all
    base = run_pipeline(bins, qc={"minimum_cell_size": 2.0, "minimum_observations": 1})
    assert base["spots"].count() == 3


def test_pipeline_from_config(spark, tmp_path):
    import json

    from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline_from_config
    from cellphe_data_pipeline_spark.sources.io import read_config, write_config

    d = tmp_path / "raw"
    d.mkdir()
    (d / "tl.fake").write_bytes(make_fake_image(seed=31, height=24, width=24, n_frames=4))

    cfg = {
        "run": {"segmentation": True, "tracking": True, "cellphe": True},
        "QC": {"minimum_cell_size": 2, "minimum_observations": 2},
        "tracking": {"settings": {"LINKING_MAX_DISTANCE": 8.0,
                                  "GAP_CLOSING_MAX_DISTANCE": 16.0}},
    }
    # S13 round-trip feeds the run, as in the reference's params-file
    write_config(spark, cfg, str(tmp_path / "cfg"))
    loaded = read_config(spark, str(tmp_path / "cfg"))
    out = run_pipeline_from_config(spark, str(d), loaded)
    assert out["timeseries"].count() > 0
    assert all(r["AREA"] >= 2 for r in out["spots_filtered"].collect())

    # gated run: tracking off -> only the segmentation sub-DAG exists
    out2 = run_pipeline_from_config(
        spark, str(d), {**loaded, "run": {"segmentation": True, "tracking": False}}
    )
    assert set(out2) == {"frames", "masks", "detections", "segmentation_highlight"}


def test_pipeline_resumable(spark, tmp_path):
    import os

    from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline_resumable

    bins = spark.createDataFrame(
        [("r.fake", bytearray(make_fake_image(seed=41, height=20, width=20, n_frames=3)))],
        "path string, content binary",
    )
    stage_dir = str(tmp_path / "stages")
    out1 = run_pipeline_resumable(spark, bins, stage_dir)
    n1 = out1["spots"].count()
    assert n1 > 0
    mtime = os.path.getmtime(os.path.join(stage_dir, "spots", "_SUCCESS"))

    # second run: stages are read back, not rewritten
    out2 = run_pipeline_resumable(spark, bins, stage_dir)
    assert out2["spots"].count() == n1
    assert os.path.getmtime(os.path.join(stage_dir, "spots", "_SUCCESS")) == mtime

    # forcing a stage rewrites just that stage
    out3 = run_pipeline_resumable(spark, bins, stage_dir, force=("spots",))
    assert out3["spots"].count() == n1
    assert os.path.getmtime(os.path.join(stage_dir, "spots", "_SUCCESS")) > mtime
    # the CSV-edge manifest and the QC highlight table are published
    # stages too (run_pipeline emits them, so BOTH entry paths agree)
    assert os.path.exists(os.path.join(stage_dir, "feature_manifest", "_SUCCESS"))
    assert os.path.exists(
        os.path.join(stage_dir, "segmentation_highlight", "_SUCCESS")
    )


def test_feature_manifest_discloses_parity_columns(spark):
    """r6 (VERDICT ask #6): the published frame-features output carries
    a manifest distinguishing pinned ("exact") from reconstructed
    ("recon") from engine-local ("parity") columns — one row per
    STATIC_FEATURE_NAMES entry, in column order, with the COVERAGE.md
    counts (14/33/27) and engine_local marking exactly the parity
    set."""
    from cellphe_data_pipeline_spark.domain.features import (
        FEATURE_STATUS,
        STATIC_FEATURE_NAMES,
        feature_manifest,
    )

    # the status map covers the feature tuple exactly
    assert set(FEATURE_STATUS) == set(STATIC_FEATURE_NAMES)
    rows = feature_manifest(spark).orderBy("column_index").collect()
    assert [r["feature"] for r in rows] == list(STATIC_FEATURE_NAMES)
    counts = {}
    for r in rows:
        counts[r["status"]] = counts.get(r["status"], 0) + 1
        assert r["engine_local"] == (r["status"] == "parity")
    assert counts == {"exact": 14, "recon": 33, "parity": 27}


def test_config_routes_lap_cost_knobs():
    """r6: the params-file translation routes the LAP cost knobs ONLY
    when the config supplies them (cyto3.json:26,30,33-35) — a
    knob-free config reproduces the pre-r6 pipeline exactly."""
    from cellphe_data_pipeline_spark.plans.pipeline import config_to_run_kwargs

    bare = config_to_run_kwargs({})
    assert bare["alternative_cost_factor"] is None
    assert bare["merging_feature_penalties"] is None
    assert bare["splitting_feature_penalties"] is None

    cyto3ish = {
        "tracking": {
            "algorithm": "SparseLAPTracker",
            "settings": {
                "ALTERNATIVE_LINKING_COST_FACTOR": 1.05,
                "CUTOFF_PERCENTILE": 0.9,
                "MERGING_FEATURE_PENALTIES": {"AREA": 0.5},
            },
        }
    }
    kw = config_to_run_kwargs(cyto3ish)
    assert kw["alternative_cost_factor"] == 1.05
    assert kw["cutoff_percentile"] == 0.9
    assert kw["merging_feature_penalties"] == {"AREA": 0.5}
    assert kw["tracking_method"] == "lap"

    # r7: the remaining two penalty maps route too; the published
    # templates set both to {} (cyto3.json:24,30) which must stay
    # None — empty maps change nothing
    assert bare["linking_feature_penalties"] is None
    assert bare["gap_closing_feature_penalties"] is None
    kw2 = config_to_run_kwargs(
        {
            "tracking": {
                "settings": {
                    "LINKING_FEATURE_PENALTIES": {"AREA": 0.7},
                    "GAP_CLOSING_FEATURE_PENALTIES": {"AREA": 0.3},
                }
            }
        }
    )
    assert kw2["linking_feature_penalties"] == {"AREA": 0.7}
    assert kw2["gap_closing_feature_penalties"] == {"AREA": 0.3}
    empty = config_to_run_kwargs(
        {
            "tracking": {
                "settings": {
                    "LINKING_FEATURE_PENALTIES": {},
                    "GAP_CLOSING_FEATURE_PENALTIES": {},
                }
            }
        }
    )
    assert empty["linking_feature_penalties"] is None
    assert empty["gap_closing_feature_penalties"] is None


def test_config_algorithm_selects_lap(spark, tmp_path):
    """tracking.algorithm config field maps to the tracker method:
    LAP-family names use Hungarian linking, NearestNeighbor stays
    greedy (templates/cyto3.json:24 contract)."""
    import os
    from cellphe_data_pipeline_spark.domain.images import make_fake_timelapse
    from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline_from_config

    d = tmp_path / "raw"
    os.makedirs(d)
    (d / "a.fake").write_bytes(make_fake_timelapse(seed=3, height=32, width=32, n_frames=4))
    for algo in ("SparseLAPTracker", "NearestNeighbor"):
        out = run_pipeline_from_config(
            spark,
            str(d),
            {"tracking": {"algorithm": algo}},
        )
        # both methods track this easy fixture into the same non-empty edge set
        assert out["track_edges"].count() > 0

    # r6: Overlap routes to the relational mask-IoU tracker (was a
    # greedy fallback) — the easy fixture's near-static disks overlap
    # frame-to-frame, so the edge list is non-empty, gap is 0 by
    # construction, and the full downstream chain still runs
    out = run_pipeline_from_config(
        spark,
        str(d),
        {"tracking": {"algorithm": "Overlap", "settings": {"MIN_IOU": 0.2}}},
    )
    edges = out["track_edges"].collect()
    assert edges and all(r["gap"] == 0 for r in edges)
    assert all(r["dist"] >= 0.0 for r in edges)
    assert out["timeseries"].count() > 0


def test_pipeline_config_selects_otsu_segmentation(spark, tmp_path):
    """r5b: segmentation.method in the params-file reaches the M1
    kernel — the otsu chain produces masks and downstream detections,
    and an invalid method fails fast at plan time."""
    import pytest

    from cellphe_data_pipeline_spark.domain.images import make_fake_image
    from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline

    bins = spark.createDataFrame(
        [("o.fake", bytearray(make_fake_image(seed=3, height=24, width=24, n_frames=3)))],
        "path string, content binary",
    )
    out = run_pipeline(bins, segmentation_method="otsu")
    assert out["detections"].count() > 0
    with pytest.raises(ValueError, match="unknown segmentation method"):
        run_pipeline(bins, segmentation_method="nope")


def test_static_features_fused_matches_staged_branch(spark):
    """r17: the pipeline's fused M4 branch (contour tracing inside the
    feature kernel over the fused checkpoint rows) must reproduce the
    staged mask_rois -> roi_filename -> static_features branch
    row-for-row, ROI names included."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.domain.features import (
        static_features,
        static_features_fused,
    )
    from cellphe_data_pipeline_spark.domain.images import (
        decode_segment_centroid,
        make_fake_timelapse,
        mask_rois,
    )
    from cellphe_data_pipeline_spark.domain.rois import roi_filename
    from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline

    bins = spark.createDataFrame(
        [
            (
                f"tl_{i}.fake",
                bytearray(
                    make_fake_timelapse(seed=300 + i, height=48, width=48, n_frames=6)
                ),
            )
            for i in range(2)
        ],
        "path string, content binary",
    )
    out = run_pipeline(bins)
    filtered = out["spots_filtered"]
    keep = filtered.select(
        F.col("timelapse_id").alias("path"),
        F.col("frame").alias("FrameID"),
        F.col("id").bitwiseAND(F.lit((1 << 21) - 1)).cast("int").alias("CellID"),
        "TRACK_ID",
    )
    fused = decode_segment_centroid(bins)

    # staged form (the pre-r17 pipeline branch)
    kept_rois = roi_filename(
        mask_rois(out["masks"]).drop("ROI_filename").join(
            keep, ["path", "FrameID", "CellID"]
        ),
        frame_col="FrameID",
        track_col="TRACK_ID",
        id_col="CellID",
        out_col="ROI_filename",
    ).drop("TRACK_ID")
    staged = static_features(out["frames"], kept_rois)
    fused_feats = static_features_fused(fused, keep)

    def key(rows):
        return sorted(
            tuple(r[c] for c in r.__fields__) for r in rows
        )

    srows = staged.collect()
    frows = fused_feats.select(*staged.columns).collect()
    assert len(srows) > 0
    # exact equality including float bits: identical numpy math on
    # identical coords and rasters
    assert key(frows) == key(srows)
    # and the pipeline's features stage IS the fused form now
    prows = out["features"].select(*staged.columns).collect()
    assert key(prows) == key(srows)


PIN_THREAD_OFF_SCRIPT = """
from cellphe_data_pipeline_spark.domain.images import make_fake_timelapse
from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline
from cellphe_data_pipeline_spark.session import get_spark

spark = get_spark(app_name="pin-thread-off")
bins = spark.createDataFrame(
    [
        (f"tl_{i}.fake", bytearray(make_fake_timelapse(seed=40 + i, height=32, width=32, n_frames=4)))
        for i in range(2)
    ],
    "path string, content binary",
)
out = run_pipeline(bins)
print("summary", out["summary"].count(), "timeseries", out["timeseries"].count())
spark.stop()
"""


def test_pipeline_runs_with_pinned_thread_mode_off(tmp_path):
    """``run_pipeline`` must not depend on pyspark's pinned-thread mode:
    with ``PYSPARK_PIN_THREAD=false`` (a supported configuration, read at
    SparkContext start, hence a fresh interpreter) the whole chain runs
    through to the summary and time-series tables."""
    import os
    import re
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "PYSPARK_PIN_THREAD": "false",
        # workers import the package too
        "PYTHONPATH": os.pathsep.join(
            p for p in (repo, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_SHUFFLE": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    proc = subprocess.run(
        [sys.executable, "-c", PIN_THREAD_OFF_SCRIPT],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    m = re.search(r"^summary (\d+) timeseries (\d+)$", proc.stdout, re.M)
    assert m and int(m.group(1)) > 0 and int(m.group(2)) > 0, proc.stdout


OUTSIDE_REPO_SCRIPT = """
import sys

sys.path.insert(0, {repo!r})
from cellphe_data_pipeline_spark.domain.images import make_fake_timelapse
from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline
from cellphe_data_pipeline_spark.session import get_spark

spark = get_spark(app_name="outside-repo")
assert spark.conf.get("spark.python.daemon.module") == "cellphe_data_pipeline_spark.worker"


def plus_one(batches):
    for pdf in batches:
        yield pdf.assign(id=pdf["id"] + 1)


print("mapInPandas", sorted(r.id for r in spark.range(3).mapInPandas(plus_one, "id long").collect()))
bins = spark.createDataFrame(
    [
        (f"tl_{{i}}.fake", bytearray(make_fake_timelapse(seed=50 + i, height=32, width=32, n_frames=4)))
        for i in range(2)
    ],
    "path string, content binary",
)
out = run_pipeline(bins)
print("summary", out["summary"].count(), "timeseries", out["timeseries"].count())
spark.stop()
"""


@pytest.mark.parametrize(
    "variant",
    [
        {},
        # one core, replicated lineage cuts
        {"SPARK_GRAFT_CPUS": "1", "SPARK_GRAFT_SHUFFLE": "1", "CELLPHE_CHECKPOINT_DIR": "ckpt"},
    ],
    ids=["default", "local1-replicated-cuts"],
)
def test_pipeline_runs_from_outside_the_repo(tmp_path, variant):
    """The Python workers import the package (the engine's daemon entry
    lives in it) with no help from the calling process's environment:
    it runs with its working directory outside the repo, ``PYTHONPATH``
    unset and the repo on ``sys.path`` only, and both a ``mapInPandas``
    and ``run_pipeline`` go through."""
    import os
    import re
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        {"SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_SHUFFLE": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    )
    env.update(variant)
    if "CELLPHE_CHECKPOINT_DIR" in env:
        env["CELLPHE_CHECKPOINT_DIR"] = str(tmp_path / env["CELLPHE_CHECKPOINT_DIR"])
    proc = subprocess.run(
        [sys.executable, "-c", OUTSIDE_REPO_SCRIPT.format(repo=repo)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert re.search(r"^mapInPandas \[1, 2, 3\]$", proc.stdout, re.M), proc.stdout
    m = re.search(r"^summary (\d+) timeseries (\d+)$", proc.stdout, re.M)
    assert m and int(m.group(1)) > 0 and int(m.group(2)) > 0, proc.stdout
    if "CELLPHE_CHECKPOINT_DIR" in variant:
        assert os.listdir(env["CELLPHE_CHECKPOINT_DIR"])


def test_pipeline_frames_starting_with_container_magic(spark):
    """A decoded frame is a raw raster, whatever its first pixels hold:
    frames whose first five pixels are the bytes ``FAKE1`` (the container
    magic) run through M4 like any other frame, and give the same summary
    as the same frames with those five background pixels changed."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import (
        FAKE_MAGIC,
        decode_frame,
        make_fake_timelapse,
    )

    frames = np.stack(
        decode_frame(make_fake_timelapse(seed=5, height=32, width=32, n_frames=5, n_cells=3))
    )
    # the corner pixels used below lie outside every cell
    assert not frames[:, 0, :5].any() and not frames[:, -1, -1].any()
    # background 80 keeps the magic bytes (49..75) below the median
    # threshold; one 0 pixel pins the frame minimum of both variants
    frames[frames == 0] = 80
    frames[:, -1, -1] = 0
    magic = frames.copy()
    magic[:, 0, :5] = np.frombuffer(FAKE_MAGIC, dtype=np.uint8)

    def summary(stack):
        bins = spark.createDataFrame(
            [("tl.fake", bytearray(fake1_container(stack)))], "path string, content binary"
        )
        rows = run_pipeline(bins)["summary"].collect()
        return sorted(tuple(r) for r in rows)

    got = summary(magic)
    assert got, "no QC-surviving cells"
    assert got == summary(frames)


def fake1_container(stack) -> bytes:
    """A FAKE1 container holding the uint8 frames of ``stack`` (n, h, w)."""
    import zlib

    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import FAKE_MAGIC

    n, h, w = stack.shape
    return FAKE_MAGIC + np.array([h, w, n], dtype="<u4").tobytes() + zlib.compress(stack.tobytes())


def _degenerate_inputs():
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import make_fake_timelapse

    return {
        "empty-dir": {},
        "zero-frames": {"tl.fake": fake1_container(np.zeros((0, 32, 32), np.uint8))},
        "all-background": {"tl.fake": fake1_container(np.zeros((4, 32, 32), np.uint8))},
        "one-frame": {"tl.fake": make_fake_timelapse(seed=7, height=32, width=32, n_frames=1)},
    }


@pytest.mark.parametrize("case", sorted(_degenerate_inputs()))
def test_cli_publishes_empty_tables_for_degenerate_inputs(spark, tmp_path, case):
    """The CLI runs to completion on inputs with no trackable cell — an
    empty input directory, a container with zero frames, frames with no
    foreground, a one-frame timelapse — and publishes ``summary`` and
    ``timeseries`` as empty parquet tables with their columns."""
    import json

    from cellphe_data_pipeline_spark.__main__ import main

    raw = tmp_path / "raw"
    raw.mkdir()
    for name, content in _degenerate_inputs()[case].items():
        (raw / name).write_bytes(content)
    config = tmp_path / "config.json"
    config.write_text(json.dumps({}))
    out = tmp_path / "out"

    assert main(["--input", str(raw), "--config", str(config), "--out", str(out)]) == 0
    for stage in ("summary", "timeseries"):
        df = spark.read.parquet(str(out / stage))
        assert df.columns, stage
        assert df.count() == 0, stage
