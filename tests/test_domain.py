"""Domain-layer tests: TrackMate XML parse, lineage renumbering vs the
python oracle, ROI interpolation, image kernels, tracking, and the full
chain (golden fixture per SURVEY §5)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.domain.images import (
    decode_segment_centroid,
    make_fake_image,
    mask_label_histogram,
    split_frames,
)
from cellphe_data_pipeline_spark.domain.lineage import (
    renumber_tracks,
    renumber_tracks_oracle,
)
from cellphe_data_pipeline_spark.domain.rois import (
    clip_negative,
    interpolate_rois,
    roi_filename,
)
from cellphe_data_pipeline_spark.domain.trackmate import (
    parse_ome_companion,
    parse_trackmate_edges,
    parse_trackmate_spots,
    spot_rois,
)


def _spot(sid, frame, x, y, area, boundary="0.0 0.0 2.0 0.0 2.0 2.0"):
    attrs = " ".join(
        f'{a}="1.0"'
        for a in (
            "QUALITY POSITION_Z POSITION_T RADIUS MEAN_INTENSITY_CH1 "
            "MEDIAN_INTENSITY_CH1 MIN_INTENSITY_CH1 MAX_INTENSITY_CH1 "
            "TOTAL_INTENSITY_CH1 STD_INTENSITY_CH1 CONTRAST_CH1 SNR_CH1 "
            "PERIMETER CIRCULARITY SOLIDITY SHAPE_INDEX"
        ).split()
    )
    return (
        f'<Spot ID="{sid}" name="ID{sid}" FRAME="{frame}" POSITION_X="{x}" '
        f'POSITION_Y="{y}" AREA="{area}" {attrs}>{boundary}</Spot>'
    )


TRACKMATE_XML = f"""<Model><AllSpots>
<SpotsInFrame frame="0">{_spot(1, 0, 10.0, 10.0, 30.0)}{_spot(2, 0, 50.0, 50.0, 40.0)}</SpotsInFrame>
<SpotsInFrame frame="1">{_spot(3, 1, 11.0, 11.0, 31.0)}{_spot(4, 1, 51.0, 51.0, 41.0)}</SpotsInFrame>
<SpotsInFrame frame="2">{_spot(5, 2, 12.0, 10.0, 32.0)}{_spot(6, 2, 10.0, 12.0, 33.0)}</SpotsInFrame>
</AllSpots><AllTracks>
<Track><Edge SPOT_SOURCE_ID="1" SPOT_TARGET_ID="3"/><Edge SPOT_SOURCE_ID="3" SPOT_TARGET_ID="5"/>
<Edge SPOT_SOURCE_ID="3" SPOT_TARGET_ID="6"/></Track>
<Track><Edge SPOT_SOURCE_ID="2" SPOT_TARGET_ID="4"/></Track>
</AllTracks></Model>"""


def test_parse_trackmate(spark):
    df = spark.createDataFrame([(TRACKMATE_XML,)], "xml string")
    spots = parse_trackmate_spots(df).collect()
    assert len(spots) == 6
    by_id = {r["ID"]: r for r in spots}
    assert by_id[1]["POSITION_X"] == 10.0 and by_id[1]["FRAME"] == 0
    assert by_id[4]["AREA"] == 41.0
    assert by_id[1]["LABEL"] == "ID1"
    assert by_id[1]["boundary_flat"] == [0.0, 0.0, 2.0, 0.0, 2.0, 2.0]

    edges = {(r["src"], r["dst"]) for r in parse_trackmate_edges(df).collect()}
    assert edges == {(1, 3), (3, 5), (3, 6), (2, 4)}

    rois = {r["ID"]: r["coords"] for r in spot_rois(parse_trackmate_spots(df)).collect()}
    # boundary translated by spot position and rounded to int
    assert [(c["x"], c["y"]) for c in rois[1]] == [(10, 10), (12, 10), (12, 12)]


def test_parse_ome(spark):
    xml = """<OME><Image><Pixels>
    <TiffData IFD="0" FirstT="0"><UUID FileName="a.tiff"/></TiffData>
    <TiffData IFD="1" FirstT="1"><UUID FileName="a.tiff"/></TiffData>
    <TiffData IFD="0" FirstT="2"><UUID FileName="b.tiff"/></TiffData>
    </Pixels></Image></OME>"""
    out = [tuple(r) for r in parse_ome_companion(
        spark.createDataFrame([(xml,)], "xml string")
    ).collect()]
    assert out == [("a.tiff", 0, 0), ("a.tiff", 1, 1), ("b.tiff", 0, 2)]


def test_renumber_tracks_vs_oracle(spark):
    # chain with a split at 3 (children 5,6), a merge at 9 (parents 6,8),
    # two roots, plus an isolated node 99
    edges = [(1, 3), (3, 5), (3, 6), (2, 4), (4, 8), (6, 9), (8, 9), (9, 10)]
    nodes = [(1, 0), (2, 0), (3, 1), (4, 1), (5, 2), (6, 2), (8, 2), (9, 3), (10, 4), (99, 7)]
    got = {
        r["ID"]: r["TRACK_ID"]
        for r in renumber_tracks(
            spark.createDataFrame(nodes, "ID bigint, FRAME int"),
            spark.createDataFrame(edges, "src bigint, dst bigint"),
        ).collect()
    }
    want = renumber_tracks_oracle(nodes, edges)
    assert got == want
    assert 99 not in got  # isolated pruned
    # semantic spot-checks: min child 5 continues track of 1-3; 6 starts new;
    # merge child 9 continues min-parent 6's track; 8's track ends at 8
    assert got[1] == got[3] == got[5]
    assert got[6] != got[3]
    assert got[9] == got[6] and got[10] == got[9]
    assert got[8] != got[9]
    # 1-indexed contiguous ids
    assert sorted(set(got.values())) == list(range(1, len(set(got.values())) + 1))


def test_renumber_tracks_random_vs_oracle(spark):
    import random

    rng = random.Random(5)
    n = 120
    nodes = [(i, rng.randrange(20)) for i in range(n)]
    # lineage edges always advance in time (temporal DAG) — orient low->high
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(150)})
    edges = [(min(u, v), max(u, v)) for u, v in edges if u != v]
    got = {
        r["ID"]: r["TRACK_ID"]
        for r in renumber_tracks(
            spark.createDataFrame(nodes, "ID bigint, FRAME int"),
            spark.createDataFrame(edges, "src bigint, dst bigint"),
        ).collect()
    }
    want = renumber_tracks_oracle(nodes, edges)
    assert got == want
    # the bounded driver path (default) and the fully distributed path
    # must assign IDENTICAL track ids
    distributed = {
        r["ID"]: r["TRACK_ID"]
        for r in renumber_tracks(
            spark.createDataFrame(nodes, "ID bigint, FRAME int"),
            spark.createDataFrame(edges, "src bigint, dst bigint"),
            edge_driver_cap=0,
        ).collect()
    }
    assert distributed == want


def test_roi_interpolation(spark):
    # square corners with gaps -> Bresenham closes the boundary, no dups
    df = spark.createDataFrame(
        [(1, [{"x": 0, "y": 0}, {"x": 3, "y": 0}, {"x": 3, "y": 3}, {"x": 0, "y": 3}])],
        "id int, coords array<struct<x:int,y:int>>",
    )
    [row] = interpolate_rois(df).collect()
    pts = [(c["x"], c["y"]) for c in row["coords"]]
    assert len(pts) == len(set(pts)) == 12  # 4x4 square perimeter
    assert pts[0] == (0, 0) and (1, 0) in pts and (0, 1) in pts


def test_clip_and_filename(spark):
    df = spark.createDataFrame(
        [(1, [{"x": -2, "y": 5}, {"x": 3, "y": -1}])],
        "id int, coords array<struct<x:int,y:int>>",
    )
    [row] = df.select(clip_negative(F.col("coords")).alias("coords")).collect()
    assert [(c["x"], c["y"]) for c in row["coords"]] == [(0, 5), (3, 0)]

    spots = spark.createDataFrame(
        [(5, 3, 7), (123, 45, 999)], "FRAME int, TRACK_ID int, ID int"
    )
    out = {r["ID"]: r["ROI_FILENAME"] for r in roi_filename(spots).collect()}
    assert out == {7: "005-03-007", 999: "123-45-999"}  # data-driven widths


def test_image_chain(spark):
    payload1 = make_fake_image(seed=1, height=16, width=16, n_frames=3)
    payload2 = make_fake_image(seed=2, height=16, width=16, n_frames=2)
    bins = spark.createDataFrame(
        [("f1.fake", bytearray(payload1)), ("f2.fake", bytearray(payload2))],
        "path string, content binary",
    )
    frames = split_frames(bins)
    rows = frames.collect()
    assert len(rows) == 5  # S3/S4: 1 file -> N frames
    assert {r["path"] for r in rows} == {"f1.fake", "f2.fake"}
    assert all(len(r["data"]) == 16 * 16 for r in rows)

    masks = decode_segment_centroid(bins).select(
        "path", "frame_index", "height", "width", "mask"
    )
    hist = mask_label_histogram(masks)
    out = hist.collect()
    # background label present, counts sum to pixel count per frame
    per_frame: dict = {}
    for r in out:
        per_frame.setdefault((r["path"], r["frame_index"]), []).append(r)
    assert len(per_frame) == 5
    for rows_ in per_frame.values():
        assert sum(r["n"] for r in rows_) == 16 * 16
        assert any(r["mask_id"] == 0 for r in rows_)
    # deterministic: same seed -> same histogram
    out2 = mask_label_histogram(masks).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_static_features(spark):
    from cellphe_data_pipeline_spark.domain.features import static_features

    payload = make_fake_image(seed=3, height=16, width=16, n_frames=1)
    frames = split_frames(
        spark.createDataFrame([("t.fake", bytearray(payload))], "path string, content binary")
    )
    square = [{"x": x, "y": y} for x in range(4, 8) for y in range(4, 8)]
    rois = spark.createDataFrame(
        [(0, 10, "000-01-010", square), (0, 11, "000-01-011", [{"x": 0, "y": 0}])],
        "FrameID int, CellID int, ROI_filename string, coords array<struct<x:int,y:int>>",
    )
    out = static_features(frames, rois).collect()
    assert len(out) == 1  # degenerate ROI (cell 11) skipped
    r = out[0]
    assert r["CellID"] == 10 and r["Area"] == 16.0
    assert r["x"] == 5.5 and r["y"] == 5.5
    assert 0.0 <= r["Int_min"] <= r["Int_q25"] <= r["Int_mean"] <= r["Int_q75"] <= r["Int_max"] <= 1.0


def test_static_features_16bit_raster(spark):
    """A 16-bit raw raster (2 bytes per pixel, the other width the codec
    ladder produces) decodes by its byte count — it used to be reshaped
    as uint8 and raise."""
    from cellphe_data_pipeline_spark.domain.features import static_features

    img = np.arange(16 * 16, dtype=np.uint16).reshape(16, 16) * 200
    frames = spark.createDataFrame(
        [("t16.tif", 0, 16, 16, bytearray(img.tobytes()))],
        "path string, frame_index int, height int, width int, data binary",
    )
    square = [{"x": x, "y": y} for x in range(4, 8) for y in range(4, 8)]
    rois = spark.createDataFrame(
        [(0, 10, "000-01-010", square)],
        "FrameID int, CellID int, ROI_filename string, coords array<struct<x:int,y:int>>",
    )
    (r,) = static_features(frames, rois).collect()
    assert r["CellID"] == 10 and r["Area"] == 16.0
    # min-max normalised over the 16-bit range: pixel (x, y) -> (16y + x) / 255
    xs, ys = zip(*[(c["x"], c["y"]) for c in square])
    expect = (16 * np.array(ys) + np.array(xs)) / 255.0
    assert math.isclose(r["Int_min"], float(expect.min()), rel_tol=1e-12)
    assert math.isclose(r["Int_max"], float(expect.max()), rel_tol=1e-12)


def test_tracking(spark):
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    dets = []
    # cell A: drifts right 1px/frame over frames 0-5
    for f in range(6):
        dets.append(("tl1", 100 + f, f, 10.0 + f, 10.0))
    # cell B: stationary far away, with a 2-frame gap (frames 0,1, 4,5)
    for f in (0, 1, 4, 5):
        dets.append(("tl1", 200 + f, f, 500.0, 500.0))
    # noise: single detection out of range of everything
    dets.append(("tl1", 999, 2, 5000.0, 5000.0))
    df = spark.createDataFrame(dets, "timelapse_id string, id int, frame int, x double, y double")
    edges = track_detections(df, linking_max_distance=5.0, max_frame_gap=4,
                             gap_closing_max_distance=10.0).collect()
    es = {(r["src"], r["dst"]): (r["gap"], r["dist"]) for r in edges}
    for f in range(5):  # A chain linked consecutively
        assert (100 + f, 100 + f + 1) in es and es[(100 + f, 100 + f + 1)][0] == 0
    assert es[(201, 204)][0] == 2  # B's gap closed across 2 missing frames
    assert (204, 205) in es
    assert all(999 not in e for e in es)  # noise unlinked


def test_tracking_split_merge_links(spark):
    """M3 phase 2 proper (r5): the split (201→303) and merge (302→401)
    links exist ONLY when the ALLOW_* flags are on — greedy linking +
    gap closing alone cannot produce them — and G4 renumbering assigns
    the split child a NEW track id (lineage.py renumber_tracks)."""
    from cellphe_data_pipeline_spark.domain.lineage import renumber_tracks
    from cellphe_data_pipeline_spark.domain.tracking import track_detections
    from cellphe_data_pipeline_spark.testing.fixtures import split_merge_detections_df

    dets = split_merge_detections_df(spark)
    kw = dict(
        linking_max_distance=2.5,
        max_frame_gap=4,
        gap_closing_max_distance=2.5,
        gap_strategy="segment_lap",
    )
    base = {(r["src"], r["dst"]) for r in track_detections(dets, **kw).collect()}
    assert (201, 303) not in base and (302, 401) not in base  # negative control

    edges = track_detections(
        dets,
        **kw,
        allow_splitting=True,
        splitting_max_distance=2.5,
        allow_merging=True,
        merging_max_distance=2.5,
    )
    es = {(r["src"], r["dst"]): (r["gap"], r["dist"]) for r in edges.collect()}
    assert set(es) == base | {(201, 303), (302, 401)}
    assert es[(201, 303)][0] == 0 and abs(es[(201, 303)][1] - 5**0.5) < 1e-9
    assert es[(302, 401)] == (0, 2.0)

    # G4: the division renumbers — parent keeps its track id up to the
    # split point, both branches downstream get NEW ids (TrackMate's
    # track-splitting semantics, lineage README.md:52-60)
    from pyspark.sql import functions as F

    nodes = dets.select(F.col("id").alias("ID"), F.col("frame").alias("FRAME"))
    import pandas as pd

    e_pdf = pd.DataFrame(sorted(es), columns=["src", "dst"])
    tracks = {
        r["ID"]: r["TRACK_ID"]
        for r in renumber_tracks(
            nodes, spark.createDataFrame(e_pdf, "src long, dst long")
        ).collect()
    }
    # the min-id child continues the parent's track (keep-edge rule), so
    # A stays one track through the split AND the merge point
    assert (
        tracks[1] == tracks[101] == tracks[201] == tracks[301]
        == tracks[401] == tracks[501]
    )
    # the split child gets a NEW track id
    assert tracks[303] == tracks[403] == tracks[503]
    assert tracks[303] != tracks[1]
    # the merging track B keeps its own id and ends at the merge
    assert tracks[2] == tracks[102] == tracks[202] == tracks[302]
    assert len({tracks[1], tracks[2], tracks[303]}) == 3


def test_tracking_invariants_random_detections(spark):
    """Property sweep over random detection clouds with every tracker
    feature on (LAP linking, segment-LAP gap closing, split+merge):
    structural invariants that must hold for ANY input —
      - at most one PRIMARY outgoing/incoming link per spot; a second
        outgoing is only ever a split FROM a middle, a second incoming
        only a merge INTO a middle;
      - every edge advances in frame; gap edges respect max_frame_gap;
      - every link distance respects its phase's radius;
      - no duplicate (src, dst) pairs; determinism across reruns."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    rng = np.random.RandomState(42)
    rows = []
    for f in range(8):
        for k in range(rng.randint(3, 8)):
            rows.append(
                ("tl", f * 100 + k, f, float(rng.uniform(0, 30)), float(rng.uniform(0, 30)))
            )
    dets = spark.createDataFrame(
        rows, "timelapse_id string, id int, frame int, x double, y double"
    )
    kw = dict(
        linking_max_distance=6.0,
        max_frame_gap=3,
        gap_closing_max_distance=9.0,
        method="lap",
        gap_strategy="segment_lap",
        allow_splitting=True,
        splitting_max_distance=5.0,
        allow_merging=True,
        merging_max_distance=5.0,
    )
    edges = [(r["src"], r["dst"], r["gap"], r["dist"]) for r in track_detections(dets, **kw).collect()]
    assert len({(s, d) for s, d, _, _ in edges}) == len(edges)  # no dup pairs

    frame = {r[1]: r[2] for r in rows}
    pos = {r[1]: (r[3], r[4]) for r in rows}
    # the split/merge edges are EXACTLY the delta against a run without
    # the ALLOW flags — lets each edge class be checked against its OWN
    # radius instead of a loose shared bound
    base_kw = {k_: v for k_, v in kw.items() if not k_.startswith("allow_")}
    base = {
        (r["src"], r["dst"], r["gap"], r["dist"])
        for r in track_detections(dets, **base_kw).collect()
    }
    assert base <= set(edges)  # the phase-2 pass only ADDS edges
    extra = [e for e in edges if e not in base]
    for s, d, g, dist in extra:  # every added edge is a split or merge
        assert frame[d] - frame[s] == 1 and g == 0
        assert dist <= 5.0 + 1e-9  # its OWN radius, not the link radius
    out_deg: dict = {}
    in_deg: dict = {}
    for s, d, g, dist in edges:
        fd = frame[d] - frame[s]
        assert fd > 0                                   # temporal DAG
        if (s, d, g, dist) in base:
            assert g == fd - 1                          # true gap length
            assert g <= kw["max_frame_gap"]             # gap cap enforced
            assert dist <= (6.0 if fd == 1 else 9.0) + 1e-9
        out_deg[s] = out_deg.get(s, 0) + 1
        in_deg[d] = in_deg.get(d, 0) + 1
        ex, ey = pos[s]
        assert abs(np.hypot(pos[d][0] - ex, pos[d][1] - ey) - dist) < 1e-6
    # degree bounds: ≤2 out (primary + one split), ≤2 in (primary + one merge)
    assert max(out_deg.values(), default=0) <= 2
    assert max(in_deg.values(), default=0) <= 2
    for n, deg in out_deg.items():
        if deg == 2:
            assert in_deg.get(n, 0) >= 1  # split source is a middle
    for n, deg in in_deg.items():
        if deg == 2:
            assert out_deg.get(n, 0) >= 1  # merge target is a middle
    # determinism
    edges2 = [
        (r["src"], r["dst"], r["gap"], r["dist"]) for r in track_detections(dets, **kw).collect()
    ]
    assert sorted(edges) == sorted(edges2)


def test_csv_and_config_roundtrip(spark, tmp_path):
    from pyspark.sql import types as T

    from cellphe_data_pipeline_spark.sources.io import (
        empty_with_schema,
        read_config,
        read_csv,
        write_config,
        write_csv,
    )

    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    df = spark.createDataFrame([(1, "x"), (2, "y")], schema)
    p = str(tmp_path / "csv_out")
    write_csv(df, p)
    back = read_csv(spark, p, schema)
    assert sorted(map(tuple, back.collect())) == [(1, "x"), (2, "y")]

    empty = empty_with_schema(spark, schema)
    assert empty.unionByName(df).count() == 2  # S7 schema-safe union

    cfg = {"QC": {"minimum_cell_size": 50, "minimum_observations": 50}, "run": {"tracking": True}}
    cp = str(tmp_path / "cfg")
    write_config(spark, cfg, cp)
    assert read_config(spark, cp) == cfg


def test_roi_zip_roundtrip(spark):
    from cellphe_data_pipeline_spark.domain.rois import rois_from_zip, rois_to_zip

    rois = spark.createDataFrame(
        [
            ("f1", "001-01-010", [{"x": 1, "y": 2}, {"x": 3, "y": 4}]),
            ("f1", "001-01-011", [{"x": 5, "y": 6}]),
            ("f2", "002-01-010", [{"x": 7, "y": 8}]),
        ],
        "grp string, ROI_filename string, coords array<struct<x:int,y:int>>",
    )
    zips = rois_to_zip(rois, "grp")
    z = {r["group_key"]: r for r in zips.collect()}
    assert z["f1"]["n_rois"] == 2 and z["f2"]["n_rois"] == 1
    assert bytes(z["f1"]["roi_zip"][:2]) == b"PK"  # a real zip container

    back = rois_from_zip(zips)
    got = {
        (r["group_key"], r["name"]): [(c["x"], c["y"]) for c in r["coords"]]
        for r in back.collect()
    }
    assert got[("f1", "001-01-010")] == [(1, 2), (3, 4)]
    assert got[("f1", "001-01-011")] == [(5, 6)]
    assert got[("f2", "002-01-010")] == [(7, 8)]


def test_scan_images_glob(spark, tmp_path):
    from cellphe_data_pipeline_spark.domain.images import make_fake_image, scan_images

    d = tmp_path / "raw"
    d.mkdir()
    (d / "a.fake").write_bytes(make_fake_image(seed=1, n_frames=1))
    (d / "b.fake").write_bytes(make_fake_image(seed=2, n_frames=2))
    (d / "skip.txt").write_bytes(b"not an image")
    df = scan_images(spark, str(d), glob="*.fake")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 2  # glob pushdown excluded skip.txt
    assert all(bytes(r["content"][:5]) == b"FAKE1" for r in rows)


def test_read_lines_and_publish(spark, tmp_path):
    from cellphe_data_pipeline_spark.sources.io import publish, read_lines

    p = tmp_path / "lines.txt"
    p.write_text("  a line  \nsecond\n   \n")
    vals = [r["value"] for r in read_lines(spark, str(p)).collect()]
    assert vals == ["a line", "second", ""]  # trimmed, order kept

    df = spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string")
    out = str(tmp_path / "stage")
    publish(df, out, partition_by=("k",))
    back = spark.read.parquet(out)
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [(1, "x"), (2, "y")]
    import os
    assert os.path.isdir(os.path.join(out, "k=1"))  # partitioned layout


def test_export_trackmate_features(spark):
    from cellphe_data_pipeline_spark.domain.lineage import renumber_tracks
    from cellphe_data_pipeline_spark.domain.trackmate import (
        EXPORT_COLUMNS,
        export_trackmate_features,
        parse_trackmate_edges,
        parse_trackmate_spots,
    )
    from cellphe_data_pipeline_spark.testing.fixtures import trackmate_df

    xml = trackmate_df(spark)
    spots = parse_trackmate_spots(xml)
    edges = parse_trackmate_edges(xml)
    tracks = renumber_tracks(
        spots.select("ID", "FRAME"), edges.select("src", "dst")
    )
    out = export_trackmate_features(spots, tracks)
    assert out.columns == list(EXPORT_COLUMNS) + ["ROI_FILENAME"]
    rows = {r["ID"]: r for r in out.collect()}
    assert rows[1]["FRAME"] == 1          # 1-indexed at the edge
    assert rows[1]["TRACK_ID"] >= 1
    assert rows[1]["ROI_FILENAME"] == "1-1-1"
    assert rows[5]["FRAME"] == 3
    # splits renumber: the two children of spot 3 are on different tracks
    assert rows[5]["TRACK_ID"] != rows[6]["TRACK_ID"]


def test_mask_boundary_overlay(spark):
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import mask_boundary_overlay

    # 8x8 mask with a 4x4 block of label 7: boundary = block edge pixels
    m = np.zeros((8, 8), dtype=np.uint16)
    m[2:6, 2:6] = 7
    masks = spark.createDataFrame(
        [("m", 0, 8, 8, bytearray(m.tobytes()))],
        "path string, frame_index int, height int, width int, mask binary",
    )
    pts = {(r["px"], r["py"]) for r in mask_boundary_overlay(masks).collect()}
    want = {(x, y) for x in range(2, 6) for y in range(2, 6)
            if x in (2, 5) or y in (2, 5)}
    assert pts == want  # 12 edge pixels, interior excluded


def test_trace_outer_contour_rectangle_hand_oracle():
    """Moore tracing of a 4x3 rectangle must equal the hand-written
    clockwise traversal of its edge pixels — the ordered-boundary
    contract the order-dependent M4 features assume."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import trace_outer_contour

    region = np.zeros((6, 7), dtype=bool)
    region[1:4, 2:6] = True  # rows 1-3, cols 2-5
    xs, ys = trace_outer_contour(region)
    got = list(zip(xs.tolist(), ys.tolist()))
    # clockwise from topmost-leftmost (2,1): top edge → right edge →
    # bottom edge → left edge
    want = [
        (2, 1), (3, 1), (4, 1), (5, 1),
        (5, 2), (5, 3),
        (4, 3), (3, 3), (2, 3),
        (2, 2),
    ]
    assert got == want


def test_trace_outer_contour_properties():
    """Closedness + unit-step property on shapes where lexicographic or
    radial-angle ordering breaks: an L (concave) and a 1-px neck."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import trace_outer_contour

    shapes = []
    L = np.zeros((8, 8), dtype=bool)
    L[1:7, 1:3] = True
    L[5:7, 1:7] = True
    shapes.append(L)
    neck = np.zeros((7, 9), dtype=bool)
    neck[1:4, 1:4] = True
    neck[2, 4] = True  # 1-px bridge
    neck[1:4, 5:8] = True
    shapes.append(neck)
    for region in shapes:
        xs, ys = trace_outer_contour(region)
        assert len(xs) >= 3
        pts = np.stack([xs, ys], axis=1)
        steps = np.diff(np.concatenate([pts, pts[:1]], axis=0), axis=0)
        # every consecutive step (incl. the closing edge) is 8-adjacent
        assert np.abs(steps).max() == 1
        # traversal covers every boundary pixel of the region
        on = {(int(x), int(y)) for x, y in pts}
        interior = set()
        h, w = region.shape
        for yy, xx in zip(*np.nonzero(region)):
            nb = [(yy + d, xx + e) for d, e in ((1, 0), (-1, 0), (0, 1), (0, -1))]
            if all(0 <= a < h and 0 <= b < w and region[a, b] for a, b in nb):
                interior.add((int(xx), int(yy)))
        boundary = {
            (int(x), int(y)) for y, x in zip(*np.nonzero(region))
        } - interior
        assert on == boundary
    # degenerate: single pixel
    one = np.zeros((3, 3), dtype=bool)
    one[1, 1] = True
    xs, ys = trace_outer_contour(one)
    assert (xs.tolist(), ys.tolist()) == ([1], [1])


def test_trace_outer_contour_random_components_property():
    """Property sweep over random 4-connected components (the shape the
    stub segmenter emits): every traced contour is a closed 8-adjacent
    loop, starts at the topmost-leftmost pixel, visits only pixels on
    the region's boundary (4-neighbor definition — a strict subset when
    the blob has holes, since tracing follows the OUTER contour like
    the reference's TrackMate polygons), and is deterministic."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import (
        _fake_segment,
        trace_outer_contour,
    )

    rng = np.random.RandomState(99)
    for trial in range(25):
        img = (rng.rand(14, 14) < 0.35).astype(np.uint8) * 200
        labels = _fake_segment(img)
        for label in np.unique(labels):
            if label == 0:
                continue
            region = labels == label
            xs, ys = trace_outer_contour(region)
            assert len(xs) >= 1
            # start pixel: topmost then leftmost
            rys, rxs = np.nonzero(region)
            top = rys.min()
            assert (ys[0], xs[0]) == (top, rxs[rys == top].min())
            if len(xs) > 1:
                pts = np.stack([xs, ys], axis=1)
                steps = np.diff(np.concatenate([pts, pts[:1]], axis=0), axis=0)
                assert np.abs(steps).max() == 1  # closed 8-adjacent loop
            # traced pixels lie on the boundary (some 4-neighbor is
            # background or out of bounds)
            h, w = region.shape
            for x, y in zip(xs, ys):
                nb = [(y + d, x + e) for d, e in ((1, 0), (-1, 0), (0, 1), (0, -1))]
                assert any(
                    not (0 <= a < h and 0 <= b < w) or not region[a, b]
                    for a, b in nb
                )
            # deterministic
            xs2, ys2 = trace_outer_contour(region)
            assert (xs == xs2).all() and (ys == ys2).all()


def test_mask_contours_ordering(spark):
    """mask_rois emits each label's contour in traversal order: the
    coords array is a closed 8-adjacent loop — the fix for the
    lexicographic-order boundary bug (ADVICE r4 high)."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import mask_rois

    m = np.zeros((10, 10), dtype=np.uint16)
    m[2:8, 2:4] = 5          # concave L of label 5
    m[6:8, 2:8] = 5
    m[1:3, 7:9] = 9          # second label in the same frame
    masks = spark.createDataFrame(
        [("m", 0, 10, 10, bytearray(m.tobytes()))],
        "path string, frame_index int, height int, width int, mask binary",
    )
    rows = mask_rois(masks).collect()
    by_label = {r["CellID"]: r for r in rows}
    assert set(by_label) == {5, 9}
    for label, r in by_label.items():
        assert r["FrameID"] == 0 and r["ROI_filename"] == f"00000-{label:05d}"
        xy = np.array([(c["x"], c["y"]) for c in r["coords"]])
        steps = np.diff(np.concatenate([xy, xy[:1]], axis=0), axis=0)
        assert np.abs(steps).max() == 1  # closed 8-adjacent loop


def test_mask_rois_plan_has_no_exchange(spark):
    """mask_rois is one map-side kernel: the contour comes out of the
    tracer already in traversal order, so no shuffle regroups per-pixel
    rows to rebuild it."""
    from cellphe_data_pipeline_spark.domain.images import mask_rois

    m = np.zeros((6, 6), dtype=np.uint16)
    m[1:4, 1:3] = 2
    masks = spark.createDataFrame(
        [("m", 0, 6, 6, bytearray(m.tobytes()))],
        "path string, frame_index int, height int, width int, mask binary",
    )
    rois = mask_rois(masks)
    assert [len(r["coords"]) for r in rois.collect()] == [6]
    plan = rois._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "Exchange" not in plan, plan


def test_audio_windows_and_features(spark):
    import numpy as np

    from cellphe_data_pipeline_spark.domain.media import (
        decode_audio,
        make_fake_audio,
        sample_windows,
        window_features,
    )

    payload = make_fake_audio(seed=5, n_samples=9000, sample_rate=16000)
    clips = spark.createDataFrame(
        [("a.faka", bytearray(payload))], "path string, content binary"
    )
    wins = sample_windows(clips, window_samples=4000, hop_samples=2000).collect()
    # full coverage: last window starts at 6000 and carries the 3000-sample tail
    assert [r["sample_start"] for r in sorted(wins, key=lambda r: r["window_index"])] == [
        0, 2000, 4000, 6000,
    ]
    assert all(r["sample_rate"] == 16000 for r in wins)
    lengths = {r["sample_start"]: len(r["samples"]) // 2 for r in wins}
    assert lengths[0] == 4000 and lengths[6000] == 3000  # tail kept, shorter

    feats = {r["window_index"]: r for r in window_features(
        sample_windows(clips, 4000, 2000)
    ).collect()}
    assert len(feats) == 4
    _, pcm = decode_audio(payload)
    x = pcm[:4000].astype("float64") / 32768.0
    assert abs(feats[0]["rms"] - float(np.sqrt(np.mean(x * x)))) < 1e-12
    assert 0 < feats[0]["rms"] < feats[0]["peak"] <= 1.0
    assert feats[0]["zero_crossings"] > 100  # 440Hz over 0.25s ≈ 220 crossings


def test_static_features_multi_timelapse_path_join(spark):
    """ADVICE r2: with two timelapses sharing frame indices, rois that
    carry a `path` column must join on (path, FrameID) — one output row
    per (path, cell), each computed against its own image."""
    from cellphe_data_pipeline_spark.domain.features import static_features

    pa = make_fake_image(seed=11, height=16, width=16, n_frames=1)
    pb = make_fake_image(seed=22, height=16, width=16, n_frames=1)
    frames = split_frames(
        spark.createDataFrame(
            [("a.fake", bytearray(pa)), ("b.fake", bytearray(pb))],
            "path string, content binary",
        )
    )
    square = [{"x": x, "y": y} for x in range(4, 8) for y in range(4, 8)]
    rois = spark.createDataFrame(
        [("a.fake", 0, 10, "000-01-010", square), ("b.fake", 0, 20, "000-01-020", square)],
        "path string, FrameID int, CellID int, ROI_filename string,"
        " coords array<struct<x:int,y:int>>",
    )
    out = static_features(frames, rois).collect()
    # no cross-path duplication: exactly one row per (path, cell)
    assert sorted((r["path"], r["CellID"]) for r in out) == [("a.fake", 10), ("b.fake", 20)]
    by_path = {r["path"]: r for r in out}
    # different seeds -> different pixel content under the same ROI
    assert by_path["a.fake"]["Int_mean"] != by_path["b.fake"]["Int_mean"]
    # legacy single-timelapse contract (no path column) still works
    out1 = static_features(
        frames.filter(F.col("path") == "a.fake"),
        rois.filter(F.col("path") == "a.fake").drop("path"),
    ).collect()
    assert len(out1) == 1 and out1[0]["CellID"] == 10


def test_glcm_and_haar2d_features_numpy_oracle():
    """Independent cross-check of the new texture blocks: GLCM features
    on a hand-computable 2x2 patch, Haar 2-D energies on a patch with a
    closed-form transform."""
    import numpy as np
    from cellphe_data_pipeline_spark.domain.features import (
        _glcm_features,
        _haar2d_energies,
    )

    # 2x2 patch, values 0 and 1 in a checkerboard: quantised levels are
    # 0 and 7; four directed pairs, each (0,7) or (7,0) -> after
    # symmetrisation p(0,7)=p(7,0)=0.5
    patch = np.array([[0.0, 1.0], [1.0, 0.0]])
    mask = np.ones((2, 2), dtype=bool)
    g = _glcm_features(patch, mask)
    assert g["Coo_contrast"] == 49.0  # (0-7)^2 * (0.5+0.5)
    assert g["Coo_homogeneity"] == 1.0 / 50.0
    assert g["Coo_energy"] == 0.5  # 2 * 0.5^2
    assert g["Coo_correlation"] == -1.0  # perfectly anti-correlated
    assert g["Coo_entropy"] == 1.0  # -2*0.5*log2(0.5)
    # flat patch -> degenerate limits
    gf = _glcm_features(np.full((3, 3), 0.4), np.ones((3, 3), dtype=bool))
    assert gf["Coo_contrast"] == 0.0 and gf["Coo_energy"] == 1.0
    assert gf["Coo_correlation"] == 0.0

    # Haar level-1 on one 2x2 block: lh=(tl-tr+bl-br)/2, hl=..., hh=...
    p = np.array([[1.0, 2.0], [3.0, 5.0]])
    lh = (1 - 2 + 3 - 5) / 2.0
    hl = (1 + 2 - 3 - 5) / 2.0
    hh = (1 - 2 - 3 + 5) / 2.0
    e = _haar2d_energies(p, levels=2)
    assert e[0] == lh * lh + hl * hl + hh * hh
    # level 2 has no full 2x2 block left (1x1 LL) -> 0
    assert e[1] == 0.0
    # energy conservation on a random even-sized patch:
    # total energy == LL energy + detail energy (orthonormal transform)
    rng = np.random.RandomState(5)
    q = rng.rand(6, 8)
    h2, w2 = 3, 4
    t = q.reshape(h2, 2, w2, 2)
    ll = (t[:, 0, :, 0] + t[:, 0, :, 1] + t[:, 1, :, 0] + t[:, 1, :, 1]) / 2.0
    details = _haar2d_energies(q, levels=1)[0]
    assert np.isclose((q ** 2).sum(), (ll ** 2).sum() + details)


def _build_tiff_2page(pages) -> bytes:
    """Byte-build a little-endian uncompressed grayscale multi-page TIFF
    (TIFF 6.0 baseline) — no imaging library involved."""
    import struct

    def ifd(img, data_off, ifd_off, next_ifd):
        h, w = img.shape
        bits = 8 if img.dtype == np.uint8 else 16
        tags = [
            (256, 4, 1, w),              # ImageWidth
            (257, 4, 1, h),              # ImageLength
            (258, 3, 1, bits),           # BitsPerSample
            (259, 3, 1, 1),              # Compression = none
            (262, 3, 1, 1),              # Photometric = BlackIsZero
            (273, 4, 1, data_off),       # StripOffsets
            (277, 3, 1, 1),              # SamplesPerPixel
            (278, 4, 1, h),              # RowsPerStrip
            (279, 4, 1, img.nbytes),     # StripByteCounts
        ]
        out = struct.pack("<H", len(tags))
        for tag, typ, cnt, val in tags:
            out += struct.pack("<HHII", tag, typ, cnt, val)
        out += struct.pack("<I", next_ifd)
        return out

    header = struct.pack("<2sHI", b"II", 42, 8)
    # layout: header | ifd0 | ifd1 | data0 | data1
    ifd_size = 2 + 9 * 12 + 4
    ifd0_off, ifd1_off = 8, 8 + ifd_size
    data0_off = ifd1_off + ifd_size
    data1_off = data0_off + pages[0].nbytes
    return (
        header
        + ifd(pages[0], data0_off, ifd0_off, ifd1_off)
        + ifd(pages[1], data1_off, ifd1_off, 0)
        + pages[0].tobytes()
        + pages[1].tobytes()
    )


def test_decode_frame_real_tiff_container(spark):
    """The codec boundary decodes a REAL (byte-built, spec-conformant)
    2-page uncompressed TIFF — both directly and through the Spark
    split_frames path."""
    from cellphe_data_pipeline_spark.domain.images import decode_frame, split_frames

    rng = np.random.RandomState(9)
    p0 = rng.randint(0, 255, size=(6, 5), dtype=np.uint8)
    p1 = rng.randint(0, 255, size=(6, 5), dtype=np.uint8)
    tiff = _build_tiff_2page([p0, p1])

    frames = decode_frame(tiff)
    assert len(frames) == 2
    assert (frames[0] == p0).all() and (frames[1] == p1).all()

    df = spark.createDataFrame(
        [("real.tiff", bytearray(tiff))], "path string, content binary"
    )
    rows = {r["frame_index"]: r for r in split_frames(df).collect()}
    assert sorted(rows) == [0, 1]
    assert rows[0]["height"] == 6 and rows[0]["width"] == 5
    got0 = np.frombuffer(rows[0]["data"], dtype=np.uint8).reshape(6, 5)
    assert (got0 == p0).all()


def test_decode_frame_16bit_tiff():
    from cellphe_data_pipeline_spark.domain.images import decode_frame

    rng = np.random.RandomState(4)
    p = rng.randint(0, 65535, size=(4, 3)).astype("<u2")
    tiff = _build_tiff_2page([p, p])
    frames = decode_frame(tiff)
    assert frames[0].dtype.itemsize == 2
    assert (frames[0] == p).all()


def test_decode_frame_jpeg_baseline(spark):
    """S5 real path (r5): a BYTE-BUILT baseline JPEG decodes through
    the codec ladder within 1 gray level at quality 100, and JPEG
    containers run the split→segment Spark chain end to end."""
    from cellphe_data_pipeline_spark.domain.images import decode_frame
    from cellphe_data_pipeline_spark.domain.jpeg import encode_jpeg_gray

    rng = np.random.RandomState(17)
    img = rng.randint(0, 256, (24, 40), dtype=np.uint8)
    blob = encode_jpeg_gray(img, quality=100)
    out = decode_frame(blob)
    assert len(out) == 1 and out[0].shape == (24, 40)
    assert np.abs(out[0].astype(int) - img.astype(int)).max() <= 1

    bins = spark.createDataFrame(
        [("cell.jpg", bytearray(blob))], "path string, content binary"
    )
    frames = split_frames(bins)
    rows = frames.collect()
    assert len(rows) == 1 and rows[0]["height"] == 24 and rows[0]["width"] == 40
    assert np.abs(
        np.frombuffer(rows[0]["data"], dtype=np.uint8).reshape(24, 40).astype(int)
        - img.astype(int)
    ).max() <= 1
    assert decode_segment_centroid(bins).count() == 1


def test_jpeg_to_gray_tiff_conversion(spark):
    """S5 complete (r5): JPEG container → grayscale TIFF via the
    in-engine codec pair; the produced TIFF round-trips through the
    baseline reader AND the full split_frames chain, within the JPEG
    q100 1-gray-level bound of the source."""
    from cellphe_data_pipeline_spark.domain.images import (
        decode_frame,
        encode_tiff_gray,
        jpeg_to_gray_tiff,
        split_frames,
    )
    from cellphe_data_pipeline_spark.domain.jpeg import encode_jpeg_gray

    rng = np.random.RandomState(21)
    img = rng.randint(0, 256, (20, 28), dtype=np.uint8)
    bins = spark.createDataFrame(
        [("t.jpg", bytearray(encode_jpeg_gray(img, quality=100)))],
        "path string, content binary",
    )
    tiffs = jpeg_to_gray_tiff(bins).collect()
    assert len(tiffs) == 1
    blob = bytes(tiffs[0]["tiff"])
    pages = decode_frame(blob)
    assert len(pages) == 1 and pages[0].shape == (20, 28)
    assert np.abs(pages[0].astype(int) - img.astype(int)).max() <= 1
    # the converted TIFF feeds the standard ingest chain unchanged
    frames = split_frames(
        spark.createDataFrame([("t.tiff", bytearray(blob))], "path string, content binary")
    ).collect()
    assert len(frames) == 1 and frames[0]["width"] == 28

    # multi-page + 16-bit writer round-trips through the baseline reader
    a = rng.randint(0, 65535, (6, 7), dtype=np.uint16)
    b = rng.randint(0, 65535, (6, 7), dtype=np.uint16)
    pages2 = decode_frame(encode_tiff_gray([a, b]))
    assert len(pages2) == 2
    assert (pages2[0] == a).all() and (pages2[1] == b).all()


def test_frames_to_tiff_stack_roundtrip(spark):
    """create_tiff_stack parity (main.nf:523-525): frames re-archive as
    one multi-page TIFF per timelapse, and splitting the archive back
    reproduces the exact frame rasters in frame order."""
    from cellphe_data_pipeline_spark.domain.images import (
        frames_to_tiff_stack,
        make_fake_image,
        split_frames,
    )

    bins = spark.createDataFrame(
        [
            ("a.fake", bytearray(make_fake_image(seed=6, height=10, width=12, n_frames=3))),
            ("b.fake", bytearray(make_fake_image(seed=7, height=10, width=12, n_frames=2))),
        ],
        "path string, content binary",
    )
    frames = split_frames(bins)
    stacks = {r["path"]: r for r in frames_to_tiff_stack(frames).collect()}
    assert stacks["a.fake"]["n_frames"] == 3 and stacks["b.fake"]["n_frames"] == 2
    orig = {
        (r["path"], r["frame_index"]): bytes(r["data"]) for r in frames.collect()
    }
    back = split_frames(
        spark.createDataFrame(
            [(p, bytearray(bytes(r["tiff"]))) for p, r in stacks.items()],
            "path string, content binary",
        )
    )
    for r in back.collect():
        assert bytes(r["data"]) == orig[(r["path"], r["frame_index"])]


def test_resize_frames(spark):
    """Area resize = exact block mean (constant blocks stay constant,
    uint16 supported); nearest = index sampling at arbitrary ratios;
    non-integer area factors refuse loudly."""
    import pytest

    from cellphe_data_pipeline_spark.domain.images import resize_frames

    # 4 constant 8x8 quadrants -> area 2x2 must be exactly the 4 values
    img = np.zeros((16, 16), dtype=np.uint8)
    img[:8, :8], img[:8, 8:], img[8:, :8], img[8:, 8:] = 10, 20, 30, 40
    frames = spark.createDataFrame(
        [("r.fake", 0, 16, 16, bytearray(img.tobytes()))],
        "path string, frame_index int, height int, width int, data binary",
    )
    out = resize_frames(frames, 2, 2, method="area").collect()[0]
    assert np.frombuffer(out["data"], dtype=np.uint8).reshape(2, 2).tolist() == [
        [10, 20],
        [30, 40],
    ]
    # nearest at a non-integer ratio picks exact source samples
    out_n = resize_frames(frames, 3, 5, method="nearest").collect()[0]
    a = np.frombuffer(out_n["data"], dtype=np.uint8).reshape(3, 5)
    ys = (np.arange(3) * 16) // 3
    xs = (np.arange(5) * 16) // 5
    assert (a == img[np.ix_(ys, xs)]).all()
    # 16-bit payloads keep their dtype
    img16 = (np.arange(64, dtype=np.uint16) * 1000).reshape(8, 8)
    f16 = spark.createDataFrame(
        [("s.fake", 0, 8, 8, bytearray(img16.tobytes()))],
        "path string, frame_index int, height int, width int, data binary",
    )
    o16 = resize_frames(f16, 4, 4, method="area").collect()[0]
    got16 = np.frombuffer(o16["data"], dtype=np.uint16).reshape(4, 4)
    want16 = img16.reshape(4, 2, 4, 2).mean(axis=(1, 3)).round().astype(np.uint16)
    assert (got16 == want16).all()
    # loud refusal instead of a silent quality cliff
    with pytest.raises(Exception, match="integer factors"):
        resize_frames(frames, 3, 3, method="area").collect()


def test_frames_to_tiff_stack_16bit(spark):
    """Review-found regression: 16-bit frame payloads (which the ingest
    ladder produces from 16-bit TIFFs) must archive without assuming
    uint8 — dtype is inferred from the byte count."""
    import struct as _struct

    from cellphe_data_pipeline_spark.domain.images import (
        decode_frame,
        encode_tiff_gray,
        frames_to_tiff_stack,
        split_frames,
    )

    rng = np.random.RandomState(31)
    a = rng.randint(0, 65535, (6, 5), dtype=np.uint16)
    b = rng.randint(0, 65535, (6, 5), dtype=np.uint16)
    src = encode_tiff_gray([a, b])
    frames = split_frames(
        spark.createDataFrame([("hi.tiff", bytearray(src))], "path string, content binary")
    )
    stack = frames_to_tiff_stack(frames).collect()
    assert stack[0]["n_frames"] == 2
    pages = decode_frame(bytes(stack[0]["tiff"]))
    assert (pages[0] == a).all() and (pages[1] == b).all()
    assert pages[0].dtype == np.uint16


def test_mask_contours_fragmented_label_takes_largest_component(spark):
    """Review-found: a label split into disjoint blobs keeps ONE
    contour (reference's one-polygon-per-spot), taken from the LARGEST
    component — not whichever fragment holds the topmost pixel."""
    from cellphe_data_pipeline_spark.domain.images import mask_rois

    m = np.zeros((12, 12), dtype=np.uint16)
    m[1, 1] = 5            # 1-px fragment, topmost
    m[5:9, 5:9] = 5        # the real 4x4 cell body
    masks = spark.createDataFrame(
        [("f", 0, 12, 12, bytearray(m.tobytes()))],
        "path string, frame_index int, height int, width int, mask binary",
    )
    [roi] = mask_rois(masks).collect()
    pts = {(c["x"], c["y"]) for c in roi["coords"]}
    assert (1, 1) not in pts           # fragment excluded
    assert (5, 5) in pts and (8, 8) in pts  # body contour present


def test_jpeg_codec_restart_and_variants():
    """Decoder handles DRI/RSTn restart streams (DC predictor reset);
    lossy qualities stay close on smooth images; beyond-baseline
    variants raise ValueError naming the variant instead of garbage."""
    import struct

    import pytest

    from cellphe_data_pipeline_spark.domain.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    yy, xx = np.mgrid[0:32, 0:48]
    smooth = (128 + 70 * np.sin(xx / 8.0) * np.cos(yy / 6.0)).astype(np.uint8)
    # restart markers every 3 MCUs
    blob = encode_jpeg_gray(smooth, quality=100, restart_interval=3)
    assert b"\xff\xdd" in blob and b"\xff\xd0" in blob
    dec = decode_jpeg_gray(blob)
    assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 1
    # lossy quality: close but not exact on a smooth field
    lossy = decode_jpeg_gray(encode_jpeg_gray(smooth, quality=75))
    assert np.abs(lossy.astype(int) - smooth.astype(int)).mean() < 3.0

    # progressive (SOF2) refused by name
    sof2 = b"\xff\xd8" + struct.pack(">BBH", 0xFF, 0xC2, 13) + bytes(11)
    with pytest.raises(ValueError, match="beyond baseline"):
        decode_jpeg_gray(sof2)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_gray(b"not a jpeg")

    # review-found robustness: T.81 fill bytes (extra 0xFF before a
    # marker) must not desync the parse
    blob = encode_jpeg_gray(smooth, quality=100)
    i = blob.index(b"\xff\xdb")
    filled = blob[:i] + b"\xff\xff" + blob[i:]  # 2 fill bytes before DQT
    assert np.array_equal(decode_jpeg_gray(filled), decode_jpeg_gray(blob))
    # truncation raises the documented ValueError, not IndexError
    with pytest.raises(ValueError):
        decode_jpeg_gray(blob[: i + 1])  # cut after a lone 0xFF
    with pytest.raises(ValueError):
        decode_jpeg_gray(blob[: i + 3])  # cut inside a segment length
    # multi-scan (non-interleaved) refused by name: re-declare SOF with
    # 3 components but keep the single-component scan
    import struct as _s

    j = blob.index(b"\xff\xc0")
    seglen = _s.unpack(">H", blob[j + 2 : j + 4])[0]
    sof3 = (
        _s.pack(">BBH", 0xFF, 0xC0, 2 + 6 + 9)
        + blob[j + 4 : j + 9]  # precision + h + w
        + bytes([3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0])
    )
    multi = blob[:j] + sof3 + blob[j + 2 + seglen :]
    with pytest.raises(ValueError, match="non-interleaved"):
        decode_jpeg_gray(multi)


def test_jpeg_color_mcu_paths():
    """The decoder's MULTI-COMPONENT paths — 4:4:4 interleave and
    4:2:0 (4 Y blocks + subsampled chroma per MCU) — driven by
    byte-built YCbCr payloads: the luma plane round-trips within 1
    gray level regardless of (random) chroma content, proving chroma
    blocks are entropy-decoded in sync rather than skipped."""
    from cellphe_data_pipeline_spark.domain.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_ycbcr,
    )

    rng = np.random.RandomState(4)
    y = rng.randint(0, 256, (24, 32), dtype=np.uint8)
    cb = rng.randint(0, 256, (24, 32), dtype=np.uint8)
    cr = rng.randint(0, 256, (24, 32), dtype=np.uint8)
    dec = decode_jpeg_gray(encode_jpeg_ycbcr(y, cb, cr, quality=100))
    assert dec.shape == (24, 32)
    assert np.abs(dec.astype(int) - y.astype(int)).max() <= 1

    y2 = rng.randint(0, 256, (32, 48), dtype=np.uint8)
    cb2 = rng.randint(0, 256, (16, 24), dtype=np.uint8)
    cr2 = rng.randint(0, 256, (16, 24), dtype=np.uint8)
    dec2 = decode_jpeg_gray(
        encode_jpeg_ycbcr(y2, cb2, cr2, subsample=True, quality=100)
    )
    assert dec2.shape == (32, 48)
    assert np.abs(dec2.astype(int) - y2.astype(int)).max() <= 1


def test_decode_frame_unknown_payload_raises():
    import pytest
    from cellphe_data_pipeline_spark.domain.images import decode_frame

    # unknown magic -> explicit no-codec error, not silent garbage
    with pytest.raises(NotImplementedError, match="codec"):
        decode_frame(b"\x00\x01 not any known container")
    # JPEG magic with a corrupt body -> the JPEG parser's error (the
    # ladder routes FFD8 payloads to the baseline decoder, r5)
    with pytest.raises(ValueError):
        decode_frame(b"\xff\xd8\xff\xe0 not really a jpeg")


def test_decode_frame_library_path():
    """Exercised only where tifffile/Pillow exist (absent here)."""
    import pytest

    pytest.importorskip("tifffile")


def test_decode_audio_real_wav():
    """RIFF/WAVE PCM16 decodes through the audio codec boundary."""
    import struct
    from cellphe_data_pipeline_spark.domain.media import decode_audio

    rng = np.random.RandomState(11)
    pcm = rng.randint(-3000, 3000, size=500).astype("<i2")
    rate = 8000
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", pcm.nbytes) + pcm.tobytes()
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    got_rate, got = decode_audio(wav)
    assert got_rate == rate
    assert (got == pcm).all()
    # stereo: first channel extracted
    stereo = np.stack([pcm, -pcm], axis=1).astype("<i2")
    fmt2 = struct.pack("<HHIIHH", 1, 2, rate, rate * 4, 4, 16)
    body2 = b"fmt " + struct.pack("<I", len(fmt2)) + fmt2
    body2 += b"data" + struct.pack("<I", stereo.nbytes) + stereo.tobytes()
    wav2 = b"RIFF" + struct.pack("<I", 4 + len(body2)) + b"WAVE" + body2
    _, got2 = decode_audio(wav2)
    assert (got2 == pcm).all()


def test_tracking_lap_beats_greedy_on_crossing(spark):
    """A=(0,0), B=(6,0) then detections C=(5,0), D=(11,0) with
    linking_max_distance=10: greedy grabs B->C (dist 1) and strands A
    (A->D = 11 > limit); LAP assigns A->C, B->D (total 10, both ends
    linked) — the per-frame-pair Hungarian improvement TrackMate's LAP
    step makes (track_images.py:74-123)."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    dets = spark.createDataFrame(
        [
            ("tl", 1, 0, 0.0, 0.0),   # A
            ("tl", 2, 0, 6.0, 0.0),   # B
            ("tl", 3, 1, 5.0, 0.0),   # C
            ("tl", 4, 1, 11.0, 0.0),  # D
        ],
        "timelapse_id string, id int, frame int, x double, y double",
    )
    kw = dict(linking_max_distance=10.0, max_frame_gap=0, gap_closing_max_distance=10.0)
    greedy = {(r["src"], r["dst"]) for r in track_detections(dets, **kw).collect()}
    lap = {(r["src"], r["dst"]) for r in track_detections(dets, method="lap", **kw).collect()}
    assert greedy == {(2, 3)}
    assert lap == {(1, 3), (2, 4)}


def test_segment_lap_gap_closing_rescues_greedy_misassignment(spark):
    """TrackMate phase-2 lite: two tracks end at frame 2 (E1 at x=0,
    E2 at x=5); two resume at frame 4 (S1 at x=4, S2 at x=6.5). Inline
    greedy closure takes the locally-shortest E2->S1 (1.0) and strands
    E1 onto S2 (6.5) — total 7.5; the segment-level Hungarian assigns
    E1->S1 (4.0) + E2->S2 (1.5) — total 5.5, the global optimum.
    Consecutive-frame links are identical in both modes."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections
    from cellphe_data_pipeline_spark.testing.fixtures import gap_closing_detections_df

    dets = gap_closing_detections_df(spark)
    kw = dict(linking_max_distance=1.0, max_frame_gap=4, gap_closing_max_distance=7.0)
    inline = {(r["src"], r["dst"]) for r in track_detections(dets, **kw).collect()}
    seglap = {
        (r["src"], r["dst"])
        for r in track_detections(dets, gap_strategy="segment_lap", **kw).collect()
    }
    consec = {(1, 2), (2, 3), (4, 5), (5, 6), (7, 8), (9, 10)}
    assert inline == consec | {(3, 9), (6, 7)}      # greedy total 7.5
    assert seglap == consec | {(3, 7), (6, 9)}      # LAP total 5.5

    # max_frame_gap=0 disables phase 2 entirely
    none = {
        (r["src"], r["dst"])
        for r in track_detections(
            dets, linking_max_distance=1.0, max_frame_gap=0,
            gap_closing_max_distance=7.0, gap_strategy="segment_lap",
        ).collect()
    }
    assert none == consec

    import pytest as _pytest

    with _pytest.raises(ValueError, match="gap_strategy"):
        track_detections(dets, gap_strategy="both")


def test_linking_feature_penalties_bias_and_reject(spark):
    """r7 — LINKING_FEATURE_PENALTIES (templates/cyto3.json:24; the
    settings-dict map track_images.py passes through): phase-1 costs
    become penalised squared distances gated at limit², so a nearer
    but area-dissimilar detection loses to a similar-area one — and
    can be rejected outright when its penalised cost exceeds the
    gate. Without the map, raw-distance behaviour is unchanged."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    # f0: spot 1 (area 100); f1: spot 2 near (d=3) but area 10,
    # spot 3 farther (d=5) area 100
    dets = spark.createDataFrame(
        [
            ("t", 1, 0, 0.0, 0.0, 100.0),
            ("t", 2, 1, 3.0, 0.0, 10.0),
            ("t", 3, 1, 5.0, 0.0, 100.0),
        ],
        "timelapse_id string, id long, frame int, x double, y double, area double",
    )
    for method in ("greedy", "lap"):
        kw = dict(
            linking_max_distance=10.0,
            max_frame_gap=0,
            gap_closing_max_distance=0.0,
            method=method,
        )
        plain = {
            (r["src"], r["dst"]) for r in track_detections(dets, **kw).collect()
        }
        assert plain == {(1, 2)}, method  # nearest by raw distance
        # AREA penalty 1.0: cost(1,2)=9*(1+3*90/110)^2 ~ 108 > 10^2
        # (rejected at the gate); cost(1,3)=25 -> the similar pair wins
        pen = {
            (r["src"], r["dst"])
            for r in track_detections(
                dets, linking_feature_penalties={"AREA": 1.0}, **kw
            ).collect()
        }
        assert pen == {(1, 3)}, method


def test_gap_closing_feature_penalties_both_strategies(spark):
    """r7 — GAP_CLOSING_FEATURE_PENALTIES (templates/cyto3.json:30):
    gap-closing candidates are cost-shaped by the same penalty
    formula, in BOTH the inline gap competition and the segment-LAP
    phase-2 block."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    # end 1 at f0 (area 100); f2 candidates: spot 2 near (d=4) area
    # 10, spot 3 farther (d=8) area 100
    dets = spark.createDataFrame(
        [
            ("t", 1, 0, 0.0, 0.0, 100.0),
            ("t", 2, 2, 4.0, 0.0, 10.0),
            ("t", 3, 2, 8.0, 0.0, 100.0),
        ],
        "timelapse_id string, id long, frame int, x double, y double, area double",
    )
    for method, strategy in (("greedy", "inline"), ("lap", "segment_lap")):
        kw = dict(
            linking_max_distance=10.0,
            max_frame_gap=2,
            gap_closing_max_distance=20.0,
            method=method,
            gap_strategy=strategy,
        )
        plain = {
            (r["src"], r["dst"]) for r in track_detections(dets, **kw).collect()
        }
        assert plain == {(1, 2)}, (method, strategy)
        # cost(1,2)=16*(1+3*90/110)^2 ~ 193; cost(1,3)=64 -> similar wins
        pen = {
            (r["src"], r["dst"])
            for r in track_detections(
                dets, gap_closing_feature_penalties={"AREA": 1.0}, **kw
            ).collect()
        }
        assert pen == {(1, 3)}, (method, strategy)


def test_phase2_alternative_cost_gap_closing(spark):
    """r7 (review follow-up): ALTERNATIVE_LINKING_COST_FACTOR now
    reaches the phase-2 gap-closing block — a within-window
    reconnection costlier than b = factor x percentile stays
    unlinked instead of being force-assigned."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    # two disjoint segments to reconnect across a 1-frame gap: the
    # (1->3) pair is cheap (d=1), the (2->4) pair expensive (d=30,
    # inside the 50px window); cross pairs are out of window
    dets = spark.createDataFrame(
        [
            ("t", 1, 0, 0.0, 0.0),
            ("t", 2, 0, 100.0, 0.0),
            ("t", 3, 2, 0.0, 1.0),
            ("t", 4, 2, 100.0, 30.0),
        ],
        "timelapse_id string, id long, frame int, x double, y double",
    )
    kw = dict(
        linking_max_distance=10.0,
        max_frame_gap=1,
        gap_closing_max_distance=50.0,
        method="lap",
        gap_strategy="segment_lap",
    )
    plain = {(r["src"], r["dst"]) for r in track_detections(dets, **kw).collect()}
    assert plain == {(1, 3), (2, 4)}  # phase 2 force-assigns both
    # squared costs {1, 900}: 25th pct -> b ~ 225, the 900 rejected
    gated = {
        (r["src"], r["dst"])
        for r in track_detections(
            dets, alternative_cost_factor=1.0, cutoff_percentile=0.25, **kw
        ).collect()
    }
    assert gated == {(1, 3)}


def test_lap_alternative_cost_rejects_expensive_links(spark):
    """r6 — ALTERNATIVE_LINKING_COST_FACTOR + CUTOFF_PERCENTILE
    (templates/cyto3.json:26,30): with the no-link alternative active,
    a within-window candidate whose squared distance exceeds
    b = factor x percentile(costs) stays UNLINKED instead of being
    force-assigned; without the knob, every feasible window candidate
    links (the pre-r6 behaviour, which the goldens pin)."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    # f0: a=(0,0), b=(10,0); f1: c=(0,1) near a (d=1), e=(10,30) far
    # from b (d=30) but inside the 50-px window
    dets = spark.createDataFrame(
        [
            ("t", 1, 0, 0.0, 0.0),
            ("t", 2, 0, 10.0, 0.0),
            ("t", 3, 1, 0.0, 1.0),
            ("t", 4, 1, 10.0, 30.0),
        ],
        "timelapse_id string, id long, frame int, x double, y double",
    )
    kw = dict(linking_max_distance=50.0, max_frame_gap=0,
              gap_closing_max_distance=0.0, method="lap")
    plain = {(r["src"], r["dst"]) for r in track_detections(dets, **kw).collect()}
    assert plain == {(1, 3), (2, 4)}  # LAP force-assigns the far pair
    # squared candidate costs: a-c 1, a-e ~1000, b-c ~101, b-e 900;
    # 25th percentile = 76 -> b = 76: the 900-cost link is rejected
    gated = {
        (r["src"], r["dst"])
        for r in track_detections(
            dets, alternative_cost_factor=1.0, cutoff_percentile=0.25, **kw
        ).collect()
    }
    assert gated == {(1, 3)}
    # a generous alternative keeps every link (b >= max cost)
    loose = {
        (r["src"], r["dst"])
        for r in track_detections(
            dets, alternative_cost_factor=10.0, cutoff_percentile=0.9, **kw
        ).collect()
    }
    assert loose == {(1, 3), (2, 4)}


def test_merge_feature_penalties_bias_and_reject(spark):
    """r6 — MERGING_FEATURE_PENALTIES (templates/cyto3.json:33-35,
    {"AREA": 0.5}): TrackMate's penalty formula multiplies the squared
    merge cost by (1 + 3p|f1-f2|/(f1+f2))^2, so a nearer but
    area-dissimilar middle loses to a similar-area one (and its
    penalised cost can exceed the acceptance gate entirely). Without
    penalties the raw-distance pick is unchanged."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    rows = [
        # track M (area 100): m0 -> m1 -> m2; m1 is a middle at (0,0)
        ("t", 1, 0, 0.0, 0.0, 100.0),
        ("t", 2, 1, 0.0, 0.0, 100.0),
        ("t", 3, 2, 0.0, 0.0, 100.0),
        # track P (area 10): p0 -> p1 -> p2; p1 is a middle at (3,0)
        ("t", 4, 0, 3.0, 0.0, 10.0),
        ("t", 5, 1, 3.0, 0.0, 10.0),
        ("t", 6, 2, 3.0, 0.0, 10.0),
        # lone end n0 (area 100) at (50,0): links to nothing at f1
        # (distance 47-50 >> linking_max), but within merge range
        ("t", 7, 0, 50.0, 0.0, 100.0),
    ]
    dets = spark.createDataFrame(
        rows,
        "timelapse_id string, id long, frame int, x double, y double, area double",
    )
    kw = dict(linking_max_distance=5.0, max_frame_gap=0,
              gap_closing_max_distance=0.0, allow_merging=True,
              merging_max_distance=100.0)
    plain = {(r["src"], r["dst"]) for r in track_detections(dets, **kw).collect()}
    assert (7, 5) in plain  # raw distance: nearer small-area middle wins
    assert (7, 2) not in plain
    # AREA penalty 0.5: p1's cost 47^2 x (1+3*0.5*90/110)^2 ~ 11k > 100^2
    # -> rejected; m1 (identical area, factor 1) wins at 50^2 = 2500
    pen = {
        (r["src"], r["dst"])
        for r in track_detections(
            dets, merging_feature_penalties={"AREA": 0.5}, **kw
        ).collect()
    }
    assert (7, 2) in pen and (7, 5) not in pen
    # a penalty key with no matching detection column fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="absent"):
        track_detections(dets, merging_feature_penalties={"NOPE": 1.0}, **kw)
    # percent-convention CUTOFF_PERCENTILE fails at the driver, not
    # deep inside an executor np.percentile call
    with _pytest.raises(ValueError, match="fraction"):
        track_detections(
            dets, alternative_cost_factor=1.05, cutoff_percentile=90, **kw
        )


def test_lap_knobs_neutral_settings_reproduce_base_behavior(spark):
    """Property: on random instances, (a) a generous alternative cost
    (factor so large that b exceeds every candidate cost) yields
    exactly the plain LAP links, and (b) feature penalties over a
    CONSTANT feature column are a no-op (factor 1 for every pair) —
    the knobs degrade gracefully to the pre-r6 semantics."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    rng = np.random.RandomState(23)
    rows = []
    sid = 1
    for f in range(3):
        for _ in range(5):
            rows.append(
                ("t", sid, f, float(rng.uniform(0, 30)), float(rng.uniform(0, 30)), 50.0)
            )
            sid += 1
    dets = spark.createDataFrame(
        rows,
        "timelapse_id string, id long, frame int, x double, y double, area double",
    )
    kw = dict(linking_max_distance=20.0, max_frame_gap=0,
              gap_closing_max_distance=0.0, method="lap")
    plain = {(r["src"], r["dst"]) for r in track_detections(dets, **kw).collect()}
    generous = {
        (r["src"], r["dst"])
        for r in track_detections(
            dets, alternative_cost_factor=1e6, cutoff_percentile=0.9, **kw
        ).collect()
    }
    assert generous == plain

    mkw = dict(linking_max_distance=20.0, max_frame_gap=0,
               gap_closing_max_distance=0.0, allow_merging=True,
               merging_max_distance=25.0, allow_splitting=True,
               splitting_max_distance=25.0)
    base = {(r["src"], r["dst"]) for r in track_detections(dets, **mkw).collect()}
    neutral = {
        (r["src"], r["dst"])
        for r in track_detections(
            dets,
            merging_feature_penalties={"AREA": 0.7},
            splitting_feature_penalties={"AREA": 0.7},
            **mkw,
        ).collect()
    }
    # constant AREA: penalty term 0, factor 1; squared-cost gating at
    # max_dist^2 accepts exactly the d <= max_dist candidates
    assert neutral == base


def test_hungarian_matches_brute_force():
    import itertools
    from cellphe_data_pipeline_spark.domain.tracking import _hungarian

    rng = np.random.RandomState(13)
    for n, m in [(3, 3), (4, 6), (6, 4), (1, 5)]:
        cost = rng.rand(n, m) * 10
        rows, cols = _hungarian(cost)
        got = cost[rows, cols].sum()
        k = min(n, m)
        best = min(
            sum(cost[r, c] for r, c in zip(rs, cs))
            for rs in itertools.permutations(range(n), k)
            for cs in itertools.permutations(range(m), k)
        )
        assert np.isclose(got, best), (n, m, got, best)
        assert len(rows) == k


def test_export_csv_roundtrip(spark, tmp_path):
    """VERDICT r2 #9: the 24-column 1-indexed trackmate_features export
    written through the S6 CSV sink and re-ingested with the S6 source
    must come back schema- and value-identical (parse_xml.py:170-200
    contract: the published CSV is a faithful edge)."""
    from cellphe_data_pipeline_spark.domain.lineage import renumber_tracks
    from cellphe_data_pipeline_spark.domain.trackmate import (
        export_trackmate_features,
        parse_trackmate_edges,
        parse_trackmate_spots,
    )
    from cellphe_data_pipeline_spark.sources.io import read_csv, write_csv
    from cellphe_data_pipeline_spark.testing.fixtures import trackmate_df

    xml = trackmate_df(spark)
    spots = parse_trackmate_spots(xml)
    edges = parse_trackmate_edges(xml)
    tracks = renumber_tracks(spots.select("ID", "FRAME"), edges.select("src", "dst"))
    out = export_trackmate_features(spots, tracks)

    path = str(tmp_path / "trackmate_features_csv")
    write_csv(out, path)
    back = read_csv(spark, path, out.schema)

    # names + types must survive the edge; CSV has no nullability notion
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in out.schema.fields
    ]
    want = sorted(map(tuple, out.collect()))
    got = sorted(map(tuple, back.collect()))
    assert got == want
    assert len(got) == 6  # every fixture spot exported exactly once


def test_mask_png_sink_roundtrip(spark):
    """S11 exact form: the dependency-free 16-bit grayscale PNG is
    spec-conformant — verified by parsing it back with an independent
    minimal reader (signature, IHDR fields, chunk CRCs, filter-0
    scanlines) and comparing pixels."""
    import struct
    import zlib
    from cellphe_data_pipeline_spark.domain.images import mask_to_png

    bins = spark.createDataFrame(
        [("p.fake", bytearray(make_fake_image(seed=6, height=16, width=16, n_frames=2)))],
        "path string, content binary",
    )
    mask_df = decode_segment_centroid(bins).select(
        "path", "frame_index", "height", "width", "mask"
    )
    masks = {r["frame_index"]: r for r in mask_df.collect()}
    pngs = {r["frame_index"]: bytes(r["png"]) for r in mask_to_png(mask_df).collect()}
    assert sorted(pngs) == [0, 1]

    for fi, blob in pngs.items():
        assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        pos, chunks = 8, {}
        while pos < len(blob):
            (size,) = struct.unpack(">I", blob[pos : pos + 4])
            ctype = blob[pos + 4 : pos + 8]
            data = blob[pos + 8 : pos + 8 + size]
            (crc,) = struct.unpack(">I", blob[pos + 8 + size : pos + 12 + size])
            assert crc == (zlib.crc32(ctype + data) & 0xFFFFFFFF), ctype
            chunks[ctype] = chunks.get(ctype, b"") + data
            pos += 12 + size
        w, h, depth, ctyp, comp, filt, inter = struct.unpack(">IIBBBBB", chunks[b"IHDR"])
        assert (w, h, depth, ctyp, comp, filt, inter) == (16, 16, 16, 0, 0, 0, 0)
        raw = zlib.decompress(chunks[b"IDAT"])
        stride = w * 2 + 1
        assert len(raw) == h * stride
        rows = []
        for y in range(h):
            assert raw[y * stride] == 0  # filter type 0
            rows.append(np.frombuffer(raw[y * stride + 1 : (y + 1) * stride], dtype=">u2"))
        got = np.stack(rows)
        want = np.frombuffer(masks[fi]["mask"], dtype=np.uint16).reshape(16, 16)
        assert (got == want).all()


def test_shape_block_numpy_oracle():
    """Len/Wid/Sphericity/A2B on an axis-aligned 8x2 point rectangle:
    covariance is diagonal with known variances, so the principal-axis
    extents are closed-form."""
    from cellphe_data_pipeline_spark.domain.features import _cell_features

    img = np.full((20, 20), 0.5)
    coords = np.array([(x, y) for x in range(2, 10) for y in range(5, 7)], dtype="int64")
    f = _cell_features(img, coords)
    var_x = np.var(np.arange(2, 10).repeat(2))
    var_y = np.var(np.tile(np.arange(5, 7), 8))
    assert math.isclose(f["Len"], 4 * math.sqrt(var_x), rel_tol=1e-12)
    assert math.isclose(f["Wid"], 4 * math.sqrt(var_y), rel_tol=1e-12)
    assert math.isclose(f["Sphericity"], f["Wid"] / f["Len"], rel_tol=1e-12)
    assert f["A2B"] == f["Area"] / f["Boundary_len"] == 1.0  # filled ROI
    # decile quantiles present and ordered on a flat image
    assert f["Int_q10"] == f["Int_q50"] == f["Int_q90"] == 0.5


def test_fill_block_numpy_oracle():
    """Box/Rect/Solidity/Hull_area/Eccentricity/skew/kurt closed-form
    checks on the same 8x2 filled rectangle (convex, axis-aligned) plus
    an L-shape whose hull area is hand-computable."""
    from cellphe_data_pipeline_spark.domain.features import _cell_features, _hull_area

    img = np.full((20, 20), 0.5)
    rect = np.array([(x, y) for x in range(2, 10) for y in range(5, 7)], dtype="int64")
    f = _cell_features(img, rect)
    assert f["Box"] == 1.0                      # fills its own bbox
    assert f["Hull_area"] == 16.0               # pixel-corner hull = 8*2
    assert f["Solidity"] == 1.0                 # convex filled => exactly 1
    assert math.isclose(f["Rect"], f["Area"] / (f["Len"] * f["Wid"]), rel_tol=1e-12)
    assert math.isclose(
        f["Eccentricity"], math.sqrt(1 - (f["Wid"] / f["Len"]) ** 2), rel_tol=1e-12
    )
    assert f["Int_skew"] == f["Int_kurt"] == 0.0  # flat image => sd 0

    # L-shape: 3x3 square minus its top-right 1x2 notch => 7 px.
    # Pixel-corner hull = full 3x3 square (9) minus the cut triangle.
    L = np.array(
        [(x, y) for x in range(3) for y in range(3) if not (x == 2 and y < 2)],
        dtype="int64",
    )
    f2 = _cell_features(img, L)
    hull = _hull_area(L[:, 0].astype("float64"), L[:, 1].astype("float64"))
    assert f2["Hull_area"] == hull
    assert 0 < f2["Solidity"] < 1 and math.isclose(
        f2["Solidity"], 7.0 / hull, rel_tol=1e-12
    )
    # skew/kurt against direct numpy on the sampled intensities
    rng = np.random.RandomState(7)
    img2 = rng.rand(20, 20)
    f3 = _cell_features(img2, rect)
    vals = img2[rect[:, 1], rect[:, 0]]
    z = (vals - vals.mean()) / vals.std()
    assert math.isclose(f3["Int_skew"], (z**3).mean(), rel_tol=1e-9)
    assert math.isclose(f3["Int_kurt"], (z**4).mean() - 3, rel_tol=1e-9)


def test_curvature_block_numpy_oracle():
    """Curvature triangle-excess: exactly 0 everywhere on a straight
    collinear chain; positive at the corners of a square boundary, with
    the per-point values verified against a direct python loop."""
    import math

    from cellphe_data_pipeline_spark.domain.features import _curvature_profile

    # straight horizontal chain (wrap-around points are still collinear)
    xs = np.arange(20, dtype="int64")
    ys = np.full(20, 5, dtype="int64")
    cur = _curvature_profile(xs, ys, gap=4)
    # interior points are collinear; only wrap-spanning windows bend
    assert (cur[4:16] == 0.0).all()
    assert cur.max() > 0  # the wrap join is a fold

    # direct per-point re-computation on an ordered square boundary
    b = []
    for x in range(0, 5):
        b.append((x, 0))
    for y in range(1, 5):
        b.append((4, y))
    for x in range(3, -1, -1):
        b.append((x, 4))
    for y in range(3, 0, -1):
        b.append((0, y))
    pts = np.array(b, dtype="int64")
    got = _curvature_profile(pts[:, 0], pts[:, 1], gap=3)
    n = len(pts)
    for i in range(n):
        p, c, q = pts[(i - 3) % n], pts[i], pts[(i + 3) % n]
        want = (
            math.hypot(*(c - p)) + math.hypot(*(q - c)) - math.hypot(*(q - p))
        )
        assert math.isclose(got[i], want, rel_tol=1e-12)


def test_polygon_block_numpy_oracle():
    """RDP polygon on an exact square boundary collapses to the 4
    corners: sides 4, interior angles pi/2, zero variance. A straight
    chain stays 2 vertices."""
    import math

    from cellphe_data_pipeline_spark.domain.features import _polygon_features, _rdp

    b = []
    for x in range(0, 5):
        b.append((x, 0))
    for y in range(1, 5):
        b.append((4, y))
    for x in range(3, -1, -1):
        b.append((x, 4))
    for y in range(3, 0, -1):
        b.append((0, y))
    pts = np.array(b, dtype="int64")
    f = _polygon_features(pts[:, 0], pts[:, 1], eps=0.5)
    assert f["Poly_n"] == 4.0
    assert math.isclose(f["Poly_side_mean"], 4.0, rel_tol=1e-12)
    assert f["Poly_side_var"] == 0.0
    assert math.isclose(f["Poly_ang_mean"], math.pi / 2, rel_tol=1e-12)
    assert math.isclose(f["Poly_ang_var"], 0.0, abs_tol=1e-24)

    # RDP keeps only endpoints of a collinear chain
    chain = np.array([(x, 2 * x) for x in range(10)], dtype="float64")
    kept = _rdp(chain, eps=0.1)
    assert len(kept) == 2 and (kept[0] == chain[0]).all() and (kept[-1] == chain[-1]).all()
    # a triangle wave above eps keeps its apex
    tri = np.array([(0.0, 0.0), (5.0, 3.0), (10.0, 0.0)])
    assert len(_rdp(tri, eps=1.0)) == 3


def test_boundary_spectral_and_tail_numpy_oracle():
    """Rad_haar energies conserve (orthonormal 1-D Haar: total energy =
    approx + detail at every level); Perim/Rad_min/Int_iqr/Int_mad match
    direct numpy on a random cell."""
    import math

    from cellphe_data_pipeline_spark.domain.features import (
        _cell_features,
        _haar1d_energies,
    )

    rng = np.random.RandomState(11)
    s = rng.rand(16)
    e = _haar1d_energies(s, levels=1)
    n2 = 8
    pairs = s.reshape(n2, 2)
    approx = (pairs[:, 0] + pairs[:, 1]) / np.sqrt(2.0)
    assert math.isclose((s**2).sum(), (approx**2).sum() + e[0], rel_tol=1e-12)
    # odd length drops the trailing sample
    e_odd = _haar1d_energies(np.array([1.0, 3.0, 9.0]), levels=1)
    assert math.isclose(e_odd[0], ((1 - 3) / np.sqrt(2)) ** 2, rel_tol=1e-12)

    img = rng.rand(20, 20)
    b = []
    for x in range(2, 10):
        b.append((x, 3))
    for y in range(4, 8):
        b.append((9, y))
    for x in range(8, 1, -1):
        b.append((x, 7))
    for y in range(6, 3, -1):
        b.append((2, y))
    pts = np.array(b, dtype="int64")
    f = _cell_features(img, pts)
    xs, ys = pts[:, 0], pts[:, 1]
    nxt = np.roll(pts.astype("float64"), -1, axis=0)
    assert math.isclose(f["Perim"], np.hypot(*(nxt - pts).T).sum(), rel_tol=1e-12)
    cx, cy = xs.mean(), ys.mean()
    rad = np.sqrt((xs - cx) ** 2 + (ys - cy) ** 2)
    assert math.isclose(f["Rad_min"], rad.min(), rel_tol=1e-12)
    rh = _haar1d_energies(rad, levels=3)
    assert f["Rad_haar_l1"] == rh[0] and f["Rad_haar_l2"] == rh[1] and f["Rad_haar_l3"] == rh[2]
    vals = img[ys, xs]
    assert math.isclose(
        f["Int_iqr"], np.quantile(vals, 0.75) - np.quantile(vals, 0.25), rel_tol=1e-12
    )
    assert math.isclose(
        f["Int_mad"], np.median(np.abs(vals - np.median(vals))), rel_tol=1e-12
    )


def test_multiscale_texture_and_tail2_numpy_oracle():
    """Distance-2 GLCM on a hand-computable patch; entropy/quantile/
    roughness/compactness against direct numpy."""
    import math

    from cellphe_data_pipeline_spark.domain.features import (
        GLCM_LEVELS,
        _cell_features,
        _glcm_features,
    )

    # 1x3 patch [0, .5, 1]: the only distance-2 pair is (0,1) -> after
    # symmetrisation p(0,7)=p(7,0)=0.5 — same matrix as the adjacent
    # checkerboard case but from the wider offset
    patch = np.array([[0.0, 0.5, 1.0]])
    mask = np.ones((1, 3), dtype=bool)
    g2 = _glcm_features(patch, mask, dist=2, prefix="Coo2")
    assert g2["Coo2_contrast"] == 49.0
    assert g2["Coo2_energy"] == 0.5
    assert g2["Coo2_correlation"] == -1.0
    # adjacent offset on the same patch sees (0,3),(3,7) pairs instead
    g1 = _glcm_features(patch, mask, dist=1, prefix="Coo")
    assert g1["Coo_contrast"] != g2["Coo2_contrast"]
    # a patch too small for distance 2 -> degenerate limits
    tiny = _glcm_features(np.array([[0.0, 1.0]]), np.ones((1, 2), bool), dist=2, prefix="Coo2")
    assert tiny["Coo2_energy"] == 1.0 and tiny["Coo2_contrast"] == 0.0

    rng = np.random.RandomState(17)
    img = rng.rand(20, 20)
    b = []
    for x in range(2, 10):
        b.append((x, 3))
    for y in range(4, 8):
        b.append((9, y))
    for x in range(8, 1, -1):
        b.append((x, 7))
    for y in range(6, 3, -1):
        b.append((2, y))
    pts = np.array(b, dtype="int64")
    f = _cell_features(img, pts)
    xs, ys = pts[:, 0], pts[:, 1]
    vals = img[ys, xs]
    # entropy over GLCM_LEVELS bins of the cell's own range
    bins = np.minimum(
        ((vals - vals.min()) / (vals.max() - vals.min()) * GLCM_LEVELS).astype(int),
        GLCM_LEVELS - 1,
    )
    ph = np.bincount(bins, minlength=GLCM_LEVELS) / len(vals)
    ph = ph[ph > 0]
    assert math.isclose(f["Int_entropy"], -(ph * np.log2(ph)).sum(), rel_tol=1e-12)
    assert math.isclose(f["Int_q05"], np.quantile(vals, 0.05), rel_tol=1e-12)
    assert math.isclose(f["Int_q95"], np.quantile(vals, 0.95), rel_tol=1e-12)
    cx, cy = xs.mean(), ys.mean()
    rad = np.sqrt((xs - cx) ** 2 + (ys - cy) ** 2)
    rd = np.abs(np.diff(np.concatenate([rad, rad[:1]])))
    assert math.isclose(f["Rad_diff_mean"], rd.mean(), rel_tol=1e-12)
    assert math.isclose(f["Rad_diff_var"], rd.var(), rel_tol=1e-12)
    assert math.isclose(
        f["Compactness"], f["Perim"] ** 2 / (4 * np.pi * f["Area"]), rel_tol=1e-12
    )
    # flat image -> entropy 0 by convention
    f2 = _cell_features(np.full((20, 20), 0.5), pts)
    assert f2["Int_entropy"] == 0.0


def test_final_block_numpy_oracle():
    """Radius quartiles, intensity centre-of-mass offset, curvature and
    polygon extremes, intensity range — direct numpy cross-checks plus
    the zero-intensity degenerate."""
    import math

    from cellphe_data_pipeline_spark.domain.features import (
        _cell_features,
        _curvature_profile,
    )

    rng = np.random.RandomState(29)
    img = rng.rand(20, 20)
    b = []
    for x in range(2, 10):
        b.append((x, 3))
    for y in range(4, 8):
        b.append((9, y))
    for x in range(8, 1, -1):
        b.append((x, 7))
    for y in range(6, 3, -1):
        b.append((2, y))
    pts = np.array(b, dtype="int64")
    f = _cell_features(img, pts)
    xs, ys = pts[:, 0], pts[:, 1]
    cx, cy = xs.mean(), ys.mean()
    rad = np.sqrt((xs - cx) ** 2 + (ys - cy) ** 2)
    for q, name in [(0.25, "Rad_q25"), (0.50, "Rad_q50"), (0.75, "Rad_q75")]:
        assert math.isclose(f[name], np.quantile(rad, q), rel_tol=1e-12)
    assert math.isclose(f["Rad_iqr"], f["Rad_q75"] - f["Rad_q25"], rel_tol=1e-12)

    vals = img[ys, xs]
    com_x = (vals * xs).sum() / vals.sum()
    com_y = (vals * ys).sum() / vals.sum()
    assert math.isclose(f["Int_com_dx"], com_x - cx, rel_tol=1e-12)
    assert math.isclose(f["Int_com_dy"], com_y - cy, rel_tol=1e-12)
    assert math.isclose(
        f["Int_com_offset"], math.hypot(com_x - cx, com_y - cy), rel_tol=1e-12
    )

    cur = _curvature_profile(xs, ys)
    assert math.isclose(f["Cur_min"], cur.min(), rel_tol=1e-12)
    assert math.isclose(f["Cur_var"], cur.var(), rel_tol=1e-12)
    assert math.isclose(f["Int_range"], vals.max() - vals.min(), rel_tol=1e-12)
    assert f["Poly_side_max"] >= f["Poly_side_mean"]
    assert 0 <= f["Poly_ang_min"] <= f["Poly_ang_mean"]

    # zero image: center-of-mass undefined -> offset 0 by convention
    f0 = _cell_features(np.zeros((20, 20)), pts)
    assert f0["Int_com_offset"] == 0.0 and f0["Int_range"] == 0.0


def test_basic_stats_blocks_numpy_oracle():
    """Direct-numpy recomputation of the centroid / radius / intensity
    basics, the curvature summary stats, and the 2-D texture feature
    WIRING on a hand-built cell — closing literal coverage of every
    STATIC_FEATURE_NAMES entry in the numpy-oracle suite (enforced
    mechanically by tests/test_regen_guard.py). The texture helpers
    (_haar2d_energies, _glcm_features) have their own closed-form
    oracles above; here we verify the kernel feeds them the right
    patch/mask and lands each value in the right feature slot."""
    import math

    from cellphe_data_pipeline_spark.domain.features import (
        _cell_features,
        _curvature_profile,
        _glcm_features,
        _haar2d_energies,
    )

    rng = np.random.RandomState(7)
    img = rng.rand(18, 18)
    b = []
    for x in range(3, 9):
        b.append((x, 3))
    for y in range(4, 9):
        b.append((8, y))
    for x in range(7, 2, -1):
        b.append((x, 8))
    for y in range(7, 3, -1):
        b.append((3, y))
    pts = np.array(b, dtype="int64")
    xs, ys = pts[:, 0], pts[:, 1]
    f = _cell_features(img, pts)

    assert math.isclose(f["x"], xs.mean(), rel_tol=1e-12)
    assert math.isclose(f["y"], ys.mean(), rel_tol=1e-12)
    rad = np.sqrt((xs - xs.mean()) ** 2 + (ys - ys.mean()) ** 2)
    assert math.isclose(f["Rad_mean"], rad.mean(), rel_tol=1e-12)
    assert math.isclose(f["Rad_max"], rad.max(), rel_tol=1e-12)
    assert math.isclose(f["Rad_var"], rad.var(), rel_tol=1e-12)
    assert math.isclose(f["Rad_q50"], np.quantile(rad, 0.5), rel_tol=1e-12)
    vals = img[ys, xs]
    assert math.isclose(f["Int_mean"], vals.mean(), rel_tol=1e-12)
    assert math.isclose(f["Int_std"], vals.std(), rel_tol=1e-12)
    assert f["Int_min"] == vals.min() and f["Int_max"] == vals.max()
    assert math.isclose(f["Int_q25"], np.quantile(vals, 0.25), rel_tol=1e-12)
    assert math.isclose(f["Int_q75"], np.quantile(vals, 0.75), rel_tol=1e-12)

    cur = _curvature_profile(xs, ys)  # helper closed-form-tested above
    assert math.isclose(f["Cur_mean"], cur.mean(), rel_tol=1e-12)
    assert math.isclose(f["Cur_std"], cur.std(), rel_tol=1e-12)
    assert math.isclose(f["Cur_max"], cur.max(), rel_tol=1e-12)
    cz = (cur - cur.mean()) / cur.std()
    assert math.isclose(f["Cur_skew"], (cz**3).mean(), rel_tol=1e-12)

    # texture wiring: rebuild the kernel's bbox patch and check each
    # helper value lands in its feature slot
    x0, y0 = xs.min(), ys.min()
    patch = np.zeros((ys.max() - y0 + 1, xs.max() - x0 + 1))
    inmask = np.zeros(patch.shape, dtype=bool)
    patch[ys - y0, xs - x0] = vals
    inmask[ys - y0, xs - x0] = True
    h2 = _haar2d_energies(patch, levels=3)
    assert f["Haar2d_l1"] == h2[0] and f["Haar2d_l2"] == h2[1]
    assert f["Haar2d_l3"] == h2[2]
    coo2 = _glcm_features(patch, inmask, dist=2, prefix="Coo2")
    assert f["Coo2_homogeneity"] == coo2["Coo2_homogeneity"]
    assert f["Coo2_entropy"] == coo2["Coo2_entropy"]


def test_cell_features_total_robustness_hypothesis():
    """SURVEY §5 property test on the full 74-feature kernel: for
    ARBITRARY integer coordinate sequences (ordered boundaries, blobs,
    repeated points, single pixels) the kernel either skips (None, <3
    points) or returns every declared feature as a finite float, with
    the structural invariants: curvature excess ≥ 0 (triangle
    inequality), radius/intensity bounds ordered, polygon vertex count
    ≥ 1, spectral energies ≥ 0."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.domain.features import (
        STATIC_FEATURE_NAMES,
        _cell_features,
    )

    rng = np.random.RandomState(23)
    img = rng.rand(24, 24)
    pt = st.tuples(st.integers(-3, 26), st.integers(-3, 26))  # incl. clipped
    roi = st.lists(pt, min_size=1, max_size=40)

    @settings(max_examples=40, deadline=None)
    @given(roi)
    def check(points):
        f = _cell_features(img, np.array(points, dtype="int64"))
        if f is None:
            assert len(points) < 3
            return
        assert set(f) == set(STATIC_FEATURE_NAMES)
        for k, v in f.items():
            assert np.isfinite(v), f"{k} not finite: {v}"
        assert f["Cur_mean"] >= 0 and f["Cur_max"] >= -1e-12
        assert f["Rad_min"] <= f["Rad_mean"] <= f["Rad_max"] + 1e-12
        assert f["Int_min"] <= f["Int_q50"] <= f["Int_max"] + 1e-12
        assert f["Int_q05"] <= f["Int_q95"] + 1e-12
        assert f["Poly_n"] >= 1
        for k in ("Rad_haar_l1", "Rad_haar_l2", "Rad_haar_l3",
                  "Haar2d_l1", "Haar2d_l2", "Haar2d_l3"):
            assert f[k] >= 0
        assert 0 <= f["Sphericity"] <= 1 + 1e-12
        assert 0 <= f["Box"] <= 1 + 1e-12

    check()


def test_frame_diff_energy_reads_16bit_pages(spark):
    """A 16-bit page is diffed as uint16 and scaled by 65535, the way
    ``split_frames`` emits 16-bit TIFF pages; 8-bit pages keep /255."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import FRAME_SCHEMA
    from cellphe_data_pipeline_spark.domain.media import frame_diff_energy

    f0 = np.array([[0, 1000], [300, 65535]], np.uint16)
    f1 = np.array([[2000, 1000], [0, 65000]], np.uint16)
    g0 = np.array([[0, 10], [200, 255]], np.uint8)
    g1 = np.array([[5, 10], [0, 250]], np.uint8)
    frames = spark.createDataFrame(
        [
            ("w.tif", 0, 2, 2, f0.tobytes()),
            ("w.tif", 1, 2, 2, f1.tobytes()),
            ("n.tif", 0, 2, 2, g0.tobytes()),
            ("n.tif", 1, 2, 2, g1.tobytes()),
        ],
        FRAME_SCHEMA,
    )
    got = {
        (r["path"], r["frame_index"]): r["diff_energy"]
        for r in frame_diff_energy(frames).collect()
    }
    assert got == {
        ("w.tif", 0): None,
        ("w.tif", 1): float(np.abs(f1.astype("float64") - f0).mean() / 65535),
        ("n.tif", 0): None,
        ("n.tif", 1): float(np.abs(g1.astype("float64") - g0).mean() / 255.0),
    }


def test_frame_diff_multi_path_separation(spark):
    """Two videos in one DataFrame never diff across paths: each path's
    first frame is NULL and its cut structure is unchanged by the other
    video's presence."""
    from cellphe_data_pipeline_spark.domain.images import split_frames
    from cellphe_data_pipeline_spark.domain.media import frame_diff_energy, scene_cuts
    from cellphe_data_pipeline_spark.testing.fixtures import fake_frames_df, fake_video_df

    both = fake_video_df(spark).union(fake_frames_df(spark, seed=5, n_frames=3))
    out = scene_cuts(frame_diff_energy(split_frames(both))).collect()
    by_path = {}
    for r in out:
        by_path.setdefault(r["path"], []).append(r)
    assert set(by_path) == {"vid11.fake", "fx5.fake"}
    for rows in by_path.values():
        rows.sort(key=lambda r: r["frame_index"])
        assert rows[0]["diff_energy"] is None and rows[0]["is_cut"] is False
        assert all(r["diff_energy"] is not None for r in rows[1:])
    # the fixture's only cut is frame 3 of the video
    cuts = [(r["path"], r["frame_index"]) for r in out if r["is_cut"]]
    assert cuts == [("vid11.fake", 3)]

    # clip segmentation stays path-separated too: the video splits at
    # its cut, the cut-free frame stack is one clip, and clip spans
    # tile each path's frames without overlap
    from cellphe_data_pipeline_spark.domain.media import clip_segments

    clips = {}
    for r in clip_segments(scene_cuts(frame_diff_energy(split_frames(both)))).collect():
        clips.setdefault(r["path"], []).append(r)
    vid = sorted(clips["vid11.fake"], key=lambda r: r["clip_index"])
    assert [(c["start_frame"], c["end_frame"], c["n_frames"]) for c in vid] == [
        (0, 2, 3), (3, 5, 3),
    ]
    fx = clips["fx5.fake"]
    assert len(fx) == 1 and (fx[0]["start_frame"], fx[0]["end_frame"]) == (0, 2)
    # cut-frame diffs are excluded from mean_diff: clip 1's mean uses
    # frames 4,5 only (both intra-shot jitters, well under the cut diff)
    assert vid[1]["mean_diff"] < 0.1


def _bfs_label(fg: np.ndarray) -> np.ndarray:
    """Per-pixel BFS 4-connected labeling, components numbered 1..K in
    row-major order of their first pixel: the oracle the run-length
    labeler is checked against."""
    h, w = fg.shape
    labels = np.zeros((h, w), dtype=np.uint16)
    cur = 0
    for i in range(h):
        for j in range(w):
            if fg[i, j] and labels[i, j] == 0:
                cur += 1
                stack = [(i, j)]
                labels[i, j] = cur
                while stack:
                    a, b = stack.pop()
                    for da, db in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        na, nb = a + da, b + db
                        if (
                            0 <= na < h and 0 <= nb < w
                            and fg[na, nb] and labels[na, nb] == 0
                        ):
                            labels[na, nb] = cur
                            stack.append((na, nb))
    return labels


def test_run_labeling_equals_bfs_property():
    """r5b: the run-based union-find labeler must produce EXACTLY the
    per-pixel BFS labeling (same components, same scan-order
    numbering) on arbitrary foreground masks — including checkerboard,
    single-pixel, full, and empty extremes."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.domain.images import label_components_runs

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=1, max_value=12),
        st.integers(min_value=0, max_value=2**32 - 1),
        st.floats(min_value=0.05, max_value=0.95),
    )
    def check(h, w, seed, p):
        rng = np.random.RandomState(seed % (2**31))
        fg = rng.rand(h, w) < p
        got = label_components_runs(fg)
        assert got.dtype == np.uint16
        assert (got == _bfs_label(fg)).all()

    check()
    # extremes the strategy may not hit
    from cellphe_data_pipeline_spark.domain.images import label_components_runs

    assert (label_components_runs(np.zeros((3, 3), bool)) == 0).all()
    full = label_components_runs(np.ones((3, 3), bool))
    assert (full == 1).all()
    cb = np.indices((4, 4)).sum(0) % 2 == 0
    got = label_components_runs(cb)
    assert got[cb].min() == 1 and got[cb].max() == 8  # 8 isolated pixels
    assert (got[~cb] == 0).all()


def test_median_segment_equals_bfs_oracle():
    """The median segmenter labels ``img > median(img)`` exactly as the
    BFS oracle does, on fixture frames and on random uint8 and uint16
    rasters."""
    from cellphe_data_pipeline_spark.domain.images import (
        _fake_segment,
        decode_frame,
        make_fake_timelapse,
    )

    imgs = [
        img
        for seed in range(5)
        for img in decode_frame(
            make_fake_timelapse(seed=seed, height=48, width=48, n_frames=3)
        )
    ]
    rng = np.random.RandomState(11)
    imgs += [rng.randint(0, 256, (30, 40)).astype(np.uint8) for _ in range(4)]
    imgs += [rng.randint(0, 65536, (30, 40)).astype(np.uint16) for _ in range(4)]
    for img in imgs:
        got = _fake_segment(img)
        assert got.dtype == np.uint16
        assert (got == _bfs_label(img > np.median(img))).all()


def test_median_segment_overflow_raises():
    """A median mask with more than 65535 components raises, as the
    otsu method does, instead of wrapping labels into background."""
    from cellphe_data_pipeline_spark.domain.images import _fake_segment

    side = 520  # checkerboard of 0/200: median 100, 135200 isolated pixels
    img = (np.indices((side, side)).sum(0) % 2 == 0).astype(np.uint8) * 200
    with pytest.raises(ValueError, match="65535"):
        _fake_segment(img)


def test_otsu_threshold_bimodal_and_segment():
    """r5b: Otsu on a clean bimodal image must threshold between the
    modes, and the otsu segmentation method must label the two
    planted blobs with hand-derivable areas."""
    from cellphe_data_pipeline_spark.domain.images import (
        _otsu_segment,
        otsu_threshold,
    )

    img = np.full((20, 20), 10, dtype=np.uint8)
    img[2:6, 3:8] = 200       # blob 1: 4x5 = 20 px
    img[10:14, 10:17] = 200   # blob 2: 4x7 = 28 px
    t = otsu_threshold(img)
    assert 10 <= t < 200
    labels = _otsu_segment(img)
    areas = {int(l): int((labels == l).sum()) for l in np.unique(labels) if l}
    assert areas == {1: 20, 2: 28}


def test_segment_frames_otsu_method(spark):
    """r5b: the otsu method flows through the segmentation kernel
    (decode_segment_centroid); unknown method names are rejected on
    the driver."""
    import pytest

    bins = spark.createDataFrame(
        [("q.fake", bytearray(make_fake_image(seed=9, height=16, width=16)))],
        "path string, content binary",
    )
    out = decode_segment_centroid(bins, method="otsu").collect()
    assert len(out) == 1 and len(out[0]["mask"]) == 16 * 16 * 2
    with pytest.raises(ValueError, match="unknown segmentation method"):
        decode_segment_centroid(bins, method="cellpose2")


def test_segment_frames_otsu_on_16bit_raster(spark):
    """r5b review fix: 16-bit pages must flow through the segmentation
    kernel (decode_segment_centroid) without being misread as uint8,
    and Otsu must threshold over the real uint16 value range."""
    from cellphe_data_pipeline_spark.domain.images import (
        _otsu_segment,
        encode_tiff_gray,
        otsu_threshold,
    )

    img16 = np.full((8, 8), 1000, dtype=np.uint16)
    img16[2:5, 2:6] = 40000  # 3x4 bright blob
    t = otsu_threshold(img16)
    assert 1000 <= t < 40000
    labels = _otsu_segment(img16)
    assert {int(l): int((labels == l).sum()) for l in np.unique(labels) if l} == {1: 12}
    # and through the Spark kernel: a 16-bit TIFF container decodes to
    # 2-byte rasters
    bins = spark.createDataFrame(
        [("p16.tiff", bytearray(encode_tiff_gray([img16])))],
        "path string, content binary",
    )
    [row] = decode_segment_centroid(bins, method="otsu").collect()
    assert np.frombuffer(row["data"], dtype=np.uint16).reshape(8, 8).tolist() == img16.tolist()
    m = np.frombuffer(row["mask"], dtype=np.uint16).reshape(8, 8)
    assert (m == labels).all()
    assert [(c["mask_id"], c["area"]) for c in row["cents"]] == [(1, 12)]


def test_segment_frames_model_contract(spark):
    """r6 (VERDICT ask #4): a real CellposeModel must slot into the
    segmentation kernel's third method WITHOUT code changes. Inject a fake
    model class with the reference's constructor/eval signature and
    prove: model_args/eval_args pass through verbatim (main.nf:38
    JSON semantics), the model is constructed ONCE per partition (the
    GPU batch economics), eval's masks[0] lands astype-uint16, and a
    missing cellpose package fails fast with a clear driver-side
    error."""
    import pytest

    class ContractSegModel:
        """Stand-in with the reference's exact model contract
        (segment_image.py:20-23): cls(**model_args) then
        eval(image, **eval_args) -> (masks, ...). Asserts both dicts
        arrive VERBATIM and encodes (construction count, diameter)
        into the emitted labels so the pass-through is provable from
        DATA, not just absence-of-error. Defined INSIDE the test so
        cloudpickle ships it by value to the python workers."""

        EXPECT_MODEL = {"gpu": False, "model_type": "cyto3"}
        EXPECT_EVAL = {"diameter": 17.5, "channels": [0, 0]}
        _constructed = 0

        def __init__(self, **model_args):
            assert model_args == self.EXPECT_MODEL, model_args
            type(self)._constructed += 1
            self.n = type(self)._constructed

        def eval(self, image, **eval_args):
            assert eval_args == self.EXPECT_EVAL, eval_args
            mask = np.zeros(image.shape, dtype=np.int32)
            # label = 1000*constructions-in-this-worker + int(diameter)
            mask[image > image.mean()] = 1000 * self.n + int(eval_args["diameter"])
            return mask, None, None  # reference takes [0]

    bins = spark.createDataFrame(
        [
            ("a.fake", bytearray(make_fake_image(seed=21, height=16, width=16))),
            ("b.fake", bytearray(make_fake_image(seed=22, height=16, width=16))),
            ("c.fake", bytearray(make_fake_image(seed=23, height=16, width=16))),
        ],
        "path string, content binary",
    )
    bins = bins.repartition(1)  # one partition => one model
    out = decode_segment_centroid(
        bins,
        method="model",
        model_cls=ContractSegModel,
        model_args=dict(ContractSegModel.EXPECT_MODEL),
        eval_args=dict(ContractSegModel.EXPECT_EVAL),
    ).collect()
    assert len(out) == 3
    labels = set()
    for r in out:
        m = np.frombuffer(r["mask"], dtype=np.uint16).reshape(16, 16)
        labels.update(int(v) for v in np.unique(m) if v)
    # every frame was segmented by the FIRST (and only) instance in the
    # worker — construction count stayed 1 across all frames — and the
    # eval_args diameter value reached eval
    assert labels == {1000 * 1 + 17}

    # no injected class and no cellpose package: clear fail-fast error
    # at CALL time (driver side), not deep inside a worker
    with pytest.raises(ImportError, match="cellpose"):
        decode_segment_centroid(bins, method="model")

    # label_components_runs' overflow invariant holds for model masks
    # too: a label > 65535 must fail loudly, not wrap into background
    class OverflowModel:
        def __init__(self, **kw):
            pass

        def eval(self, image, **kw):
            mask = np.zeros(image.shape, dtype=np.int32)
            mask[0, 0] = 70000
            return mask, None, None

    with pytest.raises(Exception, match="65535"):
        decode_segment_centroid(bins, method="model", model_cls=OverflowModel).collect()


def test_label_components_runs_overflow_guard():
    """>65535 components must fail loudly, not wrap into background."""
    import pytest
    from cellphe_data_pipeline_spark.domain.images import label_components_runs

    side = 520  # checkerboard: 520*520/2 = 135200 isolated pixels
    cb = np.indices((side, side)).sum(0) % 2 == 0
    with pytest.raises(ValueError, match="65535"):
        label_components_runs(cb)


def test_resample_audio_integer_exact_vs_numpy(spark):
    """mm5 anti-circularity oracle: the integer linear-interp resample
    replayed independently in numpy float arithmetic must agree to the
    truncation contract, and an integer replay must agree EXACTLY;
    identity resample (src==dst) must be a byte-for-byte no-op."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.media import (
        audio_stats,
        decode_audio,
        make_fake_audio,
        resample_audio,
    )

    clips = [(f"c{i}.fake", bytearray(make_fake_audio(seed=40 + i, n_samples=5000)))
             for i in range(3)]
    df = spark.createDataFrame(clips, "path string, content binary")
    got = {
        r["path"]: np.frombuffer(r["samples"], dtype="<i2")
        for r in resample_audio(df, dst_rate=12000).collect()
    }
    for path, content in clips:
        src_rate, pcm = decode_audio(bytes(content))
        x = pcm.astype(np.int64)
        n_out = (len(x) * 12000) // src_rate
        exp = np.empty(n_out, dtype=np.int64)
        for i in range(n_out):           # scalar integer replay
            pos = i * src_rate
            idx = min(pos // 12000, len(x) - 1)
            nxt = min(idx + 1, len(x) - 1)
            exp[i] = x[idx] + ((x[nxt] - x[idx]) * (pos % 12000)) // 12000
        assert np.array_equal(got[path], exp.astype("<i2")), path
        # float replay agrees within the truncation step
        fpos = np.arange(n_out) * src_rate / 12000
        fi = np.minimum(fpos.astype(np.int64), len(x) - 1)
        fn = np.minimum(fi + 1, len(x) - 1)
        fval = x[fi] + (x[fn] - x[fi]) * (fpos - fi)
        assert np.max(np.abs(got[path] - fval)) <= 1.0, path
    # identity: resampling 16000 -> 16000 returns the input samples
    ident = {
        r["path"]: np.frombuffer(r["samples"], dtype="<i2")
        for r in resample_audio(df, dst_rate=16000).collect()
    }
    for path, content in clips:
        _, pcm = decode_audio(bytes(content))
        assert np.array_equal(ident[path], pcm), path
    # stats kernel agrees with direct numpy on the resampled payloads
    stats = {r["path"]: r for r in audio_stats(resample_audio(df, dst_rate=12000)).collect()}
    for path in got:
        x = got[path].astype(np.int64)
        s = stats[path]
        assert (s["n_samples"], s["sum_q"], s["sumsq_q"], s["first_val"], s["last_val"]) == (
            len(x), int(x.sum()), int((x * x).sum()), int(x[0]), int(x[-1]))


def test_renumber_tracks_tolerates_phantom_endpoints_and_cycles(spark):
    """Review-finding regression: the bounded driver path must not crash
    where the distributed path tolerates — edges referencing ids absent
    from the node table (falls back to the distributed path) and
    keep-edge cycles (nodes dropped, as the head-join drops them)."""
    # phantom: edge endpoint 99 has no node row
    nodes = spark.createDataFrame([(1, 0), (2, 1)], "ID bigint, FRAME int")
    edges = spark.createDataFrame([(1, 2), (2, 99)], "src bigint, dst bigint")
    got = {
        r["ID"]: r["TRACK_ID"] for r in renumber_tracks(nodes, edges).collect()
    }
    assert got.keys() == {1, 2} and got[1] == got[2]
    # cycle: (5->6),(6->5) forms a headless keep cycle; chain 1->2 still
    # numbered; cycle nodes dropped on BOTH paths
    nodes2 = spark.createDataFrame(
        [(1, 0), (2, 1), (5, 0), (6, 1)], "ID bigint, FRAME int"
    )
    edges2 = spark.createDataFrame(
        [(1, 2), (5, 6), (6, 5)], "src bigint, dst bigint"
    )
    driver = {
        r["ID"]: r["TRACK_ID"] for r in renumber_tracks(nodes2, edges2).collect()
    }
    dist = {
        r["ID"]: r["TRACK_ID"]
        for r in renumber_tracks(nodes2, edges2, edge_driver_cap=0).collect()
    }
    assert driver == dist
    assert driver.keys() == {1, 2}


def test_trackmate_xml_sink_roundtrip(spark):
    """S-sink symmetry (r5c): parse the fixture XML, re-emit it with
    spots_to_trackmate_xml, re-parse the EMITTED document — spots
    (ids/frames/positions/boundaries) and edges must survive exactly."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.domain.trackmate import (
        parse_trackmate_edges,
        parse_trackmate_spots,
        spots_to_trackmate_xml,
    )
    from cellphe_data_pipeline_spark.testing.fixtures import trackmate_df

    xml_df = trackmate_df(spark)
    spots = parse_trackmate_spots(xml_df)
    edges = parse_trackmate_edges(xml_df)
    emitted = spots_to_trackmate_xml(
        spots.withColumn(
            "boundary_txt",
            F.concat_ws(
                " ", F.transform("boundary_flat", lambda v: F.format_string("%.1f", v))
            ),
        ),
        edges,
    )
    spots2 = parse_trackmate_spots(emitted)
    edges2 = parse_trackmate_edges(emitted)

    def key(rows):
        return sorted(
            (r["ID"], r["FRAME"], r["POSITION_X"], r["POSITION_Y"],
             tuple(r["boundary_flat"] or []))
            for r in rows
        )

    assert key(spots2.collect()) == key(spots.collect())
    assert sorted((r["src"], r["dst"]) for r in edges2.collect()) == sorted(
        (r["src"], r["dst"]) for r in edges.collect()
    )


def test_overlap_links_match_python_iou(spark):
    """Relational IoU linking vs a python replay over the same pixel
    rows: identical intersections, IoU values, argmax choices, and
    mutual-1-1 filtering; drifting fixture cells must track to
    themselves frame-over-frame."""
    from cellphe_data_pipeline_spark.domain.images import (
        make_fake_timelapse,
        mask_pixels,
    )
    from cellphe_data_pipeline_spark.domain.tracking import overlap_links

    bins = spark.createDataFrame(
        [("tl.fake", bytearray(make_fake_timelapse(seed=101, height=48, width=48,
                                                   n_frames=5)))],
        "path string, content binary",
    )
    px = mask_pixels(
        decode_segment_centroid(bins).select(
            "path", "frame_index", "height", "width", "mask"
        )
    )
    rows = px.collect()
    got = {
        (r["frame_index"], r["src_mask"], r["dst_mask"]): r["iou"]
        for r in overlap_links(px, iou_threshold=0.1).collect()
    }

    # python replay
    by_frame: dict[int, dict[int, set]] = {}
    for r in rows:
        by_frame.setdefault(r["frame_index"], {}).setdefault(
            r["mask_id"], set()
        ).add((r["px"], r["py"]))
    want = {}
    for f in sorted(by_frame):
        if f + 1 not in by_frame:
            continue
        cand = {}
        for sa, pa in by_frame[f].items():
            for sb, pb in by_frame[f + 1].items():
                i = len(pa & pb)
                if i:
                    iou = i / (len(pa) + len(pb) - i)
                    if iou >= 0.1:
                        cand[(sa, sb)] = iou
        bs = {}
        for (sa, sb), iou in cand.items():
            if sa not in bs or (iou, -sb) > (bs[sa][1], -bs[sa][0]):
                bs[sa] = (sb, iou)
        bd = {}
        for (sa, sb), iou in cand.items():
            if sb not in bd or (iou, -sa) > (bd[sb][1], -bd[sb][0]):
                bd[sb] = (sa, iou)
        for sa, (sb, iou) in bs.items():
            if bd.get(sb, (None,))[0] == sa:
                want[(f, sa, sb)] = round(iou, 6)
    assert got == want
    assert len(got) > 0
    # mutual-1-1: a source links at most one target and vice versa
    for f in {f for (f, _, _) in got}:
        srcs = [sa for (ff, sa, _) in got if ff == f]
        dsts = [sb for (ff, _, sb) in got if ff == f]
        assert len(srcs) == len(set(srcs)) and len(dsts) == len(set(dsts))


def test_kalman_tracking_keeps_identities_through_crossing(spark):
    """m3e semantics: greedy swaps the two crossing tracks at frame
    2→3 (each end is closer to the OTHER cell's next detection);
    kalman's constant-velocity prediction keeps both identities, with
    zero prediction error on the linear fixture."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections
    from cellphe_data_pipeline_spark.testing.fixtures import crossing_detections_df

    dets = crossing_detections_df(spark)
    greedy = {(r["src"], r["dst"])
              for r in track_detections(dets, linking_max_distance=15.0,
                                        max_frame_gap=0).collect()}
    kalman = {(r["src"], r["dst"]): r["dist"]
              for r in track_detections(dets, linking_max_distance=15.0,
                                        max_frame_gap=0,
                                        method="kalman").collect()}
    # greedy mislinks at the crossing: A's frame-2 spot (id 3) links to
    # B's frame-3 spot (id 14) and vice versa
    assert (3, 14) in greedy and (13, 4) in greedy
    # kalman keeps identities everywhere: 1→2→3→4→5 and 11→…→15
    want = {(i, i + 1) for i in (1, 2, 3, 4)} | {(i, i + 1) for i in (11, 12, 13, 14)}
    assert set(kalman) == want
    # after one link establishes velocity, predictions land exactly on
    # the true next detection (linear motion): distance 0 from frame 1 on
    assert all(d == 0.0 for (s, _), d in kalman.items() if s not in (1, 11))


def test_trackmate_xml_sink_edge_cases(spark):
    """Review-finding regressions: a boundary-less spot must NOT shift
    later spots' boundaries (text-node alignment), user-edited LABELs
    survive, intensity attrs round-trip, and NULL attrs stay null
    (never coalesced into 0.0)."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.domain.trackmate import (
        parse_trackmate_spots,
        spots_to_trackmate_xml,
    )

    spots = spark.createDataFrame(
        [
            # (ID, LABEL, FRAME, X, Y, MEAN, boundary_txt)
            (1, "myCell", 0, 10.25, 5.125, 42.5, None),          # no boundary!
            (2, "ID2", 0, 1.0, 2.0, None, "1.0 2.0 3.0 4.0"),    # null MEAN
            (3, "other", 1, 7.0, 8.0, 9.0, "5.0 6.0 7.0 8.0"),
        ],
        "ID int, LABEL string, FRAME int, POSITION_X double, POSITION_Y double,"
        " MEAN_INTENSITY_CH1 double, boundary_txt string",
    )
    edges = spark.createDataFrame([], "src int, dst int")
    out = parse_trackmate_spots(spots_to_trackmate_xml(spots, edges))
    rows = {r["ID"]: r for r in out.collect()}
    assert rows[1]["LABEL"] == "myCell"
    assert rows[1]["MEAN_INTENSITY_CH1"] == 42.5
    assert rows[1]["POSITION_X"] == 10.25 and rows[1]["POSITION_Y"] == 5.125
    # the boundary-less spot must NOT steal spot 2's boundary
    assert not [b for b in (rows[1]["boundary_flat"] or []) if b is not None]
    assert rows[2]["boundary_flat"] == [1.0, 2.0, 3.0, 4.0]
    assert rows[3]["boundary_flat"] == [5.0, 6.0, 7.0, 8.0]
    # null attr stays null, never 0.0
    assert rows[2]["MEAN_INTENSITY_CH1"] is None


def test_trackmate_xml_sink_escapes_label_metacharacters(spark):
    """ADVICE r5 (medium): LABEL is user-editable; a label containing
    &, <, >, or \" must be entity-escaped in the name attribute or the
    emitted document is malformed — the engine's own xpath parser (and
    Fiji/TrackMate) would fail to read it back."""
    from cellphe_data_pipeline_spark.domain.trackmate import (
        parse_trackmate_spots,
        spots_to_trackmate_xml,
    )

    nasty = 'R&D <x> "q" & <<more>>'
    spots = spark.createDataFrame(
        [
            (1, nasty, 0, 1.0, 2.0, "1.0 2.0 3.0 4.0"),
            (2, "plain", 0, 3.0, 4.0, "5.0 6.0 7.0 8.0"),
        ],
        "ID int, LABEL string, FRAME int, POSITION_X double,"
        " POSITION_Y double, boundary_txt string",
    )
    edges = spark.createDataFrame([], "src int, dst int")
    xml_df = spots_to_trackmate_xml(spots, edges)
    doc = xml_df.collect()[0]["xml"]
    # well-formed: the stdlib parser must accept it
    import xml.etree.ElementTree as ET

    ET.fromstring(doc)
    # and the engine's own parser round-trips the label verbatim
    rows = {r["ID"]: r for r in parse_trackmate_spots(xml_df).collect()}
    assert rows[1]["LABEL"] == nasty
    assert rows[2]["LABEL"] == "plain"
    assert rows[1]["boundary_flat"] == [1.0, 2.0, 3.0, 4.0]


def test_frame_dhash_numpy_oracle(spark):
    """r7: 56-bit dHash codes from the engine's resize+compare kernels
    equal an independent numpy implementation (block mean, half-up
    rounding, adjacent-column comparisons); brightness shift preserves
    the code family (small hamming), constants hash to 0."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import (
        encode_fake_container,
        frame_dhash,
        split_frames,
    )

    yy, xx = np.mgrid[0:32, 0:32]
    imgs = {
        "a.fake": ((xx * 7 + yy * 3) % 256).astype(np.uint8),
        "b.fake": np.minimum(255, ((xx * 7 + yy * 3) % 256) + 40).astype(np.uint8),
        "c.fake": np.full((32, 32), 9, np.uint8),
    }
    rows = [(n, bytearray(encode_fake_container(im))) for n, im in imgs.items()]
    bins = spark.createDataFrame(rows, "path string, content binary")
    got = {r["path"]: r["dhash"] for r in frame_dhash(split_frames(bins)).collect()}

    def oracle(img):
        a = np.floor(img.reshape(8, 4, 8, 4).mean(axis=(1, 3)) + 0.5).astype(np.uint8)
        bits = (a[:, :-1] > a[:, 1:]).ravel()
        return sum(1 << i for i, b in enumerate(bits) if b)

    for n, im in imgs.items():
        assert got[n] == oracle(im)
    assert got["c.fake"] == 0
    assert bin(got["a.fake"] ^ got["b.fake"]).count("1") <= 3


def test_joint_lap_matches_sequential_when_independent(spark):
    """r8 joint phase-2 matrix: when gap-close / split / merge
    candidates don't compete for the same spots, the single Jaqaman
    matrix picks exactly what the sequential two-pass form picks (the
    m3c golden fixture is such an instance)."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections
    from cellphe_data_pipeline_spark.testing.fixtures import (
        split_merge_detections_df,
    )

    kw = dict(
        linking_max_distance=2.5,
        max_frame_gap=4,
        gap_closing_max_distance=2.5,
        allow_splitting=True,
        splitting_max_distance=2.5,
        allow_merging=True,
        merging_max_distance=2.5,
    )
    rows = lambda strat: {
        (r["src"], r["dst"], r["gap"], round(r["dist"], 6))
        for r in track_detections(
            split_merge_detections_df(spark), gap_strategy=strat, **kw
        ).collect()
    }
    assert rows("joint_lap") == rows("segment_lap")


def _joint_tradeoff_dets(spark):
    # track A: 1(f0)->2(f1)->3(f2); 4 = end at f0 with BOTH a cheap
    # merge onto middle 2 (d=2) and a far gap-close to start 5 (d=8);
    # 5 = isolated singleton at f2; 6/7 = an independent gap pair (d=6)
    rows = [
        ("t", 1, 0, 0.0, 0.0),
        ("t", 2, 1, 0.0, 1.0),
        ("t", 3, 2, 0.0, 2.0),
        ("t", 4, 0, 2.0, 1.0),
        ("t", 5, 2, 2.0, 9.0),
        ("t", 6, 0, 20.0, 0.0),
        ("t", 7, 2, 20.0, 6.0),
    ]
    return spark.createDataFrame(
        rows, "timelapse_id string, id long, frame int, x double, y double"
    )


def test_joint_lap_trades_gap_close_against_merge(spark):
    """The behaviour the sequential form structurally cannot produce
    (tracking.py's former block-independence deviation): end 4 has a
    d=8 within-window gap-close to start 5 AND a d=2 merge onto
    middle 2. Sequential: gap closing runs first and consumes 4.
    Joint: one row for 4 — the Hungarian takes the cheap merge and
    leaves 5 unlinked. The independent 6->7 gap pair closes either
    way."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    kw = dict(
        linking_max_distance=1.5,
        max_frame_gap=1,
        gap_closing_max_distance=10.0,
        allow_merging=True,
        merging_max_distance=5.0,
    )
    dets = _joint_tradeoff_dets(spark)
    seq = {
        (r["src"], r["dst"])
        for r in track_detections(
            dets, gap_strategy="segment_lap", **kw
        ).collect()
    }
    assert (4, 5) in seq and (4, 2) not in seq
    assert (6, 7) in seq
    joint = {
        (r["src"], r["dst"])
        for r in track_detections(dets, gap_strategy="joint_lap", **kw).collect()
    }
    assert (4, 2) in joint and (4, 5) not in joint
    assert (6, 7) in joint and (1, 2) in joint and (2, 3) in joint


def test_joint_lap_shared_alternative_cost(spark):
    """The joint matrix computes ONE b over the combined phase-2
    candidate distribution: with factor=1 and the 90th percentile of
    combined squared costs {4, 36, 64} (b ~ 58.4), the cost-64
    gap-close is rejected while the cost-36 gap pair and the cost-4
    merge survive — and a generous factor keeps everything
    assignable."""
    from cellphe_data_pipeline_spark.domain.tracking import track_detections

    kw = dict(
        linking_max_distance=1.5,
        max_frame_gap=1,
        gap_closing_max_distance=10.0,
        allow_merging=True,
        merging_max_distance=5.0,
        gap_strategy="joint_lap",
    )
    dets = _joint_tradeoff_dets(spark)
    gated = {
        (r["src"], r["dst"])
        for r in track_detections(
            dets, alternative_cost_factor=1.0, cutoff_percentile=0.9, **kw
        ).collect()
    }
    assert (4, 2) in gated and (6, 7) in gated
    assert (4, 5) not in gated
    generous = {
        (r["src"], r["dst"])
        for r in track_detections(
            dets, alternative_cost_factor=100.0, cutoff_percentile=0.9, **kw
        ).collect()
    }
    assert (4, 2) in generous and (6, 7) in generous


def test_frame_phash_invariances_and_oracle(spark):
    """r8 pHash: equals an independent per-coefficient cosine-sum DCT
    oracle; exactly invariant to non-saturating brightness shift and
    positive contrast scaling (DC dropped + median threshold); a
    structurally different image lands far away in Hamming space."""
    import math
    import numpy as np

    from cellphe_data_pipeline_spark.domain.images import (
        encode_fake_container,
        frame_phash,
        split_frames,
    )

    def py_phash(img, hs=8):
        n = img.shape[0]
        c = np.zeros((hs, hs))
        for u in range(hs):
            for v in range(hs):
                au = math.sqrt((1 if u == 0 else 2) / n)
                av = math.sqrt((1 if v == 0 else 2) / n)
                s = 0.0
                for x in range(n):
                    for y in range(n):
                        s += (
                            float(img[x, y])
                            * math.cos(math.pi * (2 * x + 1) * u / (2 * n))
                            * math.cos(math.pi * (2 * y + 1) * v / (2 * n))
                        )
                c[u, v] = au * av * s
        kept = c.ravel()[1:-1]
        med = float(np.median(kept))
        code = 0
        for i, val in enumerate(kept):
            if val > med:
                code |= 1 << i
        return code

    yy, xx = np.mgrid[0:32, 0:32]
    base = ((xx * 5 + yy * 2 + (xx * yy) // 8) % 180).astype(np.uint8)
    imgs = {
        "base.fake": base,
        "bright.fake": (base + 40).astype(np.uint8),          # no saturation (max 219+40? base<180 -> ok)
        "contrast.fake": ((base.astype(float) * 1.3)).astype(np.uint8),
        "other.fake": (((31 - xx) * 11 + yy * 7) % 200).astype(np.uint8),
    }
    rows = [
        (name, bytearray(encode_fake_container(img)))
        for name, img in imgs.items()
    ]
    bins = spark.createDataFrame(rows, "path string, content binary")
    got = {
        r["path"]: r["phash"]
        for r in frame_phash(split_frames(bins)).collect()
    }
    assert got["base.fake"] == py_phash(imgs["base.fake"])
    assert got["other.fake"] == py_phash(imgs["other.fake"])
    assert got["bright.fake"] == got["base.fake"]
    # contrast: uint8 truncation of 1.3x perturbs coefficients slightly
    # but the median-threshold code stays within a small Hamming ball
    assert bin(got["contrast.fake"] ^ got["base.fake"]).count("1") <= 3
    assert bin(got["other.fake"] ^ got["base.fake"]).count("1") > 10


def test_decode_segment_centroid_matches_numpy_oracle(spark):
    """The engine's one segmentation kernel against numpy directly, for
    the median and otsu methods: frames equal ``decode_frame``, masks
    equal ``_fake_segment`` / ``_otsu_segment`` on them, and each
    frame's ``cents`` equal the per-label mean of the ``np.nonzero``
    coordinates (a different formula from the kernel's weighted
    bincount, exact for these integer sums). A blank frame must come
    out with ``cents == []``."""
    from cellphe_data_pipeline_spark.domain.images import (
        _fake_segment,
        _otsu_segment,
        decode_frame,
        encode_fake_container,
        make_fake_timelapse,
    )

    blank = encode_fake_container(np.zeros((12, 10), dtype=np.uint8))
    payloads = {
        f"tl_{i}.fake": make_fake_timelapse(seed=200 + i, height=40, width=40, n_frames=4)
        for i in range(3)
    }
    payloads["blank.fake"] = blank
    bins = spark.createDataFrame(
        [(p, bytearray(b)) for p, b in payloads.items()], "path string, content binary"
    )
    for method, segment in (("median", _fake_segment), ("otsu", _otsu_segment)):
        rows = decode_segment_centroid(bins, method=method).collect()
        want = {
            (p, i): img for p, b in payloads.items() for i, img in enumerate(decode_frame(b))
        }
        assert sorted((r["path"], r["frame_index"]) for r in rows) == sorted(want)
        for r in rows:
            img = want[(r["path"], r["frame_index"])]
            assert (r["height"], r["width"]) == img.shape
            assert bytes(r["data"]) == img.tobytes()
            m = segment(img)
            assert bytes(r["mask"]) == m.tobytes()
            cents = []
            for label in [int(v) for v in np.unique(m) if v]:
                ys, xs = np.nonzero(m == label)
                cents.append((label, len(ys), xs.mean(), ys.mean()))
            assert [(c["mask_id"], c["area"], c["cx"], c["cy"]) for c in r["cents"]] == cents
        assert [r["cents"] for r in rows if r["path"] == "blank.fake"] == [[]]
