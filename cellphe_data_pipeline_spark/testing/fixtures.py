"""Deterministic domain fixtures (FIXTURES.md) shared by tests and the
fixture-literal driver queries.

The driver's star schema has no TrackMate XML / lineage / image tables,
so domain operators (S2/S8, G4, F16, M3, M4, A5) are exercised on these
fixtures inside their ``queries()`` callables; the matching
``oracle_sql()`` is a golden VALUES relation — legitimate because every
fixture and every kernel is bit-deterministic.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession


def _spot_xml(sid: int, frame: int, x: float, y: float, area: float,
              boundary: str = "0.0 0.0 2.0 0.0 2.0 2.0") -> str:
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


#: TrackMate-shaped document: 6 spots over 3 frames; track 1 splits at
#: spot 3 (children 5, 6); track 2 is a plain chain (parse_xml.py shapes).
TRACKMATE_XML = (
    "<Model><AllSpots>"
    f'<SpotsInFrame frame="0">{_spot_xml(1, 0, 10.0, 10.0, 30.0)}'
    f"{_spot_xml(2, 0, 50.0, 50.0, 40.0)}</SpotsInFrame>"
    f'<SpotsInFrame frame="1">{_spot_xml(3, 1, 11.0, 11.0, 31.0)}'
    f"{_spot_xml(4, 1, 51.0, 51.0, 41.0)}</SpotsInFrame>"
    f'<SpotsInFrame frame="2">{_spot_xml(5, 2, 12.0, 10.0, 32.0)}'
    f"{_spot_xml(6, 2, 10.0, 12.0, 33.0)}</SpotsInFrame>"
    "</AllSpots><AllTracks>"
    '<Track><Edge SPOT_SOURCE_ID="1" SPOT_TARGET_ID="3"/>'
    '<Edge SPOT_SOURCE_ID="3" SPOT_TARGET_ID="5"/>'
    '<Edge SPOT_SOURCE_ID="3" SPOT_TARGET_ID="6"/></Track>'
    '<Track><Edge SPOT_SOURCE_ID="2" SPOT_TARGET_ID="4"/></Track>'
    "</AllTracks></Model>"
)

#: OME companion document (S2): 3 TiffData entries across 2 files.
OME_XML = (
    "<OME><Image><Pixels>"
    '<TiffData IFD="0" FirstT="0"><UUID FileName="a.tiff"/></TiffData>'
    '<TiffData IFD="1" FirstT="1"><UUID FileName="a.tiff"/></TiffData>'
    '<TiffData IFD="0" FirstT="2"><UUID FileName="b.tiff"/></TiffData>'
    "</Pixels></Image></OME>"
)

#: Lineage graph (G4): split at 3 (children 5,6), merge at 9 (parents
#: 6,8), two roots (1, 2), isolated node 99.
LINEAGE_NODES: list[tuple[int, int]] = [
    (1, 0), (2, 0), (3, 1), (4, 1), (5, 2), (6, 2), (8, 2), (9, 3), (10, 4), (99, 7),
]
LINEAGE_EDGES: list[tuple[int, int]] = [
    (1, 3), (3, 5), (3, 6), (2, 4), (4, 8), (6, 9), (8, 9), (9, 10),
]

#: Tracking detections (M3): drifting cell, gap-closed stationary cell,
#: unlinked noise detection.
TRACK_DETECTIONS: list[tuple[str, int, int, float, float]] = (
    [("tl1", 100 + f, f, 10.0 + f, 10.0) for f in range(6)]
    + [("tl1", 200 + f, f, 500.0, 500.0) for f in (0, 1, 4, 5)]
    + [("tl1", 999, 2, 5000.0, 5000.0)]
)

#: ROI polygon with gaps (F16): 4 square corners -> 12 perimeter points.
ROI_COORDS = [(0, 0), (3, 0), (3, 3), (0, 3)]


def trackmate_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(TRACKMATE_XML,)], "xml string")


def ome_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([(OME_XML,)], "xml string")


def lineage_dfs(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    return (
        spark.createDataFrame(LINEAGE_NODES, "ID bigint, FRAME int"),
        spark.createDataFrame(LINEAGE_EDGES, "src bigint, dst bigint"),
    )


def detections_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        TRACK_DETECTIONS, "timelapse_id string, id int, frame int, x double, y double"
    )


def roi_df(spark: SparkSession) -> DataFrame:
    coords = [{"x": x, "y": y} for x, y in ROI_COORDS]
    return spark.createDataFrame(
        [(1, coords)], "id int, coords array<struct<x:int,y:int>>"
    )


def fake_frames_df(spark: SparkSession, seed: int = 3, n_frames: int = 2) -> DataFrame:
    from cellphe_data_pipeline_spark.domain.images import make_fake_image

    payload = make_fake_image(seed=seed, height=16, width=16, n_frames=n_frames)
    return spark.createDataFrame(
        [(f"fx{seed}.fake", bytearray(payload))], "path string, content binary"
    )


def fixture_rois_df(spark: SparkSession) -> DataFrame:
    square = [{"x": x, "y": y} for x in range(4, 8) for y in range(4, 8)]
    tri = [{"x": x, "y": y} for x, y in [(1, 1), (2, 1), (1, 2), (2, 2), (3, 1)]]
    return spark.createDataFrame(
        [
            (0, 10, "000-01-010", square),
            (0, 11, "000-01-011", tri),
            (1, 10, "001-01-010", square),
        ],
        "FrameID int, CellID int, ROI_filename string, coords array<struct<x:int,y:int>>",
    )


#: Time-series fixture (A8 full kernel): 3 series with distinct shapes —
#: a rising+falling 9-pointer (both ascent and descent, odd length so
#: every Haar level drops a tail), a pure ramp of 8 (power of two), and
#: a singleton (degenerate: no diffs, zero-length details).
TIMESERIES_ROWS: list[tuple[int, int, float]] = (
    [(1, s, v) for s, v in enumerate([2.0, 5.0, 3.5, 8.0, 1.0, 4.25, 9.0, 0.5, 6.0])]
    + [(2, s, float(s) * 1.5) for s in range(8)]
    + [(3, 0, 42.0)]
)


def timeseries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        TIMESERIES_ROWS, "user_id int, seq int, value double"
    )


def fixture_embeddings_df(spark: SparkSession, n: int = 18, dim: int = 8) -> DataFrame:
    """Deterministic embedding fixture for the IVF golden: 3 well-
    separated cluster centers with small per-vector integer offsets —
    no RNG, so KMeans assignment and every cosine are bit-stable."""
    centers = [
        [10.0, 0.0, 0.0, 5.0, 0.0, 0.0, 0.0, 1.0],
        [0.0, 10.0, 0.0, 0.0, 5.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 10.0, 0.0, 0.0, 5.0, 0.0, 0.0],
    ]
    rows = []
    for i in range(n):
        c = centers[i % 3]
        vec = [c[d] + ((i * 7 + d * 3) % 5 - 2) / 10.0 for d in range(dim)]
        rows.append((i, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def fake_video_df(spark: SparkSession) -> DataFrame:
    """Two-shot video in one FAKE1 container: frames 0-2 are base scene A
    plus small jitter, frames 3-5 are base scene B plus jitter — so the
    only large temporal difference is at frame 3 (the cut)."""
    from cellphe_data_pipeline_spark.domain.images import encode_fake_container

    rng = np.random.RandomState(11)
    h = w = 16
    base_a = rng.randint(0, 200, (h, w))
    base_b = rng.randint(55, 255, (h, w))
    frames = [
        np.clip(base + rng.randint(-5, 6, (h, w)), 0, 255)
        for base in [base_a] * 3 + [base_b] * 3
    ]
    payload = encode_fake_container(np.stack(frames).astype(np.uint8))
    return spark.createDataFrame(
        [("vid11.fake", bytearray(payload))], "path string, content binary"
    )


def fake_audio_df(spark: SparkSession) -> DataFrame:
    """Two FAKA1 clips for the audio-quality golden (mm2): clip au5 is
    9000 samples (5 overlapping windows incl. a short tail), au6 is
    4500 samples (2 windows) — covers multi-path separation and the
    keep-short-tails contract of sample_windows."""
    from cellphe_data_pipeline_spark.domain.media import make_fake_audio

    return spark.createDataFrame(
        [
            ("au5.fake", bytearray(make_fake_audio(seed=5, n_samples=9000))),
            ("au6.fake", bytearray(make_fake_audio(seed=6, n_samples=4500))),
        ],
        "path string, content binary",
    )


def split_merge_detections_df(spark: SparkSession) -> DataFrame:
    """Split/merge fixture (m3c): track A drifts right along y=10
    (frames 0-5); a child track buds off A's frame-2 position and moves
    up (frames 3-5) — only a SPLIT link (A middle → child start) can
    attach it, since A's middle already has its own continuation and
    gap closing needs a ≥2-frame gap; track B approaches from the right
    and dies at frame 3 next to A's frame-4 spot — only a MERGE link
    (B end → A middle) can record the fusion."""
    rows = [
        # track A: (2f, 10), ids f*100+1
        ("tl", 1, 0, 0.0, 10.0), ("tl", 101, 1, 2.0, 10.0),
        ("tl", 201, 2, 4.0, 10.0), ("tl", 301, 3, 6.0, 10.0),
        ("tl", 401, 4, 8.0, 10.0), ("tl", 501, 5, 10.0, 10.0),
        # child: buds from A@frame2 (4,10) → starts frame 3 at (5,12)
        ("tl", 303, 3, 5.0, 12.0), ("tl", 403, 4, 5.0, 14.0),
        ("tl", 503, 5, 5.0, 16.0),
        # track B: approaches A and ends at frame 3 near A's frame-4 spot
        ("tl", 2, 0, 16.0, 10.0), ("tl", 102, 1, 14.0, 10.0),
        ("tl", 202, 2, 12.0, 10.0), ("tl", 302, 3, 10.0, 10.0),
    ]
    return spark.createDataFrame(
        rows, "timelapse_id string, id int, frame int, x double, y double"
    )


def gap_closing_detections_df(spark: SparkSession) -> DataFrame:
    """Gap-closing fixture (m3b): two stationary tracks (x=0 and x=5,
    frames 0-2), a 1-frame detection gap, then two resumed tracks (x=4
    and x=6.5, frames 4-5). Inline greedy closure links end(5,0)->
    start(4,0) first and strands end(0,0) onto (6.5,0); the segment-
    level Hungarian (TrackMate phase-2 lite) finds the global optimum."""
    rows = [
        ("tl", 1, 0, 0.0, 0.0), ("tl", 2, 1, 0.0, 0.0), ("tl", 3, 2, 0.0, 0.0),
        ("tl", 4, 0, 5.0, 0.0), ("tl", 5, 1, 5.0, 0.0), ("tl", 6, 2, 5.0, 0.0),
        ("tl", 7, 4, 4.0, 0.0), ("tl", 8, 5, 4.0, 0.0),
        ("tl", 9, 4, 6.5, 0.0), ("tl", 10, 5, 6.5, 0.0),
    ]
    return spark.createDataFrame(
        rows, "timelapse_id string, id int, frame int, x double, y double"
    )


def crossing_detections_df(spark: SparkSession) -> DataFrame:
    """Two cells crossing with opposite velocities (m3e): A moves right
    at +10/frame along y=0 (ids 1-5), B moves left at -10/frame along
    y=1 (ids 11-15). At the crossing (frame 2→3) each end is CLOSER to
    the other cell's next detection (√82 ≈ 9.06 < 10), so raw
    nearest-distance greedy SWAPS the identities; constant-velocity
    prediction (method="kalman") puts each predicted position exactly
    on its own next detection and keeps them."""
    rows = []
    for f in range(5):
        rows.append(("tl", 1 + f, f, 0.0 + 10.0 * f, 0.0))       # A: ids 1..5
        rows.append(("tl", 11 + f, f, 41.0 - 10.0 * f, 1.0))     # B: ids 11..15
    return spark.createDataFrame(
        rows, "timelapse_id string, id bigint, frame int, x double, y double"
    )
