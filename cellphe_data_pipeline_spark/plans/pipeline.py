"""The full E2/E3 dataflow as ONE lazy Spark plan (SURVEY §3).

Reference chain (main.nf:408-525, lineage README.md:12-89):
  raw images → frame split → segmentation → detection → tracking →
  lineage track ids → QC filter → per-frame static features →
  movement features → per-track time-series features.

The reference runs this as 2,170 Slurm tasks with CSV between every
stage; here it is one logical plan with three genuine barriers
(segmentation fan-out, the per-timelapse tracking cohort, and the
per-track time-series aggregation) — exactly the reference's `collect`
points (main.nf:484,488,516) — and Parquet `publish()` cuts wherever a
resumable boundary is wanted (S15).

Everything between kernels is native DataFrame code: Catalyst prunes
and pushes down across the whole chain, so e.g. a user who only reads
`summary` never decodes a single mask column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.domain.images import decode_segment_centroid
from cellphe_data_pipeline_spark.checkpoint import cut_lineage
from cellphe_data_pipeline_spark.domain.lineage import renumber_tracks
from cellphe_data_pipeline_spark.domain.tracking import track_detections
from cellphe_data_pipeline_spark.operators.movement import movement_features
from cellphe_data_pipeline_spark.operators.qc_filters import (
    filter_size_and_observations,
)
from cellphe_data_pipeline_spark.operators.timeseries import timeseries_features_multi

DEFAULT_QC = {"minimum_cell_size": 2.0, "minimum_observations": 3}


def run_pipeline(
    binaries: DataFrame,
    qc: dict | None = None,
    linking_max_distance: float = 10.0,
    max_frame_gap: int = 4,
    gap_closing_max_distance: float = 20.0,
    cc_shuffle_partitions: int | str | None = None,
    tracking_method: str = "greedy",
    tracking_gap_strategy: str = "inline",
    allow_splitting: bool = False,
    splitting_max_distance: float = 5.0,
    allow_merging: bool = False,
    merging_max_distance: float = 50.0,
    density_radius: float = 25.0,
    segmentation_method: str = "median",
    alternative_cost_factor: float | None = None,
    cutoff_percentile: float = 0.9,
    splitting_feature_penalties: dict | None = None,
    merging_feature_penalties: dict | None = None,
    linking_feature_penalties: dict | None = None,
    gap_closing_feature_penalties: dict | None = None,
    overlap_min_iou: float = 0.3,
) -> dict[str, DataFrame]:
    """Run the whole chain on a binary image table (S1 output shape:
    path/content). Returns every stage as a DataFrame keyed like the
    reference's published outputs.

    Spot ids are (timelapse_idx * 1e9 + frame_index * 1e5 + mask_id):
    unique across timelapses (lineage runs on the union) and monotone in
    frame within one — satisfying the temporal-DAG contract G4 needs.
    """
    qc = {**DEFAULT_QC, **(qc or {})}

    # ONE fused kernel checkpoint (r17, guide §4/§1.2): decode +
    # segment + centroid run in a single Python wave and materialise
    # behind a single cut — the r16 record measured ~200 ms of fixed
    # launch cost PER Python stage wave on the bench host, and each
    # raster crosses the JVM↔Python boundary once. frames, masks and
    # detections are column selects over the fused rows; every
    # downstream consumer — tracking AND the M4 feature branch, which
    # re-reads both frames (pixels) and masks (ROIs) — reuses the
    # checkpointed rows instead of re-running the upstream Python
    # kernels per action. Payloads are one raster+mask per frame
    # (~2-5 KB at QC sizes): the cut is MBs, not the input corpus.
    # Under the replicated parquet cut (CELLPHE_CHECKPOINT_DIR) the
    # read-back is column-pruned, so a frames-only consumer never scans
    # the mask bytes.
    fused = cut_lineage(
        decode_segment_centroid(binaries, method=segmentation_method),
        name="fused_frames",
    )  # S3/S4 + M1/M2 + detection kernel
    frames = fused.select("path", "frame_index", "height", "width", "data")
    masks = fused.select("path", "frame_index", "height", "width", "mask")
    # broadcast timelapse index dim: spot ids must be unique ACROSS
    # timelapses (lineage runs on the union) and frame-monotone within
    # one. Numbered over the INPUT containers, not the decoded frames, so
    # a container that decodes to zero frames still takes its index and
    # later spot ids do not shift. One short string per container (33 in
    # the reference run): the single-partition window is enough, and the
    # dim is built inside the first job that needs it — no driver action.
    tl_dim = (
        binaries.select("path")
        .distinct()
        .withColumn("_tl_idx", F.row_number().over(Window.orderBy("path")).cast("long"))
    )
    # detection rows come straight off the fused checkpoint's nested
    # centroid structs — a native explode, no third Python wave
    cent_rows = fused.select(
        "path", "frame_index", F.explode("cents").alias("_c")
    ).select(
        "path",
        "frame_index",
        F.col("_c.mask_id").alias("mask_id"),
        F.col("_c.area").alias("area"),
        F.col("_c.cx").alias("cx"),
        F.col("_c.cy").alias("cy"),
    )
    dets = (
        cent_rows
        .join(F.broadcast(tl_dim), "path")
        .select(
            F.col("path").alias("timelapse_id"),
            # bit-packed spot id: 21 bits each for timelapse / frame /
            # mask (2M apiece, 63 bits total) — the old decimal packing
            # (tl*1e9 + frame*1e5 + mask) silently collided once
            # frame_index hit 10000. assert_true turns an overflow into
            # a loud runtime error instead of a corrupt lineage DAG.
            (
                F.shiftleft(F.col("_tl_idx"), 42)
                + F.shiftleft(F.col("frame_index").cast("long"), 21)
                + F.col("mask_id")
                + F.coalesce(
                    F.assert_true(
                        (F.col("frame_index") < (1 << 21))
                        & (F.col("mask_id") < (1 << 21)),
                        F.lit("spot id field overflow (frame or mask >= 2^21)"),
                    ).cast("long"),
                    F.lit(0).cast("long"),
                )
            ).alias("id"),
            F.col("frame_index").alias("frame"),
            F.col("cx").alias("x"),
            F.col("cy").alias("y"),
            "area",
            "mask_id",
        )
    )
    # Pin the detection table ONCE: everything downstream (tracking,
    # lineage CC with its per-round checkpoints, the track-id numbering
    # passes, the final spots join) hangs off `dets`; without this the
    # split->segment->centroid chain re-executes for every internal
    # action (4+ full recomputes measured at the 726-frame bench shape).
    # At cluster scale this is the "persist the hub table" rule; tiny
    # (one narrow row per detection), so localCheckpoint is safe.
    dets = cut_lineage(dets, name="dets")
    if tracking_method == "overlap":
        # M3 Overlap option (r6 — previously the config translation
        # fell back to greedy with a doc note): mask-IoU links from the
        # fully relational tracker, converted to the spot-id edge list
        # by joining the detection table on (timelapse, frame, label).
        # gap is 0 by construction (consecutive frames); dist is the
        # centroid distance so downstream QC keeps its geometric
        # meaning. MIN_IOU routes from the tracker settings.
        from cellphe_data_pipeline_spark.domain.images import mask_pixels
        from cellphe_data_pipeline_spark.domain.tracking import overlap_links
        from cellphe_data_pipeline_spark.functions.scalars import euclid

        links = overlap_links(mask_pixels(masks), iou_threshold=overlap_min_iou)
        src_side = dets.select(
            F.col("timelapse_id").alias("path"),
            F.col("frame").alias("frame_index"),
            F.col("mask_id").alias("src_mask"),
            F.col("id").alias("src"),
            F.col("x").alias("_sx"),
            F.col("y").alias("_sy"),
        )
        dst_side = dets.select(
            F.col("timelapse_id").alias("path"),
            (F.col("frame") - 1).alias("frame_index"),
            F.col("mask_id").alias("dst_mask"),
            F.col("id").alias("dst"),
            F.col("x").alias("_dx"),
            F.col("y").alias("_dy"),
        )
        edges = (
            links.join(src_side, ["path", "frame_index", "src_mask"])
            .join(dst_side, ["path", "frame_index", "dst_mask"])
            .select(
                F.col("path").alias("timelapse_id"),
                "src",
                "dst",
                F.lit(0).cast("int").alias("gap"),
                euclid(
                    F.col("_sx"), F.col("_sy"), F.col("_dx"), F.col("_dy")
                ).alias("dist"),
            )
        )
    else:
        edges = track_detections(                            # M3
            dets,
            linking_max_distance=linking_max_distance,
            max_frame_gap=max_frame_gap,
            gap_closing_max_distance=gap_closing_max_distance,
            method=tracking_method,
            gap_strategy=tracking_gap_strategy,
            allow_splitting=allow_splitting,
            splitting_max_distance=splitting_max_distance,
            allow_merging=allow_merging,
            merging_max_distance=merging_max_distance,
            alternative_cost_factor=alternative_cost_factor,
            cutoff_percentile=cutoff_percentile,
            splitting_feature_penalties=splitting_feature_penalties,
            merging_feature_penalties=merging_feature_penalties,
            linking_feature_penalties=linking_feature_penalties,
            gap_closing_feature_penalties=gap_closing_feature_penalties,
        )
    # Pin the edge list too: lineage (CC input + head detection +
    # the numbering passes) re-executes its input several times, and
    # without this cut each of those actions re-runs the tracking
    # kernel (~3x measured at the bench shape). One narrow row per
    # link — same "persist the hub table" rationale as `dets`.
    edges = cut_lineage(edges, name="edges")
    tracks = renumber_tracks(                            # G2-G4
        dets.select(F.col("id").alias("ID"), F.col("frame").alias("FRAME")),
        edges.select("src", "dst"),
        loop_shuffle_partitions=cc_shuffle_partitions,
    )
    # drop the track table's FRAME before joining: Spark resolves
    # case-insensitively, so dets.frame vs tracks.FRAME would be ambiguous
    spots = dets.join(
        tracks.withColumnRenamed("ID", "id").drop("FRAME"), "id"
    ).select(
        "timelapse_id",
        "id",
        "frame",
        "TRACK_ID",
        "x",
        "y",
        F.col("area").cast("double").alias("AREA"),
    )
    filtered = filter_size_and_observations(             # P1+P2
        spots,
        area_col="AREA",
        key="TRACK_ID",
        minimum_cell_size=qc["minimum_cell_size"],
        minimum_observations=qc["minimum_observations"],
    )
    # Pin the QC-surviving spot table (r5): it feeds FOUR consumers —
    # movement (→ timeseries), the density self-join, the M4 keep-join,
    # and the summary assembly — and without a cut the
    # spots→window→filter subtree re-executes once per consumer per
    # action. One narrow row per surviving spot; same "persist the hub
    # table" rationale as `dets`/`edges`.
    filtered = cut_lineage(filtered, name="filtered")
    movement = movement_features(                        # M5 (W1-W3, F5-F8)
        filtered, key="TRACK_ID", order=["frame", "id"], x="x", y="y"
    )
    timeseries = timeseries_features_multi(              # A8
        movement.select("TRACK_ID", "frame", "id", "Dis", "Trac", "D2T", "Vel"),
        key="TRACK_ID",
        order=["frame", "id"],
        values=["Dis", "Trac", "D2T", "Vel"],
    )
    # M4: per-(cell, frame) static features over the QC-surviving cells
    # — the reference's heaviest per-op budget (frame-features 5 min /
    # 16 GB, nextflow.config). ROIs are the traced mask contours of the
    # cells that passed P1/P2, exactly the reference's filtered->M4
    # ordering (main.nf:499 -> 511-514 manual predicate-push).
    from cellphe_data_pipeline_spark.domain.features import static_features_fused

    # mask label recovered from the bit-packed spot id (low 21 bits —
    # see the id construction above); avoids widening the spots schema.
    # The keep keys both apply the QC gate (one spot row per cell-
    # frame, so no fan-out) and bring TRACK_ID in, letting the ROI
    # name follow the reference's 3-part FRAME-TRACK-ID convention with
    # data-driven zero-padding (parse_xml.py:202-211, F3 two-pass).
    # Contour tracing happens INSIDE the M4 kernel over the fused rows
    # (static_features_fused): the kernel traces each kept cell from
    # the mask raster it already holds, so no coords are shuffled.
    keep = filtered.select(
        F.col("timelapse_id").alias("path"),
        F.col("frame").alias("FrameID"),
        F.col("id").bitwiseAND(F.lit((1 << 21) - 1)).cast("int").alias("CellID"),
        "TRACK_ID",
    )
    features = static_features_fused(fused, keep)
    # Frame-summary table (create_frame_summary_features.py:1-70): the
    # reference's final per-(cell,frame) CSV = identity/track columns +
    # movement (Dis/Trac/D2T/Vel) + the static features + `dens`. The
    # reference HARD-CODES dens=0 — its pandas all-pairs density "runs
    # out of memory" on large datasets (:57-62) — while the engine
    # computes it with the grid-bucketed density self-join (J7), scoped
    # per (timelapse, frame) via the composite bucket key. x/y/Area in
    # the summary are the ROI-derived static-feature versions, as in
    # the reference's merged table.
    from cellphe_data_pipeline_spark.operators.joins import density_self_join

    dens = density_self_join(
        filtered.withColumn(
            "_fkey", F.concat_ws("#", F.col("timelapse_id"), F.col("frame"))
        ).select("_fkey", "id", "x", "y"),
        frame_col="_fkey",
        x_col="x",
        y_col="y",
        id_col="id",
        radius=density_radius,
    ).select("id", F.col("density").cast("double").alias("dens"))
    summary = (
        movement.select(
            "timelapse_id",
            "id",
            "frame",
            "TRACK_ID",
            F.col("id").bitwiseAND(F.lit((1 << 21) - 1)).cast("int").alias("CellID"),
            "Dis",
            "Trac",
            "D2T",
            "Vel",
        )
        .join(
            features.withColumnsRenamed(
                {"path": "timelapse_id", "FrameID": "frame"}
            ),
            ["timelapse_id", "frame", "CellID"],
        )
        .join(dens, "id")
    )
    from cellphe_data_pipeline_spark.domain.features import feature_manifest
    from cellphe_data_pipeline_spark.plans.qc import segmentation_highlight_frames

    return {
        "frames": frames,
        "masks": masks,
        "detections": dets,
        # params.QC.segmentation_highlight (main.nf:107): the highlight
        # pixel table behind the segmentation report, in the configured
        # render mode ('fill'/'outline'; unknown values fall back like
        # the report itself). Emitted HERE, not in the config wrapper,
        # so both entry paths (config and resumable/CLI) expose the
        # same stage set.
        "segmentation_highlight": segmentation_highlight_frames(
            masks, method=qc.get("segmentation_highlight", "outline")
        ),
        "track_edges": edges,
        "spots": spots,
        "spots_filtered": filtered,
        "movement": movement,
        "timeseries": timeseries,
        "features": features,
        "summary": summary,
        # CSV-edge disclosure (r6): which feature columns are pinned to
        # the published CellPhe set vs reconstructed vs engine-local —
        # published as a sidecar stage by run_pipeline_resumable
        "feature_manifest": feature_manifest(binaries.sparkSession),
    }


#: Shape of the reference's params document (templates/cyto3.json:1-48).
DEFAULT_CONFIG = {
    "folder_names": {"timelapse_id": "run"},
    "run": {"segmentation": True, "tracking": True, "cellphe": True},
    # method: "median" (fixture kernel) | "otsu" (real classical path);
    # the reference's model/eval dicts pass to Cellpose when present
    "segmentation": {"model": {}, "eval": {}, "method": "median"},
    "tracking": {
        "algorithm": "NearestNeighbor",
        "settings": {
            "LINKING_MAX_DISTANCE": 10.0,
            "ALLOW_GAP_CLOSING": True,
            "MAX_FRAME_GAP": 4,
            "GAP_CLOSING_MAX_DISTANCE": 20.0,
            # reference template enables BOTH division and fusion links
            # (templates/cyto3.json:31-38, same distances)
            "ALLOW_TRACK_SPLITTING": True,
            "SPLITTING_MAX_DISTANCE": 5.0,
            "ALLOW_TRACK_MERGING": True,
            "MERGING_MAX_DISTANCE": 50.0,
        },
    },
    "QC": {"minimum_cell_size": 2.0, "minimum_observations": 3},
}


def config_to_run_kwargs(config: dict) -> dict:
    """Translate the reference's params-file document into
    ``run_pipeline`` keyword arguments — ONE translation shared by the
    config entry point and the resumable CLI path, so the same config
    always produces the same pipeline regardless of entry.

    Reference's tracking.algorithm field (templates/cyto3.json:24,
    README.md:152-160): NearestNeighbor -> greedy frame-pair linking,
    the LAP* trackers -> per-frame-pair Hungarian assignment PLUS the
    segment-level gap-closing LAP (TrackMate's two-phase shape:
    frame linking, then end/start reconnection, track_images.py:74-123).
    """
    cfg = {**DEFAULT_CONFIG, **config}
    qc = {**DEFAULT_CONFIG["QC"], **cfg.get("QC", {})}
    tr = {
        **DEFAULT_CONFIG["tracking"]["settings"],
        **cfg.get("tracking", {}).get("settings", {}),
    }
    algo = str(cfg.get("tracking", {}).get("algorithm", "NearestNeighbor")).lower()
    # reference tracker menu (README.md:152-160): LAP* -> per-pair
    # Hungarian + segment-LAP gap phase; Kalman/AdvancedKalman ->
    # constant-velocity prediction; Overlap -> the relational mask-IoU
    # tracker (r6 — previously fell back to greedy; run_pipeline now
    # builds its edge list from overlap_links over the mask pixels,
    # MIN_IOU routed from the settings per TrackMate's TrackerKeys);
    # everything else -> greedy NearestNeighbor.
    # NOTE "Overlap".lower() contains "lap" — check it FIRST
    if "overlap" in algo:
        method = "overlap"
    elif "lap" in algo:
        method = "lap"
    elif "kalman" in algo:
        method = "kalman"
    else:
        method = "greedy"
    is_lap = method == "lap"
    return {
        "qc": qc,
        "segmentation_method": cfg.get("segmentation", {}).get("method", "median"),
        "linking_max_distance": float(tr["LINKING_MAX_DISTANCE"]),
        "max_frame_gap": (
            int(tr["MAX_FRAME_GAP"]) if tr.get("ALLOW_GAP_CLOSING", True) else 0
        ),
        "gap_closing_max_distance": float(tr["GAP_CLOSING_MAX_DISTANCE"]),
        "tracking_method": method,
        "tracking_gap_strategy": "segment_lap" if is_lap else "inline",
        "allow_splitting": bool(tr.get("ALLOW_TRACK_SPLITTING", False)),
        "splitting_max_distance": float(tr.get("SPLITTING_MAX_DISTANCE", 5.0)),
        "allow_merging": bool(tr.get("ALLOW_TRACK_MERGING", False)),
        "merging_max_distance": float(tr.get("MERGING_MAX_DISTANCE", 50.0)),
        # r6 LAP cost knobs — routed ONLY when the config supplies them
        # (the reference templates do: cyto3.json:26,30,33-35), so a
        # knob-free config reproduces the pre-r6 pipeline bit-for-bit
        "alternative_cost_factor": (
            float(tr["ALTERNATIVE_LINKING_COST_FACTOR"])
            if "ALTERNATIVE_LINKING_COST_FACTOR" in tr
            else None
        ),
        "cutoff_percentile": float(tr.get("CUTOFF_PERCENTILE", 0.9)),
        "splitting_feature_penalties": (
            dict(tr["SPLITTING_FEATURE_PENALTIES"])
            if tr.get("SPLITTING_FEATURE_PENALTIES")
            else None
        ),
        "merging_feature_penalties": (
            dict(tr["MERGING_FEATURE_PENALTIES"])
            if tr.get("MERGING_FEATURE_PENALTIES")
            else None
        ),
        # r7 — the remaining two penalty maps of the reference's
        # settings dict (track_images.py settings; every published
        # template carries both keys as {}, cyto3.json:24,30, so a
        # template config routes None and stays bit-identical)
        "linking_feature_penalties": (
            dict(tr["LINKING_FEATURE_PENALTIES"])
            if tr.get("LINKING_FEATURE_PENALTIES")
            else None
        ),
        "gap_closing_feature_penalties": (
            dict(tr["GAP_CLOSING_FEATURE_PENALTIES"])
            if tr.get("GAP_CLOSING_FEATURE_PENALTIES")
            else None
        ),
        # Overlap tracker gate (TrackerKeys KEY_MIN_IOU); inert for the
        # centroid trackers
        "overlap_min_iou": float(tr.get("MIN_IOU", 0.3)),
    }


def run_pipeline_from_config(
    spark: SparkSession, input_path: str, config: dict, glob: str = "*.fake"
) -> dict[str, DataFrame]:
    """E1/E2 entry: the reference's params-file contract (S13,
    main.nf:3-10) driving the chain. Run flags gate sub-DAGs exactly as
    the reference's `if params.run.*` blocks (main.nf:470,490,507) — and
    because the plan is lazy, a gated-off branch is never even planned.
    """
    from cellphe_data_pipeline_spark.domain.images import scan_images

    cfg = {**DEFAULT_CONFIG, **config}
    binaries = scan_images(spark, input_path, glob=glob).select("path", "content")
    if not cfg["run"].get("segmentation", True):
        return {"binaries": binaries}
    out = run_pipeline(binaries, **config_to_run_kwargs(config))
    # segmentation_highlight is segmentation-level: it survives the
    # tracking/cellphe gates
    if not cfg["run"].get("tracking", True):
        out = {
            k: out[k]
            for k in ("frames", "masks", "detections", "segmentation_highlight")
        }
    elif not cfg["run"].get("cellphe", True):
        out = {
            k: out[k]
            for k in ("frames", "masks", "detections", "segmentation_highlight",
                      "track_edges", "spots", "spots_filtered")
        }
    return out


def run_pipeline_resumable(
    spark: SparkSession,
    binaries: DataFrame,
    stage_dir: str,
    force: tuple[str, ...] = (),
    **kwargs,
) -> dict[str, DataFrame]:
    """The reference's `-resume` (README.md:206-212, SURVEY §4 "manual
    materialisation policy"): every stage is published to
    `{stage_dir}/{stage}` parquet; a stage whose output already exists
    is READ BACK instead of recomputed, cutting the lineage there.

    `force` lists stage names to recompute regardless (the reference's
    re-run-tracking-only workflow: reuse segmentation, redo the rest).
    Publishing order follows the dataflow, so forcing an early stage
    naturally invalidates nothing downstream unless also forced — same
    contract as Nextflow's content-hash resume at stage granularity.
    """
    import os

    from cellphe_data_pipeline_spark.sources.io import publish

    out = run_pipeline(binaries, **kwargs)
    resumed: dict[str, DataFrame] = {}
    for stage, df in out.items():
        path = os.path.join(stage_dir, stage)
        marker = os.path.join(path, "_SUCCESS")
        if stage in force or not os.path.exists(marker):
            publish(df, path)
        resumed[stage] = spark.read.parquet(path)
    return resumed
