"""G4 — track partitioning with split renumbering (SURVEY §2.9).

Reference: parse_xml.py:124-163 — a recursive DFS over the TrackMate
spot graph with a global track counter:
  - each root starts a new track (roots sorted by frame, :121-122);
  - at a split (1 parent → N children), the first-visited child
    continues the parent's track, every later child starts a new one
    (:151-153);
  - at a merge (N parents → 1 child), the first-arriving traversal
    claims the child (`traversed_nodes` guard, :147-149).

Those semantics are traversal-order-dependent (SURVEY §7 hard part #1).
The engine fixes them with explicit deterministic tie-breaks:
  - the MIN-id child continues its parent's track;
  - the MIN-id parent wins a merge;
  - track ids are assigned 1..K by segment head order (frame, id) —
    1-indexed like the reference (parse_xml.py:198-200).

Under these rules a "track" is a maximal path over KEEP edges, where
keep(p→c) ⟺ c = min(children(p)) ∧ p = min(parents(c)). Every node has
≤1 incoming and ≤1 outgoing keep edge, so components of the keep-edge
graph are simple paths — computable as connected components, fully
relationally:

Scale: two groupBy shuffles (min-child, min-parent) + the O(log d) CC
rounds + one window over segment heads. No driver-side graph state;
the reference's whole-graph-in-memory DFS is replaced by joins that
partition across the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.operators.graph import connected_components
from cellphe_data_pipeline_spark.sources.io import from_driver_rows

#: tracks-per-call bound under which head numbering happens driver-side
#: (one take(); ~100k heads ≈ a few MB of driver memory).
TRACK_DIM_DRIVER_CAP = 100_000

#: edge count under which the WHOLE renumbering runs driver-side through
#: ``renumber_tracks_oracle`` (exact-equality property-tested against
#: the distributed form, tests/test_domain.py). A lineage graph is
#: per-experiment bounded (one edge per linked detection pair: the
#: reference's 726-frame run has ~10^4), while the distributed path
#: costs ~6 scheduled jobs (keep-edge checkpoint, CC, label checkpoint,
#: head numbering, final join) — a pure scheduling floor at these sizes.
#: 500k edges ≈ tens of MB of driver memory; beyond it the fully
#: distributed path runs unchanged. Same bounded-smallness pattern as
#: graph.CC_DRIVER_FINISH_CAP.
EDGE_DRIVER_CAP = 500_000


def keep_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Edges that continue a track: min-child of the parent AND
    min-parent of the child (both deterministic tie-breaks)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    min_child = e.groupBy("src").agg(F.min("dst").alias("dst"))
    min_parent = e.groupBy("dst").agg(F.min("src").alias("src"))
    return e.join(min_child, ["src", "dst"], "left_semi").join(
        min_parent, ["src", "dst"], "left_semi"
    )


def renumber_tracks(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "ID",
    frame_col: str = "FRAME",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Assign 1-indexed TRACK_ID to every non-isolated node.

    Output: (id_col, frame_col, TRACK_ID). Isolated nodes (no edges)
    are dropped, as in the reference (parse_xml.py:115-118).

    Beyond the driver cap, segments are the connected components of the
    keep edges; ``connected_components`` sizes its own loop from their
    count, so there is no partition setting to pass.

    At or below EDGE_DRIVER_CAP edges the whole renumbering runs on the
    driver; the cap is read at call time, so the property tests set it
    to 0 to force the distributed path and assert exact TRACK_ID
    equality between the two.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if EDGE_DRIVER_CAP:
        # Arrow on every driver crossing: toPandas fetches the edge and
        # node rows as columnar batches, and from_driver_rows hands the
        # touched ids and the numbered rows back as Arrow tables, so no
        # crossing runs a Python task (a list-of-tuples createDataFrame
        # would run a pickled PythonRDD job, which starts a second
        # worker daemon). Series.tolist() restores plain Python scalars,
        # so the oracle's dict keys and the returned values are
        # identical to the Row path (the DDL schema pins the return
        # types).
        edge_pdf = e.limit(EDGE_DRIVER_CAP + 1).toPandas()
        if len(edge_pdf) <= EDGE_DRIVER_CAP:
            spark = nodes.sparkSession
            edge_list = list(
                zip(edge_pdf["src"].tolist(), edge_pdf["dst"].tolist())
            )
            touched = sorted({n for uv in edge_list for n in uv})
            id_type = dict(nodes.dtypes)[id_col]
            frame_type = dict(nodes.dtypes)[frame_col]
            node_pdf = nodes.join(
                F.broadcast(
                    from_driver_rows(
                        spark, [(n,) for n in touched], f"{id_col} {id_type}"
                    )
                ),
                id_col,
                "left_semi",
            ).select(id_col, frame_col).toPandas()
            node_list = list(
                zip(node_pdf[id_col].tolist(), node_pdf[frame_col].tolist())
            )
            if len({i for i, _ in node_list}) == len(touched):
                tid = renumber_tracks_oracle(node_list, edge_list)
                # a keep-edge CYCLE (non-temporal-DAG input) has no head,
                # so its nodes get no id — the distributed path drops
                # them too (no head ⇒ the numbering join misses the
                # segment); mirror that instead of raising
                out = [(i, f, tid[i]) for i, f in node_list if i in tid]
                out_schema = (
                    f"{id_col} {id_type}, {frame_col} {frame_type}, TRACK_ID int"
                )
                return from_driver_rows(spark, out, out_schema)
            # else: edges reference ids absent from the node table — the
            # oracle has no frame for them; fall through to the
            # distributed path, which tolerates phantom endpoints
    touched = (
        e.select(F.col("src").alias(id_col))
        .union(e.select(F.col("dst").alias(id_col)))
        .distinct()
    )
    members = nodes.join(touched, id_col, "left_semi").select(id_col, frame_col)

    # Pin the keep-edge list: it is executed ~3x (CC's contraction
    # sampling, CC's input checkpoint, the head-detection anti-join),
    # and each execution re-runs two groupBys + two semi-joins. One
    # narrow row per kept edge.
    keep = keep_edges(e).localCheckpoint(eager=True)
    # segments: CC over keep edges; nodes with no keep edge are their own
    # singleton segment (component = own id)
    cc = connected_components(keep, "src", "dst")
    # Pinned for the same reason: re-executed by head detection, both
    # numbering passes, and the final track-id join (~3x without a cut).
    labelled = (
        members.join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("segment", F.coalesce(F.col("component"), F.col(id_col)))
        .localCheckpoint(eager=True)
    )

    # segment head = the path START (no incoming keep edge; unique per
    # segment since keep edges form simple paths on the temporal DAG the
    # reference guarantees — edges always advance in frame);
    # track ids follow head (frame, id) order — deterministic, 1-indexed
    head_nodes = labelled.join(
        keep.select(F.col("dst").alias(id_col)), id_col, "left_anti"
    )
    heads = head_nodes.groupBy("segment").agg(
        F.min(F.struct(F.col(frame_col), F.col(id_col))).alias("head")
    )
    # Numbering (r5, same pattern as the pipeline's timelapse dim): the
    # head table has one row per TRACK. Below TRACK_DIM_DRIVER_CAP it is
    # numbered driver-side in ONE TakeOrderedAndProject job and comes
    # back as a size-known local relation — so the final join
    # BROADCASTS instead of shuffling `labelled`, and the two-pass
    # checkpoint/count/offset jobs disappear (several jobs per call on
    # a loop-heavy cold path). Beyond the cap (100 TB corpora where
    # "tracks" are billions of chains) the scale-safe two-pass
    # partition-offset numbering takes over unchanged.
    head_order = [F.col("head." + frame_col), F.col("head." + id_col)]
    head_rows = heads.orderBy(*head_order).take(TRACK_DIM_DRIVER_CAP + 1)
    if len(head_rows) <= TRACK_DIM_DRIVER_CAP:
        seg_type = dict(labelled.dtypes)["segment"]
        spark = labelled.sparkSession
        track_ids = F.broadcast(
            from_driver_rows(
                spark,
                [(r["segment"], i) for i, r in enumerate(head_rows, start=1)],
                f"segment {seg_type}, TRACK_ID int",
            )
        )
    else:
        from cellphe_data_pipeline_spark.operators.scale import global_row_number

        track_ids = global_row_number(heads, head_order, "_tid").select(
            "segment", F.col("_tid").cast("int").alias("TRACK_ID")
        )
    return labelled.join(track_ids, "segment").select(id_col, frame_col, "TRACK_ID")


def renumber_tracks_oracle(
    nodes: list[tuple[int, int]], edges: list[tuple[int, int]]
) -> dict[int, int]:
    """In-memory reimplementation of the SAME deterministic semantics
    (test oracle, SURVEY §5): DFS from roots ordered by (frame, id),
    children visited in id order, min-parent wins merges, min-child
    continues the parent's track; ids canonicalised by head (frame, id).
    """
    children: dict[int, list[int]] = {}
    parents: dict[int, list[int]] = {}
    for s, d in edges:
        children.setdefault(s, []).append(d)
        parents.setdefault(d, []).append(s)
    frame = dict(nodes)
    touched = sorted({n for e in edges for n in e})

    # follow keep-edge paths from each segment head
    def keep_next(p: int) -> int | None:
        c = min(children.get(p, []), default=None)
        if c is not None and min(parents[c]) == p:
            return c
        return None

    def keep_prev(c: int) -> int | None:
        p = min(parents.get(c, []), default=None)
        if p is not None and min(children[p]) == c:
            return p
        return None

    heads = [n for n in touched if keep_prev(n) is None]
    heads.sort(key=lambda n: (frame[n], n))
    out: dict[int, int] = {}
    for tid, h in enumerate(heads, start=1):
        n: int | None = h
        while n is not None:
            out[n] = tid
            n = keep_next(n)
    return out
