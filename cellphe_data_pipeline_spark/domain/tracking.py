"""M3 — cell tracking by frame-pair linking (SURVEY §2.10, Phase 4).

Reference: track_images.py:24-201 drives TrackMate's JVM LAP tracker
over ALL masks of a timelapse as one global 32-CPU task
(nextflow.config:46-51). Global LAP optimisation is inherently
sequential across frames; the engine's documented deviation (SURVEY §7
hard part #5) is *same-shape, simplified* linking:

  - per consecutive frame pair, assign detections greedily by ascending
    centroid distance under ``linking_max_distance`` — the
    NearestNeighbor tracker option of README.md:152-160; or, with
    ``method="lap"``, by a per-frame-pair Hungarian assignment
    (minimum total distance — TrackMate's frame-to-frame LAP step,
    track_images.py:74-123) solved by scipy when installed, else the
    built-in O(n^3) numpy Hungarian; or, with ``method="kalman"``, by
    greedy assignment against constant-velocity PREDICTED positions
    (TrackMate's Kalman tracker family, README.md:152-160). Greedy
    stays the default (it is the documented oracle semantics);
  - gap closing: an unmatched track end may re-link ≤ ``max_frame_gap``
    frames later within ``gap_closing_max_distance``
    (ALLOW_GAP_CLOSING / MAX_FRAME_GAP=4 / GAP_CLOSING_MAX_DISTANCE,
    templates/cyto3.json:27-29);
  - splitting/merging: 1→2 division and 2→1 fusion links between
    segment starts/ends and track middles one frame apart
    (ALLOW_TRACK_SPLITTING / SPLITTING_MAX_DISTANCE /
    ALLOW_TRACK_MERGING / MERGING_MAX_DISTANCE,
    templates/cyto3.json:31-38) — phase-2 blocks of
    ``_segment_candidates``;
  - LAP cost shaping (r6/r7, all opt-in): the no-link alternative
    (ALTERNATIVE_LINKING_COST_FACTOR × CUTOFF_PERCENTILE of the
    candidate cost distribution, templates/cyto3.json:26,30) via the
    Jaqaman-augmented matrix — applied in phase 1 AND (r7) each
    phase-2 block (gap closing, splitting, merging) — and TrackMate's
    published feature-penalty factor for all four penalty maps
    (LINKING/GAP_CLOSING/SPLITTING/MERGING_FEATURE_PENALTIES,
    cyto3.json:24,30,33-35). r8 adds ``gap_strategy="joint_lap"`` —
    TrackMate's ACTUAL phase-2 discipline: gap closing, splitting and
    merging traded off in ONE Jaqaman matrix with one shared
    alternative cost b over the combined candidate distribution,
    closing the former block-independence deviation (the sequential
    strategies remain the default for bit-stable goldens; there each
    block computes its own b).
    Remaining documented deviation: the penalty denominator hardens
    (f1+f2) to |f1|+|f2| (identical for TrackMate's nonnegative stock
    features — see _penalty_factor);
  - deterministic: candidate pairs sorted by (distance, src id, dst id).

One linking core serves every tracker: ``_frame_candidates`` is the
per-frame candidate step and ``_greedy`` the greedy assignment (the
streaming tracker, streaming/tracker.py, calls the same two), every
LAP block — phase 1, each sequential phase-2 block and the joint
phase-2 matrix — goes through ``_assign``, and ``_segment_candidates``
builds the gap-closing, splitting and merging candidates for both
phase-2 strategies.

Parallelism: one kernel call per timelapse through
``operators.arrow_map.map_groups_in_arrow`` (a ``mapInArrow`` over
timelapse-sorted partitions) — tracking is global per timelapse (the
reference runs it as one task too), but timelapses parallelise across
the cluster; one group = one timelapse's detections (~72k rows for the
documented 721-frame run — bounded, fits one kernel call comfortably).
The cross-timelapse fan-out is where the 100 TB parallelism lives,
exactly like the reference's per-run Slurm jobs.

Output edges feed G1-G4 (``domain.lineage.renumber_tracks``) unchanged.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EDGES_SCHEMA = T.StructType(
    [
        T.StructField("timelapse_id", T.StringType()),
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
        T.StructField("gap", T.IntegerType()),
        T.StructField("dist", T.DoubleType()),
    ]
)


#: cost sentinel for forbidden (out-of-range) assignment pairs
_LAP_BIG = 1e12


def _hungarian(cost: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Minimum-cost assignment. Prefers scipy's Jonker-Volgenant solver
    when installed; otherwise the classic O(n^3) potentials + shortest-
    augmenting-path Hungarian (square-padded with a constant, which
    preserves the optimum over the real cells)."""
    try:
        from scipy.optimize import linear_sum_assignment  # type: ignore

        return linear_sum_assignment(cost)
    except ImportError:
        pass
    n_rows, n_cols = cost.shape
    n = max(n_rows, n_cols)
    a = np.zeros((n, n))
    a[:n_rows, :n_cols] = cost
    INF = float("inf")
    u = [0.0] * (n + 1)
    v = [0.0] * (n + 1)
    p = [0] * (n + 1)  # p[j] = row matched to column j (1-indexed)
    way = [0] * (n + 1)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = [INF] * (n + 1)
        used = [False] * (n + 1)
        while True:
            used[j0] = True
            i0, delta, j1 = p[j0], INF, 0
            for j in range(1, n + 1):
                if not used[j]:
                    cur = a[i0 - 1][j - 1] - u[i0] - v[j]
                    if cur < minv[j]:
                        minv[j] = cur
                        way[j] = j0
                    if minv[j] < delta:
                        delta = minv[j]
                        j1 = j
            for j in range(n + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while j0:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
    rows, cols = [], []
    for j in range(1, n + 1):
        if p[j] <= n_rows and j <= n_cols:
            rows.append(p[j] - 1)
            cols.append(j - 1)
    order = np.argsort(rows)
    return np.array(rows)[order], np.array(cols)[order]


def _build_spot_feats(
    dets, penalty_keys: set[str]
) -> tuple[dict[int, tuple[int, float, float]], dict[int, dict[str, float]]]:
    """One pass over a timelapse's detections (a ``pyarrow.Table``)
    building the (frame, x, y) spot lookup, in row order, and the
    per-spot penalty-feature dict (TrackMate's UPPERCASE keys matched
    case-insensitively against detection columns; NULL and NaN values
    are left out)."""
    cols_by_upper = {c.upper(): c for c in dets.column_names}
    use = {k: cols_by_upper[k] for k in penalty_keys if k in cols_by_upper}
    ids = [int(i) for i in dets.column("id").to_pylist()]
    spot = {
        i: (int(f), float(x), float(y))
        for i, f, x, y in zip(
            ids,
            dets.column("frame").to_pylist(),
            dets.column("x").to_pylist(),
            dets.column("y").to_pylist(),
        )
    }
    feats: dict[int, dict[str, float]] = {}
    if use:
        vals = {k: dets.column(c).to_pylist() for k, c in use.items()}
        for n, i in enumerate(ids):
            feats[i] = {
                k: float(v[n]) for k, v in vals.items() if v[n] is not None and v[n] == v[n]
            }
    return spot, feats


def _penalty_factor(
    penalties: dict[str, float],
    fa: dict[str, float],
    fb: dict[str, float],
) -> float:
    """TrackMate feature-penalty cost factor (the PUBLIC formula —
    Jaqaman et al. 2008 supplementary / TrackMate docs "Linking costs
    calculation"): per penalised feature, term = 3*p*|f1-f2|/(f1+f2)
    (0 when the sum is 0 or the feature is absent); the squared-
    distance cost is multiplied by (1 + sum(terms))^2. A pair of
    identical feature values is unpenalised; dissimilar values push
    the candidate's cost up and can push it past the acceptance
    threshold entirely. Symmetric in ``fa`` and ``fb``."""
    s = 0.0
    for feat, p in penalties.items():
        a = fa.get(feat)
        b = fb.get(feat)
        if a is None or b is None:
            continue
        # DOCUMENTED DEVIATION (r7, per review): the published
        # denominator is (f1 + f2); this uses |f1| + |f2|. Identical
        # for TrackMate's nonnegative stock features (AREA, intensity,
        # radius...), but a deliberate hardening for signed custom
        # features, where (f1 + f2) can be zero or negative and the
        # published ratio becomes unbounded/negative-cost.
        tot = abs(a) + abs(b)
        if tot:
            s += 3.0 * float(p) * abs(a - b) / tot
    return (1.0 + s) ** 2


def _lap_picks(
    cost: np.ndarray,
    alternative_cost_factor: float | None = None,
    cutoff_percentile: float = 0.9,
    squared: bool = False,
) -> list[tuple[int, int]]:
    """Solve one LAP cost matrix, optionally with TrackMate's NO-LINK
    alternative.

    Without the factor: plain Hungarian; sentinel cells are dropped
    from the solution (non-assignment allowed). With it: costs switch
    to squared form (``squared=True`` marks matrices already in
    squared/penalised units), b = factor x the cutoff-percentile of
    the finite candidate costs, and the Jaqaman-augmented square
    matrix offers every row and column a diagonal alternative at cost
    b — so a within-window candidate costlier than b stays UNLINKED
    instead of being force-assigned (Jaqaman et al. 2008). A solution
    with L links totals sum(C_linked) + (n+m-L)*b, so the net decision
    rule is "a candidate joins iff its marginal cost <= b"."""
    if alternative_cost_factor is None:
        return [
            (r, c) for r, c in zip(*_hungarian(cost)) if cost[r, c] < _LAP_BIG
        ]
    sq = np.where(cost < _LAP_BIG, cost if squared else cost * cost, _LAP_BIG)
    finite = sq[sq < _LAP_BIG]
    if finite.size == 0:
        return []
    b = float(alternative_cost_factor) * float(
        np.percentile(finite, float(cutoff_percentile) * 100.0)
    )
    n, m2 = sq.shape
    full = np.full((n + m2, n + m2), _LAP_BIG)
    full[:n, :m2] = sq
    full[:n, m2:] = np.where(np.eye(n, dtype=bool), b, _LAP_BIG)
    full[n:, :m2] = np.where(np.eye(m2, dtype=bool), b, _LAP_BIG)
    full[n:, m2:] = np.where(sq.T < _LAP_BIG, b, _LAP_BIG)
    return [
        (r, c)
        for r, c in zip(*_hungarian(full))
        if r < n and c < m2 and full[r, c] < _LAP_BIG
    ]


def _assign(
    cands: list[tuple],
    alternative_cost_factor: float | None = None,
    cutoff_percentile: float = 0.9,
    squared: bool = False,
) -> list[tuple]:
    """Solve one LAP block over candidate links ``(cost, row, col,
    *payload)`` — phase-1 frame linking, each sequential phase-2 block
    and the joint phase-2 matrix all go through here.

    Rows and cols are indexed in sorted key order; pairs outside the
    candidate list carry the ``_LAP_BIG`` sentinel, and a cell listed
    twice keeps its first cheapest candidate. Returns the picks
    ``(row, col, *payload)`` in :func:`_lap_picks` order."""
    if not cands:
        return []
    rows = sorted({c[1] for c in cands})
    cols = sorted({c[2] for c in cands})
    r_ix = {r: i for i, r in enumerate(rows)}
    c_ix = {c: i for i, c in enumerate(cols)}
    cost = np.full((len(rows), len(cols)), _LAP_BIG)
    payload: dict[tuple[int, int], tuple] = {}
    for cst, r, c, *rest in cands:
        cell = (r_ix[r], c_ix[c])
        if cst < cost[cell]:
            cost[cell] = cst
            payload[cell] = tuple(rest)
    return [
        (rows[i], cols[j], *payload[(i, j)])
        for i, j in _lap_picks(cost, alternative_cost_factor, cutoff_percentile, squared)
    ]


def _greedy(cands: list[tuple]) -> list[tuple]:
    """Greedy assignment of candidate links ``(cost, src, dst,
    *payload)``: ascending ``(cost, src, dst)`` — deterministic — with
    each src and each dst used at most once. Returns the picks
    ``(src, dst, *payload)`` in that order."""
    used_src: set = set()
    used_dst: set = set()
    picks = []
    for _cost, src, dst, *rest in sorted(cands):
        if src in used_src or dst in used_dst:
            continue
        used_src.add(src)
        used_dst.add(dst)
        picks.append((src, dst, *rest))
    return picks


def _frame_candidates(
    open_ends: dict,
    f: int,
    dets: list[tuple[int, float, float]],
    linking_max_distance: float,
    gap_closing_max_distance: float,
    max_gap: int,
    vel: dict[int, tuple[float, float]] | None = None,
    penalty: tuple | None = None,
) -> list[tuple[float, int, int, int, float]]:
    """Phase-1 candidate links ``(cost, src, dst, gap, dist)`` from the
    open track ends ``{id: (frame, x, y, ...)}`` to frame ``f``'s
    detections ``(id, x, y)`` — the per-frame step of the batch kernel
    and of the streaming tracker.

    ``gap`` is the number of frames skipped (0 = consecutive). An end
    from frame ``f`` or later (gap < 0) or silent for more than
    ``max_gap`` frames is no candidate; the distance window is
    ``linking_max_distance`` at gap 0, ``gap_closing_max_distance``
    otherwise. With ``vel`` (method="kalman") an end's position is
    first carried forward at its constant-velocity estimate — TrackMate's
    Kalman tracker, lite (predict + gate + assign; no covariance update);
    an end with no estimate stays put, exactly as in greedy linking.
    With ``penalty = (feats, linking_penalties, gap_closing_penalties)``
    the cost is the squared distance times :func:`_penalty_factor`
    (factor 1 where the gap's map is empty), gated at limit²; otherwise
    it is the raw distance."""
    cands = []
    for src, end in open_ends.items():
        gap = f - end[0] - 1
        if gap < 0 or gap > max_gap:
            continue
        limit = linking_max_distance if gap == 0 else gap_closing_max_distance
        ex, ey = end[1], end[2]
        if vel is not None:
            vx, vy = vel.get(src, (0.0, 0.0))
            ex, ey = ex + vx * (f - end[0]), ey + vy * (f - end[0])
        for dst, x, y in dets:
            d = float(np.hypot(x - ex, y - ey))
            if d > limit:
                continue
            if penalty is None:
                cands.append((d, src, dst, gap, d))
                continue
            feats, pmap = penalty[0], penalty[1] if gap == 0 else penalty[2]
            factor = _penalty_factor(pmap, feats.get(src, {}), feats.get(dst, {})) if pmap else 1.0
            cost = d * d * factor
            if cost <= limit * limit:
                cands.append((cost, src, dst, gap, d))
    return cands


def _segment_candidates(
    spot: dict[int, tuple[int, float, float]],
    feats: dict[int, dict[str, float]],
    edges: list[tuple[int, int, int, float]],
    blocks: dict[str, tuple[float, dict[str, float] | None]],
    max_frame_gap: int,
    joint: bool,
) -> list[tuple]:
    """Phase-2 candidates over the segments that phase-1 ``edges``
    leave, laid out as Jaqaman et al. 2008's segment matrix (their
    Fig. 1c; TrackMate's JaqamanSegmentCostMatrixCreator):

    - "g" gap closing: segment END → segment START 2..max_frame_gap+1
      frames later (row (0, end), col (0, start));
    - "s" splitting: track MIDDLE (a spot with both links) → START one
      frame later (row (1, middle), col (0, start));
    - "m" merging: END → MIDDLE one frame later (row (0, end),
      col (1, middle)).

    ``blocks`` maps each enabled kind to its (max distance, feature
    penalties). Returned as ``(cost, row, col, kind, gap, dist)``; the
    emitted edge of a pick is always ``(row id, col id, gap, dist)``
    with the RAW distance. Costs: with ``joint`` every block is in
    TrackMate's phase-2 units (squared distance x penalty factor,
    gated at limit²) so one matrix holds coherent costs; otherwise a
    block with penalties uses those units and a block without keeps
    the raw distance gated at the limit. The sequential gap-closing
    block gates the raw distance before its penalised cost too, as
    phase 1 does."""
    has_out = {e[0] for e in edges}
    has_in = {e[1] for e in edges}
    ends = [i for i in spot if i not in has_out]
    starts = [i for i in spot if i not in has_in]
    mids: dict[int, list[int]] = {}
    for i in spot:
        if i in has_out and i in has_in:
            mids.setdefault(spot[i][0], []).append(i)
    pairs: list[tuple[str, int, int]] = []
    if "g" in blocks:
        pairs += [
            ("g", e, s)
            for e in ends
            for s in starts
            if 2 <= spot[s][0] - spot[e][0] <= max_frame_gap + 1
        ]
    if "m" in blocks:
        pairs += [("m", e, m) for e in ends for m in mids.get(spot[e][0] + 1, [])]
    if "s" in blocks:
        pairs += [("s", m, s) for s in starts for m in mids.get(spot[s][0] - 1, [])]
    cands = []
    for kind, a, b in pairs:
        limit, pmap = blocks[kind]
        (fa, xa, ya), (fb, xb, yb) = spot[a], spot[b]
        d = float(np.hypot(xb - xa, yb - ya))
        squared = joint or bool(pmap)
        if d > limit and (not squared or (kind == "g" and not joint)):
            continue
        if squared:
            factor = _penalty_factor(pmap, feats.get(a, {}), feats.get(b, {})) if pmap else 1.0
            cost = d * d * factor
            if not cost <= limit * limit:
                continue
        else:
            cost = d
        row, col = (int(kind == "s"), a), (int(kind == "m"), b)
        cands.append((cost, row, col, kind, fb - fa - 1 if kind == "g" else 0, d))
    return cands


def _link_one(
    group,
    linking_max_distance: float,
    max_frame_gap: int,
    gap_closing_max_distance: float,
    method: str = "greedy",
    gap_strategy: str = "inline",
    allow_splitting: bool = False,
    splitting_max_distance: float = 5.0,
    allow_merging: bool = False,
    merging_max_distance: float = 50.0,
    alternative_cost_factor: float | None = None,
    cutoff_percentile: float = 0.9,
    splitting_feature_penalties: dict[str, float] | None = None,
    merging_feature_penalties: dict[str, float] | None = None,
    linking_feature_penalties: dict[str, float] | None = None,
    gap_closing_feature_penalties: dict[str, float] | None = None,
) -> list[tuple[str, int, int, int, float]]:
    """Link one timelapse's detections (a ``pyarrow.Table`` sorted by
    frame, id) into ``(timelapse_id, src, dst, gap, dist)`` edge tuples:
    phase 1 per frame, then the phase-2 segment blocks (see
    :func:`track_detections`)."""
    spot, feats = _build_spot_feats(
        group,
        set(linking_feature_penalties or {})
        | set(gap_closing_feature_penalties or {})
        | set(splitting_feature_penalties or {})
        | set(merging_feature_penalties or {}),
    )
    by_frame: dict[int, list[tuple[int, float, float]]] = {}
    for i, (f, x, y) in spot.items():
        by_frame.setdefault(f, []).append((i, x, y))
    # segment-LAP closure: phase 1 links consecutive frames ONLY (gap
    # candidates excluded), phase 2 reconnects segments globally
    inline_gap = max_frame_gap if gap_strategy == "inline" else 0
    # LINKING/GAP_CLOSING_FEATURE_PENALTIES (track_images.py settings,
    # templates/cyto3.json:24,30): when either is present, phase-1
    # costs are penalised SQUARED distances, so the LAP matrix is
    # already in squared units
    pen_active = bool(linking_feature_penalties) or bool(gap_closing_feature_penalties)
    penalty = (
        (feats, linking_feature_penalties, gap_closing_feature_penalties)
        if pen_active
        else None
    )
    # open track ends: spot id -> (frame, x, y); per-end
    # constant-velocity estimate, set when a link lands
    open_ends: dict[int, tuple[int, float, float]] = {}
    vel: dict[int, tuple[float, float]] = {}
    edges: list[tuple[int, int, int, float]] = []
    for f in sorted(by_frame):
        dets = by_frame[f]
        cands = _frame_candidates(
            open_ends,
            f,
            dets,
            linking_max_distance,
            gap_closing_max_distance,
            inline_gap,
            vel if method == "kalman" else None,
            penalty,
        )
        if method == "lap":
            # Hungarian per frame: minimum TOTAL link cost instead of
            # locally-shortest links first
            picks = _assign(
                cands, alternative_cost_factor, cutoff_percentile, squared=pen_active
            )
        else:
            picks = _greedy(cands)
        pos = {i: (x, y) for i, x, y in dets}
        for src, dst, gap, d in picks:
            edges.append((src, dst, gap, d))
            _, ex, ey = open_ends.pop(src)  # the end moved forward to dst
            vel[dst] = ((pos[dst][0] - ex) / (gap + 1), (pos[dst][1] - ey) / (gap + 1))
        # every detection of this frame is now an open end (matched ones
        # continue their track under the new spot id; unmatched ones
        # start prospective tracks); ends past the gap window expire
        for i, x, y in dets:
            open_ends[i] = (f, x, y)
        open_ends = {
            i: e for i, e in open_ends.items() if f - e[0] - 1 <= inline_gap
        }
    # phase 2: the enabled segment blocks, kind -> (max distance, penalties)
    blocks = {}
    if gap_strategy != "inline" and max_frame_gap > 0:
        blocks["g"] = (gap_closing_max_distance, gap_closing_feature_penalties)
    if allow_splitting:
        blocks["s"] = (splitting_max_distance, splitting_feature_penalties)
    if allow_merging:
        blocks["m"] = (merging_max_distance, merging_feature_penalties)
    if gap_strategy == "joint_lap":
        # TrackMate's phase 2: gap closing, splitting and merging traded
        # off in ONE Jaqaman matrix with one shared no-link alternative
        picks = _assign(
            _segment_candidates(spot, feats, edges, blocks, max_frame_gap, joint=True),
            alternative_cost_factor,
            cutoff_percentile,
            squared=True,
        )
        # emission order: gaps, splits, merges, each sorted
        edges = edges + [
            e
            for kind in "gsm"
            for e in sorted((r[1], c[1], g, d) for r, c, k, g, d in picks if k == kind)
        ]
    else:

        def solve_block(linked: list, kind: str) -> list[tuple[int, int, int, float]]:
            """One sequential phase-2 block with its own no-link
            alternative b; the split block is solved starts x middles."""
            cands = _segment_candidates(
                spot, feats, linked, {kind: blocks[kind]}, max_frame_gap, joint=False
            )
            if kind == "s":
                cands = [(cst, c, r, *rest) for cst, r, c, *rest in cands]
            picks = _assign(
                cands, alternative_cost_factor, cutoff_percentile, squared=bool(blocks[kind][1])
            )
            if kind == "s":  # parent middle -> child start
                return [(c[1], r[1], g, d) for r, c, _k, g, d in picks]
            return [(r[1], c[1], g, d) for r, c, _k, g, d in picks]

        # gap closing first, so gap-closed starts/ends are no longer
        # split/merge candidates; split and merge see the same segments
        if "g" in blocks:
            edges = edges + solve_block(edges, "g")
        edges = edges + [e for kind in "sm" if kind in blocks for e in solve_block(edges, kind)]
    tl = group.column("timelapse_id")[0].as_py() if group.num_rows else ""
    return [(tl, s, d, g, dist) for s, d, g, dist in edges]


def track_detections(
    detections: DataFrame,
    linking_max_distance: float = 70.0,
    max_frame_gap: int = 4,
    gap_closing_max_distance: float = 90.0,
    method: str = "greedy",
    gap_strategy: str = "inline",
    allow_splitting: bool = False,
    splitting_max_distance: float = 5.0,
    allow_merging: bool = False,
    merging_max_distance: float = 50.0,
    alternative_cost_factor: float | None = None,
    cutoff_percentile: float = 0.9,
    splitting_feature_penalties: dict[str, float] | None = None,
    merging_feature_penalties: dict[str, float] | None = None,
    linking_feature_penalties: dict[str, float] | None = None,
    gap_closing_feature_penalties: dict[str, float] | None = None,
) -> DataFrame:
    """M3: link per-frame detections into track edges.

    `detections`: (timelapse_id, id, frame, x, y) — id unique per
    timelapse. Returns EDGES_SCHEMA rows (src, dst spot ids + the gap
    length and link distance for QC). ``method``: "greedy" (default,
    the documented oracle semantics), "lap" (per-frame-pair Hungarian
    minimum-total-distance assignment), or "kalman" (constant-velocity
    point prediction before the greedy gate+assign — TrackMate's
    KalmanTracker option, lite: the track's velocity estimate carries
    its predicted position forward, so fast movers keep their identity
    through crossings that fool raw nearest-distance linking).
    ``gap_strategy``: "inline"
    (default — gap candidates compete inside each frame's assignment),
    "segment_lap" (TrackMate phase-2 shape: consecutive-frame
    linking first, then ONE global Hungarian over segment end/start
    reconnection candidates; splitting/merging solved as separate
    blocks afterwards), or "joint_lap" (r8 — TrackMate's ACTUAL
    phase-2 matrix: gap closing, splitting and merging traded off in
    one Jaqaman assignment with one shared no-link alternative; costs
    in squared penalised units throughout — see _segment_candidates).

    ``allow_splitting`` / ``allow_merging`` enable the phase-2
    division/fusion blocks (ALLOW_TRACK_SPLITTING /
    SPLITTING_MAX_DISTANCE / ALLOW_TRACK_MERGING / MERGING_MAX_DISTANCE,
    templates/cyto3.json:31-38 — the reference template turns BOTH on):
    a 1→2 split edge from a track middle to a nearby next-frame segment
    start, a 2→1 merge edge from a segment end to a nearby next-frame
    track middle (``_segment_candidates``). Defaults mirror the reference
    template's distances; downstream G4 renumbering already assigns
    split children new track ids (domain/lineage.py).

    r6 LAP cost knobs (all OFF by default — defaults reproduce the
    pre-r6 behaviour bit-for-bit):
    ``alternative_cost_factor`` + ``cutoff_percentile``
    (ALTERNATIVE_LINKING_COST_FACTOR / CUTOFF_PERCENTILE,
    templates/cyto3.json:26,30) give every LAP row/column a no-link
    alternative at factor x the cutoff-percentile of the candidate
    cost distribution — expensive within-window links stay unlinked
    instead of being force-assigned (method="lap" only);
    ``splitting_feature_penalties`` / ``merging_feature_penalties``
    (e.g. {"AREA": 0.5}, templates/cyto3.json:33-35) bias the phase-2
    division/fusion assignment toward feature-similar pairs with
    TrackMate's published penalty formula (see
    :func:`_penalty_factor`).

    r7 completes the reference's settings-dict penalty surface
    (track_images.py settings; every template carries the keys —
    templates/cyto3.json:24,30): ``linking_feature_penalties``
    (LINKING_FEATURE_PENALTIES) shapes phase-1 frame-to-frame costs
    and ``gap_closing_feature_penalties``
    (GAP_CLOSING_FEATURE_PENALTIES) shapes gap-closing costs — both
    switch candidates to penalised squared distances gated at their
    limit², in every method (greedy ordering, LAP matrix, Kalman
    gate). The no-link alternative now also reaches the phase-2
    blocks (gap closing + split/merge, per-block b). All defaults
    keep the pre-r7 output bit-for-bit."""

    if method not in ("greedy", "lap", "kalman"):
        raise ValueError(
            f"method must be 'greedy', 'lap', or 'kalman', got {method!r}"
        )
    if gap_strategy not in ("inline", "segment_lap", "joint_lap"):
        raise ValueError(
            "gap_strategy must be 'inline', 'segment_lap' or 'joint_lap',"
            f" got {gap_strategy!r}"
        )
    if not (0.0 < float(cutoff_percentile) <= 1.0):
        # TrackMate configs express this as a FRACTION (cyto3.json:30 =
        # 0.9); a percent-convention value like 90 would otherwise
        # crash np.percentile deep inside an executor task
        raise ValueError(
            "cutoff_percentile must be a fraction in (0, 1], got "
            f"{cutoff_percentile!r} — TrackMate's CUTOFF_PERCENTILE "
            "convention (e.g. 0.9), not a percent"
        )

    def kernel(group) -> list[tuple]:
        return _link_one(
            group,
            linking_max_distance,
            max_frame_gap,
            gap_closing_max_distance,
            method,
            gap_strategy,
            allow_splitting,
            splitting_max_distance,
            allow_merging,
            merging_max_distance,
            alternative_cost_factor,
            cutoff_percentile,
            splitting_feature_penalties,
            merging_feature_penalties,
            linking_feature_penalties,
            gap_closing_feature_penalties,
        )

    # CPU-bound per-timelapse kernel over narrow rows, one call per
    # timelapse with its rows sorted by (frame, id)
    from cellphe_data_pipeline_spark.operators.arrow_map import map_groups_in_arrow

    # narrow projection by default; penalised features widen it with
    # exactly the columns the penalty maps name (case-insensitive
    # TrackMate keys -> detection columns, e.g. AREA -> area)
    cols = ["timelapse_id", "id", "frame", "x", "y"]
    pen_keys = (
        set(splitting_feature_penalties or {})
        | set(merging_feature_penalties or {})
        | set(linking_feature_penalties or {})
        | set(gap_closing_feature_penalties or {})
    )
    if pen_keys:
        by_upper = {c.upper(): c for c in detections.columns}
        missing = sorted(k for k in pen_keys if k not in by_upper)
        if missing:
            raise ValueError(
                f"feature penalties name columns absent from detections: {missing}"
            )
        cols += [by_upper[k] for k in sorted(pen_keys) if by_upper[k] not in cols]
    return map_groups_in_arrow(
        detections.select(*cols), "timelapse_id", ["frame", "id"], kernel, EDGES_SCHEMA
    )


def overlap_links(
    pixels: DataFrame,
    iou_threshold: float = 0.3,
    mutual: bool = True,
) -> DataFrame:
    """The reference's OVERLAP tracker option (track_images.py:74-123
    tracker menu, README.md:152-160) — linking by mask IoU between
    consecutive frames — expressed FULLY RELATIONALLY over the
    mask-pixel table (images.mask_pixels), no sequential kernel:

      intersection = equi-join of frame f pixels with frame f+1 pixels
                     on (path, px, py) + ONE combinable pair count;
      areas        = per-label pixel counts;
      IoU          = inter / (area_a + area_b - inter);
      links        = per-source argmax (min(struct(-iou, dst)) — ties
                     to the lower dst id), thresholded; with
                     ``mutual=True`` ALSO per-target argmax and keep
                     only agreeing pairs (the 1-1 matching the
                     reference's tracker produces).

    Scale: pixel self-join keyed on (path, px, py) — co-partitioned,
    no cartesian; everything downstream is combinable aggregation.
    Where centroid trackers need the sequential per-timelapse kernel
    (tracking is inherently ordered), overlap linking is pure joins —
    the shape that parallelises across a 1000-executor cluster with no
    per-key state at all. Output: (path, frame_index, src_mask,
    dst_mask, iou).

    The pixel table is pinned once (hub-table rule: it feeds both join
    sides AND the area counts — 3 consumers), and the scored pair table
    once more (feeds the links + both argmax sides); without the cuts
    the upstream decode/segment kernels re-execute per consumer."""
    px = pixels.select(
        "path",
        "frame_index",
        F.col("mask_id"),
        "px",
        "py",
    ).localCheckpoint(eager=True)
    a = px.select(
        "path",
        F.col("frame_index").alias("f"),
        F.col("mask_id").alias("src_mask"),
        "px",
        "py",
    )
    b = px.select(
        "path",
        (F.col("frame_index") - 1).alias("f"),
        F.col("mask_id").alias("dst_mask"),
        "px",
        "py",
    )
    inter = (
        a.join(b, ["path", "f", "px", "py"])
        .groupBy("path", "f", "src_mask", "dst_mask")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    areas = px.groupBy("path", "frame_index", "mask_id").agg(
        F.count(F.lit(1)).alias("area")
    )
    scored = (
        inter.join(
            areas.select(
                "path",
                F.col("frame_index").alias("f"),
                F.col("mask_id").alias("src_mask"),
                F.col("area").alias("area_a"),
            ),
            ["path", "f", "src_mask"],
        )
        .join(
            areas.select(
                "path",
                (F.col("frame_index") - 1).alias("f"),
                F.col("mask_id").alias("dst_mask"),
                F.col("area").alias("area_b"),
            ),
            ["path", "f", "dst_mask"],
        )
        .withColumn(
            "iou",
            F.col("inter")
            / (F.col("area_a") + F.col("area_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("iou") >= iou_threshold)
    ).localCheckpoint(eager=True)
    best_src = (
        scored.groupBy("path", "f", "src_mask")
        .agg(F.min(F.struct(-F.col("iou"), F.col("dst_mask"))).alias("m"))
        .select("path", "f", "src_mask", F.col("m.dst_mask").alias("dst_mask"))
    )
    links = scored.join(best_src, ["path", "f", "src_mask", "dst_mask"], "left_semi")
    if mutual:
        best_dst = (
            scored.groupBy("path", "f", "dst_mask")
            .agg(F.min(F.struct(-F.col("iou"), F.col("src_mask"))).alias("m"))
            .select("path", "f", "dst_mask", F.col("m.src_mask").alias("src_mask"))
        )
        links = links.join(
            best_dst, ["path", "f", "dst_mask", "src_mask"], "left_semi"
        )
    return links.select(
        "path",
        F.col("f").alias("frame_index"),
        "src_mask",
        "dst_mask",
        F.round("iou", 6).alias("iou"),
    )
