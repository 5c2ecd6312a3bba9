"""Bit-exact pin of the per-timelapse tracking kernel (``_link_one``).

``tracking_golden.json`` holds, for every configuration of the tracker
on two seeded detection sets, the sha256 of the canonical edge list and
its edge count. The canonical list is one line per emitted edge, in
emission order: ``timelapse_id, src, dst, gap, float.hex(dist)``.

The configurations are the full matrix of linking method {greedy, lap,
kalman} x gap strategy {inline, segment_lap, joint_lap} x feature
penalties on/off x no-link alternative cost on/off x splitting and
merging on/off. Each detection set is two timelapses of drifting,
crossing cells, some of which divide, with about 15% of detections
dropped and an ``area`` column that the ``{"AREA": 0.7}`` penalties
read. The no-link alternative uses a factor of 0.6 rather than
TrackMate's 1.05 so that it rejects links in the small phase-2 blocks
too. The kernel is called directly on Arrow tables built from pandas
frames, so no Spark session is needed.

The fixture was written by running this module as a script at the
commit whose output it pins::

    python tests/test_tracking_golden.py

Never regenerate it to make a mismatch go away: a tracking edit that
claims to keep the output must pass this test unchanged.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cellphe_data_pipeline_spark.domain.tracking import _link_one  # noqa: E402

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tracking_golden.json")

SEEDS = (1, 2)
METHODS = ("greedy", "lap", "kalman")
GAP_STRATEGIES = ("inline", "segment_lap", "joint_lap")
PENALTY = {"AREA": 0.7}


def detections(seed: int) -> pd.DataFrame:
    """Two timelapses of 14 frames: 8 cells drifting at up to 3 px per
    frame across a 100 px field (so paths cross), two of them dividing
    into a daughter that starts a few px away, Gaussian jitter on every
    position and area, about 15% of detections dropped. Spot ids are a
    random permutation within each timelapse, so id order is not frame
    order."""
    rng = np.random.RandomState(seed)
    rows = []
    for t in range(2):
        n_cells, n_frames = 8, 14
        pos = rng.uniform(15.0, 85.0, (n_cells, 2))
        vel = rng.uniform(-3.0, 3.0, (n_cells, 2))
        area = rng.uniform(60.0, 400.0, n_cells)
        born = np.zeros(n_cells, dtype=int)
        for parent in rng.choice(n_cells, 2, replace=False):
            k = int(rng.randint(3, n_frames - 3))
            pos = np.vstack([pos, pos[parent] + vel[parent] * k + rng.normal(0.0, 3.0, 2)])
            vel = np.vstack([vel, rng.uniform(-3.0, 3.0, 2)])
            area = np.append(area, area[parent] * 0.5)
            born = np.append(born, k)
        spots = []
        for f in range(n_frames):
            for c in range(len(pos)):
                if f < born[c] or rng.rand() < 0.15:
                    continue
                x, y = pos[c] + vel[c] * (f - born[c]) + rng.normal(0.0, 0.8, 2)
                spots.append((f, float(x), float(y), float(area[c] * (1.0 + rng.normal(0.0, 0.1)))))
        ids = rng.permutation(len(spots))
        rows += [(f"s{seed}t{t}", int(i), f, x, y, a) for i, (f, x, y, a) in zip(ids, spots)]
    return pd.DataFrame(rows, columns=["timelapse_id", "id", "frame", "x", "y", "area"])


def configs():
    for method, gap_strategy, pen, alt, sm in itertools.product(
        METHODS, GAP_STRATEGIES, (False, True), (False, True), (False, True)
    ):
        name = f"{method}/{gap_strategy}/pen={int(pen)}/alt={int(alt)}/sm={int(sm)}"
        yield name, dict(
            linking_max_distance=8.0,
            max_frame_gap=3,
            gap_closing_max_distance=15.0,
            method=method,
            gap_strategy=gap_strategy,
            allow_splitting=sm,
            splitting_max_distance=6.0,
            allow_merging=sm,
            merging_max_distance=6.0,
            alternative_cost_factor=0.6 if alt else None,
            cutoff_percentile=0.9,
            splitting_feature_penalties=PENALTY if pen else None,
            merging_feature_penalties=PENALTY if pen else None,
            linking_feature_penalties=PENALTY if pen else None,
            gap_closing_feature_penalties=PENALTY if pen else None,
        )


def edge_digest(dets: pd.DataFrame, kw: dict) -> tuple[str, int]:
    """sha256 and count of the canonical edge list, timelapses in id
    order, each linked as ``track_detections``' kernel links it."""
    lines = []
    for _, pdf in sorted(dets.groupby("timelapse_id"), key=lambda g: g[0]):
        group = pa.Table.from_pandas(pdf.sort_values(["frame", "id"]), preserve_index=False)
        for tl, s, d, g, dist in _link_one(group, **kw):
            lines.append(f"{tl}\t{int(s)}\t{int(d)}\t{int(g)}\t{float.hex(float(dist))}")
    return hashlib.sha256("\n".join(lines).encode()).hexdigest(), len(lines)


def build_golden() -> dict[str, dict]:
    golden = {}
    for seed in SEEDS:
        dets = detections(seed)
        for name, kw in configs():
            sha, n = edge_digest(dets, kw)
            golden[f"seed={seed}/{name}"] = {"sha256": sha, "edges": n}
    return golden


def test_link_one_bit_exact_golden():
    """Every configuration's edge list equals the recorded one byte for
    byte, and the matrix really exercises the options: the recorded
    lists are mostly distinct from each other."""
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    got = build_golden()
    assert sorted(got) == sorted(golden)
    diff = [k for k in golden if got[k] != golden[k]]
    assert not diff, diff
    distinct = {v["sha256"] for v in golden.values()}
    assert len(distinct) >= len(golden) // 2, (len(distinct), len(golden))
    assert min(v["edges"] for v in golden.values()) > 100


if __name__ == "__main__":
    g = build_golden()
    with open(GOLDEN, "w") as fh:
        json.dump(g, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(g)} configurations, {len({v['sha256'] for v in g.values()})} distinct, to {GOLDEN}")
