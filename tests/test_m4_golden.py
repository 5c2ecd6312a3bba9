"""Bit-exact pin of the M4 per-cell kernel (``_cell_features``).

``m4_golden.json`` holds, for a seeded set of cells, every one of the 74
features as ``float.hex`` (``null`` where the kernel skips the cell).
The cells are the contours of FAKE1 disk frames at both benchmark
shapes (48x48 with 8 cells, 192x192 with 40 cells), some of those
contours over a seeded noise raster (so the intensity and texture
blocks see more than one grey level), and the degenerate inputs of
``test_cell_features_total_robustness_hypothesis``: repeated and
clipped points, lines, tiny blocks, too few points.

The fixture stores each case's boundary coordinates and how to rebuild
its raster, so the pin depends on the kernel alone. It was written by
running this module as a script at the commit whose output it pins::

    python tests/test_m4_golden.py

Never regenerate it to make a mismatch go away: a kernel edit that
claims to keep the output must pass this test unchanged.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cellphe_data_pipeline_spark.domain.features import (  # noqa: E402
    STATIC_FEATURE_NAMES,
    _cell_features,
)
from cellphe_data_pipeline_spark.domain.images import (  # noqa: E402
    _otsu_segment,
    decode_frame,
    label_contour,
    make_fake_timelapse,
)

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "m4_golden.json")

#: (seed, size, cells, frame, max contours kept) per disk frame: the
#: benchmark's two frame shapes
DISK_FRAMES = ((1, 48, 8, 0, 8), (1, 48, 8, 5, 8), (2, 192, 40, 0, 24))


def _normalise(img: np.ndarray) -> np.ndarray:
    """The M4 frame kernel's per-frame min-max normalisation."""
    img = img.astype("float64")
    lo, hi = img.min(), img.max()
    return (img - lo) / (hi - lo) if hi > lo else img


def raster(spec: list) -> np.ndarray:
    kind = spec[0]
    if kind == "disks":
        _, seed, size, cells, frame = spec
        frames = decode_frame(
            make_fake_timelapse(seed, size, size, n_frames=frame + 1, n_cells=cells)
        )
        return _normalise(frames[frame])
    if kind == "noise":
        _, seed, h, w = spec
        return np.random.RandomState(seed).rand(h, w)
    raise ValueError(spec)


def _disk_contours(seed, size, cells, frame, keep):
    """Boundary coordinates of a disk frame's cells, traced as the
    pipeline's fused M4 form traces them."""
    frames = decode_frame(make_fake_timelapse(seed, size, size, n_frames=frame + 1, n_cells=cells))
    m = _otsu_segment(frames[frame])
    return [label_contour(m, label).tolist() for label in [int(v) for v in np.unique(m) if v][:keep]]


def _degenerate_coords() -> list[list[list[int]]]:
    rng = np.random.RandomState(23)
    return [
        [[5, 5]],
        [[5, 5], [6, 5]],
        [[5, 5], [5, 5], [5, 5]],
        [[-3, -3], [-2, -1], [-1, -2]],  # all clip to (0, 0)
        [[26, 26], [25, 26], [26, 25]],  # all clip to (23, 23)
        [[x, 7] for x in range(2, 12)],  # horizontal line
        [[9, y] for y in range(1, 20)],  # vertical line
        [[i, i] for i in range(0, 15)],  # diagonal line
        [[3, 3], [4, 3], [4, 4], [3, 4]],  # 2x2 block
        [[2, 2], [2, 3], [2, 4], [3, 4], [4, 4]],  # L shape
        [[0, 0], [23, 0], [23, 23], [0, 23]],  # frame corners
        [[-3, 10], [26, 10], [10, -3], [10, 26], [10, 10]],  # clipped star
        rng.randint(-3, 27, size=(40, 2)).tolist(),
        rng.randint(-3, 27, size=(7, 2)).tolist(),
        rng.randint(4, 8, size=(30, 2)).tolist(),  # repeated points
    ]


def build_cases() -> list[tuple[str, list, list]]:
    """(name, raster spec, coords) of every pinned cell."""
    cases = []
    for seed, size, cells, frame, keep in DISK_FRAMES:
        for k, coords in enumerate(_disk_contours(seed, size, cells, frame, keep)):
            cases.append((f"disks{size}-f{frame}-c{k}", ["disks", seed, size, cells, frame], coords))
            if k < 6:
                cases.append((f"noise{size}-f{frame}-c{k}", ["noise", 7, size, size], coords))
    for k, coords in enumerate(_degenerate_coords()):
        cases.append((f"degenerate-{k}", ["noise", 23, 24, 24], coords))
    return cases


def features_hex(img: np.ndarray, coords: list) -> list[str] | None:
    f = _cell_features(img, np.array(coords, dtype="int64"))
    if f is None:
        return None
    return [float.hex(float(f[n])) for n in STATIC_FEATURE_NAMES]


def test_cell_features_bit_exact_golden():
    """Every feature of every pinned cell equals the recorded value bit
    for bit (comparing ``float.hex`` strings, so NaN equals NaN)."""
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    assert golden["features"] == list(STATIC_FEATURE_NAMES)
    # both benchmark frame shapes, textured rasters and degenerate ROIs
    names = [c["name"] for c in golden["cases"]]
    for prefix in ("disks48-", "disks192-", "noise48-", "noise192-", "degenerate-"):
        assert any(n.startswith(prefix) for n in names), prefix
    rasters: dict[str, np.ndarray] = {}
    for case in golden["cases"]:
        key = json.dumps(case["raster"])
        if key not in rasters:
            rasters[key] = raster(case["raster"])
        got = features_hex(rasters[key], case["coords"])
        if case["features"] is None:
            assert got is None, case["name"]
            continue
        assert got is not None, case["name"]
        diff = [
            (n, w, g)
            for n, w, g in zip(STATIC_FEATURE_NAMES, case["features"], got)
            if w != g
        ]
        assert not diff, (case["name"], diff)


def write_golden() -> None:
    cases = []
    for name, spec, coords in build_cases():
        cases.append(
            {
                "name": name,
                "raster": spec,
                "coords": coords,
                "features": features_hex(raster(spec), coords),
            }
        )
    with open(GOLDEN, "w") as fh:
        json.dump({"features": list(STATIC_FEATURE_NAMES), "cases": cases}, fh, separators=(",", ":"))
        fh.write("\n")
    print(f"wrote {len(cases)} cases to {GOLDEN}")


if __name__ == "__main__":
    write_golden()
