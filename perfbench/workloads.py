"""Workload inputs and the output check.

The benchmark owns its input generator: it writes FAKE1 timelapse
containers (the program's test codec: ``b"FAKE1"``, little-endian
uint32 height/width/frames, then the zlib-compressed uint8 frames) of
bright disks drifting over a dark background, so the segmentation finds
one component per cell and the tracker links them across frames. The
program sees only the files and the params document.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np

FAKE_MAGIC = b"FAKE1"


@dataclass(frozen=True)
class Shape:
    n_timelapses: int
    n_frames: int
    size: int
    n_cells: int
    segmentation: str

    @property
    def frames(self) -> int:
        return self.n_timelapses * self.n_frames


#: name -> (full shape, tiny shape used by the benchmark's own tests)
WORKLOADS: dict[str, tuple[Shape, Shape]] = {
    # the reference's per-frame shape (48x48 px, 8 cells, median
    # segmentation, splitting and merging on) over many short
    # timelapses: dozens of small Spark jobs per run, so job launch,
    # lineage cuts and driver-side planning dominate
    "tl_small_frames": (
        Shape(10, 10, 48, 8, "median"),
        Shape(2, 6, 48, 8, "median"),
    ),
    # few timelapses of large, crowded frames through the otsu
    # segmentation: 2.6x the cells per run, so the M4 per-cell feature
    # kernel is the largest layer, over the same fixed job costs
    "tl_dense_cells": (
        Shape(2, 16, 192, 40, "otsu"),
        Shape(1, 6, 96, 12, "otsu"),
    ),
}

DEFAULT_SEED = 1


def timelapse_seed(seed: int, i: int) -> int:
    """Generator seed of timelapse ``i``: any integer ``--seed`` (large or
    negative too) folded into the 32-bit range ``RandomState`` takes."""
    return (seed * 1_000_003 + i) % 2**32


def timelapse_bytes(seed: int, shape: Shape) -> bytes:
    rng = np.random.RandomState(seed)
    h = w = shape.size
    pos = rng.uniform(8, h - 8, size=(shape.n_cells, 2))
    vel = rng.uniform(-1.5, 1.5, size=(shape.n_cells, 2))
    rad = rng.uniform(3.0, 5.0, size=shape.n_cells)
    yy, xx = np.mgrid[0:h, 0:w]
    frames = np.zeros((shape.n_frames, h, w), dtype=np.uint8)
    for f in range(shape.n_frames):
        for c in range(shape.n_cells):
            cx, cy = pos[c]
            frames[f][(xx - cx) ** 2 + (yy - cy) ** 2 <= rad[c] ** 2] = 200
        pos += vel
        # bounce off the walls so motion stays smooth for the tracker
        for axis in (0, 1):
            out = (pos[:, axis] > h - 6) | (pos[:, axis] < 6)
            vel[out, axis] *= -1
            pos[:, axis] = np.clip(pos[:, axis], 5, h - 5)
    header = FAKE_MAGIC + np.array([h, w, shape.n_frames], dtype="<u4").tobytes()
    return header + zlib.compress(frames.tobytes(), 1)


def timelapse_name(i: int) -> str:
    return f"tl_{i:03d}.fake"


def generate(shape: Shape, seed: int, in_dir: str, config_path: str) -> int:
    """Write the timelapses and the params document; returns input bytes."""
    os.makedirs(in_dir, exist_ok=True)
    total = 0
    for i in range(shape.n_timelapses):
        payload = timelapse_bytes(timelapse_seed(seed, i), shape)
        with open(os.path.join(in_dir, timelapse_name(i)), "wb") as f:
            f.write(payload)
        total += len(payload)
    # tracking and QC keep the program's defaults (splitting and
    # merging on); only the segmentation kernel is chosen
    with open(config_path, "w") as f:
        json.dump({"segmentation": {"model": {}, "eval": {}, "method": shape.segmentation}}, f)
    return total


# ---------------------------------------------------------------------
# output check


class OutputError(AssertionError):
    pass


def _read(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pandas()


def table_digest(df) -> str:
    """Order-insensitive digest of a table: one 64-bit hash per row over
    the name-sorted columns, the hashes sorted, then SHA-256 of the lot.
    Floats are rounded to 12 significant digits, so a change in the
    order a sum was accumulated in does not change the digest."""
    import hashlib

    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        if df[col].dtype.kind == "f":
            df[col] = df[col].map(lambda v: float(f"{v:.12g}"))
        elif df[col].dtype.kind == "O":
            df[col] = df[col].map(repr)
    rows = np.sort(pd.util.hash_pandas_object(df, index=False).to_numpy())
    h = hashlib.sha256(",".join(df.columns).encode())
    h.update(rows.tobytes())
    return h.hexdigest()[:16]


def check_outputs(out_dir: str, shape: Shape) -> dict:
    """Check one run's published tables; raise :class:`OutputError`.

    - every generated frame appears in ``summary``;
    - ``timeseries`` has exactly one row per distinct ``TRACK_ID`` of
      ``summary``;
    returns row counts and the digest of both tables.
    """
    summary = _read(os.path.join(out_dir, "summary"))
    series = _read(os.path.join(out_dir, "timeseries"))
    # timelapse ids are input paths; keep only the file name so the
    # digest does not depend on where the checkout lives
    summary["timelapse_id"] = summary["timelapse_id"].map(os.path.basename)
    expected = {
        (timelapse_name(i), f)
        for i in range(shape.n_timelapses)
        for f in range(shape.n_frames)
    }
    seen = set(zip(summary["timelapse_id"], summary["frame"].astype(int)))
    if seen != expected:
        raise OutputError(
            f"frames: {len(expected - seen)} generated frame(s) missing from "
            f"summary, {len(seen - expected)} unexpected"
        )
    tracks = set(summary["TRACK_ID"])
    if len(series) != len(tracks) or set(series["TRACK_ID"]) != tracks:
        raise OutputError(
            f"timeseries has {len(series)} rows for {len(tracks)} summary tracks"
        )
    return {
        "summary_rows": len(summary),
        "tracks": len(tracks),
        "digest": table_digest(summary) + table_digest(series),
    }
