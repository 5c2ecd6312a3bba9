"""M4 — per-(cell, frame) static features (SURVEY §2.10).

Reference: frame_features_image.py:57-70 — per frame: load + min-max
normalise the image (A6/F10, :25-26), then per cell present in that
frame (P4, :46) fetch its ROI (J5, :49-54), clip negatives (F9,
:55-56), and call ``cellphe.features.extract_static_features`` [pkg]
(~74 size/shape/boundary/intensity/texture features, Wiseman 2023).

Engine shape: one ``mapInArrow`` over rows that each carry a whole
frame (the raster plus that frame's cells, nested by one aggregation),
after a round-robin repartition sized to the cores — the image is
decoded ONCE per frame and all its cells are looped inside the kernel,
exactly the reference's economy. Executor memory is bounded by one
image + its ROIs regardless of corpus size; 721-frame × N-timelapse
corpora parallelise frame-wise (the reference's own speedup axis,
README.md:409).

The 74-feature vector covers every structural CellPhe block at the
reference's feature count (Wiseman 2023): size/shape (area, centroid,
radius stats + quartiles, principal axes, fill/convexity,
compactness), boundary (curvature profile with distribution extremes,
polygon class via RDP, radius-profile Haar spectrum + roughness,
perimeter), first-order intensity (stats, deciles + extremes, IQR/MAD,
skew/kurt, entropy, range, centre-of-mass asymmetry), and texture
(cooccurrence GLCM at pixel distances 1 and 2, 2-D Haar detail
energies levels 1-3) — all real numpy on the decoded raster, each
block cross-checked by a closed-form or direct-numpy oracle test
(tests/test_domain.py). Names are engine-local; the blocks map 1:1 to
the published CellPhe feature families.

RuntimeError-on-degenerate-cell → skip (frame_features_image.py:66-70):
cells whose clipped ROI has no interior pixels are silently dropped,
matching the reference.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from cellphe_data_pipeline_spark.domain.images import _raster_dtype, label_contour
from cellphe_data_pipeline_spark.operators.arrow_map import rows_batch
from cellphe_data_pipeline_spark.sources.io import from_driver_rows

STATIC_FEATURE_NAMES = (
    "Area",
    "x",
    "y",
    "Rad_mean",
    "Rad_max",
    "Rad_var",
    "Boundary_len",
    "Int_mean",
    "Int_std",
    "Int_min",
    "Int_max",
    "Int_q10",
    "Int_q25",
    "Int_q50",
    "Int_q75",
    "Int_q90",
    # principal-axis shape block: Len/Wid are 4*sqrt(eigenvalue) of the
    # coords covariance (the CellPhe length/width pair), Sphericity
    # their bounded ratio, A2B the area-to-boundary ratio
    "Len",
    "Wid",
    "Sphericity",
    "A2B",
    # cooccurrence (GLCM) texture over the cell's quantised pixels —
    # the CellPhe "Coo" block (Wiseman 2023; frame_features_image.py:2)
    "Coo_contrast",
    "Coo_homogeneity",
    "Coo_energy",
    "Coo_correlation",
    "Coo_entropy",
    # per-cell 2-D Haar detail energies (levels 1-2) — the CellPhe
    # wavelet texture block
    "Haar2d_l1",
    "Haar2d_l2",
    # fill / convexity block: how much of each reference region the
    # cell's pixels actually cover (box, ellipse, convex hull) plus the
    # principal-axis eccentricity — the CellPhe Box/Rect/convexity
    # analogues (Wiseman 2023)
    "Box",
    "Rect",
    "Solidity",
    "Hull_area",
    "Eccentricity",
    # first-order intensity distribution shape (FOskew/FOkurt analogue)
    "Int_skew",
    "Int_kurt",
    # curvature profile (CellPhe "Cur" block, Wiseman 2023): triangle-
    # excess curvature at each boundary point over a fixed index gap,
    # summarised over the cell
    "Cur_mean",
    "Cur_std",
    "Cur_max",
    "Cur_skew",
    # polygon-class block: Ramer-Douglas-Peucker simplification of the
    # boundary → vertex count, side-length and interior-angle stats
    # (the CellPhe polygon features)
    "Poly_n",
    "Poly_side_mean",
    "Poly_side_var",
    "Poly_ang_mean",
    "Poly_ang_var",
    # boundary spectral block: 1-D Haar detail energies (3 levels) of
    # the centroid-radius profile along the boundary — the per-variable
    # wavelet boundary features
    "Rad_haar_l1",
    "Rad_haar_l2",
    "Rad_haar_l3",
    # remaining size/shape + intensity-dispersion tail
    "Perim",
    "Rad_min",
    "Int_iqr",
    "Int_mad",
    # cooccurrence at pixel distance 2 — the multi-scale Coo block
    # (texture correlation length; Wiseman 2023 computes cooccurrence
    # at several scales)
    "Coo2_contrast",
    "Coo2_homogeneity",
    "Coo2_energy",
    "Coo2_correlation",
    "Coo2_entropy",
    # third Haar texture level + first-order intensity entropy
    "Haar2d_l3",
    "Int_entropy",
    # extreme intensity quantiles completing the decile block
    "Int_q05",
    "Int_q95",
    # boundary roughness: first-difference stats of the radius profile
    "Rad_diff_mean",
    "Rad_diff_var",
    # isoperimetric compactness: Perim^2 / (4*pi*Area), 1 for a disc
    "Compactness",
    # radius distribution quartiles + spread (radial shape profile)
    "Rad_q25",
    "Rad_q50",
    "Rad_q75",
    "Rad_iqr",
    # intensity centre-of-mass offset from the geometric centroid —
    # internal brightness asymmetry (x/y components + magnitude)
    "Int_com_dx",
    "Int_com_dy",
    "Int_com_offset",
    # curvature / polygon distribution extremes completing those blocks
    "Cur_min",
    "Cur_var",
    "Poly_side_max",
    "Poly_ang_min",
    # full intensity range (dynamic-range gate)
    "Int_range",
)

#: Classification of every engine feature against the published CellPhe
#: feature set (the COVERAGE.md "M4 feature-name pinning" table; Wiseman
#: et al. 2023, Nat Commun 14:1854). "exact" = implements the published
#: formula of a named paper feature; "recon" = anchored to a named paper
#: feature/block, formula reconstructed from its description; "parity" =
#: ENGINE-LOCAL member of a paper feature family, added to reach the
#: reference's 74-column CSV width — a consumer of the reference's CSV
#: shape should treat parity columns as engine extensions, not pinned
#: reference values. Emitted at the CSV edge via feature_manifest().
FEATURE_STATUS: dict[str, str] = {
    # exact (14)
    **{n: "exact" for n in (
        "Area", "Len", "Wid", "Sphericity", "A2B", "Box", "Rect", "Perim",
        "Int_mean", "Int_std", "Int_skew", "Cur_mean", "Cur_std", "Cur_max",
    )},
    # recon (33)
    **{n: "recon" for n in (
        "x", "y",
        "Rad_mean", "Rad_max", "Rad_min", "Rad_var",
        "Rad_haar_l1", "Rad_haar_l2", "Rad_haar_l3",
        "Poly_n", "Poly_side_mean", "Poly_side_var",
        "Poly_ang_mean", "Poly_ang_var",
        "Int_min", "Int_max", "Int_q05", "Int_q10", "Int_q25",
        "Int_q50", "Int_q75", "Int_q90", "Int_q95",
        "Coo_contrast", "Coo_homogeneity", "Coo_energy",
        "Coo_correlation", "Coo_entropy",
        "Coo2_contrast", "Coo2_homogeneity", "Coo2_energy",
        "Coo2_correlation", "Coo2_entropy",
    )},
    # parity (27) — engine-local
    **{n: "parity" for n in (
        "Boundary_len", "Compactness",
        "Rad_q25", "Rad_q50", "Rad_q75", "Rad_iqr",
        "Rad_diff_mean", "Rad_diff_var",
        "Cur_min", "Cur_var", "Cur_skew",
        "Poly_side_max", "Poly_ang_min",
        "Hull_area", "Solidity", "Eccentricity",
        "Int_kurt", "Int_iqr", "Int_mad", "Int_range", "Int_entropy",
        "Int_com_dx", "Int_com_dy", "Int_com_offset",
        "Haar2d_l1", "Haar2d_l2", "Haar2d_l3",
    )},
}


def feature_manifest(spark) -> "DataFrame":
    """One row per static feature, in output-column order:
    (feature, status, engine_local). Published alongside the
    frame-features table (run_pipeline's `feature_manifest` output /
    the publish sidecar) so a downstream consumer of the reference's
    CSV shape can mechanically distinguish pinned ("exact"),
    reconstructed ("recon"), and engine-local ("parity",
    engine_local=true) columns."""
    rows = [
        (i, n, FEATURE_STATUS[n], FEATURE_STATUS[n] == "parity")
        for i, n in enumerate(STATIC_FEATURE_NAMES)
    ]
    return from_driver_rows(
        spark, rows, "column_index int, feature string, status string, engine_local boolean"
    )


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("FrameID", T.IntegerType()),
        T.StructField("CellID", T.IntegerType()),
        T.StructField("ROI_filename", T.StringType()),
    ]
    + [T.StructField(n, T.DoubleType()) for n in STATIC_FEATURE_NAMES]
)


GLCM_LEVELS = 8


def _glcm_features(
    patch: np.ndarray, inmask: np.ndarray, dist: int = 1, prefix: str = "Coo"
) -> dict[str, float]:
    """Gray-level cooccurrence features over the cell's pixels at pixel
    offset ``dist`` (1 = adjacent texture, 2 = coarser scale — the
    multi-scale Coo block).

    Pixels are quantised to GLCM_LEVELS bins over the CELL's own
    min-max range; the matrix accumulates symmetric (0,dist) and
    (dist,0) offsets restricted to pairs where BOTH pixels belong to
    the cell. Features are the classic Haralick set: contrast,
    homogeneity, energy (ASM), correlation, entropy. Degenerate cases
    (flat cell, no valid pair) yield the distribution-free limits:
    contrast 0, homogeneity/energy 1, correlation 0, entropy 0.
    """
    vals = patch[inmask]
    lo, hi = float(vals.min()), float(vals.max())
    q = np.zeros(patch.shape, dtype=np.int64)
    if hi > lo:
        q[inmask] = np.minimum(
            ((patch[inmask] - lo) / (hi - lo) * GLCM_LEVELS).astype(np.int64),
            GLCM_LEVELS - 1,
        )
    pairs = [np.empty(0, dtype=np.int64)]
    for dy, dx in ((0, dist), (dist, 0)):
        if patch.shape[0] <= dy or patch.shape[1] <= dx:
            continue
        a_mask = inmask[: patch.shape[0] - dy, : patch.shape[1] - dx]
        b_mask = inmask[dy:, dx:]
        both = a_mask & b_mask
        a = q[: patch.shape[0] - dy, : patch.shape[1] - dx][both]
        b = q[dy:, dx:][both]
        pairs += [a * GLCM_LEVELS + b, b * GLCM_LEVELS + a]  # symmetric
    # integer counts: exact, so the same matrix as accumulating 1.0s
    glcm = (
        np.bincount(np.concatenate(pairs), minlength=GLCM_LEVELS * GLCM_LEVELS)
        .reshape(GLCM_LEVELS, GLCM_LEVELS)
        .astype(np.float64)
    )
    total = glcm.sum()
    if total == 0:
        return {
            f"{prefix}_contrast": 0.0,
            f"{prefix}_homogeneity": 1.0,
            f"{prefix}_energy": 1.0,
            f"{prefix}_correlation": 0.0,
            f"{prefix}_entropy": 0.0,
        }
    p = glcm / total
    i, j = np.indices(p.shape)
    mu_i = float((i * p).sum())
    mu_j = float((j * p).sum())
    var_i = float(((i - mu_i) ** 2 * p).sum())
    var_j = float(((j - mu_j) ** 2 * p).sum())
    if var_i > 0 and var_j > 0:
        corr = float((((i - mu_i) * (j - mu_j) * p).sum()) / np.sqrt(var_i * var_j))
    else:
        corr = 0.0
    nz = p[p > 0]
    return {
        f"{prefix}_contrast": float((p * (i - j) ** 2).sum()),
        f"{prefix}_homogeneity": float((p / (1.0 + (i - j) ** 2)).sum()),
        f"{prefix}_energy": float((p**2).sum()),
        f"{prefix}_correlation": corr,
        f"{prefix}_entropy": float(-(nz * np.log2(nz)).sum()),
    }


def _haar2d_energies(patch: np.ndarray, levels: int = 2) -> list[float]:
    """2-D Haar DWT detail ENERGY per level (sum of squared LH/HL/HH
    coefficients) over the cell's bounding-box patch (non-cell pixels
    zero). Odd dimensions drop the trailing row/column per level, like
    the 1-D time-series kernel (timeseries.py `_haar_details`)."""
    out: list[float] = []
    a = patch.astype("float64")
    for _ in range(levels):
        h2, w2 = a.shape[0] // 2, a.shape[1] // 2
        if h2 == 0 or w2 == 0:
            out.append(0.0)
            a = a[:0, :0]
            continue
        t = a[: 2 * h2, : 2 * w2].reshape(h2, 2, w2, 2)
        tl = t[:, 0, :, 0]
        tr = t[:, 0, :, 1]
        bl = t[:, 1, :, 0]
        br = t[:, 1, :, 1]
        ll = (tl + tr + bl + br) / 2.0
        lh = (tl - tr + bl - br) / 2.0
        hl = (tl + tr - bl - br) / 2.0
        hh = (tl - tr - bl + br) / 2.0
        out.append(float((lh**2).sum() + (hl**2).sum() + (hh**2).sum()))
        a = ll
    return out


def _hull_area(xs: np.ndarray, ys: np.ndarray) -> float:
    """Convex hull area of the REGION covered by unit pixels centred at
    the integer points (xs, ys): the hull is taken over each pixel's
    four corners (x±0.5, y±0.5), so a filled w×h rectangle of pixels
    reports w·h — making Solidity = Area/Hull_area exactly 1 for convex
    filled cells instead of the pixel-count-vs-polygon-area mismatch a
    centre-point hull gives. Monotone chain + shoelace (no scipy) on
    Python ints of the DOUBLED corner coordinates (2x±1, 2y±1): every
    product is exact, so the area is the exact value, divided once.
    """
    pts = sorted(
        {
            (2 * x + dx, 2 * y + dy)
            for x, y in zip(np.asarray(xs, dtype=np.int64).tolist(),
                            np.asarray(ys, dtype=np.int64).tolist())
            for dx in (-1, 1)
            for dy in (-1, 1)
        }
    )
    if len(pts) < 3:
        return 0.0

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in pts[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    hull = lower[:-1] + upper[:-1]
    # shoelace sum over doubled coordinates: 2 (the formula) x 4 (the
    # doubling) = 8 times the area
    area8 = sum(
        x0 * y1 - y0 * x1 for (x0, y0), (x1, y1) in zip(hull, hull[1:] + hull[:1])
    )
    return abs(area8) / 8


def _haar1d_energies(series: np.ndarray, levels: int = 3) -> list[float]:
    """1-D Haar detail ENERGY per level (sum of squared detail
    coefficients, orthonormal scaling). Odd lengths drop the trailing
    sample per level — same convention as the 2-D kernel above and the
    time-series Haar (operators/timeseries.py)."""
    out: list[float] = []
    a = series.astype("float64")
    for _ in range(levels):
        n2 = len(a) // 2
        if n2 == 0:
            out.append(0.0)
            a = a[:0]
            continue
        pairs = a[: 2 * n2].reshape(n2, 2)
        detail = (pairs[:, 0] - pairs[:, 1]) / np.sqrt(2.0)
        out.append(float((detail**2).sum()))
        a = (pairs[:, 0] + pairs[:, 1]) / np.sqrt(2.0)
    return out


def _curvature_profile(xs: np.ndarray, ys: np.ndarray, gap: int = 4) -> np.ndarray:
    """Triangle-excess curvature at each boundary point (CellPhe "Cur"
    semantics, Wiseman 2023): for point i with neighbours i-gap / i+gap
    (indices wrap — the boundary is closed),

        cur_i = d(p_{i-g}, p_i) + d(p_i, p_{i+g}) - d(p_{i-g}, p_{i+g})

    Zero on straight segments, positive where the boundary bends; gap
    shrinks for very short boundaries so neighbours stay distinct."""
    n = len(xs)
    g = max(1, min(gap, (n - 1) // 2))
    prev_ = np.roll(np.stack([xs, ys], axis=1).astype("float64"), g, axis=0)
    next_ = np.roll(np.stack([xs, ys], axis=1).astype("float64"), -g, axis=0)
    cur = np.stack([xs, ys], axis=1).astype("float64")
    d_in = np.hypot(*(cur - prev_).T)
    d_out = np.hypot(*(next_ - cur).T)
    d_span = np.hypot(*(next_ - prev_).T)
    return d_in + d_out - d_span


def _rdp(points: np.ndarray, eps: float) -> np.ndarray:
    """Ramer-Douglas-Peucker polyline simplification (iterative stack
    form, pure numpy) on an OPEN chain; returns the kept points in
    order. eps = max allowed perpendicular deviation."""
    n = len(points)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        seg = points[a:b + 1].astype("float64")
        v = seg[-1] - seg[0]
        norm = float(np.hypot(*v))
        if norm == 0.0:
            d = np.hypot(*(seg - seg[0]).T)
        else:
            d = np.abs(np.cross(v, seg - seg[0])) / norm
        i = int(np.argmax(d[1:-1])) + 1
        if d[i] > eps:
            keep[a + i] = True
            stack.append((a, a + i))
            stack.append((a + i, b))
    return points[keep]


def _polygon_features(xs: np.ndarray, ys: np.ndarray, eps: float = 1.5) -> dict[str, float]:
    """Polygon-class block: simplify the closed boundary with RDP
    (split at index 0 and the point farthest from it — deterministic
    anchors), then summarise vertex count, side lengths, and interior
    angles of the resulting polygon."""
    pts = np.stack([xs, ys], axis=1).astype("float64")
    n = len(pts)
    far = int(np.argmax(np.hypot(*(pts - pts[0]).T)))
    if far == 0:  # all points coincide
        return {
            "Poly_n": 1.0, "Poly_side_mean": 0.0, "Poly_side_var": 0.0,
            "Poly_ang_mean": 0.0, "Poly_ang_var": 0.0,
            "Poly_side_max": 0.0, "Poly_ang_min": 0.0,
        }
    chain_a = _rdp(pts[: far + 1], eps)
    chain_b = _rdp(np.concatenate([pts[far:], pts[:1]], axis=0), eps)
    # drop duplicated junction points when re-closing
    poly = np.concatenate([chain_a[:-1], chain_b[:-1]], axis=0)
    m = len(poly)
    if m < 3:
        side = float(np.hypot(*(pts[far] - pts[0]))) if m == 2 else 0.0
        return {
            "Poly_n": float(m), "Poly_side_mean": side, "Poly_side_var": 0.0,
            "Poly_ang_mean": 0.0, "Poly_ang_var": 0.0,
            "Poly_side_max": side, "Poly_ang_min": 0.0,
        }
    nxt = np.roll(poly, -1, axis=0)
    sides = np.hypot(*(nxt - poly).T)
    prv = np.roll(poly, 1, axis=0)
    v1 = prv - poly
    v2 = nxt - poly
    n1 = np.hypot(*v1.T)
    n2 = np.hypot(*v2.T)
    denom = np.where(n1 * n2 > 0, n1 * n2, 1.0)
    cosang = np.clip((v1 * v2).sum(axis=1) / denom, -1.0, 1.0)
    ang = np.arccos(cosang)
    return {
        "Poly_n": float(m),
        "Poly_side_mean": float(sides.mean()),
        "Poly_side_var": float(sides.var()),
        "Poly_ang_mean": float(ang.mean()),
        "Poly_ang_var": float(ang.var()),
        "Poly_side_max": float(sides.max()),
        "Poly_ang_min": float(ang.min()),
    }


def _cell_features(img: np.ndarray, coords: np.ndarray) -> dict[str, float] | None:
    """Feature kernel for one cell on a [0,1]-normalised image. Returns
    None for degenerate ROIs (reference RuntimeError→skip)."""
    xs = np.clip(coords[:, 0], 0, img.shape[1] - 1)  # F9 clip
    ys = np.clip(coords[:, 1], 0, img.shape[0] - 1)
    if len(xs) < 3:
        return None
    cx, cy = float(xs.mean()), float(ys.mean())
    rad = np.sqrt((xs - cx) ** 2 + (ys - cy) ** 2)
    vals = img[ys, xs].astype("float64")

    # bounding-box patch for the 2-D texture blocks: cell pixels carry
    # their normalised intensity, non-cell pixels are zero
    x0, y0 = int(xs.min()), int(ys.min())
    patch = np.zeros((int(ys.max()) - y0 + 1, int(xs.max()) - x0 + 1))
    inmask = np.zeros(patch.shape, dtype=bool)
    patch[ys - y0, xs - x0] = vals
    inmask[ys - y0, xs - x0] = True
    haar = _haar2d_energies(patch, levels=3)
    upts = np.unique(np.stack([xs, ys], axis=1), axis=0)
    iq = np.quantile(vals, [0.05, 0.10, 0.25, 0.50, 0.75, 0.90, 0.95])

    feats = {
        "Area": float(len(upts)),
        "x": cx,
        "y": cy,
        "Rad_mean": float(rad.mean()),
        "Rad_max": float(rad.max()),
        "Rad_var": float(rad.var()),
        "Boundary_len": float(len(xs)),
        "Int_mean": float(vals.mean()),
        "Int_std": float(vals.std()),
        "Int_min": float(vals.min()),
        "Int_max": float(vals.max()),
        "Int_q10": float(iq[1]),
        "Int_q25": float(iq[2]),
        "Int_q50": float(iq[3]),
        "Int_q75": float(iq[4]),
        "Int_q90": float(iq[5]),
        "Haar2d_l1": haar[0],
        "Haar2d_l2": haar[1],
    }
    # principal axes of the point cloud: eigen-decomposition of the 2x2
    # coordinate covariance; 4*sqrt(eig) spans ±2 std — the standard
    # ellipse-equivalent length/width
    pts = np.stack([xs, ys], axis=1).astype("float64")
    cov = np.cov(pts.T, bias=True)
    eig = np.sort(np.linalg.eigvalsh(cov))
    length = 4.0 * float(np.sqrt(max(eig[1], 0.0)))
    width = 4.0 * float(np.sqrt(max(eig[0], 0.0)))
    feats["Len"] = length
    feats["Wid"] = width
    feats["Sphericity"] = width / length if length > 0 else 1.0
    feats["A2B"] = feats["Area"] / feats["Boundary_len"]
    feats.update(_glcm_features(patch, inmask))

    # fill / convexity: pixel-count area against bbox, principal-axis
    # ellipse-rect, and pixel-corner convex hull (Solidity=1 for convex
    # filled cells by construction of _hull_area)
    bbox_area = float(patch.shape[0] * patch.shape[1])
    feats["Box"] = feats["Area"] / bbox_area
    feats["Rect"] = feats["Area"] / (length * width) if length * width > 0 else 1.0
    hull = _hull_area(upts[:, 0], upts[:, 1])
    feats["Hull_area"] = hull
    feats["Solidity"] = feats["Area"] / hull if hull > 0 else 1.0
    feats["Eccentricity"] = (
        float(np.sqrt(max(1.0 - (width / length) ** 2, 0.0))) if length > 0 else 0.0
    )
    # population skewness / excess kurtosis of the intensity sample
    sd = float(vals.std())
    if sd > 0:
        z = (vals - vals.mean()) / sd
        feats["Int_skew"] = float((z**3).mean())
        feats["Int_kurt"] = float((z**4).mean() - 3.0)
    else:
        feats["Int_skew"] = 0.0
        feats["Int_kurt"] = 0.0

    # curvature profile along the boundary sequence (as given — the F16
    # Bresenham interpolation upstream supplies the ordered closed
    # boundary; fixture ROIs that enumerate regions simply measure the
    # sequence they provide)
    cur = _curvature_profile(xs, ys)
    feats["Cur_mean"] = float(cur.mean())
    feats["Cur_std"] = float(cur.std())
    feats["Cur_max"] = float(cur.max())
    csd = float(cur.std())
    if csd > 0:
        cz = (cur - cur.mean()) / csd
        feats["Cur_skew"] = float((cz**3).mean())
    else:
        feats["Cur_skew"] = 0.0

    feats.update(_polygon_features(xs, ys))

    # boundary spectral block: Haar detail energies of the radius series
    rh = _haar1d_energies(rad, levels=3)
    feats["Rad_haar_l1"] = rh[0]
    feats["Rad_haar_l2"] = rh[1]
    feats["Rad_haar_l3"] = rh[2]

    # perimeter of the closed boundary polygon (consecutive distances,
    # wrapping) — distinct from Boundary_len (the point count)
    nxt = np.roll(np.stack([xs, ys], axis=1).astype("float64"), -1, axis=0)
    feats["Perim"] = float(np.hypot(*(nxt - np.stack([xs, ys], axis=1)).T).sum())
    feats["Rad_min"] = float(rad.min())
    feats["Int_iqr"] = feats["Int_q75"] - feats["Int_q25"]
    feats["Int_mad"] = float(np.median(np.abs(vals - np.median(vals))))

    # multi-scale texture: cooccurrence at pixel distance 2 + Haar l3
    feats.update(_glcm_features(patch, inmask, dist=2, prefix="Coo2"))
    feats["Haar2d_l3"] = haar[2]

    # first-order intensity entropy over GLCM_LEVELS bins of the cell's
    # own [min,max] range (flat cell -> 0 by convention)
    if feats["Int_max"] > feats["Int_min"]:
        bins = np.minimum(
            (
                (vals - feats["Int_min"])
                / (feats["Int_max"] - feats["Int_min"])
                * GLCM_LEVELS
            ).astype(np.int64),
            GLCM_LEVELS - 1,
        )
        ph = np.bincount(bins, minlength=GLCM_LEVELS).astype("float64")
        ph = ph[ph > 0] / len(vals)
        feats["Int_entropy"] = float(-(ph * np.log2(ph)).sum())
    else:
        feats["Int_entropy"] = 0.0
    feats["Int_q05"] = float(iq[0])
    feats["Int_q95"] = float(iq[6])

    # boundary roughness: first differences of the radius profile along
    # the closed boundary (wrap)
    rd = np.abs(np.diff(np.concatenate([rad, rad[:1]])))
    feats["Rad_diff_mean"] = float(rd.mean())
    feats["Rad_diff_var"] = float(rd.var())

    # isoperimetric quotient inverse: 1 for a disc, grows with boundary
    # complexity
    feats["Compactness"] = (
        feats["Perim"] ** 2 / (4.0 * np.pi * feats["Area"]) if feats["Area"] > 0 else 0.0
    )

    # radial quartiles + spread
    rq = np.quantile(rad, [0.25, 0.50, 0.75])
    feats["Rad_q25"] = float(rq[0])
    feats["Rad_q50"] = float(rq[1])
    feats["Rad_q75"] = float(rq[2])
    feats["Rad_iqr"] = feats["Rad_q75"] - feats["Rad_q25"]

    # intensity centre-of-mass offset from the geometric centroid
    wsum = float(vals.sum())
    if wsum > 0:
        com_x = float((vals * xs).sum()) / wsum
        com_y = float((vals * ys).sum()) / wsum
        feats["Int_com_dx"] = com_x - cx
        feats["Int_com_dy"] = com_y - cy
        feats["Int_com_offset"] = float(np.hypot(com_x - cx, com_y - cy))
    else:
        feats["Int_com_dx"] = 0.0
        feats["Int_com_dy"] = 0.0
        feats["Int_com_offset"] = 0.0

    # curvature distribution extremes
    feats["Cur_min"] = float(cur.min())
    feats["Cur_var"] = float(cur.var())
    feats["Int_range"] = feats["Int_max"] - feats["Int_min"]
    return feats


def _frame_features(tagged: DataFrame, frame_cells) -> DataFrame:
    """The ONE M4 per-frame loop behind both public forms: decode the raw
    raster (dtype from the byte count, ``_raster_dtype``), min-max
    normalise it once per frame, then run ``_cell_features`` over the
    frame's cells, skipping degenerate ROIs. ``tagged`` carries one row
    per frame (path, FrameID, height, width, data, ...); ``frame_cells(r)``
    yields that frame's ``(CellID, ROI_filename, coords)`` with
    coords an (n, 2) int64 array of (x, y) boundary points — the only
    step in which the two forms differ."""
    out = to_arrow_schema(FEATURES_SCHEMA)
    nan = float("nan")

    def kernel(batches):
        for batch in batches:
            rows = []
            for r in batch.to_pylist():
                raw = r["data"]
                h, w = int(r["height"]), int(r["width"])
                img = np.frombuffer(raw, dtype=_raster_dtype(raw, h, w)).reshape(
                    h, w
                ).astype("float64")
                lo, hi = img.min(), img.max()  # A6+F10 min-max normalise once/frame
                if hi > lo:
                    img = (img - lo) / (hi - lo)
                for cell_id, roi_filename, coords in frame_cells(r):
                    feats = _cell_features(img, coords)
                    if feats is None:
                        continue  # degenerate ROI skip
                    rows.append(
                        (
                            r["path"],
                            int(r["FrameID"]),
                            cell_id,
                            roi_filename,
                            *[feats.get(name, nan) for name in STATIC_FEATURE_NAMES],
                        )
                    )
            yield rows_batch(rows, out)

    # CPU-bound kernel over tiny rows: spread with an explicit
    # ROUND-ROBIN repartition sized to cores so AQE's byte-based
    # coalescing cannot serialize all frames through one task (measured
    # 19s -> 1.9s at the 726-frame bench shape when coalesced). The
    # kernel needs no co-location by key — each row already carries a
    # complete frame — so round-robin replaces the old
    # repartitionByRange, whose RangePartitioner SAMPLING pass executed
    # the frames⋈cells join twice per action (measured ~1s/action at
    # the bench shape; guide §2.4 "remove shuffles outright").
    n = max(2, tagged.sparkSession.sparkContext.defaultParallelism)
    return tagged.repartition(n).mapInArrow(kernel, FEATURES_SCHEMA)


def static_features(frames: DataFrame, rois: DataFrame) -> DataFrame:
    """M4: per-(cell, frame) static features.

    `frames`: (path, frame_index, height, width, data=raw raster bytes,
    8- or 16-bit — the ``split_frames`` shape). `rois`: (FrameID, CellID,
    ROI_filename, coords array<struct<x,y>>) — optionally carrying a
    ``path`` column; when present the join keys on (path, FrameID) so
    multiple timelapses in one DataFrame stay separated. Without it the
    rois are assumed to describe a SINGLE timelapse: joining on FrameID
    alone would cross-match identically-numbered frames across paths.
    Output one row per surviving cell-frame with FEATURES_SCHEMA.
    """
    roi_cols = ["FrameID", "CellID", "ROI_filename", "coords"]
    if "path" in rois.columns:
        join_keys = ["path", "FrameID"]
        roi_cols = ["path"] + roi_cols
    else:
        join_keys = ["FrameID"]
    # r16 (guide §2.3/§8 "shuffle keys, not payloads"): nest the cells of
    # each frame into ONE row BEFORE joining the raster on. The previous
    # shape joined the frame payload onto every cell row, so the join +
    # the kernel pre-shuffle moved each raster once per cell (25x at the
    # bench shape, unbounded at production cell counts); pre-aggregating
    # makes both exchanges carry each raster exactly once. The cells
    # aggregation shuffles only coords — bytes proportional to the ROI
    # boundary set, never to the image payload.
    cells_agg = rois.select(*roi_cols).groupBy(*join_keys).agg(
        F.collect_list(F.struct("CellID", "ROI_filename", "coords")).alias("_cells")
    )
    tagged = frames.select(
        "path",
        F.col("frame_index").alias("FrameID"),
        "height",
        "width",
        "data",
    ).join(cells_agg, join_keys)

    def frame_cells(r):
        for cell in r["_cells"]:
            coords = np.array([(c["x"], c["y"]) for c in cell["coords"]], dtype="int64")
            yield int(cell["CellID"]), cell["ROI_filename"], coords

    return _frame_features(tagged, frame_cells)


def static_features_fused(fused: DataFrame, keep: DataFrame) -> DataFrame:
    """M4 over the pipeline's FUSED frame checkpoint (r17, guide §4/§2.4):
    contour tracing + feature extraction in ONE Python wave.

    ``fused``: the decode_segment_centroid rows (path, frame_index,
    height, width, data, mask, cents). ``keep``: the QC-surviving cell
    keys (path, FrameID, CellID, TRACK_ID) — NARROW rows.

    Row-for-row equal to the composed form over external-style ROIs
    (``mask_rois(masks) ⋈ keep → roi_filename → static_features``,
    pinned by test), without its cost: that form traces every label and
    ships each cell's coords array through the join and a per-frame
    re-aggregation. Here the only pre-kernel work is one aggregation of
    the NARROW keep keys per frame (collect_list of (CellID, TRACK_ID)
    structs — bytes per cell, not per boundary pixel) joined onto the
    fused rows, and the kernel traces each KEPT cell's contour from the
    mask raster it already holds (:func:`label_contour`, the tracer
    ``mask_rois`` uses) — the guide §8 rule (shuffle keys/metadata, not
    payload-derived row sets) applied to the boundary geometry. The
    3-part FRAME-TRACK-ID zero-padding widths are computed with the same
    global aggregate as ``roi_filename``, over ``keep``. The frame loop
    itself is shared with ``static_features`` (``_frame_features``)."""
    widths = keep.agg(
        *[
            F.max(F.length(F.col(c).cast("string"))).alias(f"_w_{c}")
            for c in ("FrameID", "TRACK_ID", "CellID")
        ]
    )
    keep_agg = keep.groupBy("path", "FrameID").agg(
        F.collect_list(F.struct("CellID", "TRACK_ID")).alias("_keep")
    )
    # broadcast the narrow keep list (bytes per kept cell), never the
    # raster side: left to itself, adaptive execution sometimes builds
    # the hash table from `fused`, shipping every frame's data and mask
    # through the driver, and each such plan variant compiles new code
    tagged = (
        fused.select(
            "path",
            F.col("frame_index").alias("FrameID"),
            "height",
            "width",
            "data",
            "mask",
        )
        .join(F.broadcast(keep_agg), ["path", "FrameID"])
        .crossJoin(F.broadcast(widths))
    )

    def frame_cells(r):
        m = np.frombuffer(r["mask"], dtype=np.uint16).reshape(
            int(r["height"]), int(r["width"])
        )
        wf, wt, wc = int(r["_w_FrameID"]), int(r["_w_TRACK_ID"]), int(r["_w_CellID"])
        for cell in r["_keep"]:
            label = int(cell["CellID"])
            coords = label_contour(m, label)
            if coords is None:
                continue  # defensive: kept cell absent from mask
            roi_filename = "-".join(
                (
                    str(int(r["FrameID"])).rjust(wf, "0"),
                    str(int(cell["TRACK_ID"])).rjust(wt, "0"),
                    str(label).rjust(wc, "0"),
                )
            )
            yield label, roi_filename, coords

    return _frame_features(tagged, frame_cells)
