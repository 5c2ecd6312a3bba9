"""Image-pipeline operators (S1/S3-S5/S11-S12, M1/M2/M6 — SURVEY §2.1/§2.10).

Images are opaque ``binary`` payloads with typed metadata — the
multimodal-column pattern: Spark moves/partitions the bytes, Arrow
batches them into Python map kernels, and the codec boundary is a
narrow per-batch kernel. The real TIFF/JPEG/PNG codecs (Pillow, tifffile,
ImageMagick) are NOT in this container, so the decode step is isolated
behind ``decode_frame``: a clearly-marked stub that raises
``NotImplementedError`` for real payloads and produces a DETERMINISTIC
fake raster for payloads tagged with the ``FAKE1`` magic — the
Spark-side plumbing (schemas, batch shapes, partitioning, UDF
signatures) is real and tested either way.

Scale notes:
- ``scan_images`` (S1, main.nf:418-452): ``binaryFile`` source with
  pathGlobFilter pushdown — list + read parallelised over executors.
- ``split_frames`` (S3/S4, main.nf:305-320/361-374): UDTF shape via a
  map kernel — 1 container file → N frame rows; one input file per
  Arrow batch keeps executor memory bounded by the largest container,
  independent of corpus size.
- ``decode_segment_centroid`` (S3/S4 + M1/M2 + detection,
  segment_image.py:20-23): the ONE segmentation entry point — decode,
  segment and centroid in one kernel, the model loaded once per
  partition (the GPU-batching economics of segment_image_batch.py:20-25
  map to partition batching + stage-level resource scheduling on a real
  cluster). Consumers that only want masks select them off its rows.
- ``mask_rois`` (M6 / TrackMate ROIs, parse_xml.py:47-67): one ordered
  contour per label, traced by ``label_contour`` — the same tracer the
  M4 kernel uses.

The kernels a pipeline run executes (``decode_segment_centroid`` and
the highlight pixels, ``mask_boundary_overlay`` / ``mask_pixels``) are
``mapInArrow`` over numpy and build their output with
``operators.arrow_map``, so the Python workers never load pandas; the
query-only kernels are ``mapInPandas`` and import pandas inside.
"""

from __future__ import annotations

import hashlib
import zlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from cellphe_data_pipeline_spark.domain.rois import COORDS_TYPE
from cellphe_data_pipeline_spark.operators.arrow_map import record_batch, to_arrow

FAKE_MAGIC = b"FAKE1"

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def scan_images(spark: SparkSession, path: str, glob: str = "*.tiff") -> DataFrame:
    """S1: binary directory scan with glob pushdown. Columns:
    path/modificationTime/length/content (Spark binaryFile contract)."""
    return (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )


def encode_fake_container(frames) -> bytes:
    """The FAKE1 multi-frame container: FAKE1 | h | w | n (``<u4``) |
    zlib(frames as uint8, (n, h, w) C order). ``frames`` is an (n, h, w)
    stack or a single (h, w) frame. Stands in for multi-page TIFF in
    tests and fixture queries; ``decode_frame`` reads it back."""
    stack = np.asarray(frames, dtype=np.uint8)
    if stack.ndim == 2:
        stack = stack[None]
    n, h, w = stack.shape
    header = FAKE_MAGIC + np.array([h, w, n], dtype="<u4").tobytes()
    return header + zlib.compress(stack.tobytes())


def make_fake_image(seed: int, height: int = 32, width: int = 32, n_frames: int = 1) -> bytes:
    """Deterministic fake multi-frame container of random pixels."""
    rng = np.random.RandomState(seed)
    return encode_fake_container(
        rng.randint(0, 255, size=(n_frames, height, width), dtype=np.uint8)
    )


def _decode_tiff_baseline(content: bytes) -> list[np.ndarray] | None:
    """Minimal pure-numpy TIFF 6.0 baseline reader: II/MM byte order,
    UNCOMPRESSED single-sample (grayscale) strips, 8- or 16-bit, multi-
    page via the IFD chain. Returns None if `content` is not TIFF;
    raises ValueError on TIFF variants beyond the baseline (compressed,
    tiled, multi-sample) — those need the Pillow/tifffile path."""
    import struct

    if content[:2] == b"II":
        e = "<"
    elif content[:2] == b"MM":
        e = ">"
    else:
        return None
    if struct.unpack(e + "H", content[2:4])[0] != 42:
        return None

    type_size = {1: 1, 3: 2, 4: 4}
    type_fmt = {1: "B", 3: "H", 4: "I"}

    def read_tag_values(tag_bytes: bytes) -> tuple[int, list[int]]:
        tag, typ, cnt = struct.unpack(e + "HHI", tag_bytes[:8])
        if typ not in type_size:
            return tag, []
        total = type_size[typ] * cnt
        if total <= 4:
            raw = tag_bytes[8 : 8 + total]
        else:
            off = struct.unpack(e + "I", tag_bytes[8:12])[0]
            raw = content[off : off + total]
        return tag, list(struct.unpack(e + str(cnt) + type_fmt[typ], raw))

    frames: list[np.ndarray] = []
    off = struct.unpack(e + "I", content[4:8])[0]
    while off:
        n = struct.unpack(e + "H", content[off : off + 2])[0]
        tags: dict[int, list[int]] = {}
        for i in range(n):
            tag, vals = read_tag_values(content[off + 2 + 12 * i : off + 14 + 12 * i])
            tags[tag] = vals
        width = tags[256][0]
        height = tags[257][0]
        bits = tags.get(258, [8])[0]
        compression = tags.get(259, [1])[0]
        samples = tags.get(277, [1])[0]
        if compression != 1 or samples != 1 or bits not in (8, 16):
            raise ValueError(
                "TIFF beyond uncompressed-grayscale baseline "
                f"(compression={compression}, samples={samples}, bits={bits}): "
                "install Pillow or tifffile for full coverage"
            )
        data = b"".join(
            content[o : o + c]
            for o, c in zip(tags[273], tags[279])
        )
        dt = np.dtype(("<" if e == "<" else ">") + ("u1" if bits == 8 else "u2"))
        frames.append(np.frombuffer(data, dtype=dt).reshape(height, width))
        off = struct.unpack(
            e + "I", content[off + 2 + 12 * n : off + 6 + 12 * n]
        )[0]
    return frames


def decode_frame(content: bytes) -> list[np.ndarray]:
    """Codec boundary — ONE function to swap for production codecs;
    nothing else in the engine changes. Resolution order:

    1. FAKE1 container (deterministic test payloads);
    2. import-guarded tifffile, then Pillow, if installed (full
       TIFF/JPEG coverage — absent from this container);
    3. pure-numpy TIFF 6.0 baseline reader (uncompressed grayscale
       strips, 8/16-bit, multi-page) — real container-format parsing
       with no third-party dependency;
    4. pure-numpy baseline JPEG decoder (T.81 sequential DCT + Huffman,
       domain/jpeg.py) — the S5 JPEG→gray input path (main.nf:392-406)
       with no third-party dependency; luma plane = grayscale;
    5. otherwise NotImplementedError naming the missing codec.
    """
    if content[:5] == FAKE_MAGIC:
        h, w, n = np.frombuffer(content[5:17], dtype="<u4")
        raw = zlib.decompress(content[17:])
        return list(np.frombuffer(raw, dtype=np.uint8).reshape(int(n), int(h), int(w)))
    import io as _io

    try:
        import tifffile  # type: ignore
    except ImportError:
        tifffile = None
    if tifffile is not None:
        try:
            with tifffile.TiffFile(_io.BytesIO(content)) as tf:
                return [np.asarray(p.asarray()) for p in tf.pages]
        except Exception:
            pass  # not a TIFF (e.g. JPEG) — try the next codec
    try:
        from PIL import Image  # type: ignore
    except ImportError:
        Image = None
    if Image is not None:
        try:
            img = Image.open(_io.BytesIO(content))
            out = []
            for i in range(getattr(img, "n_frames", 1)):
                img.seek(i)
                out.append(np.asarray(img))
            return out
        except Exception:
            pass
    tiff = _decode_tiff_baseline(content)
    if tiff is not None:
        return tiff
    if content[:2] == b"\xff\xd8":
        from cellphe_data_pipeline_spark.domain.jpeg import decode_jpeg_gray

        return [decode_jpeg_gray(content)]
    raise NotImplementedError(
        "no codec for this payload: not a FAKE1/baseline-TIFF/baseline-"
        "JPEG container and neither tifffile nor Pillow is installed"
    )


def split_frames(binaries: DataFrame) -> DataFrame:
    """S3/S4: 1 container file → N standalone frame rows (UDTF shape).
    `frame_index` is the within-file page index (the OME `IFD`); global
    ordering/renumbering is W4's job downstream."""

    def split(batches):
        import pandas as pd

        for pdf in batches:
            for _, row in pdf.iterrows():
                frames = decode_frame(row["content"])
                yield pd.DataFrame(
                    {
                        "path": row["path"],
                        "frame_index": range(len(frames)),
                        "height": [f.shape[0] for f in frames],
                        "width": [f.shape[1] for f in frames],
                        "data": [f.tobytes() for f in frames],
                    }
                )

    return binaries.select("path", "content").mapInPandas(split, FRAME_SCHEMA)


def encode_tiff_gray(frames_list: list[np.ndarray]) -> bytes:
    """Encode grayscale frames as a multi-page TIFF 6.0 baseline
    container (little-endian, uncompressed single-strip pages, 8- or
    16-bit) with nothing but struct — the write twin of
    ``_decode_tiff_baseline``, so a round-trip stays in-engine with no
    third-party codec. Used by the S5 JPEG→gray-TIFF conversion
    (main.nf:392-406) and as a byte-built test-payload writer."""
    import struct

    if not frames_list:
        raise ValueError("encode_tiff_gray needs at least one frame")
    out = bytearray(b"II*\x00")
    out += struct.pack("<I", 8)  # first IFD offset (right after header)
    pos = 8
    n = len(frames_list)
    for i, f in enumerate(frames_list):
        if f.dtype == np.uint8:
            bits = 8
        elif f.dtype == np.uint16:
            bits = 16
        else:
            raise ValueError(f"unsupported dtype {f.dtype} (uint8/uint16 only)")
        h, w = f.shape
        data = f.astype("<u2").tobytes() if bits == 16 else f.tobytes()
        # IFD: 8 tags × 12 bytes + count + next-offset
        ifd_size = 2 + 8 * 12 + 4
        data_off = pos + ifd_size
        next_ifd = 0 if i == n - 1 else data_off + len(data)
        tags = [
            (256, 4, 1, w),               # ImageWidth (LONG: >64k-wide rasters)
            (257, 4, 1, h),               # ImageLength (LONG)
            (258, 3, 1, bits),            # BitsPerSample
            (259, 3, 1, 1),               # Compression: none
            (262, 3, 1, 1),               # Photometric: BlackIsZero
            (273, 4, 1, data_off),        # StripOffsets (single strip)
            (277, 3, 1, 1),               # SamplesPerPixel
            (279, 4, 1, len(data)),       # StripByteCounts
        ]
        out += struct.pack("<H", len(tags))
        for tag, typ, cnt, val in tags:
            out += struct.pack("<HHI", tag, typ, cnt)
            out += struct.pack("<I", val) if typ == 4 else struct.pack("<HH", val, 0)
        out += struct.pack("<I", next_ifd)
        out += data
        pos = data_off + len(data)
    return bytes(out)


def jpeg_to_gray_tiff(binaries: DataFrame) -> DataFrame:
    """S5 COMPLETE (main.nf:392-406): JPEG containers → grayscale TIFF
    containers, both halves in-engine — the pure-numpy T.81 decoder
    (domain/jpeg.py, luma = BT.601 gray) feeding the baseline TIFF
    writer above. Per-row map over binary payloads, no shuffle; output
    rows are (path, tiff binary) ready for the S15 published-dir sink,
    exactly the reference's convert-then-segment staging."""

    def conv(batches):
        import pandas as pd

        from cellphe_data_pipeline_spark.domain.jpeg import decode_jpeg_gray

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                gray = decode_jpeg_gray(bytes(row["content"]))
                out.append(
                    {"path": row["path"], "tiff": encode_tiff_gray([gray])}
                )
            yield pd.DataFrame(out, columns=["path", "tiff"])

    return binaries.select("path", "content").mapInPandas(
        conv, "path string, tiff binary"
    )


def _raster_dtype(data, h: int, w: int) -> type:
    """Frame payloads are raw rasters with no dtype column: the byte
    count distinguishes 8- from 16-bit pages (the two the codec ladder
    produces). Single home for the rule — resize + stack archive share
    it."""
    return np.uint8 if len(data) == h * w else np.uint16


def resize_frames(
    frames: DataFrame, out_h: int, out_w: int, method: str = "area"
) -> DataFrame:
    """Multimodal image resize (training-data pipelines: thumbnailing,
    model-input normalisation) as a stateless Arrow kernel over the
    frame relation — same schema out, new dims.

    ``method='area'``: exact box average when the input dims are
    integer multiples of the output (reshape-mean, the standard
    antialiased downscale); otherwise raises — no silent quality cliff.
    ``method='nearest'``: index sampling at arbitrary ratios (the
    cheap path, and the upscale path). Both pure numpy, deterministic,
    per-row map — no shuffle; a 100 TB frame corpus resizes at scan
    speed with executor memory bounded by one raster."""
    if method not in ("area", "nearest"):
        raise ValueError(f"method must be 'area' or 'nearest', got {method!r}")

    def rs(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                h, w = int(r["height"]), int(r["width"])
                dt = _raster_dtype(r["data"], h, w)
                img = np.frombuffer(r["data"], dtype=dt).reshape(h, w)
                if method == "area":
                    if h % out_h or w % out_w:
                        raise ValueError(
                            f"area resize needs integer factors: {h}x{w} -> "
                            f"{out_h}x{out_w}; use method='nearest'"
                        )
                    fy, fx = h // out_h, w // out_w
                    # floor(x+0.5): the repo's half-up rounding contract
                    # (matches every quantization oracle); numpy's
                    # .round() is half-to-even and would diverge from a
                    # SQL mirror on .5-ending block means
                    out = np.floor(
                        img.reshape(out_h, fy, out_w, fx).mean(axis=(1, 3)) + 0.5
                    ).astype(dt)
                else:
                    ys = (np.arange(out_h) * h) // out_h
                    xs = (np.arange(out_w) * w) // out_w
                    out = img[np.ix_(ys, xs)]
                rows.append(
                    {
                        "path": r["path"],
                        "frame_index": r["frame_index"],
                        "height": out_h,
                        "width": out_w,
                        "data": out.tobytes(),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return frames.mapInPandas(rs, FRAME_SCHEMA)


def grayscale_convert(frames: DataFrame) -> DataFrame:
    """S5 (main.nf:392-406 JPEG→gray TIFF): BOTH halves of the
    conversion are real in-engine — JPEG payloads entering
    ``split_frames`` go through the pure-numpy baseline decoder
    (domain/jpeg.py, luma = BT.601 grayscale), and the container-level
    converter ``jpeg_to_gray_tiff`` re-wraps the gray plane as a
    baseline TIFF (``encode_tiff_gray``), matching the reference's
    staging byte-format-for-byte-format. Frame rows reaching this stage
    are single-channel rasters already; it tags the colorspace."""
    return frames.withColumn("colorspace", F.lit("gray"))


def _fake_segment(img: np.ndarray) -> np.ndarray:
    """Deterministic stand-in for CellposeModel.eval (segment_image.py:
    20-23): threshold at the image median, 4-connected component label
    (:func:`label_components_runs`). Like ``otsu``, a frame whose mask
    would have more than 65535 components raises instead of wrapping
    the uint16 labels."""
    return label_components_runs(img > np.median(img))


def otsu_threshold(img: np.ndarray) -> int:
    """Otsu's method over the integer-value histogram: the threshold
    maximising between-class variance — the standard classical
    auto-threshold (Otsu 1979), fully vectorised (no per-pixel
    python). Foreground = img > t. Works for both raster widths the
    codec ladder produces: the histogram spans the ACTUAL value range
    (256 bins for uint8, up to 65536 for uint16 — still trivial).
    Deterministic (first maximal bin wins via np.argmax)."""
    flat = img.reshape(-1)
    if flat.size == 0:
        return 0
    n_bins = max(256, int(flat.max()) + 1)
    hist = np.bincount(flat, minlength=n_bins).astype(np.float64)
    total = hist.sum()
    w0 = np.cumsum(hist)
    w1 = total - w0
    cum_mean = np.cumsum(hist * np.arange(len(hist)))
    mean_total = cum_mean[-1]
    with np.errstate(divide="ignore", invalid="ignore"):
        mu0 = cum_mean / w0
        mu1 = (mean_total - cum_mean) / w1
        between = w0 * w1 * (mu0 - mu1) ** 2
    between[~np.isfinite(between)] = -1.0
    return int(np.argmax(between))


def label_components_runs(fg: np.ndarray) -> np.ndarray:
    """4-connected component labeling via RUN-LENGTH two-pass
    union-find — the labeler behind both threshold segmenters. Work is
    O(runs·α) with numpy run extraction per row, so a 2048x2048 frame
    with hundreds of cells labels in milliseconds where a per-pixel BFS
    spends seconds in the interpreter. Numbering matches a BFS exactly:
    components take 1..K in row-major order of their first pixel
    (equivalence property-tested in tests/test_domain.py against a BFS
    oracle)."""
    h, w = fg.shape
    labels = np.zeros((h, w), dtype=np.uint16)
    runs: list[tuple[int, int, int]] = []  # (row, start, end_exclusive)
    parent: list[int] = []

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    prev_row_runs: list[int] = []
    for y in range(h):
        d = np.diff(np.concatenate(([0], fg[y].astype(np.int8), [0])))
        starts = np.flatnonzero(d == 1)
        ends = np.flatnonzero(d == -1)
        cur_row_runs: list[int] = []
        pi = 0
        for s0, e0 in zip(starts, ends):
            rid = len(runs)
            runs.append((y, int(s0), int(e0)))
            parent.append(rid)
            cur_row_runs.append(rid)
            # union with every previous-row run overlapping in columns
            # (4-connectivity); two-pointer sweep — both run lists are
            # column-sorted
            while pi < len(prev_row_runs):
                _, ps, pe = runs[prev_row_runs[pi]]
                if ps >= e0:
                    break
                if pe > s0:
                    ra, rb = find(rid), find(prev_row_runs[pi])
                    if ra != rb:
                        # smaller root = earlier scan order stays root
                        if rb < ra:
                            ra, rb = rb, ra
                        parent[rb] = ra
                if pe <= e0:
                    pi += 1
                else:
                    break
        prev_row_runs = cur_row_runs
        pi = 0
    # second pass: roots -> consecutive labels in scan order of the
    # component's FIRST run; painted with vectorised row slices
    root_label: dict[int, int] = {}
    nxt = 0
    for rid in range(len(runs)):
        r = find(rid)
        if r not in root_label:
            nxt += 1
            if nxt > 0xFFFF:
                # uint16 is the mask contract (reference format); a
                # noisy threshold CAN exceed it on large frames — fail
                # loudly instead of wrapping labels into background
                raise ValueError(
                    "label_components_runs: more than 65535 components; "
                    "denoise or pre-filter the foreground mask"
                )
            root_label[r] = nxt
        y, s0, e0 = runs[rid]
        labels[y, s0:e0] = root_label[r]
    return labels


def _otsu_segment(img: np.ndarray) -> np.ndarray:
    """REAL classical segmentation kernel (the M1 baseline this
    environment can actually ship): Otsu auto-threshold + run-based
    4-connected labeling. `CellposeModel.eval` (segment_image.py:20-23)
    remains the documented swap point when the deep model is present —
    but threshold-separable imagery segments for real on this path,
    with no model weights and no per-pixel python."""
    return label_components_runs(img > otsu_threshold(img))


SEGMENT_METHODS = ("median", "otsu", "model")


def _validate_segment_method(method: str, model_cls: type | None) -> type | None:
    """Driver-side method/model resolution for
    :func:`decode_segment_centroid`: the fail-fast import check happens
    on the DRIVER, not inside a task."""
    if method not in SEGMENT_METHODS:
        raise ValueError(f"unknown segmentation method: {method!r}")
    if method == "model" and model_cls is None:
        try:
            from cellpose import models as _cp_models  # noqa: PLC0415

            model_cls = _cp_models.CellposeModel
        except ImportError as e:
            raise ImportError(
                "segmentation method='model' needs the `cellpose` "
                "package (not installed in this environment) or an "
                "injected model_cls implementing "
                "cls(**model_args).eval(image, **eval_args) -> (masks, ...)"
            ) from e
    return model_cls


def _make_segmenter(
    method: str,
    model_args: dict | None,
    eval_args: dict | None,
    model_cls: type | None,
):
    """Build the per-task frame→uint16-mask callable (heavyweight model
    construction happens HERE, once per task — guide §4.5)."""
    if method == "model":
        inst = model_cls(**(model_args or {}))

        def model(img: np.ndarray) -> np.ndarray:
            # reference: masks = model.eval(image, **eval_args)[0],
            # saved astype("uint16") (segment_image.py:22-23).
            # Same overflow invariant as label_components_runs: a
            # label > 65535 must fail loudly — astype would wrap
            # 65536 into 0 (background: cell silently deleted) and
            # alias 65537 with label 1.
            raw = np.asarray(inst.eval(img, **(eval_args or {}))[0])
            if raw.size and int(raw.max()) > 65535:
                raise ValueError(
                    "model mask label exceeds 65535 — would wrap in "
                    "the uint16 mask (label "
                    f"{int(raw.max())}); renumber labels per frame"
                )
            return raw.astype(np.uint16)

        return model
    return _otsu_segment if method == "otsu" else _fake_segment


MASK_HIST_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("mask_id", T.IntegerType()),
        T.StructField("n", T.LongType()),
    ]
)


def mask_label_histogram(masks: DataFrame) -> DataFrame:
    """A5 (segmentation_qc.qmd:159-170): per-mask label histogram =
    per-cell pixel areas. UDTF shape: 1 mask → one row per label
    (np.unique with counts); downstream filters mask_id != 0 (P7)."""

    def hist(batches):
        import pandas as pd

        for pdf in batches:
            parts = []  # one Arrow batch per input batch
            for _, row in pdf.iterrows():
                m = np.frombuffer(row["mask"], dtype=np.uint16)
                ids, counts = np.unique(m, return_counts=True)
                parts.append(
                    pd.DataFrame(
                        {
                            "path": row["path"],
                            "frame_index": row["frame_index"],
                            "mask_id": ids.astype("int32"),
                            "n": counts.astype("int64"),
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return masks.mapInPandas(hist, MASK_HIST_SCHEMA)


def mask_boundary_overlay(masks: DataFrame) -> DataFrame:
    """M6 (segmentation_qc.qmd:132-140): QC boundary render — boundary
    pixel = any 4-neighbor with a different label. Emits boundary pixel
    rows (relational form; PNG overlay is an edge-side export)."""
    schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("px", T.IntegerType()),
            T.StructField("py", T.IntegerType()),
            T.StructField("mask_id", T.IntegerType()),
        ]
    )

    def boundary(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        diff = np.zeros(m.shape, dtype=bool)
        diff[:-1, :] |= m[:-1, :] != m[1:, :]
        diff[1:, :] |= m[1:, :] != m[:-1, :]
        diff[:, :-1] |= m[:, :-1] != m[:, 1:]
        diff[:, 1:] |= m[:, 1:] != m[:, :-1]
        diff &= m != 0
        return np.nonzero(diff)

    return _mask_pixel_rows(masks, boundary, schema)


def _mask_pixel_rows(masks: DataFrame, pick, schema: T.StructType) -> DataFrame:
    """One row per picked pixel of each label mask, as one
    ``mapInArrow``: ``pick(m)`` returns the ``(ys, xs)`` pixels of a
    (height, width) uint16 mask, and each becomes a (path, frame_index,
    px, py, mask_id) row, in ``schema``'s column order, frames in input
    order and pixels in ``pick``'s order."""
    out = to_arrow_schema(schema)

    def kernel(batches):
        for batch in batches:
            per_frame = []
            for mask, h, w in zip(
                batch.column("mask").to_pylist(),
                batch.column("height").to_pylist(),
                batch.column("width").to_pylist(),
            ):
                m = np.frombuffer(mask, dtype=np.uint16).reshape(h, w)
                ys, xs = pick(m)
                per_frame.append((xs, ys, m[ys, xs]))
            counts = [len(xs) for xs, _, _ in per_frame]
            if not sum(counts):
                continue
            rows = np.repeat(np.arange(len(counts)), counts)
            cols = {
                "path": batch.column("path").take(to_arrow(rows, pa.int64())),
                "frame_index": np.asarray(
                    batch.column("frame_index").to_pylist(), dtype=np.int32
                )[rows],
            }
            for i, name in enumerate(("px", "py", "mask_id")):
                cols[name] = np.concatenate([f[i] for f in per_frame]).astype(np.int32)
            yield record_batch([cols[f.name] for f in out], out)

    return masks.mapInArrow(kernel, schema)


def mask_fill_pixels(masks: DataFrame) -> DataFrame:
    """Every labeled pixel as a row — the 'fill' highlight mode of the
    segmentation QC report (segmentation_qc.qmd:30-35 /
    main.nf:107 params.QC.segmentation_highlight). A thin projection
    over :func:`mask_pixels` (ONE shared explode kernel), column-
    ordered to match :func:`mask_boundary_overlay` ('outline' mode) so
    the two modes are interchangeable downstream."""
    return mask_pixels(masks).select(
        "path", "frame_index", "px", "py", "mask_id"
    )


#: Moore neighborhood in clockwise order (dy, dx), starting East, in
#: image coordinates (y grows downward) — the scan order of boundary
#: tracing below.
_MOORE_CW = ((0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0), (-1, 1))


def trace_outer_contour(region: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Moore-neighbor boundary tracing: ordered outer contour of a
    binary region. Returns (xs, ys) in closed traversal order (start
    pixel first, closing edge implied last→first). Pixels may repeat
    where the boundary squeezes through a 1-px neck — that IS the
    traversal, exactly what perimeter/curvature features need.

    Termination: transitions between (pixel, backtrack) states are
    deterministic, each state is recorded once, and the walk stops on
    the first repeated state; the emitted sequence is trimmed to the
    cycle, so the result is a clean closed loop regardless of the
    artificial scan-order start state. Traces the component containing
    the topmost-leftmost pixel (one contour per label — the reference's
    TrackMate one-polygon-per-spot shape, parse_xml.py:47-67).
    Cost O(perimeter); callers crop to the label's bbox first.
    """
    ys, xs = np.nonzero(region)
    if len(ys) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    top = int(ys.min())
    left = int(xs[ys == top].min())
    s = (top, left)
    if len(ys) == 1:
        return np.array([left], dtype=np.int64), np.array([top], dtype=np.int64)
    h, w = region.shape

    def fg(p: tuple[int, int]) -> bool:
        return 0 <= p[0] < h and 0 <= p[1] < w and bool(region[p[0], p[1]])

    # state = (current pixel, backtrack background pixel); start as if
    # entered by the row-major scan (backtrack = West, which is
    # background for a topmost-leftmost start pixel)
    state = (s, (top, left - 1))
    index: dict[tuple, int] = {state: 0}
    pixels: list[tuple[int, int]] = [s]
    while True:
        (c, b) = state
        i0 = _MOORE_CW.index((b[0] - c[0], b[1] - c[1]))
        nxt = None
        for k in range(1, 9):
            dd = _MOORE_CW[(i0 + k) % 8]
            cand = (c[0] + dd[0], c[1] + dd[1])
            if fg(cand):
                pb = _MOORE_CW[(i0 + k - 1) % 8]
                nxt = (cand, (c[0] + pb[0], c[1] + pb[1]))
                break
        if nxt is None:  # unreachable for len>1 connected regions
            break
        if nxt in index:
            pixels = pixels[index[nxt] :]  # trim any pre-cycle tail
            # the cycle always passes through the topmost-leftmost pixel
            # (it is on the outer contour); rotate so it comes first —
            # the trim may have cut in mid-loop, and a fixed start makes
            # the traversal deterministic AND canonical for goldens
            if s in pixels and pixels[0] != s:
                i = pixels.index(s)
                pixels = pixels[i:] + pixels[:i]
            break
        index[nxt] = len(pixels)
        pixels.append(nxt[0])
        state = nxt
    return (
        np.array([p[1] for p in pixels], dtype=np.int64),
        np.array([p[0] for p in pixels], dtype=np.int64),
    )


def _largest_component(region: np.ndarray) -> np.ndarray:
    """Largest 4-connected component of a binary region (tie → the one
    whose seed comes first in scan order). Pure-python BFS over the
    (bbox-cropped) region — cost O(area), inside an already-Python
    kernel. Fast path: one BFS confirms the common connected case."""
    h, w = region.shape
    seen = np.zeros_like(region, dtype=bool)
    total = int(region.sum())
    best: np.ndarray | None = None
    best_n = 0
    for sy, sx in zip(*np.nonzero(region)):
        if seen[sy, sx]:
            continue
        comp = np.zeros_like(region, dtype=bool)
        stack = [(int(sy), int(sx))]
        seen[sy, sx] = comp[sy, sx] = True
        n = 1
        while stack:
            a, b = stack.pop()
            for da, db in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                na, nb = a + da, b + db
                if 0 <= na < h and 0 <= nb < w and region[na, nb] and not seen[na, nb]:
                    seen[na, nb] = comp[na, nb] = True
                    n += 1
                    stack.append((na, nb))
        if n > best_n:
            best, best_n = comp, n
        if best_n * 2 > total:
            # components partition the region: anything else is at most
            # total - best_n < best_n (covers the connected fast path)
            break
    return best if best is not None else region


def label_contour(m: np.ndarray, label: int) -> np.ndarray | None:
    """Ordered outer contour of one mask label as an ``(n, 2)`` int64
    array of frame (x, y) points in Moore trace order, or ``None`` when
    the label is absent. The mask-path analogue of the reference's
    TrackMate contour ROIs (parse_xml.py:47-67), whose vertex order F16
    interpolation and the order-dependent M4 features (Perim,
    Compactness, Cur_*, Poly_*, Rad_haar_*, Rad_diff_*) all assume.
    The label's bbox crop keeps tracing O(perimeter) per cell.

    Fragmented labels (a segmenter emitting one id as several disjoint
    blobs) still get ONE contour — the reference's one-polygon-per-spot
    shape — taken from the LARGEST 4-connected component (tie: earliest
    seed in scan order); use ``mask_boundary_overlay`` when every
    fragment pixel matters (QC)."""
    lys, lxs = np.nonzero(m == label)
    if len(lys) == 0:
        return None
    y0, x0 = int(lys.min()), int(lxs.min())
    region = _largest_component(
        m[y0 : int(lys.max()) + 1, x0 : int(lxs.max()) + 1] == label
    )
    cxs, cys = trace_outer_contour(region)
    return np.column_stack([cxs + x0, cys + y0])


ROI_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("FrameID", T.IntegerType()),
        T.StructField("CellID", T.IntegerType()),
        T.StructField("coords", COORDS_TYPE),
        T.StructField("ROI_filename", T.StringType()),
    ]
)


def mask_rois(masks: DataFrame) -> DataFrame:
    """Label masks → one ROI row per cell, ``coords`` in contour
    traversal order (:func:`label_contour`): the engine's analogue of
    the reference's TrackMate-XML ROI extraction (parse_xml.py:97-101).
    One map-side kernel, no shuffle.

    ``ROI_filename`` here is the ENGINE-LOCAL 2-part FrameID-CellID
    name (fixed %05d widths): track ids don't exist at mask time. The
    pipeline's M4 branch names ROIs with the reference's 3-part
    FRAME-TRACK-ID name and data-driven padding (parse_xml.py:202-211)
    once tracking has run — see ``static_features_fused``."""

    def rois(batches):
        import pandas as pd

        cols = [f.name for f in ROI_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                m = np.frombuffer(row["mask"], dtype=np.uint16).reshape(
                    row["height"], row["width"]
                )
                fid = int(row["frame_index"])
                for label in [v for v in np.unique(m).tolist() if v]:
                    coords = label_contour(m, label)
                    rows.append(
                        {
                            "path": row["path"],
                            "FrameID": fid,
                            "CellID": label,
                            "coords": [{"x": x, "y": y} for x, y in coords.tolist()],
                            "ROI_filename": f"{fid:05d}-{label:05d}",
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return masks.mapInPandas(rois, ROI_SCHEMA)


def encode_png_gray16(img: np.ndarray) -> bytes:
    """Encode a uint16 2-D array as a 16-bit grayscale PNG with nothing
    but zlib + struct (PNG 1.2: signature, IHDR bit-depth 16 / color
    type 0, one filter-0 byte per scanline, big-endian samples, IDAT,
    IEND — each chunk CRC32'd over type+data). Dependency-free, so the
    reference's uint16 PNG sink (segment_image.py:23) is matched
    byte-format-for-byte-format, not approximated."""
    import struct
    import zlib as _zlib

    h, w = img.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0)
    rows = img.astype(">u2").tobytes()
    stride = w * 2
    raw = b"".join(
        b"\x00" + rows[y * stride : (y + 1) * stride] for y in range(h)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def mask_to_png(masks: DataFrame) -> DataFrame:
    """S11 exact form (segment_image.py:23 uint16 PNG sink): each label
    mask as a 16-bit grayscale PNG via the dependency-free encoder.
    Pure per-row encode, no shuffle."""

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            blobs = []
            for _, row in pdf.iterrows():
                m = np.frombuffer(row["mask"], dtype=np.uint16).reshape(
                    row["height"], row["width"]
                )
                blobs.append(encode_png_gray16(m))
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "frame_index": pdf["frame_index"],
                    "png": blobs,
                }
            )

    return masks.mapInPandas(
        enc, "path string, frame_index int, png binary"
    )


#: one row per frame; ``cents`` nests the frame's per-cell detections
FUSED_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("mask", T.BinaryType()),
        T.StructField(
            "cents",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("mask_id", T.IntegerType()),
                        T.StructField("area", T.LongType()),
                        T.StructField("cx", T.DoubleType()),
                        T.StructField("cy", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


def decode_segment_centroid(
    binaries: DataFrame,
    method: str = "median",
    model_args: dict | None = None,
    eval_args: dict | None = None,
    model_cls: type | None = None,
) -> DataFrame:
    """S3/S4 + M1/M2 + detection in ONE Python wave (r17, guide §4/§1.2):
    container → per-frame (raster, mask, nested centroid structs) rows.
    The engine's only segmentation entry point:
    ``select(path, frame_index, height, width, data)`` is the frames
    table, ``...mask`` the masks table (uint16 labels, row-major) and
    ``explode(cents)`` the detection rows (the analogue of TrackMate's
    LabelImageDetector, track_images.py:60-71; background excluded).
    The payload crosses the JVM↔Python boundary ONCE. Frames with zero
    cells carry ``cents == []``, which ``explode`` drops.

    `method`: "median" (median threshold — the deterministic fixture
    kernel, kept as default so every golden stays byte-stable) or
    "otsu" (Otsu auto-threshold — the classical path for production
    imagery), both labeled by :func:`label_components_runs`; or "model"
    — the reference's deep-model contract (segment_image.py:20-23):
    ``model_cls(**model_args)`` once per partition,
    ``model.eval(image, **eval_args)[0].astype(uint16)`` per frame, both
    dicts passed through VERBATIM (main.nf:38 ships
    params.segmentation.model / .eval as JSON the same way). By default
    ``model_cls`` is ``cellpose.models.CellposeModel`` (import checked
    at CALL time on the driver); any class with that constructor/eval
    signature can be injected."""
    model_cls = _validate_segment_method(method, model_cls)

    out = to_arrow_schema(FUSED_FRAME_SCHEMA)
    cent_type = out.field("cents").type.value_type

    def fused(batches):
        model = _make_segmenter(method, model_args, eval_args, model_cls)
        for batch in batches:
            frames = []  # (path, frame_index, height, width, data, mask)
            cents = {f.name: [] for f in cent_type}  # per-frame arrays
            n_cents = [0]
            for path, content in zip(
                batch.column("path").to_pylist(), batch.column("content").to_pylist()
            ):
                for i, img in enumerate(decode_frame(content)):
                    m = model(img)
                    ids, counts = np.unique(m, return_counts=True)
                    keep = ids != 0
                    ids, counts = ids[keep], counts[keep]
                    if len(ids):
                        ys, xs = np.indices(m.shape)
                        sum_x = np.bincount(m.ravel(), weights=xs.ravel())
                        sum_y = np.bincount(m.ravel(), weights=ys.ravel())
                        cents["cx"].append(sum_x[ids] / counts)
                        cents["cy"].append(sum_y[ids] / counts)
                    cents["mask_id"].append(ids)
                    cents["area"].append(counts)
                    n_cents.append(len(ids))
                    frames.append(
                        (path, i, img.shape[0], img.shape[1], img.tobytes(), m.tobytes())
                    )
            structs = pa.StructArray.from_arrays(
                [to_arrow(np.concatenate(cents[f.name] or [[]]), f.type) for f in cent_type],
                fields=list(cent_type),
            )
            columns = [list(c) for c in zip(*frames)] or [[] for _ in range(6)]
            columns.append(
                pa.ListArray.from_arrays(to_arrow(np.cumsum(n_cents), pa.int32()), structs)
            )
            yield record_batch(columns, out)

    return binaries.select("path", "content").mapInArrow(fused, FUSED_FRAME_SCHEMA)


def make_fake_timelapse(
    seed: int,
    height: int = 48,
    width: int = 48,
    n_frames: int = 22,
    n_cells: int = 8,
) -> bytes:
    """Structured fake timelapse: ``n_cells`` bright disks drifting
    linearly (bouncing off edges) over a dark background — the shape the
    real pipeline sees (cells on phase background), so the stub
    segmentation finds ~n_cells components per frame and tracking links
    them across frames. Same FAKE1 container as :func:`make_fake_image`.
    """
    rng = np.random.RandomState(seed)
    pos = rng.uniform(8, min(height, width) - 8, size=(n_cells, 2))
    vel = rng.uniform(-1.5, 1.5, size=(n_cells, 2))
    rad = rng.uniform(3.0, 5.0, size=n_cells)
    yy, xx = np.mgrid[0:height, 0:width]
    frames = np.zeros((n_frames, height, width), dtype=np.uint8)
    p = pos.copy()
    for f in range(n_frames):
        img = frames[f]
        for c in range(n_cells):
            cx, cy = p[c]
            img[(xx - cx) ** 2 + (yy - cy) ** 2 <= rad[c] ** 2] = 200
        p += vel
        # bounce off the walls (keeps motion smooth for the tracker)
        for axis, limit in ((0, width), (1, height)):
            over = p[:, axis] > limit - 6
            under = p[:, axis] < 6
            vel[over | under, axis] *= -1
            p[:, axis] = np.clip(p[:, axis], 5, limit - 5)
    return encode_fake_container(frames)


PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("mask_id", T.IntegerType()),
        T.StructField("px", T.IntegerType()),
        T.StructField("py", T.IntegerType()),
    ]
)


def mask_pixels(masks: DataFrame) -> DataFrame:
    """Relational pixel view of label masks (r5c): one row per non-
    background pixel — the exploded form that turns mask OVERLAP
    computations (IoU tracking, M3's Overlap tracker option) into plain
    equi-joins on (path, px, py). One Arrow batch per input batch."""

    return _mask_pixel_rows(masks, np.nonzero, PIXEL_SCHEMA)


def frame_dhash(frames: DataFrame, hash_h: int = 8, hash_w: int = 8) -> DataFrame:
    """Perceptual difference-hash (dHash) per frame (r7) — the image
    counterpart of text SimHash for MULTIMODAL corpus dedup: resize to
    (hash_h, hash_w+1) is the textbook form; this engine resizes to
    (hash_h, hash_w) with the engine's own area kernel and compares
    horizontally adjacent pixels, giving hash_h*(hash_w-1) bits
    (8x8 -> 56 bits — deliberately < 63 so the code is a positive
    BIGINT, same signed-portability contract as simhash_codes).
    Brightness/contrast shifts preserve pixel ORDER, so re-encoded or
    re-exposed copies of an image collide — exactly the near-dup class
    a crawl's image corpus needs collapsed. Pair via
    dedup.hamming_code_pairs (the shared Manku band machinery).

    Plumbing: resize_frames (exact block-mean; input dims must be
    integer multiples of 8) then one Arrow map computing the bit pack —
    stateless, no shuffle; output (path, frame_index, dhash).
    """
    n_code_bits = hash_h * (hash_w - 1)
    if n_code_bits > 62:
        raise ValueError(
            f"hash dims {hash_h}x{hash_w} need {n_code_bits} code bits; "
            "max 62 so the code stays a positive signed BIGINT "
            "(same contract as simhash_codes)"
        )
    small = resize_frames(frames, hash_h, hash_w, method="area")

    def dh(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                dt = _raster_dtype(r["data"], hash_h, hash_w)
                a = np.frombuffer(r["data"], dtype=dt).reshape(hash_h, hash_w)
                bits = (a[:, :-1] > a[:, 1:]).ravel()
                code = 0
                for i, b in enumerate(bits):
                    if b:
                        code |= 1 << i
                rows.append(
                    {
                        "path": r["path"],
                        "frame_index": int(r["frame_index"]),
                        "dhash": code,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["path", "frame_index", "dhash"]
            ).astype({"frame_index": "int32", "dhash": "int64"})

    return small.mapInPandas(dh, "path string, frame_index int, dhash bigint")


def frame_phash(
    frames: DataFrame, hash_size: int = 8, dct_size: int = 32
) -> DataFrame:
    """Perceptual DCT hash (pHash) per frame (r8) — the
    frequency-domain complement of :func:`frame_dhash`'s gradient
    fingerprint: resize to ``dct_size`` x ``dct_size`` (exact area
    mean), orthonormal 2-D DCT-II, keep the ``hash_size`` x
    ``hash_size`` low-frequency block, DROP the DC coefficient and
    the block's last (highest-frequency) coefficient — 62 bits, the
    positive-signed-BIGINT contract shared with simhash_codes — and
    threshold each retained coefficient against the MEDIAN of the
    retained set.

    Why both hashes: dHash keys on local gradient ORDER (robust to
    global brightness, sensitive to blur); pHash keys on global
    low-frequency STRUCTURE — dropping DC plus the median threshold
    makes it exactly invariant to non-saturating brightness shifts
    AND positive contrast scaling (both only touch DC / scale all
    AC coefficients uniformly), and the low-pass block shrugs off
    blur and recompression. A crawl dedup runs both and unions the
    pair sets through the same :func:`~cellphe_data_pipeline_spark.\
operators.dedup.hamming_code_pairs` band machinery.

    Plumbing: resize_frames (input dims must be integer multiples of
    ``dct_size``) then one Arrow map doing the double-precision DCT —
    stateless, no shuffle. Textured frames hash reproducibly on any
    BLAS (coefficient magnitudes dwarf summation-order noise); FLAT
    frames are the exception — their AC block is pure cancellation
    noise whose sign pattern varies by BLAS build — so they
    short-circuit to a canonical all-zero code (r9 advisor finding):
    flat frames are out of pHash's structural domain, and under its
    brightness invariance they are all one structure anyway.
    Output: (path, frame_index, phash).
    """
    n_code_bits = hash_size * hash_size - 2
    if hash_size < 2:
        raise ValueError(
            f"hash_size must be >= 2 (got {hash_size}): a 1x1 block has no "
            "AC coefficients, so every frame would silently hash to 0 and "
            "pair with every other"
        )
    if n_code_bits > 62:
        raise ValueError(
            f"hash_size {hash_size} needs {n_code_bits} code bits; max 62"
            " so the code stays a positive signed BIGINT"
        )
    if dct_size < hash_size:
        raise ValueError(
            f"dct_size {dct_size} must be >= hash_size {hash_size}"
        )
    small = resize_frames(frames, dct_size, dct_size, method="area")
    n = dct_size
    k = np.arange(n)
    # orthonormal DCT-II basis: D @ img @ D.T = 2-D transform
    basis = np.sqrt(2.0 / n) * np.cos(
        np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n)
    )
    basis[0, :] = np.sqrt(1.0 / n)

    def ph(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                dt = _raster_dtype(r["data"], n, n)
                img = np.frombuffer(r["data"], dtype=dt).reshape(n, n)
                coef = basis @ img.astype(np.float64) @ basis.T
                block = coef[:hash_size, :hash_size].ravel()
                kept = block[1:-1]  # drop DC and the last coefficient
                # flat-frame short-circuit (r9 advisor): a constant
                # frame's AC coefficients are mathematically zero, so
                # `kept` holds nothing but float cancellation noise in
                # the DCT matmuls — its sign pattern (hence the code)
                # would depend on the BLAS build's summation order.
                # Emit the canonical all-zero code instead: under
                # pHash's brightness invariance all flat frames ARE the
                # same structure, so they deterministically pair with
                # each other (hamming 0) and with nothing else.
                if float(np.max(np.abs(kept))) < 1e-8 * max(
                    1.0, abs(float(coef[0, 0]))
                ):
                    code = 0
                else:
                    med = float(np.median(kept))
                    code = 0
                    for i, v in enumerate(kept):
                        if v > med:
                            code |= 1 << i
                rows.append(
                    {
                        "path": r["path"],
                        "frame_index": int(r["frame_index"]),
                        "phash": code,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["path", "frame_index", "phash"]
            ).astype({"frame_index": "int32", "phash": "int64"})

    return small.mapInPandas(ph, "path string, frame_index int, phash bigint")
