"""Audio/video multimodal columns (engine extension — the brief's
image/audio/video-as-binary pattern; images live in domain/images.py).

Same architecture as images: payloads are opaque ``binary`` columns with
typed metadata, Spark partitions/moves the bytes, Arrow batches them
into narrow per-batch kernels, and the codec sits behind ONE function
(`decode_audio`) — a deterministic fake PCM container decodes (real
audio codecs are absent from this container; swap in soundfile/ffmpeg
in production, nothing else changes).

Operators:
- ``sample_windows`` (the audio analogue of S3/S4 frame split): 1 clip →
  N fixed-length windows with sample offsets — the training-data
  "frame-sample" op. mapInPandas UDTF shape; memory bounded by
  clip × batch rows (Arrow batch cap in session.py).
- ``window_features``: per-window RMS/peak/zero-crossings — the audio
  quality-gate features (silence/clipping detection for corpus
  filtering). Pure numpy on the decoded window.
- Video: a video IS the multi-page container images.py already splits
  (S3/S4 + M-kernels); no separate code path needed.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

AUDIO_MAGIC = b"FAKA1"

WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("window_index", T.IntegerType()),
        T.StructField("sample_start", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("samples", T.BinaryType()),  # int16 PCM, little-endian
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("window_index", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def make_fake_audio(seed: int, n_samples: int = 16000, sample_rate: int = 16000) -> bytes:
    """Deterministic fake clip: FAKA1 | rate | n | zlib(int16 samples)."""
    rng = np.random.RandomState(seed)
    t = np.arange(n_samples, dtype="float64")
    wave = 0.5 * np.sin(2 * np.pi * 440.0 * t / sample_rate) + 0.1 * rng.randn(n_samples)
    pcm = np.clip(wave * 32767, -32768, 32767).astype("<i2")
    header = AUDIO_MAGIC + np.array([sample_rate, n_samples], dtype="<u4").tobytes()
    return header + zlib.compress(pcm.tobytes())


def _decode_wav_pcm16(content: bytes) -> tuple[int, np.ndarray] | None:
    """Minimal pure-numpy RIFF/WAVE reader: PCM (format 1), 16-bit,
    first channel of N. Returns None if not RIFF/WAVE; raises ValueError
    on non-PCM16 variants (those need the soundfile path)."""
    import struct

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        return None
    pos, rate, n_ch, bits = 12, None, None, None
    while pos + 8 <= len(content):
        cid, size = content[pos : pos + 4], struct.unpack("<I", content[pos + 4 : pos + 8])[0]
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, n_ch, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1 or bits != 16:
                raise ValueError(
                    f"WAV beyond PCM16 baseline (format={fmt}, bits={bits}): "
                    "install soundfile for full coverage"
                )
        elif cid == b"data":
            if rate is None:
                raise ValueError("WAV data chunk before fmt chunk")
            pcm = np.frombuffer(body[: len(body) - len(body) % 2], dtype="<i2")
            if n_ch and n_ch > 1:
                pcm = pcm[::n_ch]  # first channel
            return int(rate), pcm
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    raise ValueError("WAV file has no data chunk")


def decode_audio(content: bytes) -> tuple[int, np.ndarray]:
    """Codec boundary: (sample_rate, int16 samples) — swap THIS function
    for production codecs. Resolution order: FAKA1 test container;
    import-guarded soundfile if installed (full format coverage — absent
    from this container); pure-numpy RIFF/WAV PCM16 baseline; otherwise
    NotImplementedError naming the missing codec."""
    if content[:5] == AUDIO_MAGIC:
        rate, n = np.frombuffer(content[5:13], dtype="<u4")
        pcm = np.frombuffer(zlib.decompress(content[13:]), dtype="<i2")[: int(n)]
        return int(rate), pcm
    try:
        import soundfile  # type: ignore
    except ImportError:
        soundfile = None
    if soundfile is not None:
        try:
            import io as _io

            data, rate = soundfile.read(_io.BytesIO(content), dtype="int16")
            if data.ndim > 1:
                data = data[:, 0]
            return int(rate), np.asarray(data, dtype="<i2")
        except Exception:
            pass  # not a soundfile-readable payload — try the baseline
    wav = _decode_wav_pcm16(content)
    if wav is not None:
        return wav
    raise NotImplementedError(
        "no codec for this payload: not a FAKA1/RIFF-PCM16 container "
        "and soundfile is not installed"
    )


def sample_windows(
    clips: DataFrame, window_samples: int = 4000, hop_samples: int = 2000
) -> DataFrame:
    """1 clip → N overlapping windows (the audio frame-sample op).
    Tail windows shorter than `window_samples` are kept (never silently
    dropped — the same no-silent-caps rule as text chunking)."""

    def split(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                rate, pcm = decode_audio(bytes(row["content"]))
                starts = list(range(0, max(len(pcm) - window_samples, 0) + hop_samples, hop_samples))
                starts = [s for s in starts if s < len(pcm)]
                yield pd.DataFrame(
                    {
                        "path": row["path"],
                        "window_index": range(len(starts)),
                        "sample_start": [int(s) for s in starts],
                        "sample_rate": rate,
                        "samples": [
                            pcm[s : s + window_samples].tobytes() for s in starts
                        ],
                    }
                )

    return clips.select("path", "content").mapInPandas(split, WINDOW_SCHEMA)


def window_features(windows: DataFrame) -> DataFrame:
    """Per-window audio features for corpus quality gates: RMS (silence),
    peak (clipping), zero-crossing count (noisiness proxy)."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                x = np.frombuffer(row["samples"], dtype="<i2").astype("float64") / 32768.0
                rows.append(
                    {
                        "path": row["path"],
                        "window_index": int(row["window_index"]),
                        "rms": float(np.sqrt(np.mean(x * x))) if len(x) else 0.0,
                        "peak": float(np.abs(x).max()) if len(x) else 0.0,
                        "zero_crossings": int((np.diff(np.signbit(x)) != 0).sum()),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURES_SCHEMA.fields])

    return windows.mapInPandas(feats, FEATURES_SCHEMA)


# ---------------------------------------------------------------------
# Video: temporal ops over the frame rows images.split_frames produces.
# Container→frames is shared with S3/S4; what's video-SPECIFIC is the
# temporal structure — consecutive-frame difference and shot (scene)
# boundaries, the standard curation ops for video training data
# (near-static clip removal, cut-aligned clip extraction).
# ---------------------------------------------------------------------

DIFF_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("diff_energy", T.DoubleType()),
    ]
)


def frame_diff_energy(frames: DataFrame) -> DataFrame:
    """Per-frame temporal difference: mean |pixel delta| vs the previous
    frame of the same path, on rasters scaled to [0,1] by their dtype's
    maximum (8- or 16-bit pages, told apart by ``images._raster_dtype``);
    the first frame of each path is NULL.

    Shape: ONE path-keyed window shuffle pairs each frame with its
    predecessor's bytes (F.lag on the binary column — the pairing stays
    JVM-side), then a stateless Arrow-batched kernel does the numpy
    subtraction per row. No per-path sequential barrier: a 2-hour video
    diffs in parallel across all its frame rows, unlike a
    groupBy(path).applyInPandas design which would serialise the whole
    video through one task.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.domain.images import _raster_dtype

    w = Window.partitionBy("path").orderBy("frame_index")
    paired = frames.select(
        "path",
        "frame_index",
        "height",
        "width",
        "data",
        F.lag("data").over(w).alias("prev_data"),
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                if r["prev_data"] is None:
                    e = None
                else:
                    dt = _raster_dtype(r["data"], int(r["height"]), int(r["width"]))
                    a = np.frombuffer(bytes(r["data"]), dt).astype("float64")
                    b = np.frombuffer(bytes(r["prev_data"]), dt).astype("float64")
                    e = float(np.abs(a - b).mean() / np.iinfo(dt).max)
                rows.append(
                    {"path": r["path"], "frame_index": int(r["frame_index"]), "diff_energy": e}
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DIFF_SCHEMA.fields])

    return paired.mapInPandas(kernel, DIFF_SCHEMA)


def scene_cuts(diffs: DataFrame, k: float = 1.5) -> DataFrame:
    """Shot-boundary flag: a frame is a cut when its diff energy exceeds
    k × its path's mean diff energy (unordered path window — native agg,
    no join-back, same shape as A6). First frames (NULL diff) are never
    cuts."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("path")
    return diffs.withColumn(
        "is_cut",
        F.when(F.col("diff_energy").isNull(), F.lit(False)).otherwise(
            F.col("diff_energy") > k * F.avg("diff_energy").over(w)
        ),
    )


CLIP_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("clip_index", T.IntegerType()),
        T.StructField("start_frame", T.IntegerType()),
        T.StructField("end_frame", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("mean_diff", T.DoubleType()),
    ]
)


def clip_segments(cuts: DataFrame) -> DataFrame:
    """Cut-aligned clip extraction: group each path's frames into shots
    bounded by the scene cuts (the step after `scene_cuts` in a video
    curation pipeline — clips become the training units, near-static or
    ultra-short ones get filtered downstream).

    clip_index = running count of cuts at-or-before the frame (a
    path-keyed ordered window — one shuffle on path, no per-video
    serialisation), then one groupBy for the per-clip summary: frame
    span, length, and mean intra-clip diff energy (cut-frame diffs
    excluded — they measure the transition, not the clip)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("path").orderBy("frame_index")
    tagged = cuts.withColumn(
        "clip_index",
        F.sum(F.col("is_cut").cast("int")).over(w).cast("int"),
    )
    return (
        tagged.groupBy("path", "clip_index")
        .agg(
            F.min("frame_index").alias("start_frame"),
            F.max("frame_index").alias("end_frame"),
            F.count(F.lit(1)).alias("n_frames"),
            F.round(
                F.avg(F.when(~F.col("is_cut"), F.col("diff_energy"))), 6
            ).alias("mean_diff"),
        )
        .select(*[f.name for f in CLIP_SCHEMA.fields])
    )


RESAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("samples", T.BinaryType()),
    ]
)

AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sum_q", T.LongType()),
        T.StructField("sumsq_q", T.LongType()),
        T.StructField("first_val", T.IntegerType()),
        T.StructField("last_val", T.IntegerType()),
    ]
)


def resample_audio(clips: DataFrame, dst_rate: int = 12000) -> DataFrame:
    """INTEGER-EXACT linear-interpolation resample of PCM16 clips — the
    sample-rate normalisation step an audio training corpus runs before
    feature extraction (every clip to one canonical rate).

    All interpolation math is integer: output sample i sits at source
    position i*src/dst, split as idx = floor((i*src) / dst) and
    fractional numerator f = (i*src) mod dst; the value is
    x[idx] + floor((x[idx+1]-x[idx]) * f / dst) — FLOOR division
    (numpy ``//``; trunc would differ on falling edges where the delta
    is negative — any port must floor), clamped at the tail.
    Bit-identical on every engine/partitioning, no float rounding
    ambiguity. Stateless per clip ⇒ one mapInPandas pass, rows stream
    one Arrow batch per input batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                src_rate, pcm = decode_audio(bytes(row["content"]))
                x = pcm.astype(np.int64)
                n_out = (len(x) * dst_rate) // src_rate if len(x) else 0
                if n_out == 0:
                    out = np.zeros(0, dtype="<i2")
                else:
                    i = np.arange(n_out, dtype=np.int64)
                    pos = i * src_rate
                    idx = pos // dst_rate
                    f = pos % dst_rate
                    idx = np.minimum(idx, len(x) - 1)
                    nxt = np.minimum(idx + 1, len(x) - 1)
                    out = (x[idx] + ((x[nxt] - x[idx]) * f) // dst_rate).astype("<i2")
                rows.append(
                    {
                        "path": row["path"],
                        "sample_rate": int(dst_rate),
                        "n_samples": int(len(out)),
                        "samples": out.tobytes(),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESAMPLE_SCHEMA.fields])

    return clips.select("path", "content").mapInPandas(kernel, RESAMPLE_SCHEMA)


def audio_stats(resampled: DataFrame) -> DataFrame:
    """Exact integer summary of a PCM16 payload column (count, int64
    sum and sum-of-squares, first/last samples) — the per-clip
    fingerprint used to golden-check resampling end-to-end without
    shipping every sample through the oracle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                x = np.frombuffer(row["samples"], dtype="<i2").astype(np.int64)
                rows.append(
                    {
                        "path": row["path"],
                        "sample_rate": int(row["sample_rate"]),
                        "n_samples": int(len(x)),
                        "sum_q": int(x.sum()) if len(x) else 0,
                        "sumsq_q": int((x * x).sum()) if len(x) else 0,
                        "first_val": int(x[0]) if len(x) else 0,
                        "last_val": int(x[-1]) if len(x) else 0,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_STATS_SCHEMA.fields])

    return resampled.mapInPandas(kernel, AUDIO_STATS_SCHEMA)
