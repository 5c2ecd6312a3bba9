"""Scalar expression helpers (SURVEY §2.8).

All pure Column expressions — they stay inside whole-stage codegen; no
Python executes per row. Each cites the reference behaviour it
re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def euclid(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Euclidean distance (F5 — create_frame_summary_features.py:28-30,35).

    Uses plain multiplication (not pow) so the IEEE result is bit-identical
    across engines — required for oracle hash equality.
    """
    dx = x1 - x2
    dy = y1 - y2
    return F.sqrt(dx * dx + dy * dy)


def round_z(col: Column, scale: int = 6) -> Column:
    """Round to `scale` decimals and normalise IEEE ``-0.0`` to ``+0.0``.

    The driver's correctness gate hashes raw float bits, and the two
    engines disagree on the sign of a rounded tiny-negative value:
    Spark's ``round`` goes through BigDecimal HALF_UP which drops the
    sign (``round(-1e-9, 6) = +0.0``) while DuckDB's ROUND keeps IEEE
    ``-0.0`` — reproduced on a13's per-group OLS slope (r8 driver red:
    one ``+0.0`` vs ``-0.0`` cell in 600). Adding ``+ 0.0`` after the
    round is the IEEE identity everywhere except ``-0.0 + 0.0 = +0.0``
    and is NULL-transparent, so applying it to BOTH engine and oracle
    sides makes the bit-level hash agree without changing any other
    value. Use this (with a matching ``ROUND(...) + 0.0`` in the
    oracle SQL) for every rounded output whose argument can be
    tiny-negative: signed slopes/intercepts, z-scores, skewness,
    descent sums, cosine similarities.
    """
    return F.round(col, scale) + F.lit(0.0)


def safe_ratio(num: Column, den: Column, default: float = 0.0) -> Column:
    """0/0-safe ratio (F7 — create_frame_summary_features.py:40-41:
    D2T = Dis/Trac with 0/0 → 0)."""
    return F.when(den == 0, F.lit(default)).otherwise(num / den)


def natural_sort_key(col: Column) -> Column:
    """Numeric-aware sort key (O2 — natsorted at main.nf:353-355).

    Returns a struct (first-embedded-integer, full-string); ordering by it
    sorts `img_2` before `img_10`. A full natsort tokenises every run of
    digits; the reference's filenames embed a single frame counter, so one
    extracted integer (ties broken by the raw string) reproduces its order.
    """
    num = F.regexp_extract(col, r"(\d+)", 1)
    return F.struct(
        F.when(num == "", F.lit(None)).otherwise(num.cast("long")).alias("n"),
        col.alias("s"),
    )


def portable_hash64(col: Column, seed: str = "") -> Column:
    """Deterministic 32-bit-range hash computable identically in Spark and
    ANSI SQL engines: first 8 hex digits of md5, parsed base-16.

    Spark's builtin ``hash``/``xxhash64`` have engine-specific seeds, so
    they can't be oracle-checked; md5 is standard everywhere. Used for
    MinHash signatures and fingerprints (dedup module). At 100 TB scale
    md5-per-shingle is still JVM-side codegen (no Python), ~100ns/row.
    """
    return F.conv(F.substring(F.md5(F.concat(F.lit(seed), col)), 1, 8), 16, 10).cast("bigint")


def nondeterministic_zero() -> Column:
    """``rand(0) * 0.0``: always exactly 0.0, but NON-deterministic — the
    engine's one Catalyst barrier. Added to a projected field (the dedup
    verify's intersection size) or OR-ed into one as the never-true
    disjunct ``> 1.0`` (the gopher ``gate_mask`` gate), it keeps that
    field evaluated once, where it is projected. Filter and Project are
    separate codegen operators with no cross-operator subexpression
    elimination, so a re-inlined expensive field runs once per
    reference. It relies on two Catalyst behaviours:

    1. The optimizer never copies a non-deterministic expression:
       CollapseProject does not re-inline the field into its consumers,
       and PushPredicateThroughNonJoin does not push a filter through a
       project holding it.
    2. ConstantFolding keeps ``rand`` (non-deterministic), and the
       Multiply hides its [0, 1) range from the rand-range comparison
       simplification, so ``zero > 1.0`` is not folded to false.

    Values never change. Call sites and their plan pins: SCALE.md
    Spark-upgrade checklist item 1."""
    return F.rand(0) * F.lit(0.0)
