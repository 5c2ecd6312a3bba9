"""Aggregation operators (A1-A7 — SURVEY §2.4).

Reference sites: argmin/first-row-per-group (create_frame_summary_
features.py:23 idxmin), group counts (tracking_qc.qmd:45-51), the x4
min/median/max/n summarise blocks (tracking_qc.qmd:55-63,115-122,
156-164; segmentation_qc.qmd:182-191,205-214 — R's exact median, NOT
percentile_approx, per SURVEY §7), group sums (tracking_qc.qmd:151-155),
label histograms (segmentation_qc.qmd:159-170), global min/max
normalisation (frame_features_image.py:25-26).

Scale notes:
- ``argmin_rows`` uses a per-key window row_number (one shuffle on the
  key), not groupBy+join-back (two shuffles).
- ``multistat_summary`` uses Spark's exact ``median`` — a full sort per
  group under the hood; at 100 TB prefer percentile_approx unless the
  oracle-exactness contract requires the exact form (it does here).
- ``minmax_normalize`` uses an unordered partition window: min/max are
  computed in the same single shuffle that distributes the groups; no
  join-back, map-side partial aggregation applies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.functions.scalars import round_z


def argmin_rows(df: DataFrame, keys: list[str], order: list[Column | str]) -> DataFrame:
    """A1: the first row per key group under `order` (must be a total
    order for determinism — include a unique tiebreaker)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def multistat_summary(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """A3: min / exact-median / max / count per group (the reference's
    4x-repeated R summarise block)."""
    v = F.col(value)
    return df.groupBy(*keys).agg(
        F.min(v).alias("min_val"),
        F.median(v).alias("median_val"),
        F.max(v).alias("max_val"),
        F.count(F.lit(1)).alias("n"),
    )


def value_histogram(df: DataFrame, value: str, bucket_width: float) -> DataFrame:
    """A5: count-by-bucket histogram (label histogram analogue)."""
    bucket = F.floor(F.col(value) / F.lit(float(bucket_width))).cast("int")
    return (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def minmax_normalize(df: DataFrame, keys: list[str], value: str, out_col: str = "norm_value") -> DataFrame:
    """A6 + F10: per-group min-max normalisation to [0,1] via an
    unordered window (min/max over the whole partition), NULL when the
    group is constant (min == max)."""
    w = Window.partitionBy(*keys)
    v = F.col(value)
    mn, mx = F.min(v).over(w), F.max(v).over(w)
    return df.withColumn(
        out_col,
        F.when(mx == mn, F.lit(None).cast("double")).otherwise((v - mn) / (mx - mn)),
    )


def limit_per_group(
    df: DataFrame, keys: list[str], order: list[Column | str], k: int
) -> DataFrame:
    """Deterministic per-group top-k (corpus balancing: 'at most k docs
    per source/language'). Window row_number under a total order — one
    shuffle on the group key; rank column dropped."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def group_ols(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group closed-form least-squares trend (r8): slope /
    intercept / R² of ``value ~ seconds-since-group-start`` from the
    five power sums — the per-track drift/trend statistic the
    reference computes per cell track in R (tracking_qc.qmd's
    per-track summaries; time_series_features.py:13-15 [pkg] trend
    slot), as one shuffle with map-side-combinable sums instead of a
    per-group model fit.

    x is anchored at the PER-GROUP min timestamp via an unordered
    partition window (the minmax_normalize idiom: the window min is
    computed in the same single shuffle that distributes the groups,
    and the groupBy reuses that partitioning — no second Exchange,
    no join-back). The r8 review killed the previous fixed-epoch
    anchor with a reproduced failure: at x ~ 5e7 s from a global t0,
    n·sxx and sx² grow to ~1e21 where a double ulp is ~6e5, so the
    subtraction n·sxx − sx² cancels catastrophically — a 100-point
    perfectly linear series spanning 2 s returned NULL, a 5 s span
    returned slope 16.95 for a true 20.0 — while the mirrored oracle
    agreed, hiding the damage from the gate. Group-start anchoring
    keeps x = elapsed-within-group (track-scale, not epoch-scale), so
    the power sums stay far from the cancellation regime for any
    realistic span. Intercept is therefore the fitted value at the
    group's FIRST observation.

    Rows with a NULL timestamp or NULL value are excluded from the
    fit entirely (r8 review: per-sum null-skipping made the five sums
    range over different row subsets, silently corrupting every
    derived statistic); n_obs counts fitted rows only.

    Cross-engine bit-reproducibility follows the a8 idiom: each
    product is computed in DOUBLE (identical IEEE result in any
    engine), CAST to a decimal wide enough to hold it exactly at
    realistic group sizes, and SUMMED in decimal (exact, order-free);
    the final slope/intercept/R² arithmetic runs on the decimal sums
    cast back to double, identically on both sides, then rounds to
    6dp.

    Degenerate groups (n < 2 or zero x-variance) yield NULL slope,
    NULL intercept and NULL r2; zero y-variance with positive
    x-variance yields slope 0 and NULL r2 (0/0 in the R² ratio).

    Input bounds (r9 advisor; the t21 ppm-bound convention): the
    decimal sums are exact only while every term fits its cast —
    sy needs |y| ≤ ~1e17/n_rows_per_group (decimal(24,6)), syy needs
    y² ≤ ~1e26/n (decimal(38,12)), and sxx needs span² ≤ ~1e26/n
    seconds² (a 30-year span at a billion rows per group is ~9e17 ≪
    1e26). Outside the bound the behaviour DIVERGES by engine, not
    just by value: non-ANSI Spark's overflowing decimal cast yields
    NULL (silent NULL slope) while DuckDB raises — so a caller with
    |y| beyond ~1e14 at realistic group sizes must pre-scale the
    value column. Realistic telemetry/track magnitudes sit orders of
    magnitude inside the bound.
    """
    valid = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    )
    us = F.unix_micros(F.col(ts_col))
    t0_us = F.min(us).over(Window.partitionBy(*keys))
    staged = valid.select(
        *keys,
        ((us - t0_us).cast("double") / F.lit(1_000_000.0)).alias("_x"),
        F.col(value_col).cast("double").alias("_y"),
    )
    x = F.col("_x")
    y = F.col("_y")
    agg = staged.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(x.cast("decimal(24,6)")).alias("sx"),
        F.sum(y.cast("decimal(24,6)")).alias("sy"),
        F.sum((x * x).cast("decimal(38,12)")).alias("sxx"),
        F.sum((x * y).cast("decimal(38,10)")).alias("sxy"),
        F.sum((y * y).cast("decimal(38,12)")).alias("syy"),
    )
    n = F.col("n_obs").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    dx = n * sxx - sx * sx  # n² · var(x)
    dy = n * syy - sy * sy  # n² · var(y)
    cov = n * sxy - sx * sy
    slope = F.when(dx > 0, cov / dx)
    intercept = F.when(dx > 0, (sy - (cov / dx) * sx) / n)
    r2 = F.when((dx > 0) & (dy > 0), (cov * cov) / (dx * dy))
    return agg.select(
        *keys,
        "n_obs",
        round_z(slope, 6).alias("slope"),
        round_z(intercept, 6).alias("intercept"),
        round_z(r2, 6).alias("r2"),
    )


def column_profile(df: DataFrame, numeric_cols: list[str]) -> DataFrame:
    """One-pass multi-column table profile (r8): per numeric column,
    row count, null count, EXACT distinct count, min, max and an
    exact decimal-summed mean — the "profile before you pipeline"
    step a 100 TB ingest runs to pick partition keys, spot
    null-degenerate columns and size dictionaries (the engine-side
    generalisation of the reference's QC summarise blocks,
    tracking_qc.qmd:55-63 / segmentation_qc.qmd:182-191, which
    profile one metric at a time in R).

    Scale shape — the two idioms that matter at 100 TB:

    1. UNPIVOT, not per-column jobs: `df.unpivot` melts k columns to
       (col_name, value) rows inside the same scan, so the table is
       read ONCE for the whole profile instead of k times. (The melt
       lowers to an Expand — k projections per input row — but it is
       fused in the same whole-stage-codegen pipeline as the scan and
       never materialised.)
    2. Two-level aggregation for exact distinct: the partial
       HashAggregate on (col_name, value) sits directly on the Expand
       output INSIDE the scan stage, so the k× replication collapses
       to at most Σ|distinct(col)| rows map-side — only those cross
       the network. The per-column rollup is then a second, tiny
       keyed aggregation. Nothing k×-sized is ever shuffled, and the
       same pre-aggregated rows also carry min/max/null/mean, which a
       `k × count(distinct)` formulation would recompute per column.

    Mean exactness follows the a8/a13 idiom: value cast to
    decimal(24,6) per distinct value, multiplied by the exact integer
    multiplicity, summed in decimal (order-free), divided in double
    on both engines, rounded to 6dp.
    """
    melted = df.select(
        *[F.col(c).cast("double").alias(c) for c in numeric_cols]
    ).unpivot([], numeric_cols, "col_name", "value")
    per_value = melted.groupBy("col_name", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    nonnull_cnt = F.when(F.col("value").isNotNull(), F.col("cnt")).otherwise(
        F.lit(0)
    )
    return (
        per_value.groupBy("col_name")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.sum(
                F.when(F.col("value").isNull(), F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_null"),
            F.count("value").alias("n_distinct"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum(
                F.col("value").cast("decimal(24,6)") * F.col("cnt")
            ).alias("_sum_dec"),
            F.sum(nonnull_cnt).alias("_n_nonnull"),
        )
        .select(
            "col_name",
            "n_rows",
            "n_null",
            "n_distinct",
            "min_value",
            "max_value",
            F.round(
                F.col("_sum_dec").cast("double")
                / F.col("_n_nonnull").cast("double"),
                6,
            ).alias("mean_value"),
        )
    )


def profile_partial(df: DataFrame, numeric_cols: list[str]) -> DataFrame:
    """MERGEABLE profile partial — the incremental-maintenance half of
    :func:`column_profile`: one compact row per column carrying only
    ALGEBRAIC statistics (count, null count, min, max, exact decimal
    sum, non-null count). Partials from disjoint slices merge with
    :func:`merge_profiles` into exactly the whole-table profile — the
    100 TB pattern where each daily ingest profiles its own slice once
    and the monthly/corpus profile is a k-row reduction of stored
    partials, never a rescan.

    Deliberately EXCLUDED: exact distinct counts — they are not
    algebraically mergeable from O(1) state (merging needs the value
    sets themselves, i.e. the full per-value layer column_profile
    shuffles, or an HLL sketch with its error bar). A consumer that
    needs distincts across merges stores the per-value counts (heavy)
    or accepts the sketch; the profile-merge contract stays exact for
    everything it emits. Decimal sums are order-free (exact, associative)
    so merge order can never change the mean."""
    melted = df.select(
        *[F.col(c).cast("double").alias(c) for c in numeric_cols]
    ).unpivot([], numeric_cols, "col_name", "value")
    return melted.groupBy("col_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("value").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).alias("n_null"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(F.col("value").cast("decimal(24,6)")).alias("_sum_dec"),
        F.count("value").alias("_n_nonnull"),
    )


def merge_profiles(partials: list[DataFrame]) -> DataFrame:
    """Reduce :func:`profile_partial` outputs from disjoint slices
    into the whole-table profile: counts and exact decimal sums add,
    min/max fold — every emitted statistic is exactly what
    column_profile (minus n_distinct) computes on the union. The
    reduction input is k rows per column (k = number of partials), so
    merging a year of daily profiles is a ~365-row-per-column job."""
    u = partials[0]
    for p in partials[1:]:
        u = u.unionAll(p)
    return (
        u.groupBy("col_name")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_null").alias("n_null"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.sum("_sum_dec").alias("_sum_dec"),
            F.sum("_n_nonnull").alias("_n_nonnull"),
        )
        .select(
            "col_name",
            "n_rows",
            F.col("n_null").cast("long").alias("n_null"),
            "min_value",
            "max_value",
            F.round(
                F.col("_sum_dec").cast("double")
                / F.col("_n_nonnull").cast("double"),
                6,
            ).alias("mean_value"),
        )
    )


def string_profile(df: DataFrame, string_cols: list[str]) -> DataFrame:
    """String-column twin of :func:`column_profile` (same two-level
    scale shape: one unpivot scan, map-side (col_name, value) collapse,
    tiny per-column rollup): rows, nulls, EXACT distinct, min/max byte
    length and exact average byte length — the profile that sizes
    dictionaries and flags constant or free-text columns before
    choosing partition/bucket keys. Length moments are exact integer
    sums over the pre-aggregated distinct values (length x
    multiplicity), divided and rounded to 6dp at the end.
    """
    melted = df.select(
        *[F.col(c).cast("string").alias(c) for c in string_cols]
    ).unpivot([], string_cols, "col_name", "value")
    per_value = melted.groupBy("col_name", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    nonnull_cnt = F.when(F.col("value").isNotNull(), F.col("cnt")).otherwise(
        F.lit(0)
    )
    vlen = F.octet_length("value")
    return (
        per_value.groupBy("col_name")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.sum(
                F.when(F.col("value").isNull(), F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_null"),
            F.count("value").alias("n_distinct"),
            F.min(vlen).alias("min_len"),
            F.max(vlen).alias("max_len"),
            F.sum(vlen.cast("bigint") * F.col("cnt")).alias("_len_sum"),
            F.sum(nonnull_cnt).alias("_n_nonnull"),
        )
        .select(
            "col_name",
            "n_rows",
            "n_null",
            "n_distinct",
            "min_len",
            "max_len",
            F.round(
                F.col("_len_sum").cast("double")
                / F.col("_n_nonnull").cast("double"),
                6,
            ).alias("avg_len"),
        )
    )


def merge_keyed_rollup(
    partials: list[DataFrame],
    keys: list[str],
    merges: dict[str, str],
) -> DataFrame:
    """Incremental maintenance for KEYED rollups (r10) — the
    materialized-view counterpart of ``merge_profiles`` (which merges
    whole-table profiles): given per-slice rollup partials with the
    same (keys, measures) schema, fold them into the rollup of the
    union WITHOUT rescanning any slice. ``merges`` maps each measure
    column to its fold ('sum' for counts and decimal-exact sums,
    'min'/'max' for extrema) — the measures must be algebraic monoids
    for merge==rescan to hold (exact distincts are NOT; that trade is
    documented at merge_profiles, HLL is the mergeable substitute).

    Scale shape: the fold is a unionByName + ONE combinable groupBy
    over |groups_old| + |groups_delta| ROWS — the base table is never
    rescanned, so maintaining a 100 TB fact's published rollup costs
    O(delta + affected groups) per ingest batch instead of O(base).
    Decimal sums keep the merge order-free (the a8/a13 exactness
    idiom): fold order cannot change the result, so slices can merge
    in any order or in parallel trees.
    """
    if not partials:
        raise ValueError("merge_keyed_rollup: empty partials list")
    # Fail LOUDLY on a non-algebraic fold (r11 advisor): getattr(F, how)
    # would happily build 'avg'/'first'/... which silently breaks the
    # documented merge==rescan contract (avg of averages is not the
    # average; first is order-dependent). Only monoid folds are legal.
    _MONOID_FOLDS = {"sum", "min", "max"}
    bad = {c: h for c, h in merges.items() if h not in _MONOID_FOLDS}
    if bad:
        raise ValueError(
            f"merge_keyed_rollup: non-algebraic folds {bad}; "
            f"allowed: {sorted(_MONOID_FOLDS)} (avg -> merge sum+count "
            "and divide at read; distinct -> HLL sketches, see a20)"
        )
    u = partials[0]
    for p in partials[1:]:
        u = u.unionByName(p)
    aggs = [getattr(F, how)(col).alias(col) for col, how in merges.items()]
    return u.groupBy(*keys).agg(*aggs)


def kmv_theta(h_col):
    """Map a stored KMV hash (BIGINT in [0, 2^60), see kmv_sketch) to
    its sampling rate θ ∈ (0, 1]. The division to double happens ONLY
    here, at estimate time — storage and h-equality joins stay on the
    exact 60-bit integer, and the 53-bit mantissa loss affects only
    the final estimate's ~15 significant digits, never which keys
    collide or where the k-th-value cut lands."""
    return h_col.cast("double") / F.lit(float(2**60))


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    tag_col: str,
    k: int = 1024,
) -> DataFrame:
    """KMV (k-minimum-values / theta-style) distinct sketch per tag
    (r13, a28 — closing the gap a23 records: "HLL has no native
    intersect... the honest bar for why theta sketches exist when
    intersections are small"). Public algorithm: Beyer et al., "On
    Synopses for Distinct-Value Estimation" (SIGMOD'07); the theta
    framework is Dasgupta et al. / Apache DataSketches.

    Each tag's sketch is the k smallest values of a uniform hash
    h(key) ∈ [0,1): a fixed-rate uniform sample of the tag's DISTINCT
    keys whose rate θ = k-th smallest h is KNOWN from the sketch
    itself. That sampling semantics is what HLL lacks: sketches
    INTERSECT by set arithmetic on retained hashes (every hash below
    min(θ_a, θ_b) is retained by both sketches iff the key is in both
    sets), so the intersection estimate j/θ carries a per-estimate
    binomial bound ~√j/θ that scales with the INTERSECTION, not with
    the unions.

    Physical shape, scale-safe bottom-k: one distinct shuffle on
    (tag, key), then per-(tag, input-partition) row_number windows —
    the per-partition heaps — then a k·P-row merge window per tag.
    Bottom-k is a semilattice, so the result is invariant to how the
    partials were grouped; hashing is unseeded md5 (deterministic
    across runs and engines). Returns (tag, h) — k rows per tag (all
    rows when a tag has < k distinct keys, in which case its θ is 1
    and every downstream estimate is exact).

    At 100 TB: the corpus is touched by exactly the one distinct
    shuffle any exact count-distinct already pays; everything after
    operates on ≤ k·P then ≤ k rows per tag. Stored per-segment
    sketches union/intersect at O(k) without rescanning (the a29
    lifecycle), and h-equality joins between sketches stand in for
    key-equality with 2^-60 collision odds.

    ``h`` is stored as a BIGINT in [0, 2^60) (r14, advisor-low: the
    earlier double form squeezed 60 hash bits through a 53-bit
    mantissa, so h-equality collided at ~2^-53, not the documented
    2^-60, and mantissa ties could perturb the k-th-value cut).
    Ordering is identical (non-negative ints); θ is derived at
    estimate time as h/2^60 via kmv_theta(). Stored tables are
    version-guarded by kmv_check_format (the schema is the marker).

    COMPOSITION WITH MOR DELETES (r15 rule, the r14 verdict's ask #6):
    a KMV sketch is NOT subtractive — hashes of deleted keys cannot be
    removed from a stored sketch, because the sketch retains only the
    bottom-k and eviction history is gone. So a sketch built at
    snapshot S serves estimates for S; after a delete commit touches
    the segment it summarizes, the stale sketch OVER-counts by at most
    the deleted distinct keys (deletes only remove set members, and
    the retained-hash sample can only shrink toward the true set). The
    rule: segments with outstanding (or folded) deletes REBUILD their
    sketch from the delete-masked read (snapshot_read applies the
    masks, so the rebuild is one pass over the surviving segment —
    never the corpus); until the rebuild, estimates carry the
    documented one-sided bound. tests/test_aggregates.py pins both
    halves (stale ≥ truth; rebuilt-from-masked-read == sketch of the
    surviving keys, exactly, by the semilattice property)."""
    h = F.conv(
        F.substring(F.md5(F.col("_k").cast("string")), 1, 15), 16, 10
    ).cast("bigint").alias("h")
    hashed = (
        df.select(F.col(tag_col).alias("tag"), F.col(key_col).alias("_k"))
        .dropDuplicates(["tag", "_k"])
        .select("tag", h)
    )
    part = hashed.withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy("tag", "_pid").orderBy("h")
    cand = (
        part.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_pid")
    )
    w2 = Window.partitionBy("tag").orderBy("h")
    return (
        cand.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_check_format(df: DataFrame) -> DataFrame:
    """Guard a STORED KMV sketch table against the r13 on-disk format
    (r15, advisor-low): kmv_sketch's ``h`` changed from DOUBLE theta
    in [0,1) to BIGINT in [0, 2^60) in r14, and a v1 table read
    through the v2 estimate path (kmv_theta divides by 2^60) yields
    theta ~= 0 and absurd estimates with no error. The parquet schema
    IS the version marker — bigint h = v2, double h = v1 — so the
    check needs no side-channel stamp and cannot drift from the data.
    Raises ValueError naming the migration (rebuild the sketch; v1
    retained less entropy than v2, so an in-place upscale would fake
    precision that was never stored). Every stored-sketch read path
    (the a29 lifecycle) goes through this guard."""
    dt = dict(df.dtypes).get("h")
    if dt is None:
        raise ValueError("not a KMV sketch table: no 'h' column")
    if dt != "bigint":
        raise ValueError(
            f"KMV sketch format mismatch: stored h is {dt}, expected "
            "bigint (v2, r14+). A double h is a v1 (pre-r14) sketch "
            "whose theta-in-[0,1) encoding mis-scales by 2^60 under "
            "the v2 estimate path — rebuild the sketch from source "
            "(v1 kept only 53 of 60 hash bits; upscaling in place "
            "would fabricate precision)."
        )
    return df


def kmv_merge(sketches: DataFrame, k: int, keys: tuple[str, ...] = ()) -> DataFrame:
    """Merge stored KMV sketches to the bottom-k per ``keys`` group
    (the whole input as one group when empty) — correct because
    bottom-k is a semilattice: the k smallest of a union equal the k
    smallest of the union of per-part bottom-k's. Duplicate hashes
    across parts (the same key observed by two segments) collapse to
    ONE slot (collect_set), matching kmv_sketch's distinct-keys
    semantics.

    Physical shape (r15, the r14 verdict's ask #7): one AGGREGATE —
    collect_set → sort_array → slice → explode — instead of a
    row_number over an unpartitioned window, which planned a
    single-partition WindowExec and warned on every run. Inputs are
    sketch-sized by construction (≤ k rows per input sketch), so the
    per-group set is bounded at k * n_parts; never feed corpus data
    through this."""
    grouped = sketches.groupBy(*[F.col(c) for c in keys]).agg(
        F.slice(F.sort_array(F.collect_set("h")), 1, k).alias("_hs")
    )
    return grouped.select(
        *[F.col(c) for c in keys], F.explode("_hs").alias("h")
    )


def kmv_value_sample(
    df: DataFrame,
    key_col: str,
    value_col: str,
    tag_col: str,
    k: int = 2048,
) -> DataFrame:
    """Deterministic MERGEABLE uniform row sample per tag (r15, a31) —
    the KMV bottom-k machinery reused as a QUANTILE sketch: keep the
    k rows whose md5(key) hashes are smallest, CARRYING the value
    column. Because the hash is uniform and ``key_col`` is unique per
    row (the caller's contract — a repeated key would be sampled as
    one unit), the retained rows are a simple random sample without
    replacement of the tag's rows, and the sample's empirical CDF
    estimates any quantile with the DKW bound sup|F_m − F| ≤
    √(ln(2/δ)/2m) — an honest, distribution-free error bar per
    estimate, the quantile analogue of the KMV distinct bound.

    Mergeable by the same semilattice as kmv_sketch: bottom-k of a
    union equals bottom-k of unioned bottom-k's, so per-segment
    stored samples fold at O(k) per tag without rescanning
    (kmv_sample_merge), and the merged sample is hash-identical to a
    one-shot sample of the union — the storable/streamable property
    count-min (frequency) and KMV (cardinality) already have; this
    completes the trio with quantiles. Physical shape identical to
    kmv_sketch: one narrow shuffle, per-partition bottom-k windows,
    then a k·P-row merge window per tag. Returns (tag, h, v)."""
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint").alias("h")
    rows = df.select(
        F.col(tag_col).alias("tag"), h, F.col(value_col).alias("v")
    )
    part = rows.withColumn("_pid", F.spark_partition_id())
    w1 = Window.partitionBy("tag", "_pid").orderBy("h")
    cand = (
        part.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_pid")
    )
    w2 = Window.partitionBy("tag").orderBy("h")
    return (
        cand.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_sample_merge(
    samples: DataFrame, k: int, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Merge stored value samples to the bottom-k per ``keys`` group —
    kmv_merge's (tag, h, v) twin: one sketch-sized aggregate
    (collect_set of (h, v) structs → sort_array, which orders by h
    first → slice → explode), no unpartitioned window. Duplicate
    (h, v) pairs across segments (the same row observed twice)
    collapse to one slot. Sketch-sized inputs only."""
    grouped = samples.groupBy(*[F.col(c) for c in keys]).agg(
        F.slice(
            F.sort_array(F.collect_set(F.struct("h", "v"))), 1, k
        ).alias("_s")
    )
    return grouped.select(
        *[F.col(c) for c in keys], F.explode("_s").alias("_e")
    ).select(
        *[F.col(c) for c in keys],
        F.col("_e.h").alias("h"),
        F.col("_e.v").alias("v"),
    )
