"""Scale-path operators: bucketed co-located joins and skew salting.

These are the two levers the 100 TB deployment pulls that small-scale
code never needs (SURVEY §4; engine-side additions):

- **Bucketing** (`publish_bucketed` / `bucketed_join_ready`): the fact
  tables of the domain (spots, frame features) are re-joined on the
  same keys at every stage (J2/J3). Writing them bucketed+sorted by
  that key makes every later join a zero-shuffle zip of co-located
  buckets — `.explain` shows SortMergeJoin with NO Exchange on either
  side. At 100 TB that's the difference between re-shuffling petabytes
  per query and never shuffling them again.
- **Salting** (`salted_join`): a skewed build key (one hot cell/frame/
  token) overloads a single reducer. Salting splits each hot left key
  into `salt` shards and replicates the matching right rows per shard:
  shuffle balance restored at the cost of a bounded `salt`× replication
  of the (small) right side. AQE's skew-join handles moderate skew
  automatically; salting is the deterministic heavy-skew fallback.
- **Global numbering** (`global_row_number`): a `row_number OVER
  (ORDER BY ...)` with no PARTITION BY funnels the whole relation
  through ONE reducer — the classic correct-but-scale-killer. The
  two-pass partition-offset form here keeps every stage parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def publish_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """S15 scale variant: persist a stage output bucketed (and sorted)
    by its join key so downstream equi-joins on that key are
    exchange-free. Hive-style bucketing via saveAsTable (bucket metadata
    lives in the catalog)."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols is None:
        sort_cols = bucket_cols
    w = w.sortBy(*sort_cols)
    if path is not None:
        # external bucketed table: bucket metadata in the catalog,
        # files at the caller's path (bench/verify staging dirs)
        df.sparkSession.sql(f"DROP TABLE IF EXISTS {table}")
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def publish_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """S15 scale variant #2: hive-style partition layout — one
    directory per distinct partition-column tuple. The complement of
    bucketing: bucketing co-locates JOIN keys, partitioning prunes
    SCAN predicates. A reader filtering on a partition column never
    opens the other directories (`.explain` shows the predicate under
    ``PartitionFilters`` and a pruned partition count), so a
    100 TB corpus partitioned by e.g. (source, language, date) serves
    a single-slice query at the slice's cost, not the corpus's.
    Keep partition cardinality bounded (≤ ~10k dirs): one dir per
    tuple; high-cardinality keys belong in bucketing or z-order
    (operators.scale.zorder_key), not the directory tree."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def overwrite_partitions_dynamic(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Backfill/restatement sink for a partitioned publish: replace
    ONLY the partition directories present in ``df``, leaving every
    other partition byte-untouched. This is how a 100-TB corpus takes
    a single-day (or single-source) correction — rewrite the touched
    slice at slice cost, never the table.

    Mechanism: the per-write option ``partitionOverwriteMode=dynamic``
    scopes the overwrite to the incoming frame's partition tuples. It is
    a writer option, not a session conf, so the session is never
    mutated and a concurrent query never sees ``dynamic`` — under the
    default (static) mode the very same ``mode("overwrite")`` call
    DELETES the whole table first and leaves only the backfilled
    partitions, which is the data-destroying trap this helper exists
    to fence off (tests/test_scale.py pins both directions)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def compact_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    sort_cols: list[str],
    max_records_per_file: int = 0,
    target_partitions: int | None = None,
) -> None:
    """Small-file compaction — the table-maintenance op every long-run
    ingest needs: streaming sinks and fine-grained backfills leave
    thousands of KB-sized files, and at 100 TB the scan cost becomes
    footer/open-bound (one task per tiny file, NameNode/listing
    pressure) instead of byte-bound. Rewrite the directory as few,
    size-targeted, RANGE-SORTED files:

      - ``repartitionByRange(sort_cols)`` + ``sortWithinPartitions``
        makes each output file a disjoint sorted key range, so the
        parquet min/max footer stats prune point/range scans on the
        sort key (the z-order single-key special case — o7 covers the
        multi-key form);
      - ``maxRecordsPerFile`` caps file size from above, the partition
        count from below — together they put files inside the
        [open-cost, task-skew] window;
      - values are untouched by construction (pure relayout); the o15
        driver oracle hash-checks exactly that, and the file-count
        budget is pinned by tests/test_scale.py.

    Compact into a NEW directory then swap — never in place: readers
    hold the old listing mid-rewrite (same publish-then-cut discipline
    as sources/io.publish)."""
    df = spark.read.parquet(path)
    n = target_partitions or max(1, df.rdd.getNumPartitions() // 8)
    w = (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
    )
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(out_path)


def merge_rows_cow(
    spark: SparkSession,
    table_dir: str,
    delta: DataFrame,
    key_col: str = "event_id",
    out_slice: str = "merge",
    commit_extra: dict | None = None,
    use_manifest_stats: bool = False,
) -> tuple[int, dict]:
    """Row-level MERGE (upsert) via file-level copy-on-write over the
    snapshot layer (r11, o17) — the Delta/Iceberg MERGE core, and the
    closure of o16's recorded constraint ("partition keys are immutable
    under partition-scoped merging — a moved row needs a delete-vector
    or full-table pass"): because a snapshot manifest is an explicit
    file list with partition VALUES living in the data, a row whose
    partition attribute changes is just an updated row in a rewritten
    file — no directory move exists to go wrong.

    Protocol, per the lakehouse playbook:
      1. PRUNE: per-file [min,max] stats on the merge key, joined
         (files LEFT SEMI range-join broadcast delta keys) to find
         candidate files — a superset of true hits, exactly what
         footer/manifest stats give. Here the stats are recomputed with
         one key-column scan over ``_metadata.file_path``; at cluster
         scale they are written INTO the manifest at commit time so
         pruning is a metadata-only operation (recorded trade).
      2. REWRITE only candidate files: survivors = candidates
         anti-join delta keys (latest-wins), plus ALL delta rows
         (updates, partition-moving updates, and inserts uniformly —
         a key absent from the base is an insert by construction).
      3. COMMIT a new snapshot whose file list is (old - candidates) +
         rewritten, via the s21 CAS — untouched files are REUSED
         verbatim (same paths, zero bytes moved), old snapshots stay
         readable (time travel over the merge boundary).

    Cost at 100 TB: O(candidate files + delta), not O(table); with a
    key-clustered layout (compact_files / z-order) candidates ≈ true
    hits. Returns (new_snapshot_id, info) where info carries the
    kept/hit/new file lists so callers and tests can pin the pruning
    actually pruned. Delta keys are broadcast for the prune and the
    anti-join — right-sized for correction batches; a delta too big to
    broadcast should stage to a dir and shuffle-join (same plan shape,
    recorded alternative).

    ``use_manifest_stats`` (r15, closing step 1's recorded trade
    behind an opt-in — the e32-then-c24 pattern: the new path ships
    proven by its own query, o30, while every existing caller keeps
    its byte-identical path and its proof): when True, the candidate
    detection consults the COMMITTED per-file [min,max] bounds from
    the snapshot manifest instead of rescanning the key column; only
    files the manifest carries no bounds for are recomputed (the
    o19 writer-pays contract — stats never gate correctness, so an
    unbounded file is scanned, never mis-skipped). info then reports
    {stats_from_manifest, stats_recomputed} so callers can pin that
    the prune really was metadata-only."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        _manifest_files_and_stats,
        empty_with_schema,
        from_driver_rows,
        snapshot_commit_atomic,
        snapshot_current,
        snapshot_data_files,
        snapshot_files,
        snapshot_manifest,
    )

    parent = snapshot_current(table_dir)
    # bootstrap (r11, e28): merging into an EMPTY table is the first
    # micro-batch of a streaming MERGE sink — no base files, every
    # delta row an insert, no prune pass to run
    base_files = snapshot_files(table_dir, parent) if parent > 0 else []

    keys = delta.select(F.col(key_col).alias("_k")).distinct()
    stats_from_manifest = 0
    if base_files:
        recompute_files = base_files
        manifest_stats_df = None
        if use_manifest_stats:
            man = snapshot_manifest(table_dir, parent)
            bounds = _manifest_files_and_stats(table_dir, man)[1].get(
                key_col, {}
            )
            covered = [
                (f, iv[0], iv[1])
                for f in base_files
                if (iv := bounds.get(f)) is not None
                and iv[0] is not None
                and iv[1] is not None
            ]
            if covered:
                stats_from_manifest = len(covered)
                recompute_files = [
                    f for f in base_files if f not in {c[0] for c in covered}
                ]
                manifest_stats_df = from_driver_rows(
                    spark, covered, ["_f", "_lo", "_hi"]
                )
        if recompute_files:
            recomputed = file_key_stats(
                spark, recompute_files, key_col
            ).select(
                F.col("file").alias("_f"),
                F.col("min_v").alias("_lo"),
                F.col("max_v").alias("_hi"),
            )
            stats = (
                manifest_stats_df.unionByName(recomputed)
                if manifest_stats_df is not None
                else recomputed
            )
        else:
            stats = manifest_stats_df
        candidates = stats.join(
            F.broadcast(keys),
            (F.col("_k") >= F.col("_lo")) & (F.col("_k") <= F.col("_hi")),
            "left_semi",
        )
        # bounded collect: one row per CANDIDATE FILE (a file list, the
        # same metadata a table format holds on the driver during commit)
        hit_files = sorted(
            urlparse(r["_f"]).path for r in candidates.select("_f").collect()
        )
    else:
        hit_files = []
    hit_set = set(hit_files)
    kept_files = [f for f in base_files if f not in hit_set]

    cols = delta.columns
    rewritten = (
        (
            spark.read.parquet(*hit_files).select(*cols)
            if hit_files
            else empty_with_schema(spark, delta.schema)
        )
        .join(F.broadcast(keys), F.col(key_col) == F.col("_k"), "left_anti")
        .unionByName(delta)
    )
    out_dir = os.path.join(
        table_dir, "data", f"s{parent + 1}_{out_slice}"
    )
    rewritten.write.mode("overwrite").parquet(out_dir)
    new_files = snapshot_data_files(out_dir)

    new_id = snapshot_commit_atomic(
        table_dir, parent, kept_files + new_files, extra=commit_extra
    )
    return new_id, {
        "kept_files": kept_files,
        "hit_files": hit_files,
        "new_files": new_files,
        "stats_from_manifest": stats_from_manifest,
        "stats_recomputed": len(base_files) - stats_from_manifest,
    }


def snapshot_compact(
    spark: SparkSession,
    table_dir: str,
    sort_cols: list[str],
    target_partitions: int = 1,
    max_records_per_file: int = 0,
    commit_extra: dict | None = None,
    small_file_bytes: int | None = None,
    stats_col: str | None = None,
) -> tuple[int, dict]:
    """Compaction AS a snapshot commit (r12, the r11 verdict's ask #4):
    o15's compact_files and the s20-s25 snapshot layer were separate
    machines; real table maintenance rewrites small files UNDER a
    snapshot so readers never see a half-compacted table. Protocol,
    per Iceberg's rewrite_data_files / Delta's OPTIMIZE:

      1. read the CURRENT snapshot's file list (the stream-sink /
         fine-grained-backfill debris o15's docstring describes),
      2. rewrite the whole row set as few range-sorted files into a
         fresh per-commit slice (repartitionByRange + sortWithin —
         each output file a disjoint sorted key range, so footer/
         manifest stats prune point scans on the sort key),
      3. CAS-commit a NEW snapshot whose file list is exactly the
         compacted files, ``extra={'compaction_of': parent}`` marking
         the commit as row-preserving metadata motion.

    The row set is IDENTICAL by construction (pure relayout — the o22
    driver oracle hash-checks exactly that); concurrent readers keep
    the old snapshot via time travel until a vacuum with expiry
    reclaims the pre-compaction files; a concurrent WRITER's commit
    wins or loses the same CAS every commit uses. To retry a lost
    compaction, run it under ``io.snapshot_retry`` (``lambda _:
    snapshot_compact(...)``): every attempt re-derives its file list,
    rewrite and stats from the snapshot current at attempt time, so a
    concurrent COW delete is respected and a stale file list is never
    published (rebase by reconstruction, as Iceberg's
    rewrite_data_files retry; a lost race wastes one rewrite).
    Concurrent MOR deletes commute with it: they remove no files, and
    their tombstones carry through the compaction commit. Returns
    (new_snapshot_id, info{replaced, kept, new_files}); the commit
    carries the parent's exactly-once watermark forward automatically
    (the r12 carry-forward contract), so compacting between stream
    batches cannot re-enable replay.

    Two production refinements, each opt-in:
    - ``small_file_bytes``: compact ONLY files below the threshold,
      reusing larger files verbatim in the new manifest — the real
      economics of table maintenance is O(small-file debris), never
      O(table) (Iceberg's rewrite_data_files file-size filter; a
      nightly on a 100 TB table rewrites the day's streaming dribble,
      not the year's history). Fewer than 2 small files → NO-OP:
      returns (parent, info) with nothing committed, because a
      1-file "compaction" would churn a snapshot for zero layout
      gain.
    - ``stats_col``: embed per-file [min, max] zone maps for that
      column INTO the commit (the o19 manifest-stats machinery) —
      compaction is exactly when stats refresh is free, since the
      rewritten files are being scanned anyway and the range-sorted
      layout makes the new bounds maximally selective. Stats cover
      every file in the new manifest (kept files are re-scanned here;
      at cluster scale their bounds would be copied from the parent
      manifest instead — recorded trade)."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_files,
        snapshot_manifest,
    )

    parent = snapshot_current(table_dir)
    old_files = snapshot_files(table_dir, parent)
    sharded = parent > 0 and "shards" in snapshot_manifest(table_dir, parent)
    if small_file_bytes is not None:
        to_compact = [
            f for f in old_files if os.path.getsize(f) < small_file_bytes
        ]
        kept = [f for f in old_files if f not in set(to_compact)]
        if len(to_compact) < 2:
            return parent, {
                "replaced": [],
                "kept": old_files,
                "new_files": [],
            }
    else:
        to_compact, kept = old_files, []
    out_dir = os.path.join(table_dir, "data", f"s{parent + 1}_compact")
    w = (
        spark.read.parquet(*to_compact)
        .repartitionByRange(target_partitions, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
    )
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(out_dir)
    new_files = snapshot_data_files(out_dir)
    manifest_files = kept + new_files
    stats = None
    if stats_col is not None:
        from urllib.parse import urlparse

        # tier-aware stats scope (r13): a FLAT commit re-states every
        # file's bounds, so kept files are re-scanned here; a SHARDED
        # commit rewrites only the shards the compaction touches —
        # kept files keep their shard-carried bounds untouched (the
        # "copied from the parent manifest" trade the flat path
        # records, realized structurally by the manifest-list tier)
        stats_files = new_files if sharded else manifest_files
        stats = {
            stats_col: {
                urlparse(r["file"]).path: [r["min_v"], r["max_v"]]
                for r in file_key_stats(
                    spark, stats_files, stats_col
                ).collect()
            }
        }
    # data_change=false (r12): the commit declares its row multiset
    # identical to the parent's, so single-step CDC across it is
    # EMPTY at metadata cost (Delta's dataChange rule; the feed
    # helper honors it) — the guarantee the row-invariance hash in
    # the o22 oracle proves
    extra = {
        "compaction_of": parent,
        "data_change": False,
        **(commit_extra or {}),
    }
    if sharded:
        # tier-preserving commit (r13): compacting a manifest-LIST
        # table must not silently downgrade it to a flat manifest
        # (which would re-inline every kept file — the listing wall
        # returning through the maintenance door). The sharded commit
        # rewrites only shards intersecting the replaced files; with
        # `small_file_bytes` the kept majority's shards are reused by
        # path, so maintenance metadata cost is O(debris), same as
        # its data cost.
        new_id, _ = snapshot_commit_sharded(
            table_dir,
            parent,
            new_files,
            removed_files=to_compact,
            stats=stats,
            extra=extra,
        )
    else:
        new_id = snapshot_commit_atomic(
            table_dir, parent, manifest_files, stats=stats, extra=extra
        )
    return new_id, {
        "replaced": to_compact,
        "kept": kept,
        "new_files": new_files,
    }


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: left side gets a deterministic per-row salt
    (hash of the full row id space, NOT random — reproducible plans),
    right side is replicated `salt`× via explode. Join key becomes
    (key, salt): a hot key's rows now spread over `salt` reducers.

    Use when one side has pathological key skew that AQE's split
    threshold doesn't catch; `salt` bounds right-side replication.

    Only ``inner`` and ``left`` joins are supported: the right side is
    replicated `salt`×, so right/full outer joins would emit each
    UNMATCHED right row `salt` times (matched rows are fine — they pair
    with exactly one left salt value). Inner/left never surface
    unmatched right rows, so replication is invisible.
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: "
            "right-side replication would duplicate unmatched right rows"
        )
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)).cast("int")
    l = left.withColumn("_salt", lsalt)
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = l.join(r, [key, "_salt"], how)
    return out.drop("_salt")


def global_row_number(
    df: DataFrame,
    order_cols: list,
    out_col: str = "rn",
    num_parts: int | None = None,
    start: int = 1,
) -> DataFrame:
    """Scale-safe global sequential numbering (W4/O1/J6 basis).

    Equivalent to ``row_number() OVER (ORDER BY order_cols)`` but never
    moves the relation to a single partition. Two passes, both parallel:

    1. ``repartitionByRange(order_cols)`` + ``sortWithinPartitions`` —
       partition p holds a contiguous key range below partition p+1's
       (equal keys co-locate, so numbering is deterministic whenever
       `order_cols` is a total order, which every caller guarantees).
       The layout is pinned with ``localCheckpoint`` so pass 2 sees the
       identical assignment. DELIBERATELY not `cut_lineage` (r7): the
       replicated parquet cut does NOT preserve task layout — the
       re-read bin-packs/splits partition files, so a task could see
       rows of several ``_pid``s and pass 2's offset arithmetic would
       number them wrongly. Trade-off: localCheckpoint blocks are
       unreplicated, so losing an executor between the pin and the
       two consuming jobs fails the QUERY (re-run from source) — a
       narrow window accepted deliberately, because a wrong-but-
       successful numbering under the replicated cut is strictly
       worse than a clean retryable failure.
    2. Per-partition row counts (≤ num_parts rows) come back to the
       driver, prefix-sum to offsets, and an Arrow-batched
       ``mapInPandas`` adds ``offset + position_in_partition`` — no
       extra shuffle, no single-reducer sort, O(num_parts) driver state.

    ``order_cols`` accepts column names or Column expressions.
    """
    import numpy as np
    from pyspark.sql import types as T

    spark = df.sparkSession
    if num_parts is None:
        num_parts = max(2, spark.sparkContext.defaultParallelism)
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    arranged = (
        df.repartitionByRange(num_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # layout-pinning: see docstring
    )
    counts = {
        r["_pid"]: r["n"]
        for r in arranged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = start - 1
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = T.StructType(df.schema.fields + [T.StructField(out_col, T.LongType())])

    def number(batches):
        pos: int | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pos is None:
                pos = offsets[int(pdf["_pid"].iloc[0])]
            pdf = pdf.drop(columns=["_pid"])
            pdf[out_col] = np.arange(pos + 1, pos + 1 + len(pdf), dtype="int64")
            pos += len(pdf)
            yield pdf

    return arranged.mapInPandas(number, out_schema)


def zorder_key(x, y, bits: int = 16):
    """Morton/Z-ORDER interleave of the low ``bits`` of two nonneg int
    columns — the lakehouse DATA-SKIPPING layout key (Delta/Iceberg
    OPTIMIZE ZORDER BY): writing files in z-key ranges makes each
    file's per-column min/max footer stats tight on BOTH dimensions at
    once, so predicates on either column prune files (a single-column
    sort gives tight stats on that column only). Pure integer
    expression (2*bits shift/mask/or terms, codegen'd, engine-
    portable); use with repartitionByRange(z) + sortWithinPartitions(z)
    ahead of the parquet sink — the S15 publish path composes.
    """
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    terms = None
    for i in range(bits):
        tx = F.shiftleft(F.shiftright(x.cast("bigint"), i) % 2, 2 * i)
        ty = F.shiftleft(F.shiftright(y.cast("bigint"), i) % 2, 2 * i + 1)
        t = tx + ty
        terms = t if terms is None else terms + t
    return terms.cast("bigint")


def key_skew_profile(df: DataFrame, key_col: str, top_k: int = 20) -> DataFrame:
    """Heavy-hitter / key-skew diagnosis (r8): the top-k keys by row
    count with their corpus share and their multiple of the mean key
    size — the profile you run BEFORE keying a 100 TB shuffle on a
    column, because one hub key (the j7 grid lesson, the LSH-band hub
    lesson in graph.triangle_counts) turns a balanced join into a
    straggler. Feeds directly into the mitigation menu: broadcast the
    hitters, salt them (salted_join), or AQE skew-split.

    Scale shape: ONE combinable groupBy(key) shuffle; the top-k is
    Spark's TakeOrdered (per-partition partial top-k, no global sort);
    the (total, n_keys) pair is a one-row broadcast cross-join. Output
    is top_k rows regardless of input size.

    Cross-engine integer exactness (the t21 overflow lesson):
    share_ppm = cnt*1e6 DIV total stays int64-exact while total <=
    9.2e12 rows (documented bound). vs_mean_ppm floors ONCE at the
    end — cnt*1e6*n_keys DIV total — with the numerator in
    decimal(38,0) (HUGEINT in the oracle), because flooring the share
    first quantizes the signal to n_keys-ppm granularity: at 1e8 keys
    a 50x-the-mean hub whose share rounds to 0 ppm would read as 0x
    mean exactly where the profile exists to catch it (r8 review).
    The ppm RESULT is bounded by 1e6 x the skew ratio — int64-safe.

    NULL keys are excluded (r8 review): they never match an equi-join
    (so they cannot cause join skew), and Spark/DuckDB disagree on
    NULL placement under ASC ordering (NULLS FIRST vs LAST), which
    would break the deterministic top-k tie boundary. A large NULL
    population is a data-quality signal — column_profile's n_null is
    the tool for that.
    """
    c = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = c.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    top = c.orderBy(F.col("cnt").desc(), F.col("key").asc()).limit(top_k)
    return top.crossJoin(F.broadcast(t)).select(
        "key",
        "cnt",
        F.expr("cnt * 1000000L DIV total").alias("share_ppm"),
        F.expr(
            "CAST(CAST(cnt AS DECIMAL(38,0)) * 1000000 * n_keys DIV total AS BIGINT)"
        ).alias("vs_mean_ppm"),
    )


def file_key_stats(spark: SparkSession, files: list[str], col: str) -> DataFrame:
    """Per-file [min, max, row-count] statistics for one column over an
    explicit file list (r11) — the zone-map primitive behind o17's
    merge prune and o18's skipping scan: one COLUMN-PRUNED scan grouped
    on ``_metadata.file_path`` (the stats column plus file metadata is
    all that leaves the scan). At cluster scale these stats are written
    INTO the snapshot manifest at commit time (Delta checkpoint /
    Iceberg manifest stats), making every later consultation
    metadata-only; recomputing, as here, costs one single-column scan
    amortized across every query that then skips files."""
    return (
        spark.read.parquet(*files)
        .groupBy(F.col("_metadata.file_path").alias("file"))
        .agg(
            F.min(col).alias("min_v"),
            F.max(col).alias("max_v"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def prune_files_by_range(stats_rows, lo, hi) -> list[str]:
    """Driver-side zone-map prune: keep files whose [min,max] interval
    intersects [lo,hi] — a superset of true hits (exactly what footer
    stats admit; the residual predicate still applies after the scan).
    A file whose stats are NULL (every value in it null — min/max of
    an all-null column) is ADMITTED: stats are an optimization, never
    a correctness gate (the o19 contract; here admission is also
    conservative — null values can't match a range predicate, the
    residual filter drops them). Operates on COLLECTED stats rows: one
    row per file, the same metadata a table format's planner holds —
    this list is the unit table formats are built to keep
    driver-sized."""
    from urllib.parse import urlparse

    return sorted(
        urlparse(r["file"]).path
        for r in stats_rows
        if r["min_v"] is None
        or r["max_v"] is None
        or not (r["max_v"] < lo or r["min_v"] > hi)
    )


BLOOM_M_BITS = 131072  # 16 KiB per file — sized for ~12k distinct
BLOOM_K = 5


def _bloom_positions_py(value, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K):
    """The k bit positions for a value — md5-derived so the same
    positions are computable ANYWHERE (hashlib.md5 here; F.md5 +
    conv would give identical positions executor-side if a future
    writer folds the bitset distributedly — the kmv_sketch
    engine-portable-hash idiom). Build and probe share this one
    function, so admit tests can never drift from the written
    bits."""
    import hashlib

    return [
        int(hashlib.md5(f"{i}|{value}".encode()).hexdigest()[:15], 16)
        % m_bits
        for i in range(1, k + 1)
    ]


def build_file_blooms(
    spark: SparkSession,
    files: list[str],
    col: str,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> dict:
    """Per-FILE Bloom filters for a point-lookup column (r15, o29) —
    the secondary-index half of the data-skipping story: [min,max]
    zone maps prune RANGE predicates but are useless for point
    lookups on a column the layout wasn't sorted by (a hash-scattered
    key intersects every file's bounds). A per-file Bloom over the
    column's distinct values turns `col = v` into a metadata test
    that skips every file whose k bits aren't all set — Iceberg/Delta
    ship exactly this as file-level bloom indexes, and parquet embeds
    the same structure per row group.

    Build: one column-pruned distinct scan grouped by file metadata
    (the file_key_stats shape); the per-file distinct values come to
    the driver ONCE, at commit time, to be folded into m-bit bitsets
    (stored base64 in the manifest — ~m/8 bytes per file). That
    writer-pays collect is the documented miniature: a production
    writer folds the same bitset inside the file writer as it streams
    rows (parquet's own bloom write path), never post-hoc; the
    manifest payload and the read-side test are identical either way.

    ``m_bits`` is a FLOOR, not the size (r16, advisor fix): the fixed
    16 KiB bitset was sized for ~12k distinct values per file, and a
    file carrying far more drives the false-positive rate toward 1 —
    every probe admits everything and the index silently stops
    skipping. Each file's bitset is now sized from its OBSERVED
    distinct count at build time (~10 bits/value ≈ 1% fp at k=5,
    rounded up to a power of two, never below the floor) and the
    per-file size is stored in the doc, so files at or under the
    floor's capacity produce byte-identical bitsets to the fixed-size
    form while bigger files keep their documented fp rate instead of
    degrading unbounded.

    Returns {"m": m_bits, "k": k, "m_by_file": {path: bits},
    "files": {path: base64_bitset}} — attach to the commit (manifest
    extra) and probe with bloom_admits(); readers of docs written
    before m_by_file existed fall back to the doc-level "m"."""
    import base64
    from urllib.parse import urlparse

    rows = (
        spark.read.parquet(*files)
        .select(
            F.col("_metadata.file_path").alias("file"),
            F.col(col).cast("string").alias("v"),
        )
        .distinct()
        .collect()  # bounded: sum of per-file distinct values, paid
        # once by the committing writer (see docstring)
    )
    by_file: dict[str, list[str]] = {}
    for r in rows:
        by_file.setdefault(urlparse(r["file"]).path, []).append(r["v"])
    m_by_file: dict[str, int] = {}
    bitsets: dict[str, bytearray] = {}
    for fp, values in by_file.items():
        m_f = m_bits
        while m_f < 10 * len(values):  # ~1% fp at k=5
            m_f *= 2
        m_by_file[fp] = m_f
        bs = bitsets[fp] = bytearray(m_f // 8)
        for v in values:
            for pos in _bloom_positions_py(v, m_f, k):
                bs[pos // 8] |= 1 << (pos % 8)
    return {
        "m": m_bits,
        "k": k,
        "col": col,
        "m_by_file": m_by_file,
        "files": {
            fp: base64.b64encode(bytes(bs)).decode()
            for fp, bs in bitsets.items()
        },
    }


def bloom_admits(bloom_doc: dict, file_path: str, value) -> bool:
    """Metadata-only point-lookup test: True iff the file MIGHT
    contain the value (all k bits set — false positives possible at
    the documented rate, false negatives never) or the file has no
    bloom recorded (admit: indexes are an optimization, never a
    correctness gate — the o19 stats contract)."""
    import base64

    b64 = bloom_doc.get("files", {}).get(file_path)
    if b64 is None:
        return True
    bs = base64.b64decode(b64)
    # per-file adaptive sizing (r16); docs written before m_by_file
    # existed carry only the doc-level fixed "m"
    m = bloom_doc.get("m_by_file", {}).get(file_path, bloom_doc["m"])
    return all(
        bs[pos // 8] & (1 << (pos % 8))
        for pos in _bloom_positions_py(str(value), m, bloom_doc["k"])
    )


def purge_rows_cow(
    spark: SparkSession,
    table_dir: str,
    keys_df: DataFrame,
    key_col: str = "event_id",
    out_slice: str = "purge",
    commit_extra: dict | None = None,
) -> tuple[int, dict]:
    """PHYSICAL key purge via file-level copy-on-write (r15, e35) —
    merge_rows_cow's removal half, as its own function: rewrite only
    the stats-admitted candidate files minus the given keys, reuse
    the rest by path. Exists standalone (rather than a flag on the
    merge) so the CDC-apply sink can remove a re-inserted key's OLD
    physical copies without touching the merge's proven path: the
    sink then appends the new rows through the value-watermarked
    append and un-masks the key last — a decomposition whose every
    step is replay-idempotent (purging absent keys is a no-op;
    appends replay-refuse on the watermark). Keys absent from every
    file cost a stats consult and nothing else. Returns
    (new_id, {kept_files, hit_files, new_files}); no commit happens
    when no file is hit (returns the current id)."""
    import os

    from urllib.parse import urlparse

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_current,
        snapshot_data_files,
        snapshot_files,
    )

    parent = snapshot_current(table_dir)
    base_files = snapshot_files(table_dir, parent) if parent > 0 else []
    if not base_files:
        return parent, {"kept_files": [], "hit_files": [], "new_files": []}
    keys = keys_df.select(F.col(key_col).alias("_k")).distinct()
    stats = file_key_stats(spark, base_files, key_col).select(
        F.col("file").alias("_f"),
        F.col("min_v").alias("_lo"),
        F.col("max_v").alias("_hi"),
    )
    candidates = stats.join(
        F.broadcast(keys),
        (F.col("_k") >= F.col("_lo")) & (F.col("_k") <= F.col("_hi")),
        "left_semi",
    )
    hit_files = sorted(
        urlparse(r["_f"]).path for r in candidates.select("_f").collect()
    )  # bounded: one row per candidate file
    if not hit_files:
        return parent, {
            "kept_files": base_files, "hit_files": [], "new_files": [],
        }
    kept_files = [f for f in base_files if f not in set(hit_files)]
    rewritten = spark.read.parquet(*hit_files).join(
        F.broadcast(keys), F.col(key_col) == F.col("_k"), "left_anti"
    )
    out_dir = os.path.join(table_dir, "data", f"s{parent + 1}_{out_slice}")
    rewritten.write.mode("overwrite").parquet(out_dir)
    new_files = snapshot_data_files(out_dir)
    new_id = snapshot_commit_atomic(
        table_dir, parent, kept_files + new_files, extra=commit_extra
    )
    return new_id, {
        "kept_files": kept_files,
        "hit_files": hit_files,
        "new_files": new_files,
    }
