"""Tabular sources/sinks (S6/S7/S13/S14/S15 — SURVEY §2.1).

The reference's interchange format is headered CSV at every stage
boundary (main.nf:157,201,216,233,249) with hand-rolled empty-result
handling (frame_features_image.py:72-78) and a published-dir result
tree (main.nf:26 etc.). The engine keeps CSV at the EDGES (ingest /
export, with explicit schemas — never inference in production paths)
and uses Parquet for every internal stage boundary: columnar pruning +
predicate pushdown are what make a 2-column projection of a 100 TB
stage read 2 columns.
"""

from __future__ import annotations

import itertools
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """S6 source: headered CSV with an EXPLICIT schema (no inference
    pass — inference reads the data twice and guesses types)."""
    return spark.read.csv(path, schema=schema, header=header, mode="PERMISSIVE")


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """S6 sink. Always writes the header even for empty frames — the
    engine-side equivalent of the reference's header-only empty CSV
    (S7, frame_features_image.py:72-78)."""
    df.write.mode("overwrite").option("header", header).csv(path)


def empty_with_schema(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """S7: schema-safe empty relation — downstream `unionByName` keeps
    working (the reference hand-writes a header-only CSV for this)."""
    return from_driver_rows(spark, [], schema)


def from_driver_rows(
    spark: SparkSession, rows, schema: T.StructType | str | list[str]
) -> DataFrame:
    """A DataFrame of driver-side rows, built through Arrow so that no
    Python task runs.

    ``rows``: tuples in the schema's field order. ``schema``: a
    StructType, a DDL string, or a list of column names whose types
    Arrow infers from the values (int → bigint, float → double, str →
    string, as the list path infers them). None becomes null; values
    are those the list path gives.

    The rows become one Arrow table, which the driver JVM reads into a
    local relation. The list-of-tuples ``createDataFrame`` instead runs
    a pickled PythonRDD job, and Spark starts a second Python worker
    daemon for it: worker pools are keyed by the task environment, and
    the SQL Arrow runners add ``SPARK_SIMPLIFIED_TRACEBACK`` to it where
    PythonRDD does not. ``createDataFrame(pandas)`` falls back to that
    list path when the frame has no rows or Arrow is off, so the engine
    hands Spark an Arrow table itself. Every relation the package makes
    from driver rows comes through here (source-guarded in
    ``tests/test_session.py``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    columns = list(zip(*rows)) or [[] for _ in schema]
    if isinstance(schema, T.StructType):
        arrow_schema = to_arrow_schema(schema)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    else:
        table = pa.Table.from_arrays([pa.array(c) for c in columns], names=schema)
    return spark.createDataFrame(table, schema)


def read_config(spark: SparkSession, path: str) -> dict:
    """S13 source: one JSON config document → driver-side dict (the
    reference's params-file, main.nf:3-10). Driver-side by design:
    config is broadcast into closures, not a distributed relation."""
    [row] = spark.read.text(path, wholetext=True).collect()
    return json.loads(row["value"])


def write_config(spark: SparkSession, config: dict, path: str) -> None:
    """S13 sink: persist the run's config snapshot for provenance
    (save_*_config, main.nf:57-89)."""
    df = from_driver_rows(
        spark, [(json.dumps(config, indent=2, sort_keys=True),)], "value string"
    )
    df.coalesce(1).write.mode("overwrite").text(path)


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """S14: text source, one trimmed row per line (splitText·trim,
    main.nf:425-434)."""
    return spark.read.text(path).select(F.trim(F.col("value")).alias("value"))


def publish(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """S15: stage-boundary sink — checkpointed Parquet replacing the
    reference's publishDir copy tree; also the engine's `-resume`
    equivalent (a published stage is a re-readable cut point)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


# ---------------------------------------------------------------------
# Snapshot manifests (r10, s20): the table-format core in miniature —
# an immutable parquet-file pool plus per-snapshot manifests (explicit
# file lists). A new snapshot REUSES every untouched data file
# (copy-on-write at file granularity), readers resolve a manifest then
# read exactly its files (never a directory listing race), old
# snapshots stay readable forever (time travel / rollback = read an
# older manifest). This is the Iceberg/Delta contract stripped to what
# plain parquet + JSON can carry; it lacks their atomic catalog swap —
# the manifest write is the commit point, single-writer assumed.
# ---------------------------------------------------------------------


def snapshot_data_files(path: str) -> list[str]:
    """All parquet data files under a written slice dir, sorted."""
    import os

    out = []
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.join(root, f))
    return sorted(out)


def snapshot_commit(table_dir: str, snapshot_id: int, files: list[str]) -> None:
    """Commit a snapshot: write its explicit file list as
    manifests/v{id}.json. The manifest IS the snapshot — data files
    are immutable and shared across snapshots."""
    import os

    mdir = os.path.join(table_dir, "manifests")
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, f"v{snapshot_id}.json"), "w") as f:
        json.dump({"snapshot_id": snapshot_id, "files": sorted(files)}, f)


def _manifest_files_and_stats(table_dir: str, man: dict) -> tuple[list[str], dict]:
    """Resolve a manifest document to (data files, per-file stats),
    whatever its tier (r13, s27): a FLAT manifest carries the full
    file list inline ("files" + optional "stats"); a MANIFEST LIST
    carries shard pointers ("shards": paths relative to table_dir),
    each shard an immutable content-addressed JSON with its own
    "files" + "stats" slice. Readers everywhere go through this one
    resolver, so both tiers stay readable forever — a table can even
    mix them across its history (the first sharded commit converts
    the flat parent into one shard)."""
    import os

    if "shards" not in man:
        return list(man.get("files", [])), man.get("stats", {})
    files: list[str] = []
    stats: dict = {}
    for sp in man["shards"]:
        with open(os.path.join(table_dir, sp)) as f:
            sd = json.load(f)
        files.extend(sd["files"])
        for col, per_file in sd.get("stats", {}).items():
            stats.setdefault(col, {}).update(per_file)
    return sorted(files), stats


def snapshot_files(table_dir: str, snapshot_id: int) -> list[str]:
    import os

    with open(os.path.join(table_dir, "manifests", f"v{snapshot_id}.json")) as f:
        return _manifest_files_and_stats(table_dir, json.load(f))[0]


def _apply_delete_files(
    spark: SparkSession, man: dict, df: DataFrame
) -> DataFrame:
    """Apply a manifest's equality-delete files to a data read (r14,
    MOR tier — Iceberg v2 equality deletes / Delta deletion-vector
    semantics at key granularity): each entry is a parquet key set;
    the read anti-joins them away. Delete sets are orders of magnitude
    smaller than the table (a takedown list, a GDPR batch), so they
    BROADCAST — the corpus-side read stays a map-side hash probe, no
    shuffle is added to any reader. A manifest with no delete_files
    pays nothing (the common case compiles to the bare scan).

    Plan depth is CAPPED at one anti-join per distinct key COLUMN
    (r15, the r14 verdict's ask #3): all outstanding delete files
    sharing a key column are read as ONE multi-path parquet scan and
    masked with ONE broadcast anti-join, so a table taking one
    takedown commit per micro-batch (e33's cadence) reads through a
    constant-depth plan however many delete commits are outstanding
    between folds — the reader's cost tracks delete KEYS, never
    delete COMMITS. Masks compose (set subtraction commutes), so the
    per-column grouping is semantics-preserving; the plan pin lives in
    tests/test_plans.py."""
    by_key: dict[str, list[str]] = {}
    for d in man.get("delete_files", []):
        by_key.setdefault(d["key"], []).extend(d["paths"])
    for key, paths in by_key.items():
        keys = spark.read.parquet(*paths).select(key).distinct()
        df = df.join(F.broadcast(keys), key, "left_anti")
    return df


def snapshot_read(spark: SparkSession, table_dir: str, snapshot_id: int) -> DataFrame:
    """Time-travel read: resolve the manifest, read exactly its files,
    then apply the snapshot's equality-delete files (r14, MOR — a
    no-op for manifests without them). Partition values live IN the
    data (no path-derived columns), so a manifest can mix files from
    any write batch."""
    man = snapshot_manifest(table_dir, snapshot_id)
    files = _manifest_files_and_stats(table_dir, man)[0]
    return _apply_delete_files(spark, man, spark.read.parquet(*files))


# ---------------------------------------------------------------------
# Atomic commit + optimistic concurrency (r11, s21) — closing the gap
# s20's docstring records ("it lacks their atomic catalog swap — the
# manifest write is the commit point, single-writer assumed"). This is
# Iceberg's commit protocol in miniature:
#   - snapshot ids are SEQUENTIAL; committing snapshot N+1 is a
#     compare-and-swap on "the table is at N": the commit point is an
#     atomic create-if-absent (os.link onto manifests/v{N+1}.json —
#     link(2) fails with EEXIST if the target exists, atomically, on
#     every POSIX filesystem). Two writers racing from parent N both
#     try to create v{N+1}; exactly one wins, the loser gets
#     SnapshotConflict and must REBASE: re-read the current snapshot,
#     rebuild its file list against it, retry at N+2.
#   - the `current` pointer file is a derived convenience cache
#     advanced AFTER the commit by atomic rename (write-temp +
#     os.rename replace). It is NOT the commit point: a conditional
#     swap cannot be built from unconditional rename (two renames both
#     "succeed" — the lost-update race), so truth is the manifest
#     pool; snapshot_current() reconciles the pointer against
#     max(manifest id) and repairs a pointer left stale by a crash
#     between link and rename (the commit was durable; the cache just
#     lags — exactly Iceberg's catalog-vs-metadata split).
# At cluster scale the same protocol runs against an object store's
# conditional PUT (S3 If-None-Match) or a catalog row CAS; the
# filesystem miniature keeps every semantic the tests can exercise.
# Reference analogue: the resume-safe publishDir contract
# (main.nf:26,378) — a stage's outputs become visible all-or-nothing.
# ---------------------------------------------------------------------


class SnapshotConflict(Exception):
    """Another writer committed first; re-read current and rebase."""


def snapshot_current(table_dir: str) -> int:
    """Current snapshot id: the pointer cache, repaired against the
    manifest pool (the true commit record). Returns 0 for an empty
    table (no commits yet)."""
    import os
    import re

    mdir = os.path.join(table_dir, "manifests")
    ids = [0]
    if os.path.isdir(mdir):
        for f in os.listdir(mdir):
            m = re.fullmatch(r"v(\d+)\.json", f)
            if m:
                ids.append(int(m.group(1)))
    truth = max(ids)
    ptr = os.path.join(table_dir, "current")
    cached = -1
    if os.path.exists(ptr):
        with open(ptr) as f:
            cached = json.load(f)["snapshot_id"]
    if cached != truth:  # crash between link and rename: repair the cache
        _advance_pointer(table_dir, truth)
    return truth


_TMP_COUNTER = itertools.count()


def _tmp_token() -> str:
    """Per-call-unique scratch-file suffix. pid alone is NOT unique:
    two THREADS of one writer process racing the same commit id would
    share a tmp path, and the loser's truncate-and-rewrite can garble
    the winner's file between write and link/rename (found by the r12
    multi-writer CAS stress). pid + thread id + a process-wide counter
    makes every scratch write private to its call."""
    import os
    import threading

    return f"{os.getpid()}.{threading.get_ident()}.{next(_TMP_COUNTER)}"


def _advance_pointer(table_dir: str, snapshot_id: int) -> None:
    import os

    os.makedirs(table_dir, exist_ok=True)
    tmp = os.path.join(table_dir, f".current.tmp.{_tmp_token()}")
    with open(tmp, "w") as f:
        json.dump({"snapshot_id": snapshot_id}, f)
    os.rename(tmp, os.path.join(table_dir, "current"))  # atomic replace


def snapshot_manifest(table_dir: str, snapshot_id: int) -> dict:
    """Full manifest document for a snapshot (files + any embedded
    metadata: stats, transaction watermarks)."""
    import os

    with open(
        os.path.join(table_dir, "manifests", f"v{snapshot_id}.json")
    ) as f:
        return json.load(f)


def snapshot_batch_watermark(table_dir: str) -> tuple[int, int]:
    """(current snapshot id, its manifest's ``last_batch_id``): the
    replay guard of every idempotent-by-batch-id sink — a batch at or
    below the watermark is a replay and must be skipped before any
    write. An empty table is ``(0, -1)``."""
    cur = snapshot_current(table_dir)
    if cur == 0:
        return 0, -1
    return cur, snapshot_manifest(table_dir, cur).get("last_batch_id", -1)


def snapshot_commit_atomic(
    table_dir: str,
    expected_parent: int,
    files: list[str],
    stats: dict | None = None,
    extra: dict | None = None,
) -> int:
    """CAS commit: publish `files` as snapshot expected_parent+1 iff
    the table is still at expected_parent. Raises SnapshotConflict on
    a lost race (manifest for the target id already exists — some
    other writer advanced the table first).

    ``stats`` (r11, o19) optionally embeds per-file column statistics
    in the manifest — ``{col: {file: [min, max]}}`` — closing the
    trade o17/o18 record ("at cluster scale the stats are written INTO
    the manifest at commit time"): the stats scan is paid ONCE by the
    writer, and every later range read prunes its file list from the
    manifest alone, zero data-file I/O before the matching files.

    Transaction-watermark carry-forward (r12, advisor): the parent
    manifest's ``last_batch_id`` (the e25 exactly-once watermark) is
    inherited by EVERY child commit unless ``extra`` overrides it.
    Without this, any interleaved commit that didn't thread the
    watermark itself (a rollback, a COW merge, a compaction) would
    reset it to -1 and silently re-enable replay of already-applied
    stream batches in a mixed batch+stream workload — exactly Delta's
    rule that `txn` app versions survive unrelated commits."""
    return _cas_publish_manifest(
        table_dir,
        expected_parent,
        {
            "files": sorted(files),
            **({"stats": stats} if stats else {}),
        },
        extra,
    )


# Manifest keys that must survive EVERY commit regardless of which
# writer produced it (stream-sink cursors a maintenance commit has no
# reason to know about). _cas_publish_manifest carries them forward
# from the parent; a commit's explicit `extra` overrides the carry.
# last_batch_ids (plural) is the per-writer watermark map of the
# multi-writer sink (r14, snapshot_append_batch_multiwriter).
_WATERMARK_KEYS = ("last_batch_id", "pack_offsets", "last_batch_ids")


def _cas_publish_manifest(
    table_dir: str,
    expected_parent: int,
    body: dict,
    extra: dict | None = None,
) -> int:
    """The shared commit point for BOTH manifest tiers (r13): CAS
    check, parent last_batch_id carry-forward, tmp-write + link(2)
    create-if-absent, pointer advance. ``body`` is the tier-specific
    payload ("files"/"stats" for flat, "shards" for a manifest list)."""
    import os

    if snapshot_current(table_dir) != expected_parent:
        raise SnapshotConflict(
            f"table at {snapshot_current(table_dir)}, "
            f"expected {expected_parent}"
        )
    carried: dict = {}
    if expected_parent > 0:
        parent_man = snapshot_manifest(table_dir, expected_parent)
        # Carry EVERY watermark-class key, not just last_batch_id
        # (r14, advisor-high): pack_offsets is the e31 packer's
        # per-stream token cursor, read back from the CURRENT manifest
        # each micro-batch. Any interleaved commit that doesn't thread
        # it — snapshot_compact_manifests, snapshot_compact, rollback —
        # used to drop it, after which the next batch read offsets={}
        # and silently re-packed every stream from 0 while the
        # last_batch_id watermark still looked intact. Watermark-class
        # state survives ALL commits; explicit `extra` still overrides.
        for key in _WATERMARK_KEYS:
            if parent_man.get(key) is not None:
                carried[key] = parent_man[key]
        # equality-delete files are SNAPSHOT STATE, not a watermark,
        # but they inherit the same way (r14, MOR tier): any commit
        # that does not explicitly restate delete_files (in body or
        # extra) keeps the parent's — otherwise an ordinary append or
        # maintenance commit would silently resurrect deleted rows.
        # Explicit restatement ([] from a fold, the appended list from
        # a delete commit, the target's list from a rollback) wins.
        if (
            "delete_files" not in body
            and not (extra and "delete_files" in extra)
            and parent_man.get("delete_files")
        ):
            carried["delete_files"] = parent_man["delete_files"]
    new_id = expected_parent + 1
    mdir = os.path.join(table_dir, "manifests")
    os.makedirs(mdir, exist_ok=True)
    tmp = os.path.join(mdir, f".v{new_id}.tmp.{_tmp_token()}")
    with open(tmp, "w") as f:
        json.dump(
            {
                "snapshot_id": new_id,
                "parent_id": expected_parent,
                **body,
                **carried,
                **(extra or {}),  # explicit extra overrides the carry
            },
            f,
        )
    try:
        os.link(tmp, os.path.join(mdir, f"v{new_id}.json"))  # the CAS
    except FileExistsError:
        raise SnapshotConflict(
            f"lost the race for snapshot {new_id}: another writer "
            f"committed from parent {expected_parent} first"
        ) from None
    finally:
        os.unlink(tmp)
    _advance_pointer(table_dir, new_id)
    return new_id


def _write_shard(mdir: str, files: list[str], stats: dict | None) -> str:
    """Write one content-addressed shard manifest and return its path
    relative to the table dir. The NAME is the md5 of the canonical
    payload, so an identical shard re-written by any commit lands on
    the SAME path with the SAME bytes — shard reuse across snapshots
    is literal path equality, and untouched-shard byte-identity is
    structural, not a convention (the Iceberg manifest-file contract).
    Stats entries are sliced to this shard's files only."""
    import hashlib
    import os

    sliced: dict = {}
    for col, per_file in (stats or {}).items():
        keep = {fp: iv for fp, iv in per_file.items() if fp in set(files)}
        if keep:
            sliced[col] = keep
    payload = json.dumps(
        {"files": sorted(files), **({"stats": sliced} if sliced else {})},
        sort_keys=True,
    ).encode()
    name = f"shard-{hashlib.md5(payload).hexdigest()}.json"
    os.makedirs(mdir, exist_ok=True)
    path = os.path.join(mdir, name)
    if not os.path.exists(path):  # content-addressed: idempotent write
        tmp = path + f".tmp.{_tmp_token()}"
        with open(tmp, "wb") as f:
            f.write(payload)
        os.rename(tmp, path)
    return os.path.join("manifests", name)


def _shard_bounds(table_dir: str, rel: str) -> dict:
    """Shard-level [min, max] per column, derived from the shard's own
    per-file stats (r13): emitted ONLY when every file in the shard
    has non-null bounds for the column — a partial or null-bounded
    stats set cannot bound the shard, and stats never gate
    correctness (the o19 admit rule, one level up)."""
    import os

    with open(os.path.join(table_dir, rel)) as f:
        sd = json.load(f)
    out = {}
    for col, per_file in sd.get("stats", {}).items():
        ivs = [per_file.get(fp) for fp in sd["files"]]
        if all(
            iv is not None and iv[0] is not None and iv[1] is not None
            for iv in ivs
        ):
            out[col] = [min(iv[0] for iv in ivs), max(iv[1] for iv in ivs)]
    return out


def snapshot_commit_sharded(
    table_dir: str,
    expected_parent: int,
    added_files: list[str],
    removed_files: list[str] | tuple = (),
    stats: dict | None = None,
    extra: dict | None = None,
    delete_files: list | None = None,
) -> tuple[int, dict]:
    """Manifest-LIST commit (r13, s27) — the tier that survives
    millions of files, closing the gap the r12 verdict names ("one
    JSON manifest enumerating every file is the known listing wall...
    the s18 lesson applied to the engine's own table format"; the
    design is Iceberg's manifest-of-manifests, spec §"Manifests",
    public). A snapshot manifest no longer inlines the file list; it
    points at immutable content-addressed SHARD manifests, each
    covering one commit's added files (plus any rewrites):

      - APPEND: every parent shard is reused BY PATH (zero bytes
        rewritten — commit cost is one new shard for the added files
        plus one manifest list, O(1) in table size);
      - DELETE/REWRITE: only shards INTERSECTING ``removed_files``
        are rewritten (minus the removed entries; an emptied shard is
        dropped), the rest reused by path — commit cost O(changed
        shards), never O(table);
      - a FLAT parent (the s20/s21 tier) is converted by wrapping its
        inline list as one shard, so existing tables upgrade on their
        next sharded commit with zero migration step.

    Readers are tier-blind (every resolver goes through
    _manifest_files_and_stats), CAS/carry-forward semantics are the
    shared _cas_publish_manifest — a racing flat commit and a racing
    sharded commit contend on exactly the same link(2) point.

    Returns (new_id, info) where info records the reuse facts
    ({"reused": [...], "rewritten": [...], "added": shard|None}) so
    callers and tests can pin that commit cost tracked the CHANGE."""
    import os

    removed = set(removed_files)
    mdir = os.path.join(table_dir, "manifests")
    parent_shards: list[str] = []
    parent_shard_stats: dict = {}
    if expected_parent > 0:
        pman = snapshot_manifest(table_dir, expected_parent)
        if "shards" in pman:
            parent_shards = list(pman["shards"])
            parent_shard_stats = pman.get("shard_stats", {})
        elif pman.get("files"):
            # flat parent: wrap inline list as one shard (idempotent);
            # its bounds are computed here, where the write was just
            # paid, so the converted shard is prunable from birth
            conv = _write_shard(mdir, pman["files"], pman.get("stats"))
            parent_shards = [conv]
            b = _shard_bounds(table_dir, conv)
            if b:
                parent_shard_stats[conv] = b
    reused, rewritten = [], []
    new_shards: list[str] = []
    shard_stats: dict = {}

    def _note_bounds(rel: str) -> None:
        b = _shard_bounds(table_dir, rel)
        if b:
            shard_stats[rel] = b

    for sp in parent_shards:
        if not removed:
            # pure append: reuse WITHOUT opening the shard — commit
            # metadata reads stay O(1) in table size, not O(shards).
            # Shard-level bounds are COPIED from the parent list when
            # present (never recomputed — that would reopen the shard);
            # a shard committed before bounds existed simply stays
            # unbounded until some commit rewrites it.
            new_shards.append(sp)
            reused.append(sp)
            if sp in parent_shard_stats:
                shard_stats[sp] = parent_shard_stats[sp]
            continue
        with open(os.path.join(table_dir, sp)) as f:
            sd = json.load(f)
        if removed.isdisjoint(sd["files"]):
            new_shards.append(sp)  # reuse by path: zero bytes written
            reused.append(sp)
            if sp in parent_shard_stats:
                shard_stats[sp] = parent_shard_stats[sp]
            else:
                _note_bounds(sp)  # already open: bounds are free
        else:
            keep = [fp for fp in sd["files"] if fp not in removed]
            if keep:
                nsp = _write_shard(mdir, keep, sd.get("stats"))
                new_shards.append(nsp)
                rewritten.append(nsp)
                _note_bounds(nsp)
    added_shard = None
    if added_files:
        added_shard = _write_shard(mdir, list(added_files), stats)
        new_shards.append(added_shard)
        _note_bounds(added_shard)
    body: dict = {"shards": new_shards}
    if shard_stats:
        body["shard_stats"] = shard_stats
    # equality-delete files (r14, MOR tier): when the caller restates
    # them (a delete commit appends to the list, a fold commit clears
    # it with []), the explicit value is committed — an ABSENT key
    # inherits the parent's list inside _cas_publish_manifest, so no
    # commit path can silently resurrect deleted rows
    if delete_files is not None:
        body["delete_files"] = list(delete_files)
    new_id = _cas_publish_manifest(table_dir, expected_parent, body, extra)
    return new_id, {
        "reused": reused,
        "rewritten": rewritten,
        "added": added_shard,
    }


def snapshot_commit_with_retry(
    table_dir: str,
    build_files,
    max_retries: int = 5,
) -> tuple[int, int]:
    """Optimistic-concurrency commit loop: ``build_files(parent_id)``
    rebuilds the new snapshot's file list AGAINST the given parent
    (append → parent files + new files; the rebase step), then the CAS
    commit is attempted; on SnapshotConflict the current snapshot is
    re-read and the build re-runs against it. Returns
    (committed_snapshot_id, conflicts_hit). Appends always converge;
    overlapping row-level updates are the caller's rebase problem —
    exactly Iceberg's serializable-vs-snapshot-isolation validation
    split."""
    conflicts = 0
    while True:
        parent = snapshot_current(table_dir)
        try:
            return snapshot_commit_atomic(
                table_dir, parent, build_files(parent)
            ), conflicts
        except SnapshotConflict:
            conflicts += 1
            if conflicts > max_retries:
                raise


def snapshot_commit_sharded_with_retry(
    table_dir: str,
    added_files: list[str],
    removed_files: list[str] | tuple = (),
    stats: dict | None = None,
    extra: dict | None = None,
    max_retries: int = 5,
) -> tuple[int, dict, int]:
    """Optimistic-concurrency loop for the manifest-LIST tier (r14,
    the r13 verdict's ask #3). The sharded commit carries strictly
    more state across a retry than the flat one — parent_shards,
    shard_stats, the flat→sharded conversion — and ALL of it is
    re-derived inside snapshot_commit_sharded from whatever parent the
    retry observes, so the rebase here is just "re-read the pointer
    and go again": the added shard is content-addressed (a retry
    rewrites the same path with the same bytes), parent-shard reuse is
    recomputed against the NEW parent's list, and a racing flat commit
    is converted exactly as a flat parent would be. Disjoint appends
    always converge; overlapping removed_files across writers are the
    caller's rebase problem (the snapshot_commit_with_retry caveat,
    unchanged). Returns (snapshot_id, info, conflicts_hit)."""
    conflicts = 0
    while True:
        parent = snapshot_current(table_dir)
        try:
            nid, info = snapshot_commit_sharded(
                table_dir, parent, added_files, removed_files, stats, extra
            )
            return nid, info, conflicts
        except SnapshotConflict:
            conflicts += 1
            if conflicts > max_retries:
                raise


def snapshot_delete_keys(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    keys_df: DataFrame,
    extra: dict | None = None,
) -> int:
    """MERGE-ON-READ equality delete (r14) — the tier COW deletion
    lacks at 100 TB: deleting a scattered key set under copy-on-write
    rewrites every file containing any key (o17's honest cost), which
    for a takedown list spread across a 100 TB table is a full-table
    rewrite. This commit instead writes the KEY SET as a parquet
    delete file and appends it to the snapshot's ``delete_files`` —
    commit cost O(delete set), ZERO data files touched (Iceberg v2
    equality deletes; Delta's deletion vectors are the positional
    variant — recorded, same read-side contract). Every reader
    (snapshot_read, both pruned readers, anything downstream of them)
    anti-joins the broadcast key set at read time; time travel is
    exact because delete_files are per-snapshot state (the parent
    snapshot still reads the rows; rollback restores the target's
    list). Reads pay one broadcast hash probe per outstanding delete
    file — snapshot_apply_deletes folds them into the data on the
    maintenance cadence, exactly like manifest compaction absorbs the
    commit dribble. The CDC feed (snapshot_changes) is MOR-aware
    since r15: a delete-file-only commit emits its deleted rows WITH
    values (one broadcast semi-join scan of shared files), a fold
    diffs to an empty feed, and the no-deletes fast path stays a
    pure manifest diff — the trade this sentence recorded in r14 is
    closed, driver-proven by o28.

    SEMANTICS DECISION (recorded): a delete file is a SNAPSHOT-WIDE
    TOMBSTONE — it masks the key in every data file of every later
    snapshot, including rows APPENDED after the delete commit, until
    a fold clears it. That is the right contract for the workloads
    the tier exists for (takedown/GDPR: the key must stay gone even
    if a replayed ingest re-delivers it), and it is deliberately NOT
    Iceberg's sequence-number scoping (deletes apply only to files
    older than the delete), which exists to make upsert-after-delete
    work under MOR — that variant needs per-file add-sequences that
    survive shard rewrites, and this engine's upsert path is the COW
    merge (o17/c7), so the extra machinery buys nothing here.
    Re-inserting a tombstoned key on purpose = fold first, use the
    COW merge, or (r15, the key-scale path the e35 CDC-apply sink
    runs) purge the old physical copies and snapshot_undelete_keys —
    O(delete set), zero blanket rewrite. The stateful property suite
    models exactly these semantics.

    CONCURRENCY (r15, advisor-medium): the delete file lands in a
    collision-free per-call dir (data/deletes/d_{token} — the same
    per-writer-path rule the multiwriter append sink uses), written
    ONCE, and the commit runs a CAS retry loop that RE-READS the
    fresh parent's delete list per attempt — so two racing delete
    writers, or a delete racing an append/maintenance commit, always
    converge to a linear history whose head carries the UNION of both
    key sets. The old scheme (d{parent+1} + mode=overwrite, no retry)
    let the CAS loser's overwrite clobber the winner's part files —
    the committed manifest then referenced missing delete files and
    rows silently resurrected. The barrier stress in test_ingest.py
    pins the race.

    Returns the new snapshot id."""
    import os

    d = os.path.join(table_dir, "data", "deletes", f"d_{_tmp_token()}")
    keys_df.select(key_col).distinct().write.mode("overwrite").parquet(d)
    entry = {"key": key_col, "paths": snapshot_data_files(d)}
    conflicts = 0
    while True:
        parent = snapshot_current(table_dir)
        dels = (
            list(
                snapshot_manifest(table_dir, parent).get("delete_files", [])
            )
            if parent > 0
            else []
        )
        try:
            new_id, _ = snapshot_commit_sharded(
                table_dir, parent, [], delete_files=dels + [entry],
                extra=extra,
            )
            return new_id
        except SnapshotConflict:
            conflicts += 1
            if conflicts > 8:
                raise


def snapshot_undelete_keys(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    keys_df: DataFrame,
    extra: dict | None = None,
) -> int:
    """UN-TOMBSTONE keys (r15, e35) — the restore verb the CDC-apply
    consumer needs: a feed that deletes key k in one batch and
    re-inserts it in a later one would have its re-insert masked
    forever by the snapshot-wide tombstone (the documented o24
    semantics: "re-inserting a tombstoned key on purpose = fold
    first"). Folding is table-scale maintenance; this is the
    key-scale alternative: REWRITE each outstanding delete file for
    ``key_col`` minus the given keys (delete sets are sketch-small,
    so the rewrite is O(delete set) — zero data files touched, same
    cost class as the delete commit itself), dropping entries that
    empty out. Keys never tombstoned are a no-op; if nothing changes,
    no commit is made and the current id returns. CAS retry like
    snapshot_delete_keys; collision-free output dirs."""
    import os

    keys = keys_df.select(key_col).distinct()
    conflicts = 0
    while True:
        parent = snapshot_current(table_dir)
        if parent == 0:
            return 0
        dels = list(
            snapshot_manifest(table_dir, parent).get("delete_files", [])
        )
        if not any(d["key"] == key_col for d in dels):
            return parent
        new_dels = []
        changed = False
        for d in dels:
            if d["key"] != key_col:
                new_dels.append(d)
                continue
            stored = spark.read.parquet(*d["paths"]).select(key_col)
            kept = stored.join(F.broadcast(keys), key_col, "left_anti")
            n_stored, n_kept = stored.count(), kept.count()
            if n_kept == n_stored:
                new_dels.append(d)  # untouched entry: reuse by path
                continue
            changed = True
            if n_kept == 0:
                continue  # entry emptied: drop it
            out = os.path.join(
                table_dir, "data", "deletes", f"u_{_tmp_token()}"
            )
            kept.write.mode("overwrite").parquet(out)
            new_dels.append(
                {"key": key_col, "paths": snapshot_data_files(out)}
            )
        if not changed:
            return parent
        try:
            new_id, _ = snapshot_commit_sharded(
                table_dir, parent, [], delete_files=new_dels, extra=extra
            )
            return new_id
        except SnapshotConflict:
            conflicts += 1
            if conflicts > 8:
                raise


def snapshot_apply_deletes(
    spark: SparkSession, table_dir: str
) -> tuple[int, dict]:
    """FOLD outstanding equality deletes into the data (r14) — the
    maintenance half of the MOR tier: rewrite only the data files
    whose stats COULD contain a deleted key (superset-admit range
    check per delete file's [min, max]; a file without bounds for the
    key column is admitted — stats never gate correctness), dropping
    the deleted rows, and commit with delete_files=[] so reads go
    back to bare scans. Untouched files are reused BY PATH through
    the sharded commit's removed_files path; with range-sorted data
    and key-local deletes the rewrite is O(affected files), and the
    worst case (unbounded stats, scattered keys) degrades to the COW
    cost the delete COMMIT avoided paying up front — pay-late at
    maintenance, never pay-eager at ingest. Row invariance (folded
    table == MOR view) is the caller's assertable contract; the o24
    query pins it with a hash. No-op (current id, empty info) when
    nothing is outstanding.

    r15 fixes (both advisor findings): (a) ZERO candidate files —
    every outstanding key outside every file's [min,max] range, the
    takedown-feed-of-absent-keys case — used to crash on an empty
    spark.read.parquet(*[]) and leave the delete files permanently
    unfoldable; it now commits delete_files=[] directly (nothing to
    rewrite, the masks were vacuous). (b) The fold output's per-file
    stats are RECOMPUTED for every column the parent manifest carried
    bounds for, so folded files stay prunable — previously they lost
    their [min,max] forever and every later pruned read had to open
    them (superset-admit kept correctness; pruning degraded per
    fold)."""
    import os

    cur = snapshot_current(table_dir)
    man = snapshot_manifest(table_dir, cur)
    dels = man.get("delete_files", [])
    if not dels:
        return cur, {"rewritten": [], "reused": [], "folded": 0}
    files, stats = _manifest_files_and_stats(table_dir, man)
    # candidate files per delete set: stats-range superset
    candidates: set[str] = set()
    for d in dels:
        keys = spark.read.parquet(*d["paths"]).select(d["key"])
        row = keys.agg(
            F.min(d["key"]).alias("lo"), F.max(d["key"]).alias("hi")
        ).collect()[0]
        lo, hi = row["lo"], row["hi"]
        col_stats = stats.get(d["key"], {})
        for fp in files:
            iv = col_stats.get(fp)
            if (
                iv is None
                or iv[0] is None
                or iv[1] is None
                or not (iv[1] < lo or iv[0] > hi)
            ):
                candidates.add(fp)
    rewritten = sorted(candidates)
    if not rewritten:
        # every outstanding key is provably absent from every file
        # (stats-range disjoint) — the masks are vacuous, so clear the
        # delete list without touching any data (r15, advisor-medium)
        new_id, info = snapshot_commit_sharded(
            table_dir, cur, [], delete_files=[], extra={"fold_of": cur}
        )
        return new_id, {
            "rewritten": [],
            "reused": sorted(files),
            "folded": len(dels),
            "commit_info": info,
        }
    out = os.path.join(table_dir, "data", f"fold_{cur + 1}")
    df = spark.read.parquet(*rewritten)
    df = _apply_delete_files(spark, man, df)
    df.write.mode("overwrite").parquet(out)
    new_files = snapshot_data_files(out)
    # recompute per-file bounds for the fold output so pruning
    # survives the fold (r15, advisor-low): one column-pruned scan per
    # stats column, grouped on file metadata — the o19 writer-pays
    # rule applied at the one place a maintenance op creates files
    new_stats: dict = {}
    for col in stats:
        if col not in df.columns:
            continue
        from urllib.parse import urlparse

        per_file = {
            urlparse(r["file"]).path: [r["lo"], r["hi"]]
            for r in spark.read.parquet(out)
            .groupBy(F.col("_metadata.file_path").alias("file"))
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .collect()  # bounded: one row per fold output file
        }
        new_stats[col] = per_file
    new_id, info = snapshot_commit_sharded(
        table_dir,
        cur,
        new_files,
        removed_files=rewritten,
        stats=new_stats or None,
        delete_files=[],
        extra={"fold_of": cur},
    )
    return new_id, {
        "rewritten": rewritten,
        "reused": sorted(set(files) - candidates),
        "folded": len(dels),
        "commit_info": info,  # shard-level reuse/rewrite facts
    }


def snapshot_compact_manifests(
    table_dir: str,
    min_files: int = 100,
    files_per_shard: int = 1000,
) -> tuple[int, dict]:
    """Manifest-list COMPACTION (r13) — the tier above shard commits,
    closing the trade snapshot_commit_sharded records: every commit
    adds one shard, so after N commits a full read resolution opens N
    shard files. This op merges shards smaller than ``min_files``
    into merged shards of ~``files_per_shard`` entries (Iceberg's
    rewrite_manifests): DATA FILES ARE UNTOUCHED — the table is
    byte-identical before and after (pinned by test via the resolved
    file list), the commit carries data_change=false so CDC skips it
    at metadata cost, and the exactly-once watermark carries forward
    like any commit.

    Cost is O(shards) metadata reads — the honest floor for an op
    whose job is to read the small shards it merges; big shards are
    reused BY PATH (zero bytes rewritten). Fewer than 2 small shards
    is a NO-OP returning the parent unchanged (merging one shard
    would churn a snapshot for zero resolution gain). Run it on the
    maintenance cadence compaction runs on; between runs, commit cost
    stays O(changed shards) and read cost degrades only linearly in
    commits-since-last-maintenance. Returns (snapshot_id, info) with
    {merged (old paths), kept (reused paths), new (merged paths)}."""
    import os

    parent = snapshot_current(table_dir)
    if parent == 0:
        return 0, {"merged": [], "kept": [], "new": []}
    man = snapshot_manifest(table_dir, parent)
    if "shards" not in man:
        return parent, {"merged": [], "kept": [], "new": []}
    mdir = os.path.join(table_dir, "manifests")
    small, kept = [], []
    docs = {}
    for sp in man["shards"]:
        with open(os.path.join(table_dir, sp)) as f:
            sd = json.load(f)
        if len(sd["files"]) < min_files:
            small.append(sp)
            docs[sp] = sd
        else:
            kept.append(sp)
    if len(small) < 2:
        return parent, {"merged": [], "kept": man["shards"], "new": []}
    # merge small shards' file lists + stats into ~files_per_shard
    # chunks, keeping file order deterministic (sorted, the shard
    # payload convention)
    all_files = sorted(fp for sp in small for fp in docs[sp]["files"])
    all_stats: dict = {}
    for sp in small:
        for col, per_file in docs[sp].get("stats", {}).items():
            all_stats.setdefault(col, {}).update(per_file)
    new_shards, shard_stats = [], {}
    parent_sstats = man.get("shard_stats", {})
    for sp in kept:
        if sp in parent_sstats:
            shard_stats[sp] = parent_sstats[sp]
    for i in range(0, len(all_files), files_per_shard):
        chunk = all_files[i : i + files_per_shard]
        nsp = _write_shard(mdir, chunk, all_stats)
        new_shards.append(nsp)
        b = _shard_bounds(table_dir, nsp)
        if b:
            shard_stats[nsp] = b
    body: dict = {"shards": kept + new_shards}
    if shard_stats:
        body["shard_stats"] = shard_stats
    new_id = _cas_publish_manifest(
        table_dir,
        parent,
        body,
        {"manifest_compaction_of": parent, "data_change": False},
    )
    return new_id, {"merged": small, "kept": kept, "new": new_shards}


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    from_id: int,
    to_id: int,
    key_col: str,
    compare_cols: list[str],
) -> tuple[DataFrame, dict]:
    """Change data feed between two snapshots (r11, s23) — the CDC
    completion of the snapshot layer (s20 time travel, s21 atomic
    commit, o17 COW merge): what changed from snapshot A to B, as
    typed change rows (insert / delete / update_pre / update_post).

    The scale insight is that COW at file granularity makes CDC a
    MANIFEST DIFF, not a table diff: files present in both manifests
    are byte-identical by the immutability contract, so their rows
    cannot have changed — only (files_A − files_B) and (files_B −
    files_A) are read, then full-outer-joined on the key. At 100 TB a
    day's merge touches a sliver of files; the feed costs O(rewritten
    slices), the shared-file majority is pruned by METADATA alone.
    One honest subtlety is handled rather than hidden: a rewritten
    file carries its UNCHANGED rows too (COW rewrites whole files), so
    same-key rows whose compared columns are null-safely equal are
    dropped — they moved files, not values. Emission is one pass:
    per joined key, a compacted array of candidate change structs is
    exploded (0 rows for rewritten-unchanged, 2 for updates).

    MOR-AWARE since r15 (closing the trade the r14 docstrings record
    in writing: "a delete-file-only commit is a metadata change it
    reports as empty" — which would let an incremental-MV consumer
    keep serving tombstoned rows forever). The feed is now the diff
    of the two snapshots' MOR VIEWS, computed in three bounded
    pieces:
      - each file-diff side is MASKED by its own snapshot's
        delete files (so a FOLD — tombstones materialized into
        rewritten files — diffs to an EMPTY feed: the row multiset
        did not change, and the feed says so);
      - a tombstone VALUE delta per key column (keys in B's delete
        sets but not A's = newly deleted; the reverse = resurrected,
        e.g. by rollback) turns SHARED-file rows into delete/insert
        changes: one broadcast semi-join scan of the shared files,
        paid ONLY when the delete lists differ (zero cost on the
        no-deletes fast path, which stays a pure manifest diff).
        Reused-by-path files provably exclude folded keys
        (stats-range exclusion is definitive), so a fold's
        shared-file probe is empty by construction.
    The delete feed therefore carries full row VALUES (what MV
    consumers need), at the honest cost Iceberg's changelog scan
    pays for the same reason: producing a deleted row's values
    requires reading it once.

    Returns (changes_df, info) where info carries the file-diff facts
    (shared/removed/added lists, delete_delta_cols) so callers and
    tests can pin that the metadata prune actually pruned."""
    # from_id == 0 is the pre-first-commit empty table: the feed from 0
    # returns the initial snapshot's rows as INSERTS (the Delta CDF
    # "starting version 0" semantic — what lets a consumer bootstrap
    # from the feed alone, s24's replay invariant)
    from_man = snapshot_manifest(table_dir, from_id) if from_id > 0 else {}
    to_man = snapshot_manifest(table_dir, to_id)
    old_files = snapshot_files(table_dir, from_id) if from_id > 0 else []
    new_files = snapshot_files(table_dir, to_id)
    removed = sorted(set(old_files) - set(new_files))
    added = sorted(set(new_files) - set(old_files))
    shared = sorted(set(old_files) & set(new_files))
    info = {"shared": shared, "removed": removed, "added": added}

    def _delete_paths(man) -> dict:
        by: dict[str, list[str]] = {}
        for d in man.get("delete_files", []):
            by.setdefault(d["key"], []).extend(d["paths"])
        return by

    a_dels, b_dels = _delete_paths(from_man), _delete_paths(to_man)
    # value-level tombstone delta per key column — delete sets are
    # sketch-small (a takedown list), so the subtracts are cheap
    delta_new: dict[str, DataFrame] = {}
    delta_gone: dict[str, DataFrame] = {}
    if a_dels != b_dels:
        for col in sorted(set(a_dels) | set(b_dels)):
            def keys_of(paths):
                if not paths:
                    return None
                return spark.read.parquet(*paths).select(col).distinct()

            ka, kb = keys_of(a_dels.get(col)), keys_of(b_dels.get(col))
            if kb is not None:
                delta_new[col] = kb if ka is None else kb.subtract(ka)
            if ka is not None:
                delta_gone[col] = ka if kb is None else ka.subtract(kb)
    info["delete_delta_cols"] = sorted(set(delta_new) | set(delta_gone))
    # rewrite-only commits (r12): a commit carrying data_change=false
    # (compaction — snapshot_compact sets it) declares its row multiset
    # IDENTICAL to the parent's, so the single-step feed across it is
    # EMPTY at metadata cost — Delta's dataChange=false rule, the
    # reason a nightly OPTIMIZE doesn't force every CDC consumer to
    # re-diff the whole rewritten table. Applies only to the exact
    # parent→child step; a multi-commit span still diffs honestly
    # (some commit in the span may have changed data).
    if from_id == to_id - 1 and to_id > 0:
        if snapshot_manifest(table_dir, to_id).get("data_change", True) is False:
            info["rewrite_only"] = True
            removed, added = [], []
    schema_files = removed or added or new_files or old_files
    if not schema_files:
        # identical-or-empty snapshots with NO files anywhere (r12,
        # advisor): spark.read.parquet() with zero paths is a
        # TypeError, and there is no file to infer types from — return
        # an explicitly-typed empty feed (string-typed values: with an
        # empty table the value types are unknowable and no row will
        # ever carry one)
        schema = T.StructType(
            [
                T.StructField(key_col, T.StringType()),
                T.StructField("change_type", T.StringType()),
            ]
            + [T.StructField(c, T.StringType()) for c in compare_cols]
        )
        return empty_with_schema(spark, schema), info

    def sel(df, prefix):
        return df.select(
            F.col(key_col).alias("_k"),
            F.lit(1).alias(f"{prefix}present"),
            *[F.col(c).alias(f"{prefix}{c}") for c in compare_cols],
        )

    def side(files, man, prefix, extras):
        # each side is that snapshot's MOR view of its diff files:
        # file rows masked by the snapshot's own delete files (r15)
        if files:
            df = _apply_delete_files(
                spark, man, spark.read.parquet(*files)
            )
        else:
            df = spark.read.parquet(*schema_files).limit(0)
        out = sel(df, prefix)
        # shared-file rows whose VISIBILITY changed (tombstone value
        # delta): byte-identical files, different masks — one
        # broadcast semi-join scan, only when a delta exists
        if shared and extras:
            s = _apply_delete_files(
                spark, man, spark.read.parquet(*shared)
            )
            extra_out = None
            for col, keys in extras.items():
                part = sel(s.join(F.broadcast(keys), col, "semi"), prefix)
                extra_out = (
                    part if extra_out is None else extra_out.unionByName(part)
                )
            if len(extras) > 1:
                # two delete columns can admit the SAME row twice —
                # collapse FULL-ROW duplicates, and only across the
                # extras union (r16, advisor fix): the old
                # dropDuplicates(["_k"]) over the whole side kept an
                # arbitrary row per key, so on a table whose rows are
                # not unique per key_col a legitimate file-diff change
                # row could be dropped nondeterministically
                extra_out = extra_out.distinct()
            out = out.unionByName(extra_out)
        return out

    o = side(removed, from_man, "_o_", delta_new)
    n = side(added, to_man, "_n_", delta_gone)
    j = o.join(n, "_k", "full_outer")
    is_ins = F.col("_n_present").isNotNull() & F.col("_o_present").isNull()
    is_del = F.col("_o_present").isNotNull() & F.col("_n_present").isNull()
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    is_upd = (
        F.col("_o_present").isNotNull()
        & F.col("_n_present").isNotNull()
        & differs
    )

    def change(tag, cond, prefix):
        return F.when(
            cond,
            F.struct(
                F.lit(tag).alias("change_type"),
                *[F.col(f"{prefix}{c}").alias(c) for c in compare_cols],
            ),
        )

    changes = j.select(
        "_k",
        F.explode(
            F.array_compact(
                F.array(
                    change("insert", is_ins, "_n_"),
                    change("delete", is_del, "_o_"),
                    change("update_pre", is_upd, "_o_"),
                    change("update_post", is_upd, "_n_"),
                )
            )
        ).alias("_c"),
    ).select(F.col("_k").alias(key_col), "_c.*")
    return changes, info


def snapshot_read_pruned(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int,
    col: str,
    lo,
    hi,
) -> tuple[DataFrame, dict]:
    """Manifest-stats-pruned time-travel read (r11, o19): the
    single-predicate surface over :func:`snapshot_read_pruned_multi`
    — see there for the prune semantics (superset-admit, tier-aware,
    string bounds). Returns (df, info) with kept/skipped lists."""
    return snapshot_read_pruned_multi(
        spark, table_dir, snapshot_id, {col: (lo, hi)}
    )


def snapshot_read_pruned_multi(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int,
    preds: dict,
) -> tuple[DataFrame, dict]:
    """Manifest-stats-pruned time-travel read, CONJUNCTIVE form (r14,
    the r13 verdict's ask #5): ``preds`` maps column -> (lo, hi); a
    shard/file is read only if EVERY predicate's interval intersects
    its [min, max] bounds for that column — the admitted set is the
    INTERSECTION of the per-predicate admitted sets, which is why a
    two-predicate read can open strictly fewer shards than either
    predicate alone. Bounds are typed as the column is typed: string
    columns prune by lexicographic [min, max] exactly as ints do (the
    stats dict has been per-column since o19; JSON round-trips str
    bounds losslessly), so date-string partitions, tag prefixes, and
    id ranges all zone-map the same way.

    Zero data-file I/O happens before the matching files — the prune
    consults the manifest JSON alone (the metadata-only operation o18
    performs with a recomputed stats scan; here the writer paid that
    scan once at commit). On a manifest LIST, shard-level bounds are
    consulted FIRST and a shard failing ANY predicate is never opened
    (Iceberg's manifest-list partition-summary skip) — prune I/O is
    O(shards admitted by the conjunction), not O(shards). Superset-
    admit semantics as always with zone maps: the caller still
    applies the residual predicate. A file or shard with NO bounds
    for some predicate column is ADMITTED for that predicate (stats
    are an optimization, never a correctness gate — the contract that
    lets stats cover only some columns). Returns (df, info) with the
    kept/skipped lists for callers and tests."""
    import os

    def _excluded(iv, lo, hi) -> bool:
        # disjoint-interval test; None bounds (missing stats or
        # all-null column) admit
        return (
            iv is not None
            and iv[0] is not None
            and iv[1] is not None
            and (iv[1] < lo or iv[0] > hi)
        )

    with open(
        os.path.join(table_dir, "manifests", f"v{snapshot_id}.json")
    ) as f:
        m = json.load(f)
    info: dict = {}
    if "shards" in m:
        sstats = m.get("shard_stats", {})
        opened, shards_skipped = [], []
        for sp in m["shards"]:
            bounds = sstats.get(sp, {})
            if any(
                _excluded(bounds.get(col), lo, hi)
                for col, (lo, hi) in preds.items()
            ):
                shards_skipped.append(sp)
            else:
                opened.append(sp)
        all_files, all_stats = _manifest_files_and_stats(
            table_dir, {"shards": opened}
        )
        info["shards_opened"] = opened
        info["shards_skipped"] = shards_skipped
        # `skipped` below lists only files from OPENED shards: files
        # inside skipped shards are pruned without ever being listed
        # (that unlisting IS the point)
    else:
        all_files, all_stats = _manifest_files_and_stats(table_dir, m)
    kept, skipped = [], []
    for fp in all_files:
        if any(
            _excluded(all_stats.get(col, {}).get(fp), lo, hi)
            for col, (lo, hi) in preds.items()
        ):
            skipped.append(fp)
        else:
            kept.append(fp)
    if not kept:
        schema_files = all_files or _manifest_files_and_stats(table_dir, m)[0]
        df = spark.read.parquet(*schema_files).limit(0)
    else:
        df = spark.read.parquet(*kept)
    # MOR correctness (r14): a pruned read honors the snapshot's
    # equality-delete files exactly like the full read does
    df = _apply_delete_files(spark, m, df)
    return df, {"kept": kept, "skipped": skipped, **info}


def snapshot_vacuum(
    table_dir: str,
    expire_before: int | None = None,
    min_age_s: float | None = None,
) -> dict:
    """Garbage-collect the snapshot pool (r11, o20) — the maintenance
    op the WAP gate (s22) points at ("orphaned staged files ...
    reclaimable by a vacuum that keeps manifest-referenced files"):

      1. optionally EXPIRE snapshots with id < ``expire_before`` —
         their manifests are removed (the current snapshot is always
         kept, whatever ``expire_before`` says: truncating history may
         never delete the present);
      2. delete every data file under ``table_dir``'s pool that no
         SURVIVING manifest references: quarantined WAP batches, data
         of expired snapshots, debris of crashed writers.

    Correctness argument, in the single-writer-vacuum miniature: a
    file is deleted only if NO manifest references it, and readers
    resolve manifests before files, so every surviving snapshot stays
    readable byte-identically (pinned by test and by the o20 oracle).

    Retention HORIZON (r13, closing this docstring's own recorded
    trade): ``min_age_s`` age-gates deletion (Delta's default is 7
    days) — an unreferenced file younger than the horizon is spared
    (reported in ``spared``), because "unreferenced" and "garbage"
    differ exactly for files an IN-FLIGHT commit has written but not
    yet linked into a manifest: reference-counting is the
    reachability story, the age gate is the concurrency story.
    ``None`` keeps the reachability-only behavior (safe here, where
    the single-writer miniature has no in-flight commits by
    construction). Returns {expired, deleted, kept, deleted_shards,
    spared} lists.

    Named refs PIN snapshots (r12, s26): a snapshot a ref points to is
    never expired, whatever ``expire_before`` says — expiring it would
    dangle every reader resolving that ref (Iceberg's
    expire_snapshots honors retained refs the same way)."""
    import os
    import re

    mdir = os.path.join(table_dir, "manifests")
    ids = []
    if os.path.isdir(mdir):
        for fname in os.listdir(mdir):
            m = re.fullmatch(r"v(\d+)\.json", fname)
            if m:
                ids.append(int(m.group(1)))
    if not ids:
        # manifest-less table (r12, advisor): with no surviving
        # manifest there is no reachability evidence — deleting the
        # data pool on zero information would be the unsafe direction,
        # so vacuum is a no-op rather than a ValueError from max([])
        return {
            "expired": [], "deleted": [], "kept": [],
            "deleted_shards": [], "spared": [], "spared_shards": [],
        }
    current = max(ids)
    pinned = set(snapshot_refs(table_dir).values())
    expired = []
    if expire_before is not None:
        for sid in sorted(ids):
            if sid < expire_before and sid != current and sid not in pinned:
                os.remove(os.path.join(mdir, f"v{sid}.json"))
                expired.append(sid)
    survivors = [sid for sid in ids if sid not in expired]
    referenced: set[str] = set()
    referenced_shards: set[str] = set()
    for sid in survivors:
        referenced.update(snapshot_files(table_dir, sid))
        sman = snapshot_manifest(table_dir, sid)
        referenced_shards.update(sman.get("shards", []))
        # live equality-delete files are load-bearing read state (r14,
        # MOR): reclaiming one would silently resurrect deleted rows
        for d in sman.get("delete_files", []):
            referenced.update(d["paths"])
    import time as _time

    deleted = []
    spared = []
    now = _time.time()
    data_root = os.path.join(table_dir, "data")
    for root, _, files in os.walk(data_root):
        for fname in files:
            fp = os.path.join(root, fname)
            if fname.endswith(".parquet") and fp not in referenced:
                if (
                    min_age_s is not None
                    and now - os.path.getmtime(fp) < min_age_s
                ):
                    spared.append(fp)  # possibly an in-flight commit
                    continue
                os.remove(fp)
                deleted.append(fp)
    # shard manifests are reference-counted exactly like data files
    # (r13, s27): a shard no surviving manifest LIST points at is
    # debris of expired snapshots — reclaim it the same reachability
    # way, so the manifest pool stays O(live shards), never O(history).
    # The min_age_s horizon applies HERE too (r14, advisor-medium): a
    # sharded commit writes its shard files BEFORE the CAS publishes
    # the list that references them, so an unconditional GC could
    # delete a freshly written shard and leave the racing commit's
    # manifest pointing at a missing file — the exact in-flight hazard
    # min_age_s closes for data files, reopened one tier up. Young
    # unreferenced shards are spared and reported, same as data files.
    deleted_shards = []
    spared_shards = []
    for fname in os.listdir(mdir):
        if fname.startswith("shard-") and fname.endswith(".json"):
            rel = os.path.join("manifests", fname)
            if rel not in referenced_shards:
                fp = os.path.join(mdir, fname)
                if (
                    min_age_s is not None
                    and now - os.path.getmtime(fp) < min_age_s
                ):
                    spared_shards.append(rel)
                    continue
                os.remove(fp)
                deleted_shards.append(rel)
    return {
        "expired": expired,
        "deleted": sorted(deleted),
        "kept": sorted(referenced),
        "deleted_shards": sorted(deleted_shards),
        "spared": sorted(spared),
        "spared_shards": sorted(spared_shards),
    }


def snapshot_append_batch(
    table_dir: str, batch_df: DataFrame, batch_id: int
) -> bool:
    """Idempotent-by-batch-id append into the snapshot table (r11,
    e25) — the sink half of streaming exactly-once, Delta's `txn`
    action in miniature: the manifest carries ``last_batch_id``, and a
    batch at or below it is a REPLAY (the engine re-delivers a
    micro-batch whenever a crash lands between sink output and
    checkpoint commit) — skipped entirely, returns False. A fresh
    batch writes its files into the pool and CAS-commits a snapshot
    recording the new watermark; the data write targets a
    deterministic per-batch dir with mode=overwrite, so a crash
    BETWEEN data write and commit leaves debris the replay simply
    overwrites (and o20's vacuum would reclaim if the stream never
    returns). With checkpointed batch ids strictly increasing, sink
    state (one int) + idempotent commit = exactly-once OUTPUT on top
    of the source's at-least-once replay. Single-writer per table
    assumed here; r14 closed the recorded multi-writer trade —
    :func:`snapshot_append_batch_multiwriter` gives each sink its own
    watermark in a shared last_batch_ids map with the rebase re-check.

    r13: the commit is SHARDED (snapshot_commit_sharded) — a stream
    sink is exactly the commit-per-micro-batch workload whose flat
    manifest grows O(table) per commit (the measured listing wall in
    SCALE.md's metadata curve); the sharded append writes one shard
    for the batch's files and reuses every prior shard by path, so
    sink commit cost is O(batch) forever. Readers are tier-blind;
    the manifest-list dribble is merged by the same maintenance
    cadence that compacts the data files (snapshot_compact_manifests)."""
    import os

    parent, last = snapshot_batch_watermark(table_dir)
    if batch_id <= last:
        return False
    out_dir = os.path.join(table_dir, "data", f"batch_{batch_id}")
    batch_df.write.mode("overwrite").parquet(out_dir)
    snapshot_commit_sharded(
        table_dir,
        parent,
        snapshot_data_files(out_dir),
        extra={"last_batch_id": batch_id},
    )
    return True


def snapshot_append_batch_multiwriter(
    table_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    writer_id: str,
    max_retries: int = 8,
) -> bool:
    """MULTI-WRITER idempotent-by-batch-id append (r14) — closing the
    trade snapshot_append_batch records in writing ("a multi-writer
    stream would retry the CAS via snapshot_commit_with_retry and
    re-check the watermark on rebase — recorded, not needed for one
    query's one sink"). N independent streaming sinks append to ONE
    table; each carries its own exactly-once watermark in the shared
    manifest's ``last_batch_ids`` map (Delta's per-appId `txn` action
    — one table, many transactional writers):

      - the per-writer watermark is checked BEFORE the data write
        (cheap replay refusal), and RE-CHECKED after every lost CAS
        (the rebase re-check the flat docstring promises): a racing
        commit that advanced OUR OWN watermark — a crashed
        predecessor's replay landing concurrently — turns the retry
        into a skip, never a double-apply;
      - other writers' watermarks are never touched: each commit
        re-merges the FRESH parent's map with its own entry, per
        retry, so concurrent writers' advances interleave losslessly
        (asserted by the barrier stress in tests);
      - data lands in a per-writer, per-batch deterministic dir with
        mode=overwrite — two writers can never collide on a path, and
        a crash between data write and commit leaves debris the
        replay overwrites (vacuum's retention horizon covers the
        never-returns case);
      - last_batch_ids is WATERMARK-CLASS (carried by every commit,
        maintenance included) and the commit is sharded: per-batch
        cost stays O(batch) regardless of writer count or table size.

    Single-writer-per-writer_id remains the contract (one streaming
    query per checkpoint); what this adds is many such writers per
    TABLE. Returns True iff this call committed the batch."""
    import os

    def _last(parent: int) -> int:
        if parent == 0:
            return -1
        return snapshot_manifest(table_dir, parent).get(
            "last_batch_ids", {}
        ).get(writer_id, -1)

    parent = snapshot_current(table_dir)
    if batch_id <= _last(parent):
        return False
    out_dir = os.path.join(
        table_dir, "data", f"w_{writer_id}", f"batch_{batch_id}"
    )
    batch_df.write.mode("overwrite").parquet(out_dir)
    files = snapshot_data_files(out_dir)
    conflicts = 0
    while True:
        parent = snapshot_current(table_dir)
        if batch_id <= _last(parent):
            # rebase re-check: our own watermark advanced while we
            # raced — a concurrent replay of this writer committed
            return False
        merged = dict(
            snapshot_manifest(table_dir, parent).get("last_batch_ids", {})
            if parent > 0
            else {}
        )
        merged[writer_id] = batch_id
        try:
            snapshot_commit_sharded(
                table_dir,
                parent,
                files,
                extra={"last_batch_ids": merged},
            )
            return True
        except SnapshotConflict:
            conflicts += 1
            if conflicts > max_retries:
                raise


def snapshot_rollback(table_dir: str, to_id: int) -> int:
    """ROLLBACK as a forward commit (r11, s25): revert the table to an
    older snapshot by CAS-committing a NEW snapshot whose file list is
    the old one's — history stays linear and append-only (the bad
    snapshot remains readable for forensics; nothing is deleted — a
    vacuum with expiry reclaims it later), readers of `current` see
    the reverted state atomically, and concurrent writers race the
    rollback through the same CAS every commit uses. This is
    Iceberg's rollback semantics; the alternative (moving the pointer
    backwards) would fork truth from the manifest pool, which
    snapshot_current() treats as authoritative — recorded, rejected.

    The reverted commit re-states the target's WHOLE manifest body
    (r15, advisor-low): a sharded target's shard list and shard_stats
    are reused by path (zero bytes rewritten — the shards are
    content-addressed and immutable), a flat target's files AND
    per-file stats come back together. The old path flattened a
    sharded target into an inline list with no stats, so a rollback
    silently cost every later pruned read its bounds."""
    parent = snapshot_current(table_dir)
    tman = snapshot_manifest(table_dir, to_id)
    # restore the TARGET's delete-file list too (r14, MOR tier):
    # rollback re-states the whole table state, so the reverted
    # snapshot's deletes come back with it (and deletes applied since
    # are rolled back) — the default parent-inheritance would keep
    # the HEAD's list, which is the wrong snapshot's state
    body: dict = {"delete_files": tman.get("delete_files", [])}
    if "shards" in tman:
        body["shards"] = list(tman["shards"])
        if tman.get("shard_stats"):
            body["shard_stats"] = tman["shard_stats"]
    else:
        body["files"] = sorted(tman.get("files", []))
        if tman.get("stats"):
            body["stats"] = tman["stats"]
    return _cas_publish_manifest(
        table_dir, parent, body, {"rollback_of": to_id}
    )


def snapshot_set_ref(table_dir: str, name: str, snapshot_id: int) -> None:
    """Named REF over the snapshot pool (r12, s26) — Iceberg's
    refs/tags surface: a ref is a named pointer (``refs/<name>.json``)
    updated by atomic rename, so readers resolving it see one snapshot
    or the other, never a torn state. Refs decouple "what readers
    consume" from "what writers produce": serving reads ``prod``, the
    nightly writes and audits candidates, and promotion is ONE pointer
    swap (the WAP publish gate completed — s22 quarantines a failed
    batch, refs name the blessed one). Semantics here are Iceberg's
    BRANCH-style mutable ref; the immutable-tag variant is
    :func:`snapshot_set_tag` (r14 — the s26 recorded variant, closed).
    The target snapshot must exist (fail-fast beats a dangling ref);
    moving a name a TAG already holds is refused — a tag's whole
    contract is that it never moves.

    The tag guard is ATOMIC (r15, advisor-low — the old
    exists-then-rename was a TOCTOU window a racing snapshot_set_tag
    could lose its fresh tag into): creation takes the same link(2)
    create-if-absent path the tag writer takes, so when the name is
    free exactly one of {ref writer, tag writer} wins the link and
    the other sees EEXIST. Only an EXISTING MUTABLE ref is replaced
    by rename — and a tag can never be created over an existing file
    (set_tag's own link fails), so the rename can only ever clobber
    another mutable-ref write, which is the last-writer-wins contract
    refs already have."""
    import os

    # existence check: resolving must never dangle
    snapshot_manifest(table_dir, snapshot_id)
    rdir = os.path.join(table_dir, "refs")
    os.makedirs(rdir, exist_ok=True)
    dst = os.path.join(rdir, f"{name}.json")
    tmp = os.path.join(rdir, f".{name}.tmp.{_tmp_token()}")
    with open(tmp, "w") as f:
        json.dump({"name": name, "snapshot_id": snapshot_id}, f)
    try:
        try:
            os.link(tmp, dst)  # create-if-absent: atomic when free
            return
        except FileExistsError:
            pass
        with open(dst) as f:
            if json.load(f).get("immutable"):
                raise ValueError(
                    f"'{name}' is an immutable tag; a tag never moves"
                )
        # existing MUTABLE ref: replace atomically. No tag can appear
        # under the rename (create-if-absent fails on existing files),
        # so this clobbers only other mutable-ref writes.
        os.rename(tmp, dst)
        tmp = None  # consumed by the rename
    finally:
        if tmp is not None and os.path.exists(tmp):
            os.unlink(tmp)


def snapshot_set_tag(table_dir: str, name: str, snapshot_id: int) -> None:
    """Immutable TAG over the snapshot pool (r14) — the variant s26
    recorded ("the same file never rewritten"), now structural rather
    than conventional: the tag file is created with link(2)
    create-if-absent (the commit CAS idiom), so two racing taggers
    get one winner and one error, and BOTH snapshot_set_tag and
    snapshot_set_ref refuse to move an existing tag. Tags are the
    audit-grade names (a release, a reproduced-run input pin) — the
    pointer a reader can cite knowing it can never silently move;
    they pin their target against expiry exactly like refs (vacuum
    reads the same refs/ dir). Delete the file to drop the pin —
    an explicit filesystem act, not an API, by design."""
    import os

    snapshot_manifest(table_dir, snapshot_id)  # no dangling tags
    rdir = os.path.join(table_dir, "refs")
    os.makedirs(rdir, exist_ok=True)
    dst = os.path.join(rdir, f"{name}.json")
    tmp = os.path.join(rdir, f".{name}.tmp.{_tmp_token()}")
    with open(tmp, "w") as f:
        json.dump(
            {"name": name, "snapshot_id": snapshot_id, "immutable": True},
            f,
        )
    try:
        os.link(tmp, dst)  # create-if-absent: one winner
    except FileExistsError:
        raise ValueError(
            f"tag '{name}' already exists (tags never move; refs do)"
        ) from None
    finally:
        os.unlink(tmp)


def snapshot_resolve_ref(table_dir: str, name: str) -> int:
    """Resolve a named ref to its snapshot id (KeyError if absent)."""
    import os

    path = os.path.join(table_dir, "refs", f"{name}.json")
    if not os.path.exists(path):
        raise KeyError(f"no ref {name!r} in {table_dir}")
    with open(path) as f:
        return json.load(f)["snapshot_id"]


def snapshot_refs(table_dir: str) -> dict[str, int]:
    """All named refs as {name: snapshot_id}."""
    import os

    rdir = os.path.join(table_dir, "refs")
    out: dict[str, int] = {}
    if os.path.isdir(rdir):
        for fname in os.listdir(rdir):
            if fname.endswith(".json") and not fname.startswith("."):
                with open(os.path.join(rdir, fname)) as f:
                    d = json.load(f)
                out[d["name"]] = d["snapshot_id"]
    return out


def snapshot_read_ref(
    spark: SparkSession, table_dir: str, name: str
) -> DataFrame:
    """Time-travel read through a named ref — what a serving job runs:
    ``read_ref(table, 'prod')`` instead of a hardcoded snapshot id."""
    return snapshot_read(spark, table_dir, snapshot_resolve_ref(table_dir, name))
