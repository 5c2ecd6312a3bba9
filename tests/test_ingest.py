"""Input-resolution tests (E2 steps 1-2): dispatch, natural-sort
renumbering, space normalisation, OME-companion indexing."""

from __future__ import annotations

from cellphe_data_pipeline_spark.domain.images import make_fake_image
from cellphe_data_pipeline_spark.plans.ingest import resolve_input


def test_resolve_plain_images_natural_order(spark, tmp_path):
    d = tmp_path / "raw"
    d.mkdir()
    # natural sort: img_2 before img_10; 'img 3' has a space (F2)
    (d / "img_10.fake").write_bytes(make_fake_image(seed=1, height=8, width=8))
    (d / "img_2.fake").write_bytes(make_fake_image(seed=2, height=8, width=8))
    (d / "img 3.fake").write_bytes(make_fake_image(seed=3, height=8, width=8))
    (d / "notes.txt").write_bytes(b"ignore me")

    out = resolve_input(spark, str(d)).collect()
    assert len(out) == 3
    by_idx = {r["global_index"]: r for r in sorted(out, key=lambda r: r["global_index"])}
    assert [by_idx[i]["frame_name"] for i in (1, 2, 3)] == [
        "frame_00001.tiff", "frame_00002.tiff", "frame_00003.tiff",
    ]
    # order is img_2 < img 3 < img_10 (numeric-aware, space-normalised)
    assert by_idx[1]["path"].endswith("img_2.fake")
    assert by_idx[2]["path"].endswith("img 3.fake")
    assert by_idx[3]["path"].endswith("img_10.fake")


def test_resolve_with_ome_companion(spark, tmp_path):
    d = tmp_path / "ome"
    d.mkdir()
    (d / "a.fake").write_bytes(make_fake_image(seed=4, height=8, width=8, n_frames=2))
    (d / "b.fake").write_bytes(make_fake_image(seed=5, height=8, width=8, n_frames=1))
    xml = (
        "<OME><Image><Pixels>"
        '<TiffData IFD="0" FirstT="2"><UUID FileName="a.fake"/></TiffData>'
        '<TiffData IFD="1" FirstT="0"><UUID FileName="a.fake"/></TiffData>'
        '<TiffData IFD="0" FirstT="1"><UUID FileName="b.fake"/></TiffData>'
        "</Pixels></Image></OME>"
    )
    (d / "x.companion.ome").write_bytes(xml.encode())

    out = resolve_input(spark, str(d)).collect()
    assert len(out) == 3
    got = {
        (r["path"].rsplit("/", 1)[-1], r["global_index"]) for r in out
    }
    # FirstT drives the global order (+1 for 1-indexing), NOT file order
    assert got == {("a.fake", 3), ("a.fake", 1), ("b.fake", 2)}


def test_resolve_jpeg_inputs(spark, tmp_path):
    """The reference's JPEG branch (main.nf:392-406) end-to-end for
    real (r5): byte-built baseline JPEGs land in the same canonical
    frame relation as TIFF/FAKE inputs, decoded by the in-engine T.81
    codec, natural-sorted and renumbered frame_%05d."""
    import numpy as np

    from cellphe_data_pipeline_spark.domain.jpeg import encode_jpeg_gray
    from cellphe_data_pipeline_spark.plans.ingest import resolve_input

    rng = np.random.RandomState(8)
    d = tmp_path / "jpgs"
    d.mkdir()
    imgs = {}
    for name in ("t 2.jpg", "t 10.jpg"):  # space + natural-sort probe
        img = rng.randint(0, 256, (12, 16), dtype=np.uint8)
        imgs[name] = img
        (d / name).write_bytes(encode_jpeg_gray(img, quality=100))

    out = resolve_input(spark, str(d), glob="*.jpg").collect()
    assert len(out) == 2
    by_idx = {r["global_index"]: r for r in out}
    # natural sort: t 2 before t 10 (lexicographic would invert)
    assert by_idx[1]["path"].endswith("t 2.jpg")
    assert by_idx[2]["path"].endswith("t 10.jpg")
    assert by_idx[1]["frame_name"] == "frame_00001.tiff"
    for i, name in ((1, "t 2.jpg"), (2, "t 10.jpg")):
        r = by_idx[i]
        dec = np.frombuffer(r["data"], dtype=np.uint8).reshape(r["height"], r["width"])
        assert np.abs(dec.astype(int) - imgs[name].astype(int)).max() <= 1


def test_schema_evolution_explicit_schema_equals_merged_read(spark, tmp_path):
    """The production path for an evolved table — an explicit pinned
    schema, zero footer sweep — must return exactly what the
    mergeSchema=true migration-audit read returns: union schema,
    NULLs for files written before the column existed."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "evo")
    old = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, v double")
    new = spark.createDataFrame(
        [(3, 30.0, "HIGH")], "id bigint, v double, prio string"
    )
    old.write.mode("overwrite").parquet(d)
    new.write.mode("append").parquet(d)
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(d)
        .select("id", "v", "prio")
    )
    pinned = spark.read.schema("id bigint, v double, prio string").parquet(d)
    got_m = {tuple(r) for r in merged.collect()}
    got_p = {tuple(r) for r in pinned.select("id", "v", "prio").collect()}
    assert got_m == got_p == {(1, 10.0, None), (2, 20.0, None), (3, 30.0, "HIGH")}


def test_snapshot_manifests_cow_reuse_and_immutability(spark, tmp_path):
    """s20's table-format contract at the file level: snapshot 2's
    manifest REUSES snapshot 1's untouched data files (copy-on-write),
    and snapshot 1 reads back unchanged AFTER the v2 commit."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_data_files,
        snapshot_files,
        snapshot_read,
    )

    table = str(tmp_path / "tt")
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2], float(i)) for i in range(20)],
        "id bigint, part string, v double",
    )
    per = {}
    v1 = []
    for p in ("a", "b"):
        d = os.path.join(table, "data", "s1", p)
        df.filter(F.col("part") == p).write.parquet(d)
        per[p] = snapshot_data_files(d)
        v1 += per[p]
    snapshot_commit_atomic(table, 0, v1)
    v1_state = {r["id"]: r["v"] for r in snapshot_read(spark, table, 1).collect()}

    # v2: restate part 'a' only; part 'b' files reused verbatim
    d2 = os.path.join(table, "data", "s2", "a")
    fixed = df.filter(F.col("part") == "a").withColumn("v", F.col("v") + 100.0)
    fixed.write.parquet(d2)
    snapshot_commit_atomic(table, 1, per["b"] + snapshot_data_files(d2))

    assert set(per["b"]) <= set(snapshot_files(table, 2))  # COW reuse
    got1 = {r["id"]: r["v"] for r in snapshot_read(spark, table, 1).collect()}
    assert got1 == v1_state  # time travel: v1 unchanged after v2 commit
    got2 = {r["id"]: r["v"] for r in snapshot_read(spark, table, 2).collect()}
    assert got2 == {i: v + 100.0 if i % 2 == 0 else v for i, v in v1_state.items()}


def test_snapshot_atomic_commit_conflict_and_retry(tmp_path):
    """s21's commit protocol at the primitive level: the CAS commit
    rejects a stale parent AND a lost link race; the retry loop rebases
    and converges; retry exhaustion surfaces after exactly
    SNAPSHOT_MAX_CONFLICTS + 1 attempts instead of spinning."""
    import json
    import os

    import pytest

    from cellphe_data_pipeline_spark.sources.io import (
        SNAPSHOT_MAX_CONFLICTS,
        SnapshotConflict,
        snapshot_commit_atomic,
        snapshot_current,
        snapshot_files,
        snapshot_retry,
    )

    table = str(tmp_path / "tt")
    assert snapshot_current(table) == 0  # empty table
    assert snapshot_commit_atomic(table, 0, ["f1"]) == 1

    # stale parent detected before any write
    with pytest.raises(SnapshotConflict):
        snapshot_commit_atomic(table, 0, ["f2"])

    # two writers from parent 1: A wins, B must conflict at the link
    snapshot_commit_atomic(table, 1, ["f1", "fA"])  # v2
    with pytest.raises(SnapshotConflict):
        snapshot_commit_atomic(table, 1, ["f1", "fB"])

    # retry loop: rebase against whatever parent it sees, converge
    sid, conflicts = snapshot_retry(
        table,
        lambda parent: snapshot_commit_atomic(
            table, parent, snapshot_files(table, parent) + ["fB"]
        ),
    )
    assert sid == 3 and conflicts == 0
    assert set(snapshot_files(table, 3)) == {"f1", "fA", "fB"}

    # retry exhaustion: an attempt that is always beaten to its commit
    attempts = []

    def hostile(parent):
        attempts.append(parent)
        snapshot_commit_atomic(table, parent, snapshot_files(table, parent))
        return snapshot_commit_atomic(table, parent, ["never"])

    with pytest.raises(SnapshotConflict):
        snapshot_retry(table, hostile)
    assert len(attempts) == SNAPSHOT_MAX_CONFLICTS + 1
    assert attempts == list(range(3, 3 + len(attempts)))  # rebased each time

    # pointer repair: a crash between link and rename leaves the cache
    # stale; snapshot_current reconciles against the manifest pool
    cur = snapshot_current(table)
    ptr = os.path.join(table, "current")
    with open(ptr, "w") as f:
        json.dump({"snapshot_id": 1}, f)  # stale cache
    assert snapshot_current(table) == cur  # repaired from manifests
    with open(ptr) as f:
        assert json.load(f)["snapshot_id"] == cur


def test_snapshot_changes_classifies_and_prunes(spark, tmp_path):
    """snapshot_changes: insert/delete/update classes typed correctly,
    rewritten-but-unchanged rows dropped, shared files never part of
    the diff read set."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_changes,
        snapshot_commit_atomic,
        snapshot_data_files,
    )

    table = str(tmp_path / "cdc")
    base_a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "x", 2.0), (3, "x", 3.0)],
        "k bigint, grp string, v double",
    )
    base_b = spark.createDataFrame(
        [(10, "y", 10.0)], "k bigint, grp string, v double"
    )
    da, db = f"{table}/a1", f"{table}/b1"
    base_a.write.parquet(da)
    base_b.write.parquet(db)
    files_a, files_b = snapshot_data_files(da), snapshot_data_files(db)
    snapshot_commit_atomic(table, 0, files_a + files_b)

    # rewrite ONLY slice a: k=1 updated, k=2 deleted, k=3 untouched
    # (but rewritten — must NOT appear in the feed), k=4 inserted
    new_a = spark.createDataFrame(
        [(1, "x", 100.0), (3, "x", 3.0), (4, "x", 4.0)],
        "k bigint, grp string, v double",
    )
    da2 = f"{table}/a2"
    new_a.coalesce(1).write.parquet(da2)
    snapshot_commit_atomic(table, 1, snapshot_data_files(da2) + files_b)

    changes, info = snapshot_changes(
        spark, table, 1, 2, key_col="k", compare_cols=["grp", "v"]
    )
    got = {(r["k"], r["change_type"]): r["v"] for r in changes.collect()}
    assert got == {
        (1, "update_pre"): 1.0,
        (1, "update_post"): 100.0,
        (2, "delete"): 2.0,
        (4, "insert"): 4.0,
    }
    assert info["shared"] == files_b  # slice b pruned by metadata
    assert set(info["removed"]) == set(files_a)


def test_snapshot_stats_prune_admits_files_without_stats(spark, tmp_path):
    """Manifest stats are an optimization, never a correctness gate: a
    file with no stats entry must be ADMITTED by the prune."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_data_files,
        snapshot_read_pruned,
    )

    table = str(tmp_path / "t")
    lo_df = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    hi_df = spark.createDataFrame([(100.0,), (200.0,)], "v double")
    d1, d2 = f"{table}/data/a", f"{table}/data/b"
    lo_df.coalesce(1).write.parquet(d1)
    hi_df.coalesce(1).write.parquet(d2)
    f1, f2 = snapshot_data_files(d1), snapshot_data_files(d2)
    # stats cover ONLY the low file; the high file has no entry
    snapshot_commit_atomic(
        table, 0, f1 + f2, stats={"v": {f1[0]: [1.0, 2.0]}}
    )
    df, info = snapshot_read_pruned(spark, table, 1, "v", 150.0, 300.0)
    assert info["skipped"] == f1  # stats excluded it
    assert info["kept"] == f2     # no stats -> admitted
    assert [r["v"] for r in df.filter("v >= 150").collect()] == [200.0]


def test_snapshot_vacuum_never_deletes_current(spark, tmp_path):
    """expire_before beyond the current snapshot must still keep the
    current manifest and every file it references."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_data_files,
        snapshot_read,
        snapshot_vacuum,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame([(1,), (2,)], "k bigint")
    d1 = f"{table}/data/a"
    df.coalesce(1).write.parquet(d1)
    files = snapshot_data_files(d1)
    snapshot_commit_atomic(table, 0, files)
    info = snapshot_vacuum(table, expire_before=99)
    assert info["expired"] == [] and info["deleted"] == []
    assert all(os.path.exists(f) for f in files)
    assert snapshot_read(spark, table, 1).count() == 2


def test_snapshot_changes_from_version_zero(spark, tmp_path):
    """The bootstrap semantic: the feed from version 0 returns the
    initial snapshot's rows as inserts."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_changes,
        snapshot_commit_atomic,
        snapshot_data_files,
    )

    table = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k bigint, g string, v double"
    )
    d = f"{table}/data/a"
    df.coalesce(1).write.parquet(d)
    snapshot_commit_atomic(table, 0, snapshot_data_files(d))
    changes, info = snapshot_changes(
        spark, table, 0, 1, key_col="k", compare_cols=["g", "v"]
    )
    got = {(r["k"], r["change_type"]) for r in changes.collect()}
    assert got == {(1, "insert"), (2, "insert")}
    assert info["shared"] == [] and info["removed"] == []


def test_snapshot_layer_stateful_property(spark, tmp_path):
    """Stateful property test over the whole table-format surface:
    random sequences of MERGE / ROLLBACK / VACUUM / COMPACT / SET-REF
    / EXPIRE ops against a python model. Invariants after every op:
      - current state == the model's row dict, exactly;
      - every LIVE (unexpired) snapshot is still readable;
      - vacuum never deletes a file any surviving manifest references;
      - expiry expires exactly the unpinned pre-current ids, never a
        ref-pinned one, and every ref keeps resolving to the state the
        model recorded at its target (r12: refs + expiry in the mix).
    """
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.operators.scale import snapshot_compact
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_current,
        snapshot_read,
        snapshot_read_ref,
        snapshot_rollback,
        snapshot_set_ref,
        snapshot_vacuum,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        merge_batch_idempotent,
    )

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_apply_deletes,
        snapshot_commit_sharded,
        snapshot_compact_manifests,
        snapshot_data_files,
        snapshot_delete_keys,
    )

    op = st.one_of(
        st.tuples(st.just("merge"), st.lists(
            st.tuples(st.integers(1, 6), st.integers(0, 99)),
            min_size=1, max_size=4, unique_by=lambda t: t[0],
        )),
        st.tuples(st.just("rollback"), st.just(None)),
        st.tuples(st.just("vacuum"), st.just(None)),
        st.tuples(st.just("compact"), st.just(None)),
        st.tuples(st.just("setref"), st.integers(0, 3)),
        st.tuples(st.just("expire"), st.just(None)),
        # r13: the sharded tier joins the mix — histories may mix
        # flat and manifest-list snapshots freely
        st.tuples(st.just("sharded_append"), st.integers(0, 99)),
        st.tuples(st.just("mcompact"), st.just(None)),
        # r14: the MOR tier joins the mix — snapshot-wide tombstones
        # (a deleted key stays masked even if a later merge re-adds
        # it, until a fold clears the list: the documented semantics)
        st.tuples(st.just("mor_delete"), st.integers(0, 99)),
        st.tuples(st.just("fold"), st.just(None)),
    )

    @settings(max_examples=4, deadline=None)
    @given(st.lists(op, min_size=2, max_size=7), st.integers(0, 10**6))
    def check(ops, salt):
        import shutil

        table = str(tmp_path / f"prop_{salt}")
        shutil.rmtree(table, ignore_errors=True)
        model: dict[int, float] = {}
        tomb: set[int] = set()         # outstanding MOR tombstones
        history: dict[int, dict] = {}  # sid -> model state at commit
        hist_tomb: dict[int, set] = {}  # sid -> tombstones at commit
        live: set[int] = set()         # unexpired snapshot ids
        refs: dict[str, int] = {}
        batch_id = 0
        for kind, arg in ops:
            cur = snapshot_current(table)
            if kind == "merge":
                rows = [(k, float(v)) for k, v in arg]
                df = spark.createDataFrame(rows, "event_id bigint, v double")
                assert merge_batch_idempotent(spark, table, df, batch_id)
                batch_id += 1
                model.update({k: float(v) for k, v in arg})
                for k in tomb:  # tombstones mask re-merged keys too
                    model.pop(k, None)
                history[cur + 1] = dict(model)
                hist_tomb[cur + 1] = set(tomb)
                live.add(cur + 1)
            elif kind == "rollback":
                if cur < 2 or (cur - 1) not in live:
                    continue  # target must exist and be unexpired
                snapshot_rollback(table, cur - 1)
                model = dict(history[cur - 1])
                tomb = set(hist_tomb.get(cur - 1, set()))
                history[cur + 1] = dict(model)
                hist_tomb[cur + 1] = set(tomb)
                live.add(cur + 1)
            elif kind == "vacuum":
                if cur == 0:
                    continue
                info = snapshot_vacuum(table)  # reachability-only
                assert info["expired"] == []
            elif kind == "compact":
                if cur == 0:
                    continue
                # r12: metadata motion — model UNCHANGED, new snapshot,
                # the exactly-once watermark survives (later merges
                # still commit)
                snapshot_compact(spark, table, sort_cols=["event_id"])
                history[cur + 1] = dict(model)
                hist_tomb[cur + 1] = set(tomb)
                live.add(cur + 1)
            elif kind == "sharded_append":
                # fresh keys only (appends ADD rows; colliding with a
                # merged key would make the table a multiset and the
                # dict model wrong by construction)
                key = 1000 + batch_id
                import os as _os

                d = _os.path.join(table, "data", f"sh{batch_id}")
                spark.createDataFrame(
                    [(key, float(arg))], "event_id bigint, v double"
                ).coalesce(1).write.mode("overwrite").parquet(d)
                snapshot_commit_sharded(
                    table, cur, snapshot_data_files(d),
                    extra={"last_batch_id": batch_id},
                )
                batch_id += 1
                model[key] = float(arg)
                history[cur + 1] = dict(model)
                hist_tomb[cur + 1] = set(tomb)
                live.add(cur + 1)
            elif kind == "mcompact":
                if cur == 0:
                    continue
                nid, _ = snapshot_compact_manifests(table, min_files=3)
                if nid != cur:  # no-op below 2 small shards
                    history[nid] = dict(model)  # metadata motion only
                    hist_tomb[nid] = set(tomb)
                    live.add(nid)
            elif kind == "mor_delete":
                if cur == 0 or not model:
                    continue
                ks = sorted(model)[: 1 + arg % 3]
                kdf = spark.createDataFrame(
                    [(k,) for k in ks], "event_id bigint"
                )
                snapshot_delete_keys(spark, table, "event_id", kdf)
                tomb |= set(ks)
                for k in ks:
                    model.pop(k, None)
                history[cur + 1] = dict(model)
                hist_tomb[cur + 1] = set(tomb)
                live.add(cur + 1)
            elif kind == "fold":
                if cur == 0:
                    continue
                nid, _ = snapshot_apply_deletes(spark, table)
                if nid != cur:  # no-op without outstanding deletes
                    tomb = set()
                    history[nid] = dict(model)  # read state unchanged
                    hist_tomb[nid] = set()
                    live.add(nid)
            elif kind == "setref":
                if cur == 0:
                    continue
                target = max(1, cur - arg)
                if target not in live:
                    continue
                snapshot_set_ref(table, "r", target)
                refs["r"] = target
            elif kind == "expire":
                if cur == 0:
                    continue
                info = snapshot_vacuum(table, expire_before=cur)
                pinned = set(refs.values())
                want = sorted(
                    s for s in live if s < cur and s not in pinned
                )
                assert info["expired"] == want, (info["expired"], want)
                live -= set(want)
            cur = snapshot_current(table)
            if cur > 0:
                got = {
                    r["event_id"]: r["v"]
                    for r in snapshot_read(spark, table, cur).collect()
                }
                assert got == model, (kind, got, model)
                # every LIVE snapshot still readable, bit-stable
                for sid in sorted(live):
                    assert snapshot_read(spark, table, sid).count() >= 0
                # every ref resolves to the state recorded at its target
                for name, sid in refs.items():
                    assert sid in live, (name, sid, live)
                    got_ref = {
                        r["event_id"]: r["v"]
                        for r in snapshot_read_ref(spark, table, name).collect()
                    }
                    assert got_ref == history[sid], (name, sid)

    check()


def test_snapshot_changes_property_vs_model_diff(spark, tmp_path):
    """Property: the CDC feed between two random states equals the
    dict diff (inserts/deletes/updates; unchanged rows absent even
    when their file was rewritten)."""
    from hypothesis import given, settings, strategies as st

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_changes,
        snapshot_commit_atomic,
        snapshot_data_files,
    )

    state = st.dictionaries(
        st.integers(1, 8), st.integers(0, 9).map(float),
        min_size=0, max_size=6,
    )

    @settings(max_examples=5, deadline=None)
    @given(state, state, st.integers(0, 10**6))
    def check(s1, s2, salt):
        if not s1 and not s2:
            return
        import shutil

        table = str(tmp_path / f"cdcp_{salt}")
        shutil.rmtree(table, ignore_errors=True)
        parent = 0
        for sid, s in ((1, s1), (2, s2)):
            d = f"{table}/data/s{sid}_{salt}"
            df = spark.createDataFrame(
                [(k, v) for k, v in s.items()] or [],
                "k bigint, v double",
            )
            df.coalesce(1).write.mode("overwrite").parquet(d)
            parent = snapshot_commit_atomic(
                table, parent, snapshot_data_files(d)
            )
        changes, _ = snapshot_changes(
            spark, table, 1, 2, key_col="k", compare_cols=["v"]
        )
        got = {(r["k"], r["change_type"]): r["v"] for r in changes.collect()}
        want = {}
        for k in set(s1) | set(s2):
            if k in s1 and k not in s2:
                want[(k, "delete")] = s1[k]
            elif k in s2 and k not in s1:
                want[(k, "insert")] = s2[k]
            elif s1[k] != s2[k]:
                want[(k, "update_pre")] = s1[k]
                want[(k, "update_post")] = s2[k]
        assert got == want, (s1, s2, got, want)

    check()


def test_commit_carries_batch_watermark_forward(spark, tmp_path):
    """r12 (advisor): the e25 exactly-once watermark must survive
    interleaved commits that don't thread it themselves — a rollback
    or COW merge between two stream batches previously reset
    last_batch_id to -1 and silently re-enabled replay of
    already-applied batches in a mixed batch+stream workload."""
    from cellphe_data_pipeline_spark.operators.scale import merge_rows_cow
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_append_batch,
        snapshot_current,
        snapshot_manifest,
        snapshot_read,
        snapshot_rollback,
    )

    table = str(tmp_path / "mixed")
    b0 = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "event_id bigint, v double"
    )
    assert snapshot_append_batch(table, b0, batch_id=7) is True

    # interleaved commit WITHOUT extra: a batch MERGE from another job
    delta = spark.createDataFrame([(2, 20.0)], "event_id bigint, v double")
    merge_rows_cow(spark, table, delta, key_col="event_id")
    assert (
        snapshot_manifest(table, snapshot_current(table))["last_batch_id"]
        == 7
    )

    # a rollback (extra={'rollback_of': ...}) also carries it
    snapshot_rollback(table, 1)
    assert (
        snapshot_manifest(table, snapshot_current(table))["last_batch_id"]
        == 7
    )

    # the watermark still refuses the replay and admits the next batch
    assert snapshot_append_batch(table, b0, batch_id=7) is False
    b1 = spark.createDataFrame([(3, 3.0)], "event_id bigint, v double")
    assert snapshot_append_batch(table, b1, batch_id=8) is True
    got = {
        r["event_id"]
        for r in snapshot_read(spark, table, snapshot_current(table)).collect()
    }
    assert got == {1, 2, 3}


def test_snapshot_changes_no_diff_and_empty_snapshots(spark, tmp_path):
    """r12 (advisor): identical snapshots and fully-empty snapshots
    must produce an EMPTY typed feed, not a zero-path read crash."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_changes,
        snapshot_commit_atomic,
        snapshot_data_files,
    )

    # case 1: two snapshots sharing every file (rollback-to-self shape)
    table = str(tmp_path / "same")
    df = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    d = f"{table}/data/a"
    df.coalesce(1).write.parquet(d)
    files = snapshot_data_files(d)
    snapshot_commit_atomic(table, 0, files)
    snapshot_commit_atomic(table, 1, files)
    changes, info = snapshot_changes(
        spark, table, 1, 2, key_col="k", compare_cols=["v"]
    )
    assert changes.count() == 0
    assert info["shared"] == files

    # case 2: both snapshots EMPTY (no files anywhere) — previously a
    # TypeError from spark.read.parquet() with zero paths
    table2 = str(tmp_path / "empty")
    snapshot_commit_atomic(table2, 0, [])
    snapshot_commit_atomic(table2, 1, [])
    changes2, info2 = snapshot_changes(
        spark, table2, 1, 2, key_col="k", compare_cols=["v"]
    )
    assert changes2.count() == 0
    assert [f.name for f in changes2.schema.fields] == ["k", "change_type", "v"]
    assert info2 == {
        "shared": [], "removed": [], "added": [],
        "delete_delta_cols": [],  # r15: the MOR-aware feed's new fact
    }


def test_snapshot_vacuum_manifestless_table_is_noop(tmp_path):
    """r12 (advisor): vacuum on a table with no manifests (never
    committed, or dir missing) must be a safe no-op — with zero
    reachability evidence, deleting the data pool would be the unsafe
    direction (and max([]) was a ValueError)."""
    import os

    from cellphe_data_pipeline_spark.sources.io import snapshot_vacuum

    empty = {
        "expired": [], "deleted": [], "kept": [],
        "deleted_shards": [], "spared": [], "spared_shards": [],
    }
    table = str(tmp_path / "nomanifest")
    # dir entirely absent
    assert snapshot_vacuum(table) == empty
    # data pool present but no manifest dir: files must survive
    os.makedirs(f"{table}/data")
    with open(f"{table}/data/orphan.parquet", "w") as f:
        f.write("x")
    assert snapshot_vacuum(table) == empty
    assert os.path.exists(f"{table}/data/orphan.parquet")


def test_snapshot_cas_multiwriter_stress(tmp_path):
    """r12 (verdict ask #3): N concurrent committers through
    snapshot_retry — the contract a nightly with parallel
    backfills exercises. Proves (a) linear history: snapshot ids are
    exactly 1..N+history with no gaps and every manifest's parent is
    id-1; (b) no lost snapshots: the final file list contains every
    writer's token exactly once; (c) bounded retries: total conflicts
    observed <= sum of allowed retries, and every writer committed."""
    import json
    import os
    import threading

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_current,
        snapshot_files,
        snapshot_manifest,
        snapshot_retry,
    )

    table = str(tmp_path / "race")
    snapshot_commit_atomic(table, 0, ["seed"])  # v1

    n_writers = 8
    results: dict[int, tuple[int, int]] = {}
    errors: list[BaseException] = []
    barrier = threading.Barrier(n_writers)

    def writer(i: int) -> None:
        def build(parent: int) -> list[str]:
            base = snapshot_files(table, parent) if parent > 0 else []
            return base + [f"w{i}"]

        try:
            barrier.wait()  # maximise the race
            results[i] = snapshot_retry(
                table,
                lambda parent: snapshot_commit_atomic(
                    table, parent, build(parent)
                ),
            )
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # every writer committed, each to a distinct snapshot id
    assert len(results) == n_writers
    ids = sorted(sid for sid, _ in results.values())
    assert ids == list(range(2, 2 + n_writers))  # linear, no gaps
    assert snapshot_current(table) == 1 + n_writers

    # parent chain is exactly linear and every manifest parses cleanly
    for sid in range(1, 2 + n_writers):
        m = snapshot_manifest(table, sid)
        assert m["snapshot_id"] == sid and m["parent_id"] == sid - 1

    # no lost updates: the head contains every token exactly once
    head = snapshot_files(table, snapshot_current(table))
    assert sorted(head) == sorted(["seed"] + [f"w{i}" for i in range(n_writers)])

    # no scratch debris left behind
    leftovers = [
        f
        for f in os.listdir(os.path.join(table, "manifests"))
        if not f.endswith(".json")
    ]
    assert leftovers == []

    # bounded retries: with N writers a single commit can lose at most
    # N-1 races per round; the observed totals must stay finite and
    # each writer's count within its own allowance
    for sid, conflicts in results.values():
        assert conflicts <= n_writers + 2


def test_cdc_feed_skips_rewrite_only_compaction_step(spark, tmp_path):
    """r12: Delta's dataChange=false rule — a compaction commit
    declares its row multiset identical to the parent's, so (a) the
    single-step CDC feed across it is EMPTY without reading data
    files, (b) an s24-style full replay across the compaction
    boundary still reconstructs the table exactly, and (c) a
    MULTI-step span containing the compaction plus a real change
    still diffs honestly."""
    from cellphe_data_pipeline_spark.operators.scale import snapshot_compact
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_append_batch,
        snapshot_changes,
        snapshot_current,
        snapshot_read,
    )

    table = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "event_id bigint, v double"
    )
    b2 = spark.createDataFrame(
        [(3, 3.0), (4, 4.0)], "event_id bigint, v double"
    )
    snapshot_append_batch(table, b1, batch_id=1)     # v1
    snapshot_append_batch(table, b2, batch_id=2)     # v2
    snapshot_compact(spark, table, sort_cols=["event_id"])  # v3, no-data-change
    snapshot_append_batch(
        table,
        spark.createDataFrame([(5, 5.0)], "event_id bigint, v double"),
        batch_id=3,
    )                                                 # v4
    assert snapshot_current(table) == 4

    # (a) the compaction step is empty and marked rewrite-only
    step, info = snapshot_changes(
        spark, table, 2, 3, key_col="event_id", compare_cols=["v"]
    )
    assert info.get("rewrite_only") is True
    assert step.count() == 0

    # (b) full replay v0..v4 reconstructs the current table exactly
    rows: dict[int, float] = {}
    for to in range(1, 5):
        feed, _ = snapshot_changes(
            spark, table, to - 1, to, key_col="event_id", compare_cols=["v"]
        )
        for r in feed.collect():
            if r["change_type"] in ("insert", "update_post"):
                rows[r["event_id"]] = r["v"]
            elif r["change_type"] == "delete":
                rows.pop(r["event_id"], None)
    got = {
        r["event_id"]: r["v"] for r in snapshot_read(spark, table, 4).collect()
    }
    assert rows == got == {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0, 5: 5.0}

    # (c) a multi-commit span (v1 -> v4: compaction + a real insert)
    # diffs honestly — the flag never short-circuits a span
    span, sinfo = snapshot_changes(
        spark, table, 1, 4, key_col="event_id", compare_cols=["v"]
    )
    assert "rewrite_only" not in sinfo
    got_span = {(r["event_id"], r["change_type"]) for r in span.collect()}
    assert got_span == {(3, "insert"), (4, "insert"), (5, "insert")}


def test_snapshot_refs_contract(spark, tmp_path):
    """r12 (s26): refs fail-fast on a missing target, update by atomic
    replace, pin their snapshot against expiry vacuum, and never pin
    data a surviving manifest doesn't reference."""
    import pytest

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_append_batch,
        snapshot_read_ref,
        snapshot_refs,
        snapshot_resolve_ref,
        snapshot_set_ref,
        snapshot_vacuum,
    )

    table = str(tmp_path / "t")
    b = spark.createDataFrame([(1, 1.0)], "event_id bigint, v double")
    snapshot_append_batch(table, b, batch_id=1)             # v1
    snapshot_append_batch(
        table,
        spark.createDataFrame([(2, 2.0)], "event_id bigint, v double"),
        batch_id=2,
    )                                                        # v2
    snapshot_append_batch(
        table,
        spark.createDataFrame([(3, 3.0)], "event_id bigint, v double"),
        batch_id=3,
    )                                                        # v3

    with pytest.raises(FileNotFoundError):
        snapshot_set_ref(table, "prod", 9)  # dangling target refused
    with pytest.raises(KeyError):
        snapshot_resolve_ref(table, "prod")

    snapshot_set_ref(table, "prod", 1)
    snapshot_set_ref(table, "staging", 2)
    assert snapshot_refs(table) == {"prod": 1, "staging": 2}
    snapshot_set_ref(table, "prod", 2)  # atomic retarget
    assert snapshot_resolve_ref(table, "prod") == 2

    # expiry vacuum: v1 (unpinned) expires; v2 pinned by two refs stays
    info = snapshot_vacuum(table, expire_before=99)
    assert info["expired"] == [1]
    assert snapshot_read_ref(spark, table, "prod").count() == 2


def test_snapshot_sharded_manifest_list_contract(spark, tmp_path):
    """s27 (r13): the manifest-list tier's three load-bearing claims,
    pinned at the primitive level:
      1. APPEND reuses every parent shard BY PATH and byte-identically
         (commit cost = one new shard + one manifest list, O(1));
      2. DELETE rewrites ONLY the intersecting shard — the others stay
         byte-identical (O(changed shards), never O(table));
      3. readers are tier-blind: snapshot_files / snapshot_read /
         snapshot_read_pruned resolve shards exactly like flat lists,
         and a FLAT parent upgrades in place on its first sharded
         commit."""
    import hashlib
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_files,
        snapshot_read,
        snapshot_read_pruned,
        snapshot_vacuum,
    )

    def md5(path):
        with open(path, "rb") as f:
            return hashlib.md5(f.read()).hexdigest()

    table = str(tmp_path / "tt")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id bigint, v double"
    )

    # v1: FLAT commit (the legacy tier) — 10 ids
    d1 = os.path.join(table, "data", "s1")
    df.filter("id < 10").write.parquet(d1)
    f1 = snapshot_data_files(d1)
    snapshot_commit_atomic(
        table, 0, f1, stats={"id": {fp: [0, 9] for fp in f1}}
    )

    # v2: first SHARDED commit — converts the flat parent to one shard
    d2 = os.path.join(table, "data", "s2")
    df.filter("id >= 10 and id < 20").write.parquet(d2)
    f2 = snapshot_data_files(d2)
    _, info2 = snapshot_commit_sharded(
        table, 1, f2, stats={"id": {fp: [10, 19] for fp in f2}}
    )
    assert info2["added"] and not info2["rewritten"]
    assert sorted(snapshot_files(table, 2)) == sorted(f1 + f2)
    shard_hashes = {
        sp: md5(os.path.join(table, sp))
        for sp in (info2["reused"] + [info2["added"]])
    }

    # v3: append — every v2 shard reused BY PATH, bytes untouched
    d3 = os.path.join(table, "data", "s3")
    df.filter("id >= 20 and id < 30").write.parquet(d3)
    f3 = snapshot_data_files(d3)
    _, info3 = snapshot_commit_sharded(
        table, 2, f3, stats={"id": {fp: [20, 29] for fp in f3}}
    )
    assert set(info3["reused"]) == set(shard_hashes)  # path reuse
    assert not info3["rewritten"]
    for sp, h in shard_hashes.items():
        assert md5(os.path.join(table, sp)) == h  # byte identity

    # v4: delete ids 10-19 — exactly ONE shard rewritten (emptied →
    # dropped), the other two reused byte-identically
    _, info4 = snapshot_commit_sharded(table, 3, [], removed_files=f2)
    assert not info4["rewritten"] and info4["added"] is None
    assert len(info4["reused"]) == 2
    assert sorted(snapshot_files(table, 4)) == sorted(f1 + f3)
    got = {r["id"] for r in snapshot_read(spark, table, 4).collect()}
    assert got == set(range(10)) | set(range(20, 30))

    # tier-blind stats prune, now shard-level (r13): the two
    # non-matching shards are skipped WITHOUT being opened — their
    # files never even get listed (that unlisting is the point)
    _, pinfo = snapshot_read_pruned(spark, table, 3, "id", 25, 27)
    assert set(pinfo["kept"]) == set(f3), pinfo
    assert pinfo["skipped"] == [], pinfo
    assert len(pinfo["shards_skipped"]) == 2, pinfo
    assert len(pinfo["shards_opened"]) == 1, pinfo

    # vacuum with expiry: v2/v3's dropped shard and f2's data files
    # are reclaimed; surviving snapshots stay byte-identical
    vinfo = snapshot_vacuum(table, expire_before=4)
    assert set(vinfo["deleted"]) == set(f2)
    assert vinfo["deleted_shards"], vinfo  # the orphaned f2 shard
    assert {r["id"] for r in snapshot_read(spark, table, 4).collect()} == got


def test_snapshot_sharded_and_flat_commits_share_the_cas(tmp_path):
    """A sharded commit and a flat commit racing from the same parent
    contend on the SAME link(2) point — exactly one wins."""
    import json
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        SnapshotConflict,
        snapshot_commit_atomic,
        snapshot_commit_sharded,
        snapshot_files,
    )
    import pytest

    table = str(tmp_path / "tt")
    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    fake = os.path.join(table, "data", "a.parquet")
    open(fake, "w").close()
    snapshot_commit_sharded(table, 0, [fake])
    # simulate a racer that already took v2 (flat tier)
    mdir = os.path.join(table, "manifests")
    with open(os.path.join(mdir, "v2.json"), "w") as f:
        json.dump({"snapshot_id": 2, "parent_id": 1, "files": [fake]}, f)
    with pytest.raises(SnapshotConflict):
        snapshot_commit_sharded(table, 1, [fake])
    with pytest.raises(SnapshotConflict):
        snapshot_commit_atomic(table, 1, [fake])
    assert snapshot_files(table, 2) == [fake]


def test_sharded_prune_skips_whole_shards(spark, tmp_path):
    """r13: the manifest LIST carries shard-level [min,max] bounds, so
    a range read prunes at the SHARD level first — non-matching shards
    are never opened (O(matching shards) metadata I/O), and files
    inside them are pruned without being listed. Bounds are emitted
    only when every file in the shard has them; a boundless shard is
    admitted."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_read_pruned,
    )

    table = str(tmp_path / "tt")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(60)], "id bigint, v double"
    )
    parent = 0
    ranges = [(0, 20), (20, 40), (40, 60)]
    per_slice = []
    for n, (a, b) in enumerate(ranges):
        d = os.path.join(table, "data", f"s{n + 1}")
        df.filter(f"id >= {a} and id < {b}").coalesce(1).write.parquet(d)
        files = snapshot_data_files(d)
        per_slice.append(files)
        parent, _ = snapshot_commit_sharded(
            table, parent, files,
            stats={"id": {fp: [a, b - 1] for fp in files}},
        )
    # point-range read inside slice 2 only: exactly one shard opened
    got, info = snapshot_read_pruned(spark, table, 3, "id", 25, 27)
    assert len(info["shards_opened"]) == 1, info
    assert len(info["shards_skipped"]) == 2, info
    assert info["kept"] == per_slice[1], info
    assert {r["id"] for r in got.collect()} == set(range(20, 40))
    # a shard with NO bounds (stats omitted) is admitted, not skipped
    d = os.path.join(table, "data", "s4")
    df.filter("id < 5").coalesce(1).write.parquet(d)
    parent, _ = snapshot_commit_sharded(
        table, parent, snapshot_data_files(d)  # no stats
    )
    _, info = snapshot_read_pruned(spark, table, 4, "id", 25, 27)
    assert len(info["shards_opened"]) == 2, info  # slice 2 + boundless
    assert len(info["shards_skipped"]) == 2, info


def test_snapshot_compact_preserves_manifest_tier(spark, tmp_path):
    """r13: compacting a manifest-LIST table commits a manifest LIST
    (never a silent downgrade to flat), rewrites only the shards the
    compaction touches, and with small_file_bytes the kept files'
    shards are reused byte-identically — maintenance metadata cost is
    O(debris), matching its data cost."""
    import hashlib
    import json
    import os

    from cellphe_data_pipeline_spark.operators.scale import snapshot_compact
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_files,
        snapshot_manifest,
        snapshot_read,
    )

    table = str(tmp_path / "tt")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(400)], "id bigint, v double"
    )
    # one BIG slice (kept) + two small-file debris slices (compacted)
    parent = 0
    d = os.path.join(table, "data", "big")
    df.filter("id < 200").coalesce(1).write.parquet(d)
    big = snapshot_data_files(d)
    parent, _ = snapshot_commit_sharded(table, parent, big)
    for n, (a, b) in enumerate([(200, 300), (300, 400)]):
        d = os.path.join(table, "data", f"small{n}")
        df.filter(f"id >= {a} and id < {b}").repartition(4).write.parquet(d)
        parent, _ = snapshot_commit_sharded(
            table, parent, snapshot_data_files(d)
        )
    pre_rows = {r["id"] for r in snapshot_read(spark, table, parent).collect()}
    big_shard = snapshot_manifest(table, 1)["shards"][0]
    with open(os.path.join(table, big_shard), "rb") as f:
        big_md5 = hashlib.md5(f.read()).hexdigest()

    threshold = max(os.path.getsize(f) for f in big) // 2
    new_id, info = snapshot_compact(
        spark, table, sort_cols=["id"], target_partitions=1,
        small_file_bytes=threshold, stats_col="id",
    )
    man = snapshot_manifest(table, new_id)
    assert "shards" in man and "files" not in man  # tier preserved
    assert man.get("data_change") is False
    assert set(info["kept"]) == set(big)
    # the kept slice's shard survives BY PATH, byte-identical
    assert big_shard in man["shards"]
    with open(os.path.join(table, big_shard), "rb") as f:
        assert hashlib.md5(f.read()).hexdigest() == big_md5
    # row invariance and stats on the compacted shard
    assert {
        r["id"] for r in snapshot_read(spark, table, new_id).collect()
    } == pre_rows
    assert len(snapshot_files(table, new_id)) == len(big) + 1
    comp_shards = [s for s in man["shards"] if s != big_shard]
    assert len(comp_shards) == 1
    with open(os.path.join(table, comp_shards[0])) as f:
        sd = json.load(f)
    assert set(sd["files"]) == set(info["new_files"])
    assert "id" in sd.get("stats", {})
    # shard-level bounds cover the compacted range -> prunable
    b = man.get("shard_stats", {}).get(comp_shards[0], {}).get("id")
    assert b == [200, 399], man.get("shard_stats")


def test_snapshot_compact_manifests_byte_identical_table(spark, tmp_path):
    """r13: manifest-list compaction merges small shards without
    touching a single data file — the resolved file list (hence the
    table) is byte-identical, big shards are reused by path, CDC sees
    data_change=false, and the watermark carries forward."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_changes,
        snapshot_commit_sharded,
        snapshot_compact_manifests,
        snapshot_data_files,
        snapshot_files,
        snapshot_manifest,
    )

    table = str(tmp_path / "tt")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(300)], "id bigint, v double"
    )
    parent = 0
    # one big slice (many files) + 8 one-file commit dribble
    d = os.path.join(table, "data", "big")
    df.filter("id < 100").repartition(5).write.parquet(d)
    parent, _ = snapshot_commit_sharded(
        table, parent, snapshot_data_files(d)
    )
    for n in range(8):
        d = os.path.join(table, "data", f"s{n}")
        df.filter(f"id = {100 + n}").coalesce(1).write.parquet(d)
        parent, _ = snapshot_commit_sharded(
            table, parent, snapshot_data_files(d),
            extra={"last_batch_id": n},
        )
    pre_files = snapshot_files(table, parent)
    assert len(snapshot_manifest(table, parent)["shards"]) == 9

    new_id, info = snapshot_compact_manifests(table, min_files=3)
    assert new_id == parent + 1
    man = snapshot_manifest(table, new_id)
    assert snapshot_files(table, new_id) == pre_files  # byte-identical
    assert len(man["shards"]) == 2  # big (kept by path) + 1 merged
    assert len(info["merged"]) == 8 and len(info["new"]) == 1
    assert info["kept"] == [s for s in man["shards"] if s not in info["new"]]
    assert man.get("data_change") is False
    assert man.get("last_batch_id") == 7  # watermark carried
    # CDC across the manifest compaction is empty at metadata cost
    feed, finfo = snapshot_changes(
        spark, table, parent, new_id, "id", ["v"]
    )
    assert finfo.get("rewrite_only") is True and feed.count() == 0
    # no-op below the threshold: nothing to merge twice
    nid2, info2 = snapshot_compact_manifests(table, min_files=3)
    assert nid2 == new_id and not info2["merged"]


def test_snapshot_vacuum_retention_horizon_spares_young_orphans(
    spark, tmp_path
):
    """r13 (closing the vacuum docstring's recorded trade): with a
    retention horizon, an unreferenced file YOUNGER than min_age_s is
    spared — it may belong to an in-flight commit that has written
    data but not yet linked its manifest; once aged past the horizon
    it is swept like any orphan."""
    import os
    import time

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_atomic,
        snapshot_data_files,
        snapshot_vacuum,
    )

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.createDataFrame([(1, 1.0)], "id bigint, v double").write.parquet(d)
    snapshot_commit_atomic(table, 0, snapshot_data_files(d))
    # an "in-flight" write: data staged, manifest not yet committed
    orphan = os.path.join(table, "data", "inflight", "part-0.parquet")
    os.makedirs(os.path.dirname(orphan))
    with open(orphan, "w") as f:
        f.write("x")

    v = snapshot_vacuum(table, min_age_s=3600)
    assert v["spared"] == [orphan] and v["deleted"] == []
    assert os.path.exists(orphan)

    # age it past the horizon: now it is garbage
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    v = snapshot_vacuum(table, min_age_s=3600)
    assert v["deleted"] == [orphan] and v["spared"] == []
    assert not os.path.exists(orphan)

    # no horizon (None) keeps the reachability-only behavior
    with open(orphan, "w") as f:
        f.write("x")
    v = snapshot_vacuum(table)
    assert v["deleted"] == [orphan]


def test_snapshot_vacuum_retention_horizon_spares_young_shards(
    spark, tmp_path
):
    """r14 (advisor): the min_age_s horizon must gate SHARD-manifest GC
    exactly as it gates data files — a sharded commit writes its shard
    files before the CAS publishes the manifest list, so an
    unconditional sweep could delete a freshly written shard out from
    under the racing commit. Young unreferenced shards are spared (and
    reported in spared_shards); aged ones are swept."""
    import os
    import time

    from cellphe_data_pipeline_spark.sources.io import (
        _write_shard,
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_vacuum,
    )

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.createDataFrame([(1, 1.0)], "id bigint, v double").write.parquet(d)
    snapshot_commit_sharded(table, 0, snapshot_data_files(d))
    # an "in-flight" sharded commit: shard written, list not yet linked
    mdir = os.path.join(table, "manifests")
    orphan_rel = _write_shard(mdir, ["data/inflight/part-0.parquet"], None)
    orphan = os.path.join(table, orphan_rel)

    v = snapshot_vacuum(table, min_age_s=3600)
    assert v["spared_shards"] == [orphan_rel], v
    assert v["deleted_shards"] == [] and os.path.exists(orphan)

    # age it past the horizon: now it is debris
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    v = snapshot_vacuum(table, min_age_s=3600)
    assert v["deleted_shards"] == [orphan_rel] and v["spared_shards"] == []
    assert not os.path.exists(orphan)

    # the referenced shard is never touched on either pass
    assert snapshot_data_files(d)


def test_pack_offsets_survive_interleaved_maintenance_commits(
    spark, tmp_path
):
    """r14 (advisor-high regression): pack_offsets is watermark-class
    manifest state — a maintenance commit the stream sink never sees
    (snapshot_compact_manifests here, the docstring-recommended cadence
    for a dribbling sink) must carry it forward, or the next
    micro-batch reads offsets={} and silently re-packs every stream
    from token 0 while last_batch_id still looks intact."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_compact_manifests,
        snapshot_current,
        snapshot_manifest,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        corpus_ingest_apply_batch,
    )

    table = str(tmp_path / "win")
    seen = str(tmp_path / "seen")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, stream string, text_clean string"
    )
    t = " ".join("abcdefghij"[i % 10] * 3 for i in range(30))
    b0 = mk([(1, "a", t)])
    b1 = mk([(2, "a", t + " novel")])
    b2 = mk([(3, "a", t + " novel again")])

    assert corpus_ingest_apply_batch(spark, table, seen, b0, 0, 512)
    assert corpus_ingest_apply_batch(spark, table, seen, b1, 1, 512)
    assert snapshot_manifest(table, 2)["pack_offsets"] == {"a": 61}

    # interleaved maintenance: merge the two dribble shards
    nid, info = snapshot_compact_manifests(table, min_files=100)
    assert info["merged"], info  # a real compaction, not a no-op
    man = snapshot_manifest(table, snapshot_current(table))
    assert man.get("pack_offsets") == {"a": 61}, man
    assert man.get("last_batch_id") == 1

    # the next micro-batch continues the stream, not restart-from-0
    assert corpus_ingest_apply_batch(spark, table, seen, b2, 2, 512)
    rows = {
        r["doc_id"]: r
        for r in snapshot_read(
            spark, table, snapshot_current(table)
        ).collect()
    }
    assert rows[3]["tok_start"] == 61, rows[3]


def test_snapshot_sharded_cas_multiwriter_stress(tmp_path):
    """r14 (verdict ask #3): the 8-writer stress rerun against the
    manifest-LIST tier — concurrent writers appending DISJOINT shards
    through snapshot_retry, each retry re-deriving
    parent-shard reuse against whatever parent won. Proves (a) linear
    history with no gaps; (b) no lost shards: the head's shard list
    contains the seed shard plus every writer's content-addressed
    shard, and the resolved file set has every writer's file exactly
    once; (c) shard stats survive the races: the head's shard_stats
    carries every writer's bounds; (d) no scratch debris; (e) bounded
    retries."""
    import os
    import threading

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_files,
        snapshot_manifest,
        snapshot_retry,
    )

    table = str(tmp_path / "race")
    snapshot_commit_sharded(
        table, 0, ["seed"], stats={"k": {"seed": [0, 0]}}
    )  # v1

    n_writers = 8
    results: dict[int, tuple[int, dict, int]] = {}
    errors: list[BaseException] = []
    barrier = threading.Barrier(n_writers)

    def writer(i: int) -> None:
        try:
            barrier.wait()  # maximise the race
            (sid, info), conflicts = snapshot_retry(
                table,
                lambda parent: snapshot_commit_sharded(
                    table,
                    parent,
                    [f"w{i}"],
                    stats={"k": {f"w{i}": [i + 1, i + 1]}},
                ),
            )
            results[i] = (sid, info, conflicts)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    # (a) linear history: ids 2..9, parent chain exact
    assert len(results) == n_writers
    ids = sorted(sid for sid, _, _ in results.values())
    assert ids == list(range(2, 2 + n_writers))
    head_id = snapshot_current(table)
    assert head_id == 1 + n_writers
    for sid in range(1, head_id + 1):
        m = snapshot_manifest(table, sid)
        assert m["snapshot_id"] == sid and m["parent_id"] == sid - 1

    # (b) no lost shards or files: head has seed + 8 writer shards,
    # every writer's own added shard reused BY PATH all the way up
    head = snapshot_manifest(table, head_id)
    assert len(head["shards"]) == 1 + n_writers
    for i, (sid, info, _) in results.items():
        assert info["added"] in head["shards"], (i, info)
        assert info["rewritten"] == []
    files = snapshot_files(table, head_id)
    assert sorted(files) == sorted(
        ["seed"] + [f"w{i}" for i in range(n_writers)]
    )

    # (c) stats survive every race: head bounds cover all 9 shards
    sstats = head.get("shard_stats", {})
    assert len(sstats) == 1 + n_writers, sorted(sstats)
    got_bounds = sorted(b["k"] for b in sstats.values())
    assert got_bounds == sorted(
        [[0, 0]] + [[i + 1, i + 1] for i in range(n_writers)]
    )

    # (d) no scratch debris (tmp files from lost races)
    leftovers = [
        f
        for f in os.listdir(os.path.join(table, "manifests"))
        if not f.endswith(".json")
    ]
    assert leftovers == []

    # (e) bounded retries
    for _, _, conflicts in results.values():
        assert conflicts <= n_writers + 2


def test_sharded_prune_string_bounds_and_conjunction(spark, tmp_path):
    """r14 (verdict ask #5): shard-stats pruning on a STRING column
    (lexicographic [min, max] bounds — date-strings/tags/prefixes
    zone-map exactly like ints) and CONJUNCTIVE two-predicate reads
    that open only the INTERSECTION of the per-predicate shard sets —
    strictly fewer shards than either predicate admits alone."""
    import os

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_read_pruned,
        snapshot_read_pruned_multi,
    )

    table = str(tmp_path / "tt")
    # four shards on a 2x2 grid of (k-range, tag-range)
    grid = [
        ("A", range(0, 10), ["aa", "ab"]),
        ("B", range(10, 20), ["aa", "ab"]),
        ("C", range(0, 10), ["ca", "cb"]),
        ("D", range(10, 20), ["ca", "cb"]),
    ]
    added = {}
    for name, ks, tags in grid:
        d = os.path.join(table, "data", name)
        rows = [(k, tags[k % 2]) for k in ks]
        spark.createDataFrame(rows, "k bigint, tag string").coalesce(
            1
        ).write.parquet(d)
        files = snapshot_data_files(d)
        stats = {
            "k": {fp: [min(ks), max(ks)] for fp in files},
            "tag": {fp: [min(tags), max(tags)] for fp in files},
        }
        _, info = snapshot_commit_sharded(
            table, snapshot_current(table), files, stats=stats
        )
        added[name] = info["added"]

    sid = snapshot_current(table)

    # STRING bounds prune alone: tag in ["ca","cz"] admits C and D
    df, info = snapshot_read_pruned(spark, table, sid, "tag", "ca", "cz")
    assert sorted(info["shards_opened"]) == sorted(
        [added["C"], added["D"]]
    ), info
    assert df.count() == 20

    # int predicate alone: k in [0, 9] admits A and C
    _, info_k = snapshot_read_pruned(spark, table, sid, "k", 0, 9)
    assert sorted(info_k["shards_opened"]) == sorted(
        [added["A"], added["C"]]
    )

    # CONJUNCTION opens only the intersection: exactly shard C
    df2, info2 = snapshot_read_pruned_multi(
        spark, table, sid, {"k": (0, 9), "tag": ("ca", "cz")}
    )
    assert info2["shards_opened"] == [added["C"]], info2
    assert len(info2["shards_skipped"]) == 3
    got = {(r["k"], r["tag"]) for r in df2.collect()}
    assert got == {(k, ["ca", "cb"][k % 2]) for k in range(0, 10)}

    # superset-admit: a predicate on a column with NO bounds anywhere
    # admits every shard (stats never gate correctness)
    _, info3 = snapshot_read_pruned_multi(
        spark, table, sid, {"nosuch": (0, 1), "k": (0, 9)}
    )
    assert sorted(info3["shards_opened"]) == sorted(
        [added["A"], added["C"]]
    )


def test_snapshot_multiwriter_streaming_sinks_one_table(spark, tmp_path):
    """r14: N independent streaming sinks appending to ONE table, each
    with its own exactly-once watermark in the shared manifest's
    last_batch_ids map (snapshot_append_batch_multiwriter — the trade
    snapshot_append_batch recorded, closed). Two concurrent writers
    race their batches through the sharded CAS; then: per-writer
    watermarks correct, every batch's rows present exactly once,
    replays refused per writer, and the map survives an interleaved
    maintenance commit (watermark-class carry)."""
    import threading

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_append_batch_multiwriter,
        snapshot_compact_manifests,
        snapshot_current,
        snapshot_manifest,
        snapshot_read,
    )

    table = str(tmp_path / "tt")
    mk = lambda w, b: spark.createDataFrame(  # noqa: E731
        [(w, b, i) for i in range(5)], "writer string, batch bigint, i bigint"
    )
    plan = {"w0": [0, 1, 2, 3], "w1": [0, 1, 2]}
    errors: list[BaseException] = []
    barrier = threading.Barrier(len(plan))

    def run(w: str) -> None:
        try:
            barrier.wait()
            for b in plan[w]:
                assert snapshot_append_batch_multiwriter(
                    table, mk(w, b), b, w
                )
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(w,)) for w in plan]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    cur = snapshot_current(table)
    assert cur == 7  # 4 + 3 commits, linear history
    man = snapshot_manifest(table, cur)
    assert man["last_batch_ids"] == {"w0": 3, "w1": 2}

    got = {
        (r["writer"], r["batch"], r["i"])
        for r in snapshot_read(spark, table, cur).collect()
    }
    assert got == {
        (w, b, i) for w, bs in plan.items() for b in bs for i in range(5)
    }

    # per-writer replay refusal (each checks its OWN watermark)
    assert snapshot_append_batch_multiwriter(table, mk("w0", 2), 2, "w0") is False
    assert snapshot_append_batch_multiwriter(table, mk("w1", 0), 0, "w1") is False
    assert snapshot_current(table) == cur

    # a maintenance commit carries the whole map (watermark-class)
    nid, info = snapshot_compact_manifests(table, min_files=100)
    assert info["merged"], info
    man2 = snapshot_manifest(table, snapshot_current(table))
    assert man2["last_batch_ids"] == {"w0": 3, "w1": 2}
    # and a fresh writer keeps everyone else's watermark intact
    assert snapshot_append_batch_multiwriter(table, mk("w2", 0), 0, "w2")
    man3 = snapshot_manifest(table, snapshot_current(table))
    assert man3["last_batch_ids"] == {"w0": 3, "w1": 2, "w2": 0}


def test_mor_equality_delete_lifecycle(spark, tmp_path):
    """r14 MOR tier end-to-end: a delete commit touches ZERO data
    files; every reader (full, pruned) masks the rows; an ordinary
    append INHERITS the delete list (no resurrection); time travel
    and rollback restore per-snapshot delete state; the fold rewrites
    only stats-admitted candidates and is row-invariant; vacuum never
    reclaims a live delete file and reclaims folded ones after
    expiry."""
    import os
    import time

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_apply_deletes,
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_files,
        snapshot_manifest,
        snapshot_read,
        snapshot_read_pruned,
        snapshot_rollback,
        snapshot_vacuum,
    )

    table = str(tmp_path / "tt")
    # two range slices with per-file key stats
    for lo in (0, 100):
        d = os.path.join(table, "data", f"s{lo}")
        spark.createDataFrame(
            [(lo + i, float(i)) for i in range(50)], "k bigint, v double"
        ).coalesce(1).write.parquet(d)
        files = snapshot_data_files(d)
        stats = {"k": {fp: [lo, lo + 49] for fp in files}}
        snapshot_commit_sharded(
            table, snapshot_current(table), files, stats=stats
        )
    base_files = set(snapshot_files(table, 2))

    # MOR delete: keys 10..19 (inside slice 1) — zero data files change
    keys = spark.createDataFrame([(k,) for k in range(10, 20)], "k bigint")
    did = snapshot_delete_keys(spark, table, "k", keys)
    assert did == 3
    assert set(snapshot_files(table, 3)) == base_files  # untouched
    got = {r["k"] for r in snapshot_read(spark, table, 3).collect()}
    assert got == set(range(0, 10)) | set(range(20, 50)) | set(
        range(100, 150)
    )
    # time travel: the pre-delete snapshot still has the rows
    assert snapshot_read(spark, table, 2).count() == 100
    # pruned read honors the deletes
    df, info = snapshot_read_pruned(spark, table, 3, "k", 0, 49)
    assert len(info["kept"]) == 1
    assert {r["k"] for r in df.collect()} == set(range(0, 10)) | set(
        range(20, 50)
    )

    # an ordinary append inherits the delete list — no resurrection
    d2 = os.path.join(table, "data", "s200")
    spark.createDataFrame(
        [(200 + i, 0.0) for i in range(5)], "k bigint, v double"
    ).coalesce(1).write.parquet(d2)
    f2 = snapshot_data_files(d2)
    snapshot_commit_sharded(
        table, 3, f2, stats={"k": {fp: [200, 204] for fp in f2}}
    )
    assert snapshot_manifest(table, 4)["delete_files"], "carry lost"
    assert snapshot_read(spark, table, 4).count() == 95

    # fold: only slice-1 files rewritten (stats-admitted), slice-2 and
    # the append reused by path; row-invariant vs the MOR view
    mor = {
        (r["k"], r["v"]) for r in snapshot_read(spark, table, 4).collect()
    }
    fid, finfo = snapshot_apply_deletes(spark, table)
    assert fid == 5 and finfo["folded"] == 1
    assert all("/s0/" in f or "s0" in f for f in finfo["rewritten"]), finfo
    assert len(finfo["rewritten"]) == 1
    assert snapshot_manifest(table, 5).get("delete_files", []) == []
    folded = {
        (r["k"], r["v"]) for r in snapshot_read(spark, table, 5).collect()
    }
    assert folded == mor

    # rollback to the MOR snapshot restores its delete list
    rid = snapshot_rollback(table, 3)
    assert snapshot_manifest(table, rid)["delete_files"]
    assert snapshot_read(spark, table, rid).count() == 90
    # roll forward again to the folded state for vacuum
    rid2 = snapshot_rollback(table, 5)
    assert snapshot_manifest(table, rid2).get("delete_files", []) == []

    # vacuum with full history: live delete file referenced, kept
    del_paths = {
        p
        for dd in snapshot_manifest(table, 3)["delete_files"]
        for p in dd["paths"]
    }
    v = snapshot_vacuum(table)
    assert del_paths <= set(v["kept"]) or not (
        del_paths & set(v["deleted"])
    )
    for p in del_paths:
        assert os.path.exists(p)
    # expire every snapshot that references the delete file (incl.
    # the rollback-to-3, whose manifest restored the list): debris now
    old = time.time() - 7200
    for p in del_paths:
        os.utime(p, (old, old))
    v2 = snapshot_vacuum(table, expire_before=7, min_age_s=3600)
    assert del_paths <= set(v2["deleted"])
    for p in del_paths:
        assert not os.path.exists(p)


def test_snapshot_compact_retry_rebases_by_reconstruction(spark, tmp_path):
    """r14: compaction's concurrent-DELETE validation, closed by
    construction — a retry re-derives EVERYTHING from the parent
    current at attempt time. Leg 1 (deterministic): force the first
    attempt's commit to lose the CAS by committing a COW delete
    between read and publish (patched commit hook); the retry must
    compact the POST-delete file list — the deleted rows stay gone.
    Leg 2: immutable tags — set once, never move, refused by both
    set_tag and set_ref, pinned against expiry like refs."""
    import os

    import pytest

    from cellphe_data_pipeline_spark.operators.scale import snapshot_compact
    from cellphe_data_pipeline_spark.sources.io import (
        SnapshotConflict,
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_read,
        snapshot_refs,
        snapshot_resolve_ref,
        snapshot_retry,
        snapshot_set_ref,
        snapshot_set_tag,
        snapshot_vacuum,
    )

    table = str(tmp_path / "tt")
    slice_files = {}
    for lo in (0, 100):
        d = os.path.join(table, "data", f"s{lo}")
        spark.createDataFrame(
            [(lo + i, float(i)) for i in range(20)], "k bigint, v double"
        ).coalesce(1).write.parquet(d)
        slice_files[lo] = snapshot_data_files(d)
        snapshot_commit_sharded(
            table, snapshot_current(table), slice_files[lo]
        )

    # a racing COW delete fires INSIDE the first compaction attempt,
    # after it has read the file list: drop the s100 slice entirely.
    # snapshot_compact binds the commit fn by from-import at call
    # time, so the patch goes on the io module attribute.
    from cellphe_data_pipeline_spark.sources import io as io_mod

    real_sharded = io_mod.snapshot_commit_sharded
    fired = {"n": 0}

    def racing_commit(table_dir, parent, *a, **kw):
        if fired["n"] == 0:
            fired["n"] += 1
            real_sharded(
                table, parent, [], removed_files=slice_files[100]
            )  # v3: the concurrent DELETE wins the race
        return real_sharded(table_dir, parent, *a, **kw)

    io_mod.snapshot_commit_sharded = racing_commit
    try:
        (new_id, info), _ = snapshot_retry(
            table,
            lambda _: snapshot_compact(
                spark, table, sort_cols=["k"], target_partitions=1
            ),
        )
    finally:
        io_mod.snapshot_commit_sharded = real_sharded
    # the losing attempt's stale list (which still contained s100)
    # must NOT have been published: the winner compacted post-delete
    got = {r["k"] for r in snapshot_read(spark, table, new_id).collect()}
    assert got == set(range(0, 20)), "deleted rows resurrected"
    assert fired["n"] == 1  # exactly one injected race

    # immutable tags
    snapshot_set_tag(table, "release-1", 2)
    assert snapshot_resolve_ref(table, "release-1") == 2
    with pytest.raises(ValueError):
        snapshot_set_tag(table, "release-1", new_id)
    with pytest.raises(ValueError):
        snapshot_set_ref(table, "release-1", new_id)
    snapshot_set_ref(table, "serving", new_id)  # branches still move
    snapshot_set_ref(table, "serving", 2)
    # tags pin against expiry exactly like refs
    v = snapshot_vacuum(table, expire_before=new_id)
    assert 2 not in v["expired"]
    assert snapshot_refs(table)["release-1"] == 2


def test_mor_concurrent_delete_writers_union(spark, tmp_path):
    """r15 (advisor-medium + the r14 verdict's ask #4): two delete
    writers racing from the same parent must converge to a LINEAR
    history whose head carries the UNION of both key sets, with every
    committed delete file's parquet parts present on disk. The old
    scheme (deletes/d{parent+1} + overwrite, no retry) let the CAS
    loser clobber the winner's part files — the manifest then
    referenced missing paths and rows silently resurrected."""
    import os
    import threading

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_manifest,
        snapshot_read,
    )

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.range(0, 100).select(F.col("id").alias("k")).write.parquet(d)
    snapshot_commit_sharded(table, 0, snapshot_data_files(d))

    sets = {"a": list(range(0, 10)), "b": list(range(50, 60))}
    errors: list[BaseException] = []
    barrier = threading.Barrier(len(sets))

    def run(name: str) -> None:
        try:
            keys = spark.createDataFrame(
                [(v,) for v in sets[name]], "k bigint"
            )
            barrier.wait()  # maximise the race
            snapshot_delete_keys(spark, table, "k", keys)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(n,)) for n in sets]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    cur = snapshot_current(table)
    assert cur == 3  # base + two delete commits, linear
    dels = snapshot_manifest(table, cur)["delete_files"]
    assert len(dels) == 2  # the union: neither writer's entry lost
    for entry in dels:
        for p in entry["paths"]:
            assert os.path.exists(p), f"manifest references missing {p}"
    got = {r["k"] for r in snapshot_read(spark, table, cur).collect()}
    assert got == set(range(100)) - set(sets["a"]) - set(sets["b"])
    # intermediate snapshot masks exactly ONE writer's keys
    mid = {r["k"] for r in snapshot_read(spark, table, 2).collect()}
    assert mid in (
        set(range(100)) - set(sets["a"]),
        set(range(100)) - set(sets["b"]),
    )


def test_mor_delete_racing_append_never_resurrects(spark, tmp_path):
    """r15 (ask #4): a delete racing an append through the CAS —
    whatever the interleaving, the head must mask the deleted keys
    (snapshot-wide tombstone: appended rows with a tombstoned key stay
    masked too) and the delete list must survive the append's rebase."""
    import os
    import threading

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_manifest,
        snapshot_read,
    )

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.range(0, 100).select(F.col("id").alias("k")).write.parquet(d)
    snapshot_commit_sharded(table, 0, snapshot_data_files(d))

    d2 = os.path.join(table, "data", "s2")
    # appended batch REUSES key 5 — tombstoned by the racing delete
    spark.createDataFrame(
        [(5,), (200,), (201,)], "k bigint"
    ).write.parquet(d2)
    appended = snapshot_data_files(d2)

    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def deleter() -> None:
        try:
            keys = spark.createDataFrame(
                [(v,) for v in range(0, 10)], "k bigint"
            )
            barrier.wait()
            snapshot_delete_keys(spark, table, "k", keys)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def appender() -> None:
        try:
            barrier.wait()
            from cellphe_data_pipeline_spark.sources.io import (
                snapshot_commit_sharded,
                snapshot_retry,
            )

            snapshot_retry(
                table,
                lambda parent: snapshot_commit_sharded(
                    table, parent, appended
                ),
            )
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=deleter),
        threading.Thread(target=appender),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    cur = snapshot_current(table)
    assert cur == 3
    assert len(snapshot_manifest(table, cur)["delete_files"]) == 1
    got = {r["k"] for r in snapshot_read(spark, table, cur).collect()}
    # 0-9 masked everywhere (including the re-appended 5); 200/201 land
    assert got == (set(range(10, 100)) | {200, 201})


def test_mor_fold_with_zero_candidates_clears_deletes(spark, tmp_path):
    """r15 (advisor-medium): a delete whose keys are provably absent
    from every file ([min,max] disjoint) used to crash the fold on an
    empty parquet read and leave the delete files permanently
    unfoldable. Now: no data touched, delete_files cleared, table
    byte-identical."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_apply_deletes,
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_files,
        snapshot_manifest,
        snapshot_read,
    )

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.range(0, 100).select(F.col("id").alias("k")).write.parquet(d)
    files = snapshot_data_files(d)
    stats = {"k": {fp: [0, 99] for fp in files}}
    snapshot_commit_sharded(table, 0, files, stats=stats)

    absent = spark.createDataFrame([(10_000 + i,) for i in range(5)], "k bigint")
    snapshot_delete_keys(spark, table, "k", absent)
    assert snapshot_manifest(table, 2)["delete_files"]

    new_id, info = snapshot_apply_deletes(spark, table)
    assert new_id == 3
    assert info["rewritten"] == []
    assert info["folded"] == 1
    assert snapshot_manifest(table, new_id).get("delete_files") == []
    assert sorted(snapshot_files(table, new_id)) == sorted(files)
    assert snapshot_read(spark, table, new_id).count() == 100
    assert snapshot_current(table) == new_id


def test_mor_fold_recomputes_stats_for_fold_output(spark, tmp_path):
    """r15 (advisor-low): the fold output must carry fresh [min,max]
    bounds for every column the parent manifest had stats for, so
    folded files stay prunable (the old fold published them unbounded
    forever)."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        _manifest_files_and_stats,
        snapshot_apply_deletes,
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_manifest,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.operators.scale import file_key_stats

    table = str(tmp_path / "tt")
    parent = 0
    for i, (lo, hi) in enumerate([(0, 50), (50, 100)]):
        d = os.path.join(table, "data", f"s{i + 1}")
        spark.range(lo, hi).select(
            F.col("id").alias("k")
        ).coalesce(1).write.parquet(d)
        files = snapshot_data_files(d)
        stats = {
            "k": {
                urlparse(r["file"]).path: [r["min_v"], r["max_v"]]
                for r in file_key_stats(spark, files, "k").collect()
            }
        }
        parent, _ = snapshot_commit_sharded(table, parent, files, stats=stats)

    # delete keys local to the FIRST slice: stats admit only slice 1
    keys = spark.createDataFrame([(v,) for v in range(0, 5)], "k bigint")
    snapshot_delete_keys(spark, table, "k", keys)
    new_id, info = snapshot_apply_deletes(spark, table)
    assert len(info["rewritten"]) == 1  # range-pruned fold
    assert info["reused"]

    man = snapshot_manifest(table, new_id)
    files, stats = _manifest_files_and_stats(table, man)
    fold_files = [fp for fp in files if f"{os.sep}data{os.sep}fold_" in fp]
    assert fold_files
    for fp in fold_files:
        iv = stats.get("k", {}).get(fp)
        assert iv is not None, f"fold output {fp} lost its bounds"
        assert iv == [5, 49]  # fresh bounds: deleted head excluded
    assert snapshot_read(spark, table, new_id).count() == 95


def test_rollback_preserves_shards_and_stats(spark, tmp_path):
    """r15 (advisor-low): rollback re-states the target's manifest
    BODY — a sharded target keeps its shard list + shard_stats (reused
    by path, zero bytes rewritten), a flat target keeps files + stats.
    The old path flattened to a bare file list, silently costing every
    later pruned read its bounds."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        _manifest_files_and_stats,
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_manifest,
        snapshot_rollback,
    )
    from cellphe_data_pipeline_spark.operators.scale import file_key_stats

    table = str(tmp_path / "tt")
    parent = 0
    for i in range(2):
        d = os.path.join(table, "data", f"s{i + 1}")
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("k")
        ).coalesce(1).write.parquet(d)
        files = snapshot_data_files(d)
        stats = {
            "k": {
                urlparse(r["file"]).path: [r["min_v"], r["max_v"]]
                for r in file_key_stats(spark, files, "k").collect()
            }
        }
        parent, _ = snapshot_commit_sharded(table, parent, files, stats=stats)

    rid = snapshot_rollback(table, 1)
    assert rid == 3
    tgt = snapshot_manifest(table, 1)
    rb = snapshot_manifest(table, rid)
    assert rb["shards"] == tgt["shards"]  # reused by path
    assert rb.get("shard_stats") == tgt.get("shard_stats")
    _, tstats = _manifest_files_and_stats(table, tgt)
    _, rstats = _manifest_files_and_stats(table, rb)
    assert rstats == tstats and rstats  # bounds survive the rollback


def test_set_ref_vs_set_tag_race_one_winner(spark, tmp_path):
    """r15 (advisor-low): set_ref's tag guard is atomic — racing a
    set_ref against a set_tag on a FREE name, exactly one wins the
    create (link create-if-absent on both paths) and the loser raises;
    a tag, once created, is never overwritten."""
    import json
    import os
    import threading

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_set_ref,
        snapshot_set_tag,
    )

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.range(0, 10).select(F.col("id").alias("k")).write.parquet(d)
    snapshot_commit_sharded(table, 0, snapshot_data_files(d))

    for trial in range(20):
        name = f"n{trial}"
        results: dict[str, BaseException | None] = {}
        barrier = threading.Barrier(2)

        def run(kind, fn):
            try:
                barrier.wait()
                fn(table, name, 1)  # noqa: B023 — joined per trial
                results[kind] = None  # noqa: B023
            except ValueError as e:
                results[kind] = e  # noqa: B023

        threads = [
            threading.Thread(target=run, args=("ref", snapshot_set_ref)),
            threading.Thread(target=run, args=("tag", snapshot_set_tag)),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        with open(os.path.join(table, "refs", f"{name}.json")) as f:
            doc = json.load(f)
        if results["tag"] is None:
            # the tag won creation — it must still be the tag (the
            # TOCTOU this fix closes: ref's rename clobbering it)
            assert doc.get("immutable") is True
            assert results["ref"] is not None  # ref refused
        else:
            assert results["ref"] is None
            assert not doc.get("immutable")


def test_cdc_feed_is_mor_aware(spark, tmp_path):
    """r15: snapshot_changes diffs MOR VIEWS, not raw file lists —
    closing the recorded r14 trade ("a delete-file-only commit is a
    metadata change it reports as empty"). Pinned: (1) a tombstone
    commit emits DELETE rows carrying values; (2) a fold emits an
    EMPTY feed (masks materialized, view unchanged); (3) a rollback
    that removes tombstones without touching files emits the rows
    back as INSERTS; (4) the no-deletes fast path stays a pure
    manifest diff (no shared-file scan is even planned)."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_apply_deletes,
        snapshot_changes,
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_rollback,
    )

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).write.parquet(d)
    snapshot_commit_sharded(table, 0, snapshot_data_files(d))

    # (1) tombstone commit -> delete rows WITH values
    keys = spark.createDataFrame([(3,), (7,), (11,)], "k bigint")
    snapshot_delete_keys(spark, table, "k", keys)
    feed, info = snapshot_changes(spark, table, 1, 2, "k", ["v"])
    assert info["delete_delta_cols"] == ["k"]
    got = {(r["k"], r["change_type"], r["v"]) for r in feed.collect()}
    assert got == {(3, "delete", 30), (7, "delete", 70), (11, "delete", 110)}

    # (3) rollback removes the tombstones, zero file changes ->
    # the rows resurrect as inserts
    rid = snapshot_rollback(table, 1)
    feed2, info2 = snapshot_changes(spark, table, 2, rid, "k", ["v"])
    assert info2["removed"] == [] and info2["added"] == []
    got2 = {(r["k"], r["change_type"], r["v"]) for r in feed2.collect()}
    assert got2 == {(3, "insert", 30), (7, "insert", 70), (11, "insert", 110)}

    # (2) re-delete then fold -> the fold's feed is EMPTY
    snapshot_delete_keys(spark, table, "k", keys)  # -> 4
    fid, _ = snapshot_apply_deletes(spark, table)  # -> 5
    feed3, _ = snapshot_changes(spark, table, 4, fid, "k", ["v"])
    assert feed3.count() == 0

    # and the span 1 -> folded still reports the deletes honestly
    feed4, _ = snapshot_changes(spark, table, 1, fid, "k", ["v"])
    got4 = {(r["k"], r["change_type"]) for r in feed4.collect()}
    assert got4 == {(3, "delete"), (7, "delete"), (11, "delete")}

    # (4) no-deltas fast path: an ordinary append's feed reads ONLY
    # the added files — shared files never enter the plan
    d2 = os.path.join(table, "data", "s2")
    spark.range(200, 210).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).write.parquet(d2)
    from cellphe_data_pipeline_spark.sources.io import snapshot_current

    snapshot_commit_sharded(
        table, snapshot_current(table), snapshot_data_files(d2)
    )
    feed5, info5 = snapshot_changes(
        spark, table, fid, fid + 1, "k", ["v"]
    )
    assert not info5["delete_delta_cols"]
    ex = feed5._jdf.queryExecution().executedPlan().toString()
    for fp in info5["shared"]:
        assert os.path.basename(fp) not in ex
    assert feed5.count() == 10


def test_snapshot_undelete_keys_entry_lifecycle(spark, tmp_path):
    """r15 (e35): un-tombstoning rewrites only the touched delete
    entries (O(delete set), zero data files), drops entries that
    empty out, reuses untouched entries by path, and makes NO commit
    when nothing changes."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_commit_sharded,
        snapshot_current,
        snapshot_data_files,
        snapshot_delete_keys,
        snapshot_manifest,
        snapshot_read,
        snapshot_undelete_keys,
    )

    table = str(tmp_path / "tt")
    d = os.path.join(table, "data", "s1")
    spark.range(0, 100).select(F.col("id").alias("k")).write.parquet(d)
    files = snapshot_data_files(d)
    snapshot_commit_sharded(table, 0, files)

    mk = lambda vals: spark.createDataFrame(  # noqa: E731
        [(v,) for v in vals], "k bigint"
    )
    snapshot_delete_keys(spark, table, "k", mk([1, 2, 3]))  # entry A
    snapshot_delete_keys(spark, table, "k", mk([50, 51]))  # entry B
    man = snapshot_manifest(table, snapshot_current(table))
    entry_b_paths = man["delete_files"][1]["paths"]

    # partial undelete of entry A; entry B untouched (reused by path)
    nid = snapshot_undelete_keys(spark, table, "k", mk([1, 3]))
    dels = snapshot_manifest(table, nid)["delete_files"]
    assert len(dels) == 2
    assert dels[1]["paths"] == entry_b_paths  # reuse, not rewrite
    got = {r["k"] for r in snapshot_read(spark, table, nid).collect()}
    assert got == set(range(100)) - {2, 50, 51}
    # data files untouched throughout
    from cellphe_data_pipeline_spark.sources.io import snapshot_files

    assert snapshot_files(table, nid) == sorted(files)

    # no-op undelete (keys never tombstoned): NO commit
    cur = snapshot_current(table)
    assert snapshot_undelete_keys(spark, table, "k", mk([90, 91])) == cur
    assert snapshot_current(table) == cur

    # undelete the rest: entries empty out and drop; reads bare
    nid2 = snapshot_undelete_keys(spark, table, "k", mk([2, 50, 51]))
    assert snapshot_manifest(table, nid2)["delete_files"] == []
    assert snapshot_read(spark, table, nid2).count() == 100


def test_package_source_has_one_commit_loop():
    """Every optimistic commit on the snapshot table format retries in
    ``io.snapshot_retry``, and every create-if-absent file write goes
    through ``io._write_new``: the package holds one
    ``except SnapshotConflict`` and one ``os.link(``, no per-call retry
    budget, and no module outside ``sources/io.py`` builds its own
    scratch-file names."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "cellphe_data_pipeline_spark"
    sources = {p: p.read_text() for p in pkg.rglob("*.py")}
    assert sum(s.count("except SnapshotConflict") for s in sources.values()) == 1
    assert sum(s.count("os.link(") for s in sources.values()) == 1
    assert not [p for p, s in sources.items() if "max_retries" in s]
    io_path = pkg / "sources" / "io.py"
    assert not [
        p for p, s in sources.items() if p != io_path and "_tmp_token" in s
    ]
    defined = {
        node.name
        for s in sources.values()
        for node in ast.walk(ast.parse(s))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    assert {"snapshot_retry", "_write_new", "_write_replace"} <= defined
