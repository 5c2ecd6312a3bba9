"""Streaming-variant tests (§2.11): file-source micro-batches with
availableNow trigger, memory sink; batch equivalence as the oracle."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.sources.tables import load_table
from cellphe_data_pipeline_spark.streaming.tracker import drain, ordered_file_stream


def _stage_events(spark, sf_dir, tmp_path, n_users=20):
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < n_users)
    path = str(tmp_path / "events_stream")
    ev.write.mode("overwrite").parquet(path)
    return ev, path


def test_streaming_window_rollup_matches_batch(spark, sf_dir, tmp_path):
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_window_rollup

    ev, path = _stage_events(spark, sf_dir, tmp_path)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    drain(
        streaming_window_rollup(stream)
        .writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("append"),
        "rollup_test",
        timeout_s=120,
    )
    got = {
        (r["win"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    want = {
        (r["hour_ts"], r["event_type"]): (r["n"], r["sum_value"])
        for r in ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour_ts")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .collect()
    }
    # append mode emits only windows closed by the watermark; with
    # availableNow the final watermark closes all but the trailing window(s)
    assert len(got) >= len(want) - 4
    for k, v in got.items():
        assert want[k][0] == v[0]
        assert math.isclose(want[k][1], v[1], rel_tol=1e-9)


def test_streaming_movement_matches_batch(spark, sf_dir, tmp_path):
    from cellphe_data_pipeline_spark.operators.movement import movement_features
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_movement_features,
    )

    ev, path = _stage_events(spark, sf_dir, tmp_path, n_users=10)
    pts = "event_id bigint, user_id bigint, t double, x double, y double"
    prep = lambda df: df.select(
        "event_id",
        "user_id",
        F.col("ts").cast("double").alias("t"),
        F.col("value").alias("x"),
        (F.col("event_id") % 97).cast("double").alias("y"),
    )
    staged = str(tmp_path / "pts_stream")
    prep(ev).write.mode("overwrite").parquet(staged)
    stream = spark.readStream.schema(pts).parquet(staged)
    drain(
        streaming_movement_features(stream, t_col="t")
        .writeStream.format("memory")
        .queryName("move_test")
        .outputMode("append"),
        "move_test",
        timeout_s=120,
    )
    got = {
        (r["key"], r["seq"]): (r["Dis"], r["frame_dist"], r["Trac"], r["D2T"], r["Vel"])
        for r in spark.sql("SELECT * FROM move_test").collect()
    }
    batch = movement_features(
        prep(ev), key="user_id", order=["t", "event_id"], x="x", y="y",
        time_col=F.col("t"),
    )
    want = {
        (r["user_id"], r["event_id"]): (r["Dis"], r["frame_dist"], r["Trac"], r["D2T"], r["Vel"])
        for r in batch.collect()
    }
    assert set(got) == set(want)
    for k in got:
        for a, b in zip(got[k], want[k]):
            assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12), k


def test_streaming_session_summary_emits_on_timeout(spark, tmp_path):
    from datetime import datetime

    from cellphe_data_pipeline_spark.streaming.tracker import streaming_session_summary

    # two batches: users 1,2 active early; only user 2 continues later.
    # After the second batch advances the watermark past user 1's
    # timeout, user 1's summary is emitted.
    rows1 = [(1, "2024-01-01 00:00:00", 2.0), (1, "2024-01-01 00:01:00", 4.0),
             (2, "2024-01-01 00:00:30", 10.0)]
    rows2 = [(2, "2024-01-01 01:00:00", 20.0)]
    rows3 = [(2, "2024-01-01 03:00:00", 30.0)]
    schema = "user_id bigint, ts timestamp, value double"
    path = str(tmp_path / "sess_stream")
    import os

    os.makedirs(path, exist_ok=True)
    for i, rows in enumerate([rows1, rows2, rows3]):
        df = spark.createDataFrame(
            [(u, datetime.fromisoformat(t), v) for u, t, v in rows], schema
        )
        df.coalesce(1).write.mode("append").parquet(path)

    stream = ordered_file_stream(spark, schema, path)
    drain(
        streaming_session_summary(stream, watermark="1 minute", gap_ms=4 * 60 * 1000)
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append"),
        "sess_test",
        timeout_s=120,
    )
    got = {r["key"]: r for r in spark.sql("SELECT * FROM sess_test").collect()}
    assert 1 in got  # user 1's session closed by event-time timeout
    assert got[1]["n_obs"] == 2
    assert math.isclose(got[1]["mean_val"], 3.0)
    assert math.isclose(got[1]["std_pop"], 1.0)


def test_streaming_session_windows_merge_across_batches(spark, sf_dir, tmp_path):
    """Native session_window streaming state must MERGE sessions split
    across micro-batches: force one file per trigger so each parquet
    file is its own micro-batch, then compare the complete-mode drain
    against the batch session_window plan over the same rows."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_session_windows,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    ev = ev.select("user_id", "ts", "value")
    path = str(tmp_path / "events_sessions")
    # >=3 files so maxFilesPerTrigger=1 yields >=3 micro-batches; rows
    # for the same user land in different batches (repartition is not
    # user-keyed), exercising the in-store session merge path.
    ev.repartition(3).write.mode("overwrite").parquet(path)
    stream = ordered_file_stream(spark, ev.schema, path)
    drain(
        streaming_session_windows(stream)
        .writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete"),
        "session_test",
        timeout_s=180,
    )
    got = {
        (r["user_id"], r["session_window"]["start"]): (
            r["session_window"]["end"],
            r["n_events"],
            r["sum_value"],
        )
        for r in spark.sql("SELECT * FROM session_test").collect()
    }
    want = {
        (r["user_id"], r["session_window"]["start"]): (
            r["session_window"]["end"],
            r["n_events"],
            r["sum_value"],
        )
        for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert got.keys() == want.keys()
    for k, (end_g, n_g, s_g) in got.items():
        end_w, n_w, s_w = want[k]
        assert end_g == end_w and n_g == n_w, k
        assert math.isclose(s_g, s_w, rel_tol=1e-9), k


def test_streaming_session_windows_append_emits_closed_sessions(spark, tmp_path):
    """Production (append) semantics: with a tight watermark, a session
    whose end precedes the final watermark is emitted by the bounded
    drain; the trailing open session is held back in state."""
    import datetime as dt

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_session_windows,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(minutes=10), 5.0),  # session A: 00:00-00:40
        (1, t0 + dt.timedelta(hours=6), 1.0),  # session B: trailing, open
        (2, t0 + dt.timedelta(hours=1), 2.0),  # session C: closed
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp, value double")
    path = str(tmp_path / "append_sessions")
    ev.coalesce(1).write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    drain(
        streaming_session_windows(stream, watermark="0 seconds")
        .writeStream.format("memory")
        .queryName("session_append_test")
        .outputMode("append"),
        "session_append_test",
        timeout_s=180,
    )
    got = {
        (r["user_id"], r["session_window"]["start"]): (
            r["n_events"],
            r["sum_value"],
        )
        for r in spark.sql("SELECT * FROM session_append_test").collect()
    }
    # watermark after the single batch = max ts (06:00): sessions A and
    # C closed before it emit; B (ends 06:30 > watermark) is held
    assert got == {
        (1, t0): (2, 15.0),
        (2, t0 + dt.timedelta(hours=1)): (1, 2.0),
    }


def test_streaming_exact_dedup(spark, sf_dir, tmp_path):
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_exact_dedup
    from pyspark.sql import functions as F

    ev, path = _stage_events(spark, sf_dir, tmp_path)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    drain(
        streaming_exact_dedup(stream, ["user_id", "event_type"])
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append"),
        "dedup_test",
        timeout_s=120,
    )
    got = spark.sql("SELECT user_id, event_type FROM dedup_test").collect()
    keys = {(r["user_id"], r["event_type"]) for r in got}
    assert len(got) == len(keys)  # exactly one row per key
    want = {(r["user_id"], r["event_type"])
            for r in ev.select("user_id", "event_type").distinct().collect()}
    assert keys == want


def test_streaming_exact_dedup_eviction_across_watermark(spark, tmp_path):
    """Micro-batch-level exercise of the eviction contract (round-3
    VERDICT ask): with a 10-minute watermark and one file per trigger,

    - batch 1 emits first arrivals (K, L) and seeds state;
    - batch 2: a duplicate K *inside* the watermark window is dropped
      while a new key M advances the watermark past K's stored event
      time, evicting K's state;
    - batch 3: K re-arrives *after* eviction and is re-emitted — the
      documented within-watermark guarantee boundary, and the proof the
      state store is actually bounded (keys age out instead of
      accumulating forever).

    foreachBatch captures per-batch emissions so the assertion pins
    WHICH micro-batch emitted each row, not just the final multiset."""
    import os

    from cellphe_data_pipeline_spark.streaming.tracker import streaming_exact_dedup

    src = tmp_path / "dedup_evict_stream"
    src.mkdir()
    schema = "k string, ts timestamp"

    def stage(name, rows, mtime):
        f = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(f))
        part = next(p for p in os.listdir(f) if p.startswith("part-"))
        dst = src / f"{name}.parquet"
        os.rename(f / part, dst)
        os.utime(dst, (mtime, mtime))  # file order == batch order

    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    stage("b1", [("K", t(10, 0)), ("L", t(10, 0))], 1_000)
    # dup K at 10:02 is inside the watermark window -> dropped (and may
    # refresh K's stored event time); M at 11:00 advances the watermark
    # to 10:50 at the NEXT batch
    stage("b2", [("K", t(10, 2)), ("M", t(11, 0))], 2_000)
    # no K here: with watermark 10:50 > K's stored 10:02 the state store
    # evicts K by the end of this batch; N pushes the watermark further
    stage("b3", [("N", t(12, 0))], 3_000)
    # K re-arrives AFTER eviction -> re-emitted
    stage("b4", [("K", t(12, 1))], 4_000)

    batches: dict[int, list[str]] = {}

    def sink(df, epoch_id):
        batches[int(epoch_id)] = sorted(r["k"] for r in df.collect())

    stream = ordered_file_stream(spark, schema, str(src))
    drain(
        streaming_exact_dedup(stream, ["k"], ts_col="ts", watermark="10 minutes")
        .writeStream.foreachBatch(sink)
        .outputMode("append"),
        "test_streaming_exact_dedup_eviction_across_watermark",
        timeout_s=120,
    )

    emitted = [ks for _, ks in sorted(batches.items()) if ks]
    assert emitted[0] == ["K", "L"]          # first arrivals
    assert emitted[1] == ["M"]               # in-watermark dup K dropped
    assert emitted[2] == ["N"]               # watermark advances past K
    assert emitted[3] == ["K"]               # re-emitted AFTER eviction
    total = [k for ks in emitted for k in ks]
    assert total.count("K") == 2             # state was evicted, not kept forever


def test_streaming_tracker_matches_batch_partition(spark, tmp_path):
    """The streaming tracker's track PARTITION (which spots share a
    track) must equal the batch tracker+renumber partition when
    micro-batches align with frame boundaries."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cellphe_data_pipeline_spark.domain.lineage import renumber_tracks
    from cellphe_data_pipeline_spark.domain.tracking import track_detections
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_tracker
    from cellphe_data_pipeline_spark.testing.fixtures import TRACK_DETECTIONS

    dets = sorted(TRACK_DETECTIONS, key=lambda r: (r[2], r[1]))  # frame order
    schema = pa.schema(
        [("timelapse_id", pa.string()), ("id", pa.int64()), ("frame", pa.int32()),
         ("x", pa.float64()), ("y", pa.float64())]
    )
    d = tmp_path / "det_stream"
    os.makedirs(d)
    # one file per pair of frames, named and stamped so listing order
    # == frame order: the file source orders micro-batches by
    # modification time, and files written in a tight loop can share one
    by_frame: dict = {}
    for r in dets:
        by_frame.setdefault(r[2] // 2, []).append(r)
    for g, rows in sorted(by_frame.items()):
        cols = list(zip(*rows))
        path = str(d / f"b{g:03d}.parquet")
        pq.write_table(
            pa.table(
                {"timelapse_id": cols[0], "id": cols[1], "frame": cols[2],
                 "x": cols[3], "y": cols[4]},
                schema=schema,
            ),
            path,
        )
        os.utime(path, (1_000_000 + g,) * 2)

    stream = ordered_file_stream(
        spark,
        "timelapse_id string, id bigint, frame int, x double, y double",
        str(d),
    )
    drain(
        streaming_tracker(stream, linking_max_distance=5.0, max_frame_gap=4,
                          gap_closing_max_distance=10.0)
        .writeStream.format("memory")
        .queryName("strack_test")
        .outputMode("append"),
        "strack_test",
        timeout_s=120,
    )
    got = spark.sql("SELECT * FROM strack_test").collect()
    assert len(got) == len(dets)  # one assignment per detection
    stream_tracks: dict = {}
    for r in got:
        stream_tracks.setdefault(r["track_id"], set()).add(r["id"])

    ddf = spark.createDataFrame(
        dets, "timelapse_id string, id int, frame int, x double, y double"
    )
    edges = track_detections(ddf, linking_max_distance=5.0, max_frame_gap=4,
                             gap_closing_max_distance=10.0)
    tracks = renumber_tracks(
        ddf.select(F.col("id").alias("ID"), F.col("frame").alias("FRAME")),
        edges.select("src", "dst"),
    )
    batch_tracks: dict = {}
    for r in tracks.collect():
        batch_tracks.setdefault(r["TRACK_ID"], set()).add(r["ID"])
    # partition equality over linked spots (singletons: streaming assigns
    # every detection a track; batch renumber drops isolated nodes)
    stream_parts = {frozenset(s) for s in stream_tracks.values() if len(s) > 1}
    batch_parts = {frozenset(s) for s in batch_tracks.values() if len(s) > 1}
    assert stream_parts == batch_parts


def test_streaming_tracker_links_only_forward_in_time():
    """A detection links only to a track end from an EARLIER frame, so
    out-of-order frames start new tracks: two frame-3 cells 3 px apart
    that arrive in different micro-batches stay on different tracks,
    and a frame-2 detection that arrives after frame 3 does not join
    the frame-3 track."""
    import pandas as pd

    from cellphe_data_pipeline_spark.streaming.tracker import _link_stream_frames

    kw = dict(linking_max_distance=5.0, max_frame_gap=4, gap_closing_max_distance=10.0)

    def batch(*rows):
        return pd.DataFrame(rows, columns=["timelapse_id", "id", "frame", "x", "y"])

    def feed(*batches):
        rows, ends, next_tid = [], {}, 1
        for b in batches:
            rows, ends, next_tid = _link_stream_frames("t", b, ends, next_tid, rows, **kw)
        return {r["id"]: r["track_id"] for r in rows}

    # frame 3 split across two micro-batches
    tid = feed(batch(("t", 1, 2, 0.0, 0.0), ("t", 2, 3, 1.0, 0.0)), batch(("t", 3, 3, 4.0, 0.0)))
    assert tid[1] == tid[2] != tid[3]
    # a late frame-2 detection after frame 3
    tid = feed(batch(("t", 1, 3, 0.0, 0.0)), batch(("t", 2, 2, 1.0, 0.0)))
    assert tid[1] != tid[2]
    # in order, the same detections do link (gap closing included)
    tid = feed(batch(("t", 2, 2, 1.0, 0.0)), batch(("t", 1, 3, 0.0, 0.0), ("t", 3, 6, 8.0, 0.0)))
    assert tid[1] == tid[2] == tid[3]


def test_streaming_interval_pairs_matches_batch(spark, sf_dir, tmp_path):
    """The watermarked stream-stream interval join emits exactly the
    pair set the batch bucketed interval join would count: for each
    event, its set of other-user neighbors within ±60s matches
    interval_self_join_count's n_nearby."""
    from cellphe_data_pipeline_spark.operators.joins import interval_self_join_count
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_interval_pairs

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select("event_id", "user_id", "ts")
    )
    path = str(tmp_path / "iv_stream")
    ev.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    drain(
        streaming_interval_pairs(stream, window_seconds=60)
        .writeStream.format("memory")
        .queryName("iv_pairs")
        .outputMode("append"),
        "iv_pairs",
        timeout_s=120,
    )
    got = spark.sql("SELECT l_id, r_id FROM iv_pairs").collect()
    pairs = {(r["l_id"], r["r_id"]) for r in got}
    assert len(pairs) == len(got)  # ±1-bucket explode introduces no dup pairs
    per_left: dict = {}
    for l, r in pairs:
        per_left[l] = per_left.get(l, 0) + 1

    batch = {
        r["event_id"]: r["n_nearby"]
        for r in interval_self_join_count(
            ev, ts_col="ts", id_col="event_id", key_col="user_id", window_seconds=60
        ).collect()
    }
    assert sum(batch.values()) > 0  # fixture slice actually has neighbors
    for eid, n in batch.items():
        assert per_left.get(eid, 0) == n


def test_streaming_minhash_neardup_matches_batch(spark, tmp_path):
    """The watermarked streaming LSH near-dup emits exactly the
    horizon-oriented pair set computed from the batch band keys: for
    every (earlier doc_a, later doc_b) within the horizon sharing a
    band bucket, one pair row — multi-band collisions collapsed."""
    import datetime

    from cellphe_data_pipeline_spark.operators.dedup import (
        minhash_band_keys,
        word_shingles,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_minhash_neardup,
    )

    base = datetime.datetime(2026, 1, 1, 12, 0, 0)
    mk = lambda m: base + datetime.timedelta(minutes=m)
    docs = [
        # near-dups of each other, 10 min apart (inside 1h horizon)
        (1, "the quick brown fox jumps over the lazy dog today", mk(0)),
        (2, "the quick brown fox jumps over the lazy cat today", mk(10)),
        # exact dup of 1 but 2h later: OUTSIDE the horizon vs 1, and
        # near 2 only if within horizon of 2 (110 min -> also outside)
        (3, "the quick brown fox jumps over the lazy dog today", mk(120)),
        # exact dup of 3, 5 min later: inside horizon
        (4, "the quick brown fox jumps over the lazy dog today", mk(125)),
        # unrelated
        (5, "completely different content about spark engines here", mk(15)),
        # too short for any shingle-bearing signature? (has >=3 tokens,
        # so it signs, but shares nothing)
        (6, "tiny unshared words", mk(20)),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string, ts timestamp")
    path = str(tmp_path / "docs_stream")
    df.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    drain(
        streaming_minhash_neardup(stream, horizon_seconds=3600, band_size=2)
        .writeStream.format("memory")
        .queryName("mh_pairs")
        .outputMode("append"),
        "mh_pairs",
        timeout_s=120,
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.sql("SELECT doc_a, doc_b FROM mh_pairs").collect()
    }

    # batch oracle: the batch groupBy band keys, python pair logic
    ts_of = {d: t for d, _, t in docs}
    keys = {}
    for r in minhash_band_keys(word_shingles(df), band_size=2).collect():
        keys.setdefault((r["band"], r["band_key"]), []).append(
            (r["doc_id"], ts_of[r["doc_id"]])
        )
    expect = set()
    for members in keys.values():
        for (da, ta) in members:
            for (db, tb) in members:
                if da == db:
                    continue
                if ta < tb or (ta == tb and da < db):
                    if (tb - ta).total_seconds() <= 3600:
                        expect.add((da, db))
    assert got == expect
    # semantic spot-checks: the near-dup inside the horizon is caught,
    # the 2h-late exact dup is NOT paired with doc 1, but its own
    # 5-min-later copy is
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got
    assert (3, 4) in got


def test_streaming_upsert_matches_batch_merge(spark, sf_dir, tmp_path):
    """The streaming latest-wins CDC state, drained across MULTIPLE
    micro-batches (maxFilesPerTrigger=1), must finish at exactly the
    batch merge_upsert snapshot: same winners, same tombstoned keys."""
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_upsert

    ev, _ = _stage_events(spark, sf_dir, tmp_path, n_users=15)
    prep = ev.select(
        "user_id",
        (F.col("ts").cast("double") * 1000).cast("long").alias("t_ms"),
        "event_id",
        "event_type",
        "value",
    )
    staged = str(tmp_path / "upsert_stream")
    # several files => several micro-batches => state chains batches
    prep.repartition(4).write.mode("overwrite").parquet(staged)
    stream = ordered_file_stream(spark, prep.schema, staged)
    drain(
        streaming_upsert(stream)
        .writeStream.format("memory")
        .queryName("upsert_test")
        .outputMode("append"),
        "upsert_test",
        timeout_s=120,
    )
    rows = spark.sql("SELECT * FROM upsert_test").collect()
    # a sink applying rows in arrival order keeps each key's LAST row;
    # memory sink appends in batch order, so last occurrence wins
    final = {}
    for r in rows:
        final[r["key"]] = (r["t_ms"], r["last_seq"], r["last_type"],
                           r["last_value"], r["is_delete"])

    # batch oracle: latest-wins winner per key over the whole log
    want = {}
    for r in prep.collect():
        k = r["user_id"]
        cand = (r["t_ms"], r["event_id"])
        if k not in want or cand > (want[k][0], want[k][1]):
            want[k] = (r["t_ms"], r["event_id"], r["event_type"],
                       r["value"], r["event_type"] == "error")
    assert final == want
    # and the live (non-tombstoned) snapshot equals merge_upsert run on
    # (empty base + full log)
    from cellphe_data_pipeline_spark.operators.cdc import merge_upsert

    base = spark.createDataFrame(
        [], "user_id bigint, t_ms long, event_id bigint, event_type string, value double"
    )
    merged = {
        r["user_id"]: (r["t_ms"], r["event_id"])
        for r in merge_upsert(
            base,
            prep.withColumn("is_delete", F.col("event_type") == "error"),
            ["user_id"],
            ["t_ms", "event_id"],
        ).collect()
    }
    live = {k: (v[0], v[1]) for k, v in final.items() if not v[4]}
    assert live == merged


def test_streaming_upsert_null_only_key_emits_nothing(spark, tmp_path):
    """ADVICE r5 (low): a key whose rows all carry null (t, seq) has no
    winner — the stream must store no state and emit NO snapshot row
    for it (documented divergence from the batch window artifact),
    while a mixed key still resolves its non-null winner."""
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_upsert

    schema = (
        "user_id bigint, t_ms long, event_id bigint,"
        " event_type string, value double"
    )
    rows = [
        (1, None, None, "view", 1.0),   # null-only key 1
        (1, None, None, "view", 2.0),
        (2, None, None, "view", 3.0),   # key 2: null row ignored,
        (2, 100, 7, "buy", 4.0),        # non-null row wins
    ]
    staged = str(tmp_path / "null_upsert")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(staged)
    stream = spark.readStream.schema(schema).parquet(staged)
    drain(
        streaming_upsert(stream)
        .writeStream.format("memory")
        .queryName("null_upsert_test")
        .outputMode("append"),
        "null_upsert_test",
        timeout_s=120,
    )
    out = {r["key"]: r for r in spark.sql("SELECT * FROM null_upsert_test").collect()}
    assert 1 not in out  # null-only key: nothing emitted
    assert out[2]["t_ms"] == 100 and out[2]["last_seq"] == 7
    assert out[2]["last_type"] == "buy" and out[2]["is_delete"] is False


def test_streaming_ewma_chains_state_across_batches(spark, tmp_path):
    """The streaming EWMA drained across MULTIPLE micro-batches (one
    time-slice file per trigger, oldest first) must emit exactly the
    batch w9 window expression for every row — i.e. the trailing-
    horizon state genuinely chains across batches (a kernel that only
    smoothed within its own batch would diverge on every row whose
    lags cross a slice boundary)."""
    from cellphe_data_pipeline_spark.queries import _EWMA_NUM, _EWMA_DEN
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_ewma

    rows = [
        (uid, 1_000_000 * (i + 1), uid * 1000 + i, float((uid * 7 + i * 13) % 50) + 0.25)
        for uid in (1, 2, 3)
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, t_us bigint, event_id bigint, value double"
    )
    staged = str(tmp_path / "ewma_stream")
    # three ts-ordered slice files written sequentially: oldest-first
    # mtimes => maxFilesPerTrigger=1 feeds them as three ordered batches
    import time

    for lo, hi, name in ((0, 10, "s0"), (10, 20, "s1"), (20, 30, "s2")):
        df.filter(
            (F.col("t_us") > lo * 1_000_000) & (F.col("t_us") <= hi * 1_000_000)
        ).coalesce(1).write.mode("append").parquet(staged)
        time.sleep(1.1)
    stream = ordered_file_stream(spark, df.schema, staged)
    q = drain(
        streaming_ewma(stream)
        .writeStream.format("memory")
        .queryName("ewma_chain_test")
        .outputMode("append"),
        "ewma_chain_test",
        timeout_s=120,
    )
    assert q.lastProgress is not None and q.recentProgress is not None
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    got = {
        r["event_id"]: r["ewma"]
        for r in spark.sql("SELECT * FROM ewma_chain_test").collect()
    }
    want = {
        r["event_id"]: r["ewma"]
        # the w9 expression orders by (ts, event_id); expose t_us as ts
        for r in df.withColumn("ts", F.col("t_us")).selectExpr(
            "event_id", f"(({_EWMA_NUM}) / ({_EWMA_DEN})) AS ewma"
        ).collect()
    }
    assert len(got) == 90
    # bit-identical, including every row whose lags cross a boundary
    assert got == want


def test_streaming_gap_fill_emits_gaps_across_batch_boundaries(spark, tmp_path):
    """A gap that SPANS micro-batches must be emitted when the later
    batch's first hour closes it — the per-key (last hour, LOCF)
    state is what makes that possible. Three hour-aligned slices;
    user 1 observes hours 0,1 in slice A and hour 5 in slice C: the
    3-hour gap rows must appear, carrying hour-1's sum forward."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        _HOUR_US,
        streaming_gap_fill,
    )

    H = _HOUR_US
    rows = [
        # (user, hour_us, cents)
        (1, 0 * H, 100), (1, 0 * H, 250), (1, 1 * H, 700),
        (2, 1 * H, 50),
        (2, 2 * H, 60),
        (1, 5 * H, 900),
        (2, 5 * H, None),  # null-sum hour: grid row, LOCF carried
    ]
    df = spark.createDataFrame(rows, "user_id bigint, h_us bigint, cents bigint")
    staged = str(tmp_path / "gapfill_stream")
    import time

    for lo, hi in ((0, 2), (2, 3), (3, 6)):
        df.filter(
            (F.col("h_us") >= lo * H) & (F.col("h_us") < hi * H)
        ).coalesce(1).write.mode("append").parquet(staged)
        time.sleep(1.1)
    stream = ordered_file_stream(spark, df.schema, staged)
    q = drain(
        streaming_gap_fill(stream)
        .writeStream.format("memory")
        .queryName("gapfill_chain_test")
        .outputMode("append"),
        "gapfill_chain_test",
        timeout_s=120,
    )
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    got = {
        (r["user_id"], r["h_us"]): (r["observed"], r["cents"], r["filled"])
        for r in spark.sql("SELECT * FROM gapfill_chain_test").collect()
    }
    want = {
        (1, 0 * H): (True, 350, True),
        (1, 1 * H): (True, 700, True),
        (1, 2 * H): (False, 700, True),   # gap spans the A->C boundary
        (1, 3 * H): (False, 700, True),
        (1, 4 * H): (False, 700, True),
        (1, 5 * H): (True, 900, True),
        (2, 1 * H): (True, 50, True),
        (2, 2 * H): (True, 60, True),
        (2, 3 * H): (False, 60, True),
        (2, 4 * H): (False, 60, True),
        (2, 5 * H): (False, 60, True),    # null-sum hour: unobserved, LOCF
    }
    assert got == want


def test_streaming_ewma_horizon_one_keeps_no_state(spark, tmp_path):
    """Regression (r9 review): horizon=1 means identity smoothing with
    ZERO history — keep=0 must store an EMPTY state, not the whole
    list (a bare [-0:] slice is the full list), or per-key state grows
    with the stream."""
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_ewma

    rows = [(1, 1_000_000 * (i + 1), i, float(i)) for i in range(6)]
    df = spark.createDataFrame(
        rows, "user_id bigint, t_us bigint, event_id bigint, value double"
    )
    staged = str(tmp_path / "ewma_h1")
    import time

    for lo, hi in ((0, 3), (3, 6)):
        df.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).coalesce(1).write.mode("append").parquet(staged)
        time.sleep(1.1)
    stream = ordered_file_stream(spark, df.schema, staged)
    drain(
        streaming_ewma(stream, horizon=1)
        .writeStream.format("memory")
        .queryName("ewma_h1_test")
        .outputMode("append"),
        "ewma_h1_test",
        timeout_s=120,
    )
    got = {
        r["event_id"]: r["ewma"]
        for r in spark.sql("SELECT * FROM ewma_h1_test").collect()
    }
    # identity smoothing: ewma == value for every row, across batches
    assert got == {i: float(i) for i in range(6)}


def test_streaming_ewma_null_key_batch_is_dropped_not_crashed(spark, tmp_path):
    """Regression (r9 advisor): a NULL grouping key used to crash the
    whole stream at the int64 key cast. Contract: null-key rows are
    dropped (same as streaming_gap_fill); every other key still
    smooths."""
    from cellphe_data_pipeline_spark.streaming.tracker import streaming_ewma

    rows = [(1, 1_000_000, 0, 4.0), (None, 2_000_000, 1, 5.0), (1, 3_000_000, 2, 6.0)]
    df = spark.createDataFrame(
        rows, "user_id bigint, t_us bigint, event_id bigint, value double"
    )
    staged = str(tmp_path / "ewma_nullkey")
    df.coalesce(1).write.parquet(staged)
    stream = spark.readStream.schema(df.schema).parquet(staged)
    drain(
        streaming_ewma(stream)
        .writeStream.format("memory")
        .queryName("ewma_nullkey_test")
        .outputMode("append"),
        "ewma_nullkey_test",
        timeout_s=120,
    )
    got = spark.sql("SELECT * FROM ewma_nullkey_test").collect()
    assert sorted(r["event_id"] for r in got) == [0, 2]


def test_streaming_ewma_out_of_order_batch_raises(spark, tmp_path):
    """The key-monotone ordering contract is ENFORCED (r9 advisor: the
    stored (t, seq) tail was written but never read): a micro-batch
    whose oldest row precedes the already-smoothed tail must fail the
    stream loudly, not smooth in the wrong order."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from cellphe_data_pipeline_spark.streaming.tracker import streaming_ewma

    df = spark.createDataFrame(
        [(1, 1_000_000 * (i + 1), i, float(i)) for i in range(6)],
        "user_id bigint, t_us bigint, event_id bigint, value double",
    )
    staged = str(tmp_path / "ewma_ooo")
    import time

    # NEWER slice written first (older mtime) => it forms batch 1, and
    # the genuinely-older slice arrives second: a contract violation
    for lo, hi in ((3, 6), (0, 3)):
        df.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).coalesce(1).write.mode("append").parquet(staged)
        time.sleep(1.1)
    stream = ordered_file_stream(spark, df.schema, staged)
    with pytest.raises(StreamingQueryException) as ei:
        drain(
            streaming_ewma(stream)
            .writeStream.format("memory")
            .queryName("ewma_ooo_test")
            .outputMode("append"),
            "ewma_ooo_test",
            timeout_s=120,
        )
    assert "key-monotone ordering contract" in str(ei.value)


def test_streaming_ingest_lifecycle_dedups_across_batches(spark, tmp_path):
    """The composed ingest chain (dedup -> gate -> counted upsert, ONE
    streaming plan) drained as multiple micro-batches: batch 2 is pure
    redelivery of batch-1 rows plus a few genuinely-new events. The
    dedup state must drop the redelivered copies ACROSS the batch
    boundary (a per-batch dedup would admit them), the gate must keep
    value>threshold rows out of both the winner and the count, and the
    final per-key n_rows_applied must equal the distinct gated event
    count — the observable that duplicates never reached the upsert
    state server."""
    import time

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_ingest_lifecycle,
    )

    # user 1: 4 events (one gated out by value=999); user 2: 3 events,
    # latest is a tombstone ('error')
    rows = [
        (1, 1_000_000, 10, "click", 5.0),
        (1, 2_000_000, 11, "view", 7.0),
        (1, 3_000_000, 12, "click", 999.0),   # fails the gate
        (2, 1_500_000, 20, "signup", 3.0),
        (2, 2_500_000, 21, "click", 4.0),
    ]
    new_rows = [
        (1, 4_000_000, 13, "purchase", 9.0),
        (2, 3_500_000, 22, "error", 1.0),     # tombstone wins for user 2
    ]
    schema = "user_id bigint, t_us bigint, event_id bigint, event_type string, value double"
    df1 = spark.createDataFrame(rows, schema)
    # batch 2 = exact redelivery of ALL batch-1 rows + the new events
    df2 = spark.createDataFrame(rows + new_rows, schema)
    with_ts = lambda d: d.withColumn("ts", F.timestamp_micros("t_us"))  # noqa: E731
    staged = str(tmp_path / "lifecycle_stream")
    with_ts(df1).coalesce(1).write.mode("append").parquet(staged)
    time.sleep(1.1)
    with_ts(df2).coalesce(1).write.mode("append").parquet(staged)
    stream = ordered_file_stream(spark, with_ts(df1).schema, staged)
    q = drain(
        streaming_ingest_lifecycle(
            stream,
            dedup_keys=["user_id", "event_id"],
            gate_predicate="value IS NOT NULL AND value <= 150.0",
        )
        .writeStream.format("memory")
        .queryName("lifecycle_chain_test")
        .outputMode("append"),
        "lifecycle_chain_test",
        timeout_s=120,
    )
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, f"expected >=2 micro-batches, got {n_batches}"
    sink = spark.sql("SELECT * FROM lifecycle_chain_test").collect()
    final = {}
    for r in sink:
        cur = final.get(r["key"])
        k = (r["t_ms"], r["last_seq"], r["n_rows_applied"])
        if cur is None or k > (cur["t_ms"], cur["last_seq"], cur["n_rows_applied"]):
            final[r["key"]] = r
    # user 1: events 10/11/13 pass the gate (12 gated out); the three
    # batch-2 redeliveries of 10/11 must NOT inflate the count
    assert final[1]["n_rows_applied"] == 3
    assert final[1]["last_seq"] == 13
    assert final[1]["last_type"] == "purchase"
    assert final[1]["is_delete"] is False
    # user 2: events 20/21/22 all pass; 22 is the tombstone winner
    assert final[2]["n_rows_applied"] == 3
    assert final[2]["last_seq"] == 22
    assert final[2]["is_delete"] is True


def test_streaming_dedup_rollup_chain_across_batches(spark, tmp_path):
    """e17's built-in two-stateful chain (dedup -> watermarked tumbling
    agg, ONE append-mode plan) across micro-batches: batch 2 redelivers
    batch-1 rows (must not inflate any window's count), batch 3 is the
    far-future sentinel (must flush every real window via the no-data
    final batch while its own window stays held back)."""
    import datetime as dt
    import time

    rows = [
        # two 1h windows, 3 + 2 events
        (10, "click", dt.datetime(2024, 1, 1, 0, 5), 1.0),
        (11, "click", dt.datetime(2024, 1, 1, 0, 25), 2.0),
        (12, "view", dt.datetime(2024, 1, 1, 0, 45), 4.0),
        (13, "click", dt.datetime(2024, 1, 1, 1, 10), 8.0),
        (14, "view", dt.datetime(2024, 1, 1, 1, 50), 16.0),
    ]
    schema = "event_id bigint, event_type string, ts timestamp, value double"
    df1 = spark.createDataFrame(rows, schema)
    df2 = spark.createDataFrame(rows[:4], schema)  # pure redelivery
    df3 = spark.createDataFrame(
        [(-1, "sentinel", dt.datetime(2100, 1, 1), 0.0)], schema
    )
    staged = str(tmp_path / "dedup_rollup_stream")
    for d in (df1, df2, df3):
        d.coalesce(1).write.mode("append").parquet(staged)
        time.sleep(1.1)
    stream = ordered_file_stream(spark, df1.schema, staged)
    out = (
        stream.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type", F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    q = drain(
        out.writeStream.format("memory")
        .queryName("dedup_rollup_chain_test")
        .outputMode("append"),
        "dedup_rollup_chain_test",
        timeout_s=120,
    )
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    got = {
        (r["event_type"], r["win"]["start"].hour): (r["n"], r["sv"])
        for r in spark.sql("SELECT * FROM dedup_rollup_chain_test").collect()
    }
    # every real window emitted exactly once with the DEDUPED counts;
    # the sentinel's 2100 window held back (not in the sink)
    assert got == {
        ("click", 0): (2, 3.0),
        ("view", 0): (1, 4.0),
        ("click", 1): (1, 8.0),
        ("view", 1): (1, 16.0),
    }


def test_streaming_join_rollup_chains_across_batches(spark, tmp_path):
    """e18's join->agg chain across micro-batches: batch 2's purchases
    must join batch 1's clicks through the join STATE (a per-batch
    join would miss them), the batch-3 sentinel must flush every real
    window through BOTH watermark branches, and the sentinel's
    self-pair window must stay held back."""
    import datetime as dt
    import time

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_join_rollup,
    )

    schema = "user_id bigint, event_type string, ts timestamp, value double"
    f1 = spark.createDataFrame(
        [
            (1, "click", dt.datetime(2024, 1, 1, 0, 10), 0.0),
            (2, "click", dt.datetime(2024, 1, 1, 0, 20), 0.0),
            (1, "purchase", dt.datetime(2024, 1, 1, 0, 30), 10.0),
        ],
        schema,
    )
    # batch 2: purchases attributed to BATCH-1 clicks (state chaining);
    # u2's second purchase is outside u2's click window (dropped)
    f2 = spark.createDataFrame(
        [
            (2, "purchase", dt.datetime(2024, 1, 1, 1, 5), 20.0),
            (2, "purchase", dt.datetime(2024, 1, 1, 2, 30), 40.0),
            (1, "click", dt.datetime(2024, 1, 1, 2, 0), 0.0),
        ],
        schema,
    )
    f3 = spark.createDataFrame(
        [(-1, "sentinel", dt.datetime(2100, 1, 1), 0.0)], schema
    )
    staged = str(tmp_path / "join_rollup_stream")
    for d in (f1, f2, f3):
        d.coalesce(1).write.mode("append").parquet(staged)
        time.sleep(1.1)
    stream = ordered_file_stream(spark, f1.schema, staged)
    q = drain(
        streaming_join_rollup(stream)
        .writeStream.format("memory")
        .queryName("join_rollup_chain_test")
        .outputMode("append"),
        "join_rollup_chain_test",
        timeout_s=120,
    )
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    got = {
        (r["win"]["start"].year, r["win"]["start"].hour): (
            r["n_conversions"],
            r["sum_value"],
        )
        for r in spark.sql("SELECT * FROM join_rollup_chain_test").collect()
    }
    # hour 0: u1's purchase joins u1's click (same batch);
    # hour 1: u2's 1:05 purchase joins u2's 0:20 click ACROSS batches;
    # u2's 2:30 purchase attributes to nothing; sentinel window absent
    assert got == {(2024, 0): (1, 10.0), (2024, 1): (1, 20.0)}


def test_ingest_lifecycle_gate_not_pushed_below_dedup(spark, tmp_path):
    """The lifecycle's documented plan shape: the gate filter stays
    ABOVE DeduplicateWithinWatermark in the optimized plan — pushing a
    non-key predicate below the dedup would change which row
    establishes a key (and, per the e18 trap, predicates pushed below
    a watermark node can also starve the event-time clock). Asserted
    on the optimized plan text."""
    import contextlib
    import io

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_ingest_lifecycle,
    )

    df = spark.range(10).select(
        F.col("id").alias("user_id"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
        (F.col("id") * 1_000_000).alias("t_us"),
        F.col("id").alias("event_id"),
        F.lit("click").alias("event_type"),
        (F.col("id") * 1.0).alias("value"),
    )
    staged = str(tmp_path / "lifecycle_plan")
    df.write.parquet(staged)
    stream = spark.readStream.schema(df.schema).parquet(staged)
    out = streaming_ingest_lifecycle(
        stream,
        dedup_keys=["user_id", "event_id"],
        gate_predicate="value IS NOT NULL AND value <= 150.0",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(extended=True)
    txt = buf.getvalue()
    opt = txt[txt.index("== Optimized Logical Plan =="):]
    f = opt.index("Filter ")
    d = opt.index("DeduplicateWithinWatermark")
    assert f < d, "gate filter was pushed below the dedup:\n" + opt[:1500]


def test_streaming_profile_folds_across_batches(spark, tmp_path):
    """e19's profile state must FOLD across micro-batches (each batch
    is a partial merged into the running one): three sequenced slices
    with nulls and extremes in different batches must drain to exactly
    the whole-table profile."""
    import time

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_profile,
    )

    schema = "id bigint, a double"
    f1 = spark.createDataFrame([(0, 1.5), (1, None)], schema)
    f2 = spark.createDataFrame([(2, -10.0), (3, 2.5)], schema)   # min in batch 2
    f3 = spark.createDataFrame([(4, 100.0), (5, None)], schema)  # max in batch 3
    staged = str(tmp_path / "profile_stream")
    for d in (f1, f2, f3):
        d.coalesce(1).write.mode("append").parquet(staged)
        time.sleep(1.1)
    stream = ordered_file_stream(spark, f1.schema, staged)
    q = drain(
        streaming_profile(stream, ["a"])
        .writeStream.format("memory")
        .queryName("profile_fold_test")
        .outputMode("complete"),
        "profile_fold_test",
        timeout_s=120,
    )
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected >=3 micro-batches, got {n_batches}"
    r = spark.sql("SELECT * FROM profile_fold_test").collect()
    assert len(r) == 1 and r[0]["col_name"] == "a"
    r = r[0]
    assert (r["n_rows"], r["n_null"], r["min_value"], r["max_value"]) == (6, 2, -10.0, 100.0)
    assert r["mean_value"] == round((1.5 - 10.0 + 2.5 + 100.0) / 4, 6)


def test_append_rollup_two_watermark_protocol(spark, tmp_path):
    """Pins Spark's two-watermark contract on a hand-computed fixture:
    the LATE filter in batch k uses batch k-1's eviction watermark
    (so a straggler for a window whose state is still in the store
    merges in — no data loss), while EMISSION uses the current
    watermark (trailing windows are withheld). delay=2h, 1h windows.

    b0: hours 00 (2 rows) and 01 (1 row); runs at the epoch watermark.
    b1: hour 10 (1 row); runs at eviction wm = max(b0) - 2h = 23:30
        PREV-DAY (nothing emitted yet, nothing late-filtered).
    b2: a straggler for hour 00 — KEPT, because b2's late filter is
        b1's watermark (23:30 prev-day), not b2's own eviction wm
        (max(b0+b1) - 2h = 08:30, which WOULD have dropped it; that
        one-batch lag is the contract under test) — a straggler for
        hour 09, and an in-order row at 12:40. End of b2: eviction wm
        08:30 emits hours 00 (straggler merged) and 01.
    no-data batch: final wm = 12:40 - 2h = 10:40 -> hour 09 (end
        10:00) emitted; hours 10 (end 11:00) and 12 withheld.
    """
    import glob
    import os
    import shutil

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_append_rollup,
    )

    D = "2024-03-05 "
    batches = [
        [(D + "00:10:00", 1.0), (D + "00:20:00", 2.0), (D + "01:30:00", 4.0)],
        [(D + "10:30:00", 8.0)],
        [
            (D + "00:40:00", 16.0),   # straggler, window already evicted
            (D + "09:15:00", 32.0),   # straggler, window still open
            (D + "12:40:00", 64.0),   # in-order tail, withheld
        ],
    ]
    staged = str(tmp_path / "late_drop_stage")
    os.makedirs(staged)
    for k, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "ts_s string, value double").select(
            F.col("ts_s").cast("timestamp").alias("ts"), "value"
        )
        tmp = os.path.join(staged, f"_tmp{k}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(staged, f"b{k}.parquet")
        shutil.move(src, dst)
        shutil.rmtree(tmp)
        t = 1_700_000_000 + 100 * k
        os.utime(dst, (t, t))
    schema = "ts timestamp, value double"
    stream = ordered_file_stream(spark, schema, staged)
    drain(
        streaming_append_rollup(stream)
        .writeStream.format("memory")
        .queryName("late_drop_test")
        .outputMode("append"),
        "late_drop_test",
        timeout_s=300,
    )
    got = {
        r["win"]["start"].strftime("%H"): (r["n"], r["sum_value"])
        for r in spark.table("late_drop_test").collect()
    }
    assert got == {
        "00": (3, 19.0),   # straggler KEPT: late filter lags one batch
        "01": (1, 4.0),
        "09": (1, 32.0),   # straggler alone creates open state
    }  # hours 10 and 12 withheld: final wm 10:40 < their window ends


def test_dedup_within_watermark_expiry_lifecycle(spark, tmp_path):
    """Pins the three-phase dedup-state lifecycle on a hand-computed
    fixture (delay 3 days): suppressed while state lives, evicted when
    the watermark VISIBLE to the batch (= previous batch's watermark,
    the e20 lag) passes first_ts + delay, re-admitted after.

    b0: k1@03-01 (exp 03-04), k2@03-05 (exp 03-08).
    b1: k9@03-10 — wm during b1 = max(b0) - 3d = 03-02.
    b2: k1@03-20, k2@03-20 — visible wm = wm(b1) = 03-02 < both
        expiries -> BOTH suppressed (k1's expiry already passed b2's
        own wm 03-07; the lag keeps it suppressing — the trap).
    b3: k1@03-25, k2@03-25 — visible wm = wm(b2) = max(b0+b1) - 3d =
        03-07: k1 (exp 03-04) evicted -> RE-ADMITTED; k2 (exp 03-08)
        still live -> suppressed.
    """
    import glob
    import os
    import shutil

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_dedup_within_watermark,
    )

    D = "2024-03-"
    batches = [
        [("k1", D + "01 00:00:00"), ("k2", D + "05 00:00:00")],
        [("k9", D + "10 00:00:00")],
        [("k1", D + "20 00:00:00"), ("k2", D + "20 01:00:00")],
        [("k1", D + "25 00:00:00"), ("k2", D + "25 01:00:00")],
    ]
    staged = str(tmp_path / "dedup_expiry_stage")
    os.makedirs(staged)
    for k, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "key string, ts_s string").select(
            "key", F.col("ts_s").cast("timestamp").alias("ts")
        )
        tmp = os.path.join(staged, f"_tmp{k}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (src,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        dst = os.path.join(staged, f"b{k}.parquet")
        shutil.move(src, dst)
        shutil.rmtree(tmp)
        t = 1_700_000_000 + 100 * k
        os.utime(dst, (t, t))
    stream = ordered_file_stream(spark, "key string, ts timestamp", staged)
    drain(
        streaming_dedup_within_watermark(stream, watermark="3 days")
        .writeStream.format("memory")
        .queryName("dedup_expiry_test")
        .outputMode("append"),
        "dedup_expiry_test",
        timeout_s=300,
    )
    got = sorted(
        (r["key"], r["ts"].strftime("%m-%d"))
        for r in spark.table("dedup_expiry_test").collect()
    )
    assert got == [
        ("k1", "03-01"),
        ("k1", "03-25"),   # re-admitted: bounded state re-emits
        ("k2", "03-05"),   # k2@03-25 still suppressed (exp 03-08 > 03-07)
        ("k9", "03-10"),
    ]


def test_restartable_drain_restores_state_and_emits_once(spark, tmp_path):
    """e23's semantics on a hand-built log where the restart provably
    bisects an hour window: h1 has one row in the pre-stop file and
    one in the post-stop file, so its final count is 2 ONLY if the
    state store and watermark were restored; h0 is emitted by the
    first drain and must not re-emit after the restart."""
    import os

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_append_rollup,
        streaming_restartable_drain,
    )

    def ts(s):
        return f"2024-03-01 {s}:00"

    batch_a = [(ts("00:10"), 1.0), (ts("00:40"), 2.0),
               (ts("01:10"), 4.0), (ts("03:30"), 8.0)]
    batch_b = [(ts("01:40"), 16.0), (ts("06:30"), 32.0)]

    staged = str(tmp_path / "staged")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(staged)
    os.makedirs(src)
    for k, rows in enumerate((batch_a, batch_b)):
        df = spark.createDataFrame(rows, "ts_s string, value double").select(
            F.col("ts_s").cast("timestamp").alias("ts"), "value"
        )
        d = str(tmp_path / f"tmp{k}")
        df.coalesce(1).write.parquet(d)
        [f] = [x for x in os.listdir(d) if x.endswith(".parquet")]
        dst = os.path.join(staged, f"b{k}.parquet")
        os.rename(os.path.join(d, f), dst)
        t = 1_700_000_000 + 100 * k
        os.utime(dst, (t, t))

    schema = "ts timestamp, value double"

    def transform(stream):
        return streaming_append_rollup(
            stream, ts_col="ts", value_col="value"
        ).select(
            F.col("win.start").cast("string").alias("win_start"),
            "n",
            "sum_value",
        )

    import shutil

    shutil.copy2(f"{staged}/b0.parquet", f"{src}/b0.parquet")
    n1 = streaming_restartable_drain(spark, schema, src, out, ckpt, transform)
    first = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert n1 == 1 and first == {("2024-03-01 00:00:00", 2, 3.0)}

    shutil.copy2(f"{staged}/b1.parquet", f"{src}/b1.parquet")
    n2 = streaming_restartable_drain(spark, schema, src, out, ckpt, transform)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert n2 == 3
    assert got == {
        ("2024-03-01 00:00:00", 2, 3.0),    # emitted pre-stop, ONCE
        ("2024-03-01 01:00:00", 2, 20.0),   # spans the restart: 4+16
        ("2024-03-01 03:00:00", 1, 8.0),
    }


def test_streaming_static_enrich_stateless_join(spark, sf_dir, tmp_path):
    """e24's kernel: results equal the batch twin, and the join adds NO
    state operator — the last progress reports exactly one stateful op
    (the windowed agg), proving the stream-static join is per-batch."""
    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_static_enrich_rollup,
    )

    ev, path = _stage_events(spark, sf_dir, tmp_path)
    dim = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(F.col("user_id") % 2 == 0, "even")
            .otherwise("odd")
            .alias("tier"),
        )
    )
    stream = spark.readStream.schema(ev.schema).parquet(path)
    q = drain(
        streaming_static_enrich_rollup(stream, dim)
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("complete"),
        "enrich_test",
        timeout_s=120,
    )
    state_ops = q.lastProgress["stateOperators"]
    assert len(state_ops) == 1, state_ops  # agg only; the join is stateless
    assert state_ops[0]["operatorName"] == "stateStoreSave", state_ops  # the agg's save; no symmetricHashJoin op

    got = {
        (r["win"]["start"], r["tier"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    want = {
        (r["hour_ts"], r["tier"]): (r["n"], r["sum_value"])
        for r in ev.join(dim, "user_id")
        .groupBy("tier", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    assert got == want


def test_snapshot_append_batch_idempotent_by_batch_id(spark, tmp_path):
    """The exactly-once sink primitive: replays (same or lower batch
    id) are no-ops; fresh ids commit readable snapshots."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_append_batch,
        snapshot_current,
        snapshot_read,
    )

    table = str(tmp_path / "t")
    b0 = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    b1 = spark.createDataFrame([(2, 2.0)], "k bigint, v double")
    assert snapshot_append_batch(table, b0, 0) is True
    assert snapshot_append_batch(table, b1, 1) is True
    assert snapshot_current(table) == 2
    # replay of batch 1 AND a late replay of batch 0: both refused
    assert snapshot_append_batch(table, b1, 1) is False
    assert snapshot_append_batch(table, b0, 0) is False
    assert snapshot_current(table) == 2
    rows = {r["k"]: r["v"] for r in snapshot_read(spark, table, 2).collect()}
    assert rows == {1: 1.0, 2: 2.0}
    # snapshot 1 (after batch 0 only) still readable: each micro-batch
    # is a committed, time-travelable table version
    assert snapshot_read(spark, table, 1).count() == 1


def test_merge_batch_idempotent_guard_and_bootstrap(spark, tmp_path):
    """The streaming-MERGE applier: bootstraps an empty table, applies
    latest-wins upserts, and refuses replays before any merge work."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_current,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        merge_batch_idempotent,
    )

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0)], "event_id bigint, g string, v double"
    )
    upd = spark.createDataFrame(
        [(2, "a", 20.0), (3, "a", 3.0)], "event_id bigint, g string, v double"
    )
    assert merge_batch_idempotent(spark, table, base, 0) is True  # bootstrap
    assert merge_batch_idempotent(spark, table, upd, 1) is True
    assert merge_batch_idempotent(spark, table, upd, 1) is False  # replay
    assert merge_batch_idempotent(spark, table, base, 0) is False
    assert snapshot_current(table) == 2
    rows = {
        r["event_id"]: r["v"]
        for r in snapshot_read(spark, table, 2).collect()
    }
    assert rows == {1: 1.0, 2: 20.0, 3: 3.0}  # latest wins, insert applied


def test_streaming_observe_metrics_fold_across_batches(spark, sf_dir, tmp_path):
    """The e29 contract: observedMetrics are PER micro-batch; with
    maxFilesPerTrigger=1 over three staged files, the fold across
    progress entries equals the total row count."""
    ev, path = _stage_events(spark, sf_dir, tmp_path, n_users=10)
    # restage as three files so the drain runs three micro-batches
    three = str(tmp_path / "three")
    ev.repartition(3).write.mode("overwrite").parquet(three)
    stream = ordered_file_stream(spark, ev.schema, three)
    observed = stream.observe(
        "obs_test", F.count(F.lit(1)).alias("obs_rows")
    ).groupBy("event_type").count()
    q = drain(
        observed.writeStream.format("memory")
        .queryName("obs_fold_sink")
        .outputMode("complete"),
        "obs_fold_sink",
        timeout_s=120,
    )
    per_batch = [
        p["observedMetrics"]["obs_test"]["obs_rows"]
        for p in q.recentProgress
        if (p or {}).get("observedMetrics", {}).get("obs_test")
    ]
    assert len(per_batch) >= 2  # genuinely multi-batch
    assert sum(per_batch) == ev.count()


def test_corpus_ingest_partial_crash_replays_into_one_skip_one_commit(
    spark, tmp_path
):
    """e31's exactly-once across its TWO non-atomic commits: simulate a
    crash between the windows commit and the seen commit (apply batch
    0, then roll the seen table back to empty by wiping it), replay
    batch 0 — the windows table refuses (its watermark covers 0), the
    seen table commits, and batch 1 then dedups correctly against the
    recovered seen state. Also pins the carried pack_offsets: batch
    1's windows continue batch 0's per-stream token positions."""
    import shutil

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_current,
        snapshot_manifest,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import (
        corpus_ingest_apply_batch,
    )

    table = str(tmp_path / "win")
    seen = str(tmp_path / "seen")
    # 30-token docs -> offsets are 30-multiples; doc 3 duplicates doc 1
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id bigint, stream string, text_clean string"
    )
    # pure-alpha words: each is exactly ONE BPE-ish token (a trailing
    # digit would split into two)
    t = " ".join("abcdefghij"[i % 10] * 3 for i in range(30))
    b0 = mk([(1, "a", t), (3, "a", t), (2, "a", t + " extra")])
    b1 = mk([(4, "a", t), (5, "a", t + " novel")])

    assert corpus_ingest_apply_batch(spark, table, seen, b0, 0, 512)
    # batch 0: doc 3 deduped within-batch (same hash as doc 1)
    got0 = {r["doc_id"] for r in snapshot_read(spark, table, 1).collect()}
    assert got0 == {1, 2}
    off0 = snapshot_manifest(table, 1)["pack_offsets"]
    assert off0 == {"a": 61}, off0  # 30 + 31 tokens consumed

    # CRASH between commits: windows committed, seen lost
    shutil.rmtree(seen)
    # replay the same batch: windows skips, seen recovers
    assert corpus_ingest_apply_batch(spark, table, seen, b0, 0, 512) is False
    assert snapshot_current(table) == 1  # no double-apply
    assert snapshot_current(seen) == 1  # recovered
    assert snapshot_manifest(table, 1)["pack_offsets"] == {"a": 61}

    # batch 1: doc 4 (dup of doc 1, cross-batch) suppressed by the
    # recovered seen table; doc 5 packs at the carried offset
    assert corpus_ingest_apply_batch(spark, table, seen, b1, 1, 512)
    rows = {
        r["doc_id"]: r
        for r in snapshot_read(spark, table, 2).collect()
        if r["doc_id"] > 2
    }
    assert set(rows) == {5}, set(rows)
    assert rows[5]["tok_start"] == 61, rows[5]  # continues the stream


def test_corpus_ingest_gate_packs_subset_but_seen_records_all(
    spark, tmp_path
):
    """e32's post_dedup_gate contract (r14): the gate selects what
    PACKS, but the seen table records EVERY deduped representative's
    hash — a later exact duplicate of a gated-out doc must stay
    suppressed (c24 drops the whole group when its representative
    fails admission), and pack offsets advance only by gated-in
    tokens. Also the crash leg with a gate in place: replay after the
    seen table is lost refuses the windows commit and recovers seen."""
    import shutil

    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
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
    gate = lambda b: b.filter(F.col("doc_id") >= 20)  # noqa: E731
    t = " ".join("abcdefghij"[i % 10] * 3 for i in range(30))
    # doc 5 is gated OUT (bench slice); doc 21 is its exact duplicate
    b0 = mk([(5, "a", t), (20, "a", t + " extra")])
    b1 = mk([(21, "a", t), (22, "a", t + " novel")])

    assert corpus_ingest_apply_batch(
        spark, table, seen, b0, 0, 512, post_dedup_gate=gate
    )
    got0 = {r["doc_id"] for r in snapshot_read(spark, table, 1).collect()}
    assert got0 == {20}, got0  # doc 5 gated out of the PACK side
    # offsets advanced only by doc 20's tokens (31), not doc 5's
    assert snapshot_manifest(table, 1)["pack_offsets"] == {"a": 31}
    # but the seen table recorded BOTH hashes
    assert snapshot_read(spark, seen, 1).count() == 2

    assert corpus_ingest_apply_batch(
        spark, table, seen, b1, 1, 512, post_dedup_gate=gate
    )
    got1 = {r["doc_id"] for r in snapshot_read(spark, table, 2).collect()}
    # doc 21 suppressed by the gated-out doc 5's seen hash; 22 packs
    assert got1 == {20, 22}, got1
    assert snapshot_manifest(table, 2)["pack_offsets"] == {"a": 62}

    # crash leg with the gate: windows committed, seen lost — replay
    # skips windows, recovers seen, never double-applies
    shutil.rmtree(seen)
    assert (
        corpus_ingest_apply_batch(
            spark, table, seen, b0, 0, 512, post_dedup_gate=gate
        )
        is False
    )
    assert (
        corpus_ingest_apply_batch(
            spark, table, seen, b1, 1, 512, post_dedup_gate=gate
        )
        is False
    )
    assert snapshot_current(table) == 2  # unchanged
    assert snapshot_current(seen) == 2  # recovered both batches
    # 3 distinct hashes: t, t+extra, t+novel — doc 21's hash equals
    # the gated-out doc 5's, so it was anti-joined before recording
    assert snapshot_read(spark, seen, 2).count() == 3


def test_cdc_apply_batch_partial_crash_replay(spark, tmp_path, monkeypatch):
    """r15 (e35): the CDC applier's 5-step decomposition must replay
    a crash at ANY step boundary into skips-for-done +
    applies-for-missing — in particular the nastiest boundary, a
    crash AFTER the re-inserted rows were appended but BEFORE their
    keys were un-tombstoned (replay must not re-append: the append
    watermark is feed-derived, immune to the tombstone state the
    crash left behind)."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import snapshot_read
    from cellphe_data_pipeline_spark.streaming.tracker import (
        cdc_apply_batch,
    )

    table = str(tmp_path / "mv")

    def feed(rows):
        return spark.createDataFrame(
            rows, "k bigint, change_type string, v bigint"
        )

    # batch 0: bootstrap inserts
    r0 = cdc_apply_batch(
        spark, table, "k",
        feed([(i, "insert", i * 10) for i in range(10)]), 0,
    )
    assert r0["inserted"] and not r0["deleted"]
    # batch 1: tombstone 3 and 7
    r1 = cdc_apply_batch(
        spark, table, "k",
        feed([(3, "delete", None), (7, "delete", None)]), 1,
    )
    assert r1["deleted"] and not r1["inserted"]
    from cellphe_data_pipeline_spark.sources.io import snapshot_current

    assert {
        r["k"]
        for r in snapshot_read(
            spark, table, snapshot_current(table)
        ).collect()
    } == (set(range(10)) - {3, 7})

    # batch 2: update 5 -> 555, re-insert 3 -> 333; CRASH before the
    # final un-tombstone step
    b2 = feed(
        [
            (5, "update_pre", 50),
            (5, "update_post", 555),
            (3, "insert", 333),
        ]
    )
    import cellphe_data_pipeline_spark.sources.io as io_mod

    real_undelete = io_mod.snapshot_undelete_keys

    def boom(*a, **kw):
        raise RuntimeError("crash before undelete")

    monkeypatch.setattr(
        "cellphe_data_pipeline_spark.sources.io.snapshot_undelete_keys",
        boom,
    )
    # cdc_apply_batch imports the symbol inside the function body, so
    # patching the io module is enough
    import pytest

    with pytest.raises(RuntimeError, match="crash before undelete"):
        cdc_apply_batch(spark, table, "k", b2, 2)
    # mid-crash state: merge+purge+append+delete committed; key 3's
    # new row exists but is STILL masked
    mid = {
        r["k"]: r["v"]
        for r in snapshot_read(
            spark, table, snapshot_current(table)
        ).collect()
    }
    assert 3 not in mid and mid[5] == 555

    # REPLAY batch 2 (the recovery): only the undelete applies
    monkeypatch.setattr(
        "cellphe_data_pipeline_spark.sources.io.snapshot_undelete_keys",
        real_undelete,
    )
    r2 = cdc_apply_batch(spark, table, "k", b2, 2)
    assert r2 == {
        "merged": False, "purged": False, "inserted": False,
        "deleted": False, "undeleted": True,
    }, r2

    final = {
        r["k"]: r["v"]
        for r in snapshot_read(
            spark, table, snapshot_current(table)
        ).collect()
    }
    # key 3 exactly once with the NEW value; 5 updated; 7 still gone
    assert final == {
        **{i: i * 10 for i in range(10) if i not in (3, 5, 7)},
        3: 333,
        5: 555,
    }, final

    # a full replay of every batch is all-skips, state unchanged
    sid = snapshot_current(table)
    for bid, bdf in [
        (0, feed([(i, "insert", i * 10) for i in range(10)])),
        (1, feed([(3, "delete", None), (7, "delete", None)])),
        (2, b2),
    ]:
        r = cdc_apply_batch(spark, table, "k", bdf, bid)
        assert not any(r.values()), (bid, r)
    assert snapshot_current(table) == sid


def test_cdc_apply_batch_insert_then_update_and_tombstoned_update(
    spark, tmp_path, monkeypatch
):
    """r16 advisor fixes, pinned:

    1. a batch carrying insert(k) AND update_pre/update_post(k)
       (insert-then-update inside one micro-batch) commits exactly ONE
       row for k, with the update_post payload — the pre-fix router
       put both ins-side rows into the merge delta and committed two;
    2. an UPDATE of a currently-tombstoned key is un-masked by step 5
       — pre-fix, the undelete set was derived from pure inserts only,
       so the merged row stayed invisible forever;
    3. the no-op-purge replay hole: when a re-inserted key is
       tombstoned but physically ABSENT, the purge commits nothing (so
       its mark never persists) — after a crash between the append and
       the undelete, the REPLAYED purge must not run again (pre-fix it
       re-scanned stats, admitted the freshly appended file, and
       deleted the new row before it was ever unmasked).
    """
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_current,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import cdc_apply_batch

    def feed(rows):
        return spark.createDataFrame(
            rows, "k bigint, change_type string, v bigint"
        )

    def state(table):
        return {
            r["k"]: r["v"]
            for r in snapshot_read(
                spark, table, snapshot_current(table)
            ).collect()
        }

    # --- (1) insert-then-update of the same key in one batch
    t1 = str(tmp_path / "t1")
    cdc_apply_batch(spark, t1, "k", feed([(1, "insert", 10)]), 0)
    cdc_apply_batch(
        spark, t1, "k",
        feed([
            (2, "insert", 20),
            (2, "update_pre", 20),
            (2, "update_post", 222),
        ]),
        1,
    )
    assert state(t1) == {1: 10, 2: 222}

    # --- (2) update of a tombstoned key becomes visible again
    t2 = str(tmp_path / "t2")
    cdc_apply_batch(
        spark, t2, "k", feed([(1, "insert", 10), (2, "insert", 20)]), 0
    )
    cdc_apply_batch(spark, t2, "k", feed([(2, "delete", None)]), 1)
    assert state(t2) == {1: 10}
    r = cdc_apply_batch(
        spark, t2, "k",
        feed([(2, "update_pre", 20), (2, "update_post", 202)]), 2,
    )
    assert r["undeleted"], r
    assert state(t2) == {1: 10, 2: 202}

    # --- (3) replay after crash must not purge the fresh append when
    # the original purge was a no-op (key tombstoned, physically absent)
    t3 = str(tmp_path / "t3")
    cdc_apply_batch(spark, t3, "k", feed([(1, "insert", 10)]), 0)
    # tombstone a key that never physically existed: purge has no
    # candidate files to hit
    cdc_apply_batch(spark, t3, "k", feed([(9, "delete", None)]), 1)
    b2 = feed([(9, "insert", 99)])

    import cellphe_data_pipeline_spark.sources.io as io_mod

    real_undelete = io_mod.snapshot_undelete_keys

    def boom(*a, **kw):
        raise RuntimeError("crash before undelete")

    monkeypatch.setattr(
        "cellphe_data_pipeline_spark.sources.io.snapshot_undelete_keys",
        boom,
    )
    import pytest

    with pytest.raises(RuntimeError, match="crash before undelete"):
        cdc_apply_batch(spark, t3, "k", b2, 2)
    monkeypatch.setattr(
        "cellphe_data_pipeline_spark.sources.io.snapshot_undelete_keys",
        real_undelete,
    )
    r2 = cdc_apply_batch(spark, t3, "k", b2, 2)
    # replay applies ONLY the undelete — in particular no purge, which
    # would have eaten the appended row
    assert r2 == {
        "merged": False, "purged": False, "inserted": False,
        "deleted": False, "undeleted": True,
    }, r2
    assert state(t3) == {1: 10, 9: 99}


def _stage_marked_files(spark, tmp_path, order):
    """Stage one single-row parquet file per marker, named in ``order``
    but with mtimes increasing by marker, so mtime order (the order the
    file source replays) is not the lexical order of the names."""
    import os

    staged = str(tmp_path / "marked")
    os.makedirs(staged)
    for name, marker in order:
        d = str(tmp_path / f"tmp_{name}")
        spark.createDataFrame([(marker,)], "marker int").coalesce(1).write.parquet(d)
        [f] = [x for x in os.listdir(d) if x.endswith(".parquet")]
        dst = os.path.join(staged, f"{name}.parquet")
        os.rename(os.path.join(d, f), dst)
        t = 1_700_000_000 + 100 * marker
        os.utime(dst, (t, t))
    return staged


def test_drain_timeout_stops_query_and_names_label(spark, tmp_path):
    """A drain that has not finished when its timeout expires is
    stopped, and the error names the caller's label."""

    staged = _stage_marked_files(spark, tmp_path, [("a", 0), ("b", 1), ("c", 2)])
    writer = (
        ordered_file_stream(spark, "marker int", staged)
        .writeStream.format("memory")
        .queryName("drain_timeout_test")
        .outputMode("append")
    )
    with pytest.raises(RuntimeError, match="tiny_timeout_label"):
        drain(writer, "tiny_timeout_label", timeout_s=0.001)
    assert spark.streams.active == []


def test_drain_batches_applies_files_in_mtime_order(spark, tmp_path):
    """One staged file per micro-batch, replayed in mtime order: the
    applier sees batch ids 0, 1, 2 holding the files' markers in that
    order, and its results come back in batch order."""
    from cellphe_data_pipeline_spark.streaming.tracker import drain_batches

    staged = _stage_marked_files(spark, tmp_path, [("c", 0), ("a", 1), ("b", 2)])

    def apply(batch_df, batch_id):
        return batch_id, sorted(r["marker"] for r in batch_df.collect())

    got = drain_batches(
        spark, "marker int", staged, str(tmp_path / "ckpt"), apply, "order_test"
    )
    assert got == [(0, [0]), (1, [1]), (2, [2])]


def test_drain_batches_replay_with_fresh_checkpoint_is_refused(spark, tmp_path):
    """The exactly-once recipe end to end: a second drain of the same
    files under a fresh checkpoint re-delivers batch ids 0-2, which the
    snapshot sink's watermark refuses, and the table does not advance."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_append_batch,
        snapshot_current,
        snapshot_read,
    )
    from cellphe_data_pipeline_spark.streaming.tracker import drain_batches

    staged = _stage_marked_files(spark, tmp_path, [("a", 0), ("b", 1), ("c", 2)])
    table = str(tmp_path / "table")

    def append(batch_df, batch_id):
        return snapshot_append_batch(table, batch_df, batch_id)

    first = drain_batches(
        spark, "marker int", staged, str(tmp_path / "ckpt"), append, "replay_test"
    )
    assert first == [True, True, True]
    assert snapshot_current(table) == 3
    replay = drain_batches(
        spark, "marker int", staged, str(tmp_path / "ckpt2"), append, "replay_test"
    )
    assert replay == [False, False, False]
    assert snapshot_current(table) == 3
    assert sorted(r["marker"] for r in snapshot_read(spark, table, 3).collect()) == [0, 1, 2]


def test_corpus_full_drain_unpersists_bench_when_start_fails(spark, tmp_path):
    """The full corpus drain caches the bench table for its gate; a
    drain that fails before any batch runs (here: a missing source dir)
    must release it, not leave it cached for the rest of the session."""
    from pyspark.errors import AnalysisException

    from cellphe_data_pipeline_spark.streaming.tracker import (
        streaming_corpus_full_ingest_drain,
    )

    bench_dir = str(tmp_path / "bench")
    clusters_dir = str(tmp_path / "clusters")
    spark.createDataFrame([(1, "bench text")], "doc_id bigint, text_clean string").write.parquet(
        bench_dir
    )
    spark.createDataFrame([(1, 1)], "doc_id bigint, cluster_id bigint").write.parquet(clusters_dir)

    def cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = cached()
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        streaming_corpus_full_ingest_drain(
            spark,
            "doc_id bigint, source string, text string",
            str(tmp_path / "missing_source"),
            str(tmp_path / "table"),
            str(tmp_path / "seen"),
            str(tmp_path / "ckpt"),
            clusters_dir,
            bench_dir,
        )
    assert cached() == before


def test_package_source_has_one_drain():
    """Every streaming query in the package starts, waits and stops in
    ``tracker.drain``, and every one-file-per-batch replay reads through
    ``tracker.ordered_file_stream``; the per-sink drain wrappers that
    each repeated that recipe stay deleted."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "cellphe_data_pipeline_spark"
    sources = {p: p.read_text() for p in pkg.rglob("*.py")}
    assert sum(s.count("awaitTermination(") for s in sources.values()) == 1
    assert sum(s.count('"maxFilesPerTrigger"') for s in sources.values()) == 1
    defined = {
        node.name
        for s in sources.values()
        for node in ast.walk(ast.parse(s))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    deleted = {
        f"streaming_{sink}_drain"
        for sink in (
            "snapshot_sink", "merge_sink", "ivf_delete",
            "mor_takedown", "kmv_distinct", "cdc_apply",
        )
    }
    assert not defined & deleted
    assert {"drain", "drain_batches", "ordered_file_stream"} <= defined
