"""Structured Streaming variant (SURVEY §2.11).

The reference is pure batch, but its domain is an ordered stream: frame
index = event time, a cell's trajectory = a keyed session that may gap
≤ MAX_FRAME_GAP=4 frames and ends when no link arrives
(templates/cyto3.json:27-29). The engine maps this directly:

- ``streaming_window_rollup``: watermarked tumbling-window counts/sums
  — the cells-per-frame QC series as a live stream (batch twin:
  ``e1_hourly_rollup``).
- ``streaming_movement_features``: ``applyInPandasWithState`` keyed by
  entity — carries (start x/y, last x/y, cumulative Trac) across
  micro-batches and emits the M5 movement features incrementally.
  Batch-equivalence: on a single micro-batch the output matches
  ``operators.movement.movement_features`` exactly (tested).
- ``streaming_session_summary``: the A8 session-end mapping — state
  accumulates per-key power sums; when the event-time timeout fires
  (no events for `gap` duration past the watermark), the summary row is
  emitted — "track ends → emit time-series features".

Scale: state lives in the state store, partitioned by key — per-key
state is O(1) doubles for movement and O(1) for the summary; watermark
bounds retention. This is the standard Spark production topology for
per-entity telemetry at millions of keys.

Every bounded run of a streaming query goes through ``drain`` (one
availableNow start/await/stop). ``drain_batches`` is the exactly-once
recipe on top of it: a replayable file source, one staged file per
micro-batch, feeding an idempotent batch-id-guarded applier through
``foreachBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cellphe_data_pipeline_spark.domain.tracking import _frame_candidates, _greedy


def drain(writer, label: str, timeout_s: float = 300):
    """Run a configured ``DataStreamWriter`` as one availableNow drain
    and return the finished query (callers read its progress). A drain
    that has not finished after ``timeout_s`` is stopped and raises
    ``RuntimeError`` naming ``label`` — no caller ever reads a partial
    sink. A query that fails raises its ``StreamingQueryException``."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(
            f"{label}: availableNow drain did not finish in {timeout_s:.0f}s "
            "— refusing to leave a partial sink"
        )
    return q


def ordered_file_stream(spark, schema, source_dir: str) -> DataFrame:
    """Stream the parquet files of ``source_dir`` one file per
    micro-batch. The file source orders files by modification time and
    availableNow honours the rate limit, so staged files with
    increasing mtimes ARE the batches, in that order — the replay
    harness that watermark semantics and batch-id idempotency need."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
    )


def drain_batches(
    spark,
    schema,
    source_dir: str,
    ckpt_dir: str,
    apply_batch,
    label: str,
    plan=None,
    timeout_s: float = 300,
) -> list:
    """Drain ``source_dir`` (one file per micro-batch) through
    ``plan`` (a stateless stream → stream function, optional) into
    ``apply_batch(batch_df, batch_id)`` via ``foreachBatch``; return
    the applier's results in batch order.

    This is the engine's exactly-once recipe: the file source is
    replayable and the checkpoint at ``ckpt_dir`` records which files
    each batch read; the applier guards on the batch id (a manifest or
    sidecar watermark), so the one batch a crash may re-deliver is a
    no-op. A fresh checkpoint over the same files replays every batch
    with the same ids, which a guarded applier refuses."""
    results = []

    def sink(batch_df, batch_id):
        results.append(apply_batch(batch_df, batch_id))

    stream = ordered_file_stream(spark, schema, source_dir)
    if plan is not None:
        stream = plan(stream)
    drain(
        stream.writeStream.foreachBatch(sink).option(
            "checkpointLocation", ckpt_dir
        ),
        label,
        timeout_s,
    )
    return results


def streaming_window_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling rollup: (window, key) -> count + sum."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


def streaming_append_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling rollup for APPEND-mode emission (r10, e20)
    — the late-data-discipline twin of streaming_window_rollup (which
    e5 drains in COMPLETE mode, where the watermark never drops or
    withholds anything visible). In append mode the watermark is
    load-bearing twice: input rows whose window closed before the
    current watermark are DROPPED (their state was already evicted),
    and a window is EMITTED exactly once — when the watermark passes
    its end — so state is O(open windows), not O(all windows ever).
    That pair of effects is what bounds state at 100 TB/day ingest;
    e20 pins both against a SQL oracle that replays the same watermark
    protocol over the same deterministic micro-batches."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def streaming_dedup_within_watermark(
    rows: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "4 days",
) -> DataFrame:
    """Bounded-state streaming dedup (r10, e21): suppress re-sends of a
    key while its state lives, EVICT the entry once the watermark
    passes first_ts + delay, re-admit later re-sends. The eviction is
    the whole point at scale — state is O(keys active within one
    redelivery horizon), not O(keys ever seen) — and its price is the
    at-least-once boundary e21 pins: a re-send older than the horizon
    is re-emitted, so downstream must be idempotent on the key (the
    CDC upsert in e16's chain is). Expiry anchors to the FIRST event;
    suppressed duplicates do not extend it."""
    return rows.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys or ["key"]
    )


def streaming_left_outer_interval_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    ts_col: str = "ts",
    key_col: str = "user_id",
    id_col: str = "event_id",
    interval_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (r10, e22): every left
    row within the attribution window of a right row pairs up exactly
    as the inner join (e8/e18), and a left row that finds NO partner
    is emitted ONCE with a null right side — but only after the
    watermark proves no partner can still arrive (its state expires).
    That null-side emission is the semantic the outer variant adds,
    and it is watermark-DRIVEN: unmatched rows near the stream head
    flush as the clock passes their interval; unmatched rows in the
    last interval+delay are withheld (e22 pins all three subsets).
    The e18 pushdown discipline applies: the type predicates live in
    the SIDE FILTERS — inside the join condition Catalyst would push
    a single-side predicate below the watermark node and freeze the
    clock. Global watermark = min over both branch nodes, so BOTH
    sides must keep flowing for null rows to flush (e22's probe froze
    at an early purchase max before the fixture fed the right side).
    State is O(interval × arrival rate) per side — eviction by the
    interval bound is what makes the outer join runnable forever."""
    lts, rts = "l_ts", "r_ts"
    left = (
        events.filter(F.col("event_type") == left_type)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(id_col).alias("l_id"),
            F.col(key_col).alias("l_key"),
            F.col(ts_col).alias(lts),
        )
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .withWatermark(ts_col, watermark)
        .select(
            F.col(id_col).alias("r_id"),
            F.col(key_col).alias("r_key"),
            F.col(ts_col).alias(rts),
        )
    )
    return left.join(
        right,
        (F.col("l_key") == F.col("r_key"))
        & (F.col(rts) >= F.col(lts))
        & (
            F.col(rts)
            <= F.col(lts) + F.expr(f"INTERVAL {interval_seconds} SECONDS")
        ),
        "leftOuter",
    ).select("l_id", "l_key", lts, "r_id", rts)


MOVE_STATE = T.StructType(
    [
        T.StructField("x_start", T.DoubleType()),
        T.StructField("y_start", T.DoubleType()),
        T.StructField("last_x", T.DoubleType()),
        T.StructField("last_y", T.DoubleType()),
        T.StructField("last_t", T.DoubleType()),
        T.StructField("trac", T.DoubleType()),
    ]
)

MOVE_OUT = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("Dis", T.DoubleType()),
        T.StructField("frame_dist", T.DoubleType()),
        T.StructField("Trac", T.DoubleType()),
        T.StructField("D2T", T.DoubleType()),
        T.StructField("Vel", T.DoubleType()),
    ]
)


def streaming_movement_features(
    events: DataFrame,
    key_col: str = "user_id",
    seq_col: str = "event_id",
    t_col: str = "t",
    x_col: str = "x",
    y_col: str = "y",
    framerate: float = 0.0028,
) -> DataFrame:
    """M5 as an incremental stateful operator (W1/W2/W3/F5-F8 carried in
    per-key state). Rows inside a batch are ordered by (t, seq); state
    chains batches together."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            x_start, y_start, last_x, last_y, last_t, trac = state.get
        else:
            x_start = y_start = last_x = last_y = last_t = trac = None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values([t_col, seq_col])
            for _, r in pdf.iterrows():
                x, y, t = float(r[x_col]), float(r[y_col]), float(r[t_col])
                if x_start is None:
                    x_start, y_start = x, y
                    frame_dist = 0.0
                    t_diff = 1.0
                else:
                    dx, dy = x - last_x, y - last_y
                    frame_dist = (dx * dx + dy * dy) ** 0.5
                    t_diff = t - last_t if t != last_t else 1.0
                trac = (trac or 0.0) + frame_dist
                ddx, ddy = x - x_start, y - y_start
                dis = (ddx * ddx + ddy * ddy) ** 0.5
                out.append(
                    {
                        "key": r[key_col],
                        "seq": r[seq_col],
                        "Dis": dis,
                        "frame_dist": frame_dist,
                        "Trac": trac,
                        "D2T": 0.0 if trac == 0.0 else dis / trac,
                        "Vel": framerate * frame_dist / t_diff,
                    }
                )
                last_x, last_y, last_t = x, y, t
        state.update((x_start, y_start, last_x, last_y, last_t, trac))
        yield pd.DataFrame(out, columns=[f.name for f in MOVE_OUT.fields])

    return (
        events.groupBy(key_col)
        .applyInPandasWithState(
            update, MOVE_OUT, MOVE_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


SUMMARY_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s1", T.DoubleType()),
        T.StructField("s2", T.DoubleType()),
        T.StructField("last_ms", T.LongType()),
    ]
)

SUMMARY_OUT = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("n_obs", T.LongType()),
        T.StructField("mean_val", T.DoubleType()),
        T.StructField("std_pop", T.DoubleType()),
    ]
)


def streaming_session_summary(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "10 minutes",
    gap_ms: int = 4 * 60 * 1000,
) -> DataFrame:
    """A8 session-end emission: accumulate per-key moment sums; when the
    key sees no events for `gap_ms` past the watermark (the streaming
    form of MAX_FRAME_GAP track closure), emit its summary row."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, s1, s2, _ = state.get
            state.remove()
            mean = s1 / n
            var = max(s2 / n - mean * mean, 0.0)
            yield pd.DataFrame(
                [
                    {
                        "key": key[0],
                        "n_obs": n,
                        "mean_val": mean,
                        "std_pop": var**0.5,
                    }
                ]
            )
            return
        n, s1, s2, last_ms = state.get if state.exists else (0, 0.0, 0.0, 0)
        for pdf in pdfs:
            vals = pdf[value_col].astype("float64")
            n += len(vals)
            s1 += float(vals.sum())
            s2 += float((vals * vals).sum())
            last_ms = max(
                last_ms, int(pdf[ts_col].max().value // 1_000_000)
            )
        state.update((n, s1, s2, last_ms))
        state.setTimeoutTimestamp(last_ms + gap_ms)
        yield pd.DataFrame([], columns=[f.name for f in SUMMARY_OUT.fields])

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update, SUMMARY_OUT, SUMMARY_STATE, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def streaming_session_windows(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "3650 days",
) -> DataFrame:
    """Native session-window aggregation in streaming mode — the true
    streaming twin of the batch w7 query (`F.session_window`), and the
    engine-managed counterpart of ``streaming_session_summary``'s
    hand-rolled ``applyInPandasWithState`` sessions: Spark's session
    state store MERGES overlapping [ts, ts+gap) extents per key as
    micro-batches arrive, so a session split across arbitrarily many
    batches converges to the same (start, end, n, sum) row the batch
    plan produces.

    Scale: state per key is one open-session row (merged in place, not
    per-event), keyed-partitioned across executors; the watermark
    bounds how long a closed session lingers before eviction. Emission
    mode is the caller's choice — append emits only watermark-closed
    sessions (production), complete emits the full merged state (used
    by the bounded e12 drain so trailing sessions aren't held back by
    the final watermark, same rationale as e5).

    The default watermark delay is deliberately huge: the watermark
    filter DROPS late rows before the session operator in every output
    mode, and a bounded backfill drain (files arriving in arbitrary ts
    order across micro-batches) must not lose them. Production
    near-real-time callers pass a tight delay to get state eviction.

    Reference analogue: track closure on frame-gap (cyto3.json:27-29,
    MAX_FRAME_GAP) — a session IS a track whose gap never exceeds the
    closure threshold.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col, F.session_window(ts_col, gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def streaming_exact_dedup(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup (the corpus-dedup d1 as a stream): keep the
    first arrival of each key. Uses ``dropDuplicatesWithinWatermark`` so
    the state store actually EVICTS keys once they age past the
    watermark — plain ``dropDuplicates(keys)`` without the event-time
    column in the keys keeps every key forever and grows unboundedly on
    a real stream. The within-watermark contract ("no duplicate emitted
    for records whose arrival gap is inside the watermark") is exactly
    the late-data dedup guarantee the batch md5 groupBy gives per
    snapshot. At scale the state is hash-partitioned by key, the same
    single-shuffle shape as the batch form. Falls back to keying on
    (keys + ts) for Spark < 3.5 where the API is absent."""
    marked = events.withWatermark(ts_col, watermark)
    if hasattr(marked, "dropDuplicatesWithinWatermark"):
        return marked.dropDuplicatesWithinWatermark(key_cols)
    # Pre-3.5 fallback: including the event-time column in the keys is
    # the documented pattern that lets the store evict old state.
    return marked.dropDuplicates(key_cols + [ts_col])


EWMA_STATE = T.StructType(
    [
        T.StructField("t_us", T.ArrayType(T.LongType())),
        T.StructField("seqs", T.ArrayType(T.LongType())),
        T.StructField("vals", T.ArrayType(T.DoubleType())),
    ]
)

EWMA_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)


def streaming_ewma(
    events: DataFrame,
    key_col: str = "user_id",
    t_col: str = "t_us",
    seq_col: str = "event_id",
    value_col: str = "value",
    horizon: int = 8,
) -> DataFrame:
    """Streaming twin of the batch w9 finite-horizon EWMA (r9): α=1/2
    over the last ``horizon`` observations per key, weights
    renormalised over the lags that EXIST, one output row per input
    row. The per-key state is just the trailing ``horizon-1``
    (t, seq, value) triples — O(horizon) per key in the state store,
    hash-partitioned by key like every stateful operator here — so a
    key's smoothing chains across micro-batches without recomputation.

    Bit-equality with the batch window form: each row's numerator and
    denominator are accumulated in the SAME left-to-right lag order as
    w9's inline SQL (value first, then lag1*0.5, lag2*0.25, ...), with
    α=1/2 every weight is an exact binary fraction, so the emitted
    double is IEEE-identical to the batch expression — verified
    row-for-row by the e13 driver oracle (w9's oracle text).

    Ordering contract: rows are sorted by (t, seq) WITHIN each
    micro-batch before smoothing, and batches must be key-monotone
    (no row older than an already-processed one — the availableNow
    backfill drain satisfies this trivially with one batch; the
    multi-batch chain is pinned by tests/test_streaming.py with
    explicitly sequenced batches). The contract is ENFORCED: the
    state's stored (t, seq) tail is compared against each batch's
    oldest row and a violation raises rather than silently smoothing
    in the wrong order. A production deployment with out-of-order
    arrival needs watermarked buffering in front — the session-window
    operators' territory, not a moving-average smoother's.

    Reference analogue: tracking_qc.qmd's per-track rolling smoothers
    over frame-ordered series.
    """
    keep = horizon - 1

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        batch = pd.concat(list(pdfs), ignore_index=True)
        # null contract: rows with NULL (t, seq, value) are dropped —
        # NULL ordering and NULL-propagating lag arithmetic are
        # engine-specific, so smoothing them has no portable meaning;
        # a production caller cleans or imputes upstream (p15's
        # expectations split is the tool). The driver fixtures carry
        # no nulls in these columns at any SF (censused r9).
        batch = batch.dropna(subset=[t_col, seq_col, value_col])
        if key[0] is None or pd.isna(key[0]):
            # a NULL grouping key has no portable smoothing semantics
            # (same contract as streaming_gap_fill; r9 advisor). NOTE:
            # Arrow hands a null bigint key to python as float NaN,
            # not None (measured r10 — `is None` alone never fires),
            # and the int64 key cast below silently WRAPS NaN to
            # INT64_MIN rather than raising.
            batch = batch.iloc[0:0]
        if len(batch) == 0:
            yield pd.DataFrame([], columns=[f.name for f in EWMA_OUT.fields])
            return
        batch = batch.sort_values(
            [t_col, seq_col], kind="mergesort"
        ).reset_index(drop=True)
        if state.exists:
            h_t, h_s, h_v = state.get
        else:
            h_t, h_s, h_v = [], [], []
        # the stored (t, seq) tail exists to ENFORCE the key-monotone
        # contract (r9 advisor: previously written but never read — a
        # violating batch would silently smooth in the wrong order):
        # the new batch's oldest row must not precede the newest row
        # already smoothed into the state.
        if h_t:
            b_first = (int(batch[t_col].iloc[0]), int(batch[seq_col].iloc[0]))
            if b_first < (h_t[-1], h_s[-1]):
                raise ValueError(
                    f"streaming_ewma: key={key[0]} batch violates the "
                    f"key-monotone ordering contract: first row "
                    f"(t,seq)={b_first} precedes processed tail "
                    f"({h_t[-1]}, {h_s[-1]}); put watermarked buffering "
                    f"in front for out-of-order arrival"
                )
        n_hist = len(h_v)
        vals = np.concatenate(
            [np.asarray(h_v, dtype="float64"), batch[value_col].to_numpy("float64")]
        )
        # w9's exact accumulation order: value, then lag j * 0.5^j for
        # j = 1..horizon-1, each term COALESCEd to 0.0 when the lag
        # does not exist; denominator accumulates the same weights.
        acc = vals.copy()
        den = np.ones_like(vals)
        for j in range(1, horizon):
            w = 0.5**j
            term = np.zeros_like(vals)
            term[j:] = vals[:-j] * w
            acc = acc + term
            exist = np.zeros_like(vals)
            exist[j:] = w
            den = den + exist
        ewma = (acc / den)[n_hist:]
        out = pd.DataFrame(
            {
                "user_id": batch[key_col].to_numpy("int64"),
                "event_id": batch[seq_col].to_numpy("int64"),
                "value": batch[value_col].to_numpy("float64"),
                "ewma": ewma,
            }
        )
        new_t = h_t + batch[t_col].tolist()
        new_s = h_s + batch[seq_col].tolist()
        new_v = h_v + batch[value_col].tolist()
        # keep == 0 (horizon=1, identity smoothing) must store NOTHING:
        # a bare [-0:] slice is the WHOLE list (r9 review), which would
        # grow per-key state with the stream and quadratically re-feed
        # history into every batch
        state.update(
            (new_t[-keep:], new_s[-keep:], new_v[-keep:])
            if keep
            else ([], [], [])
        )
        yield out

    return events.groupBy(key_col).applyInPandasWithState(
        update, EWMA_OUT, EWMA_STATE, "append", GroupStateTimeout.NoTimeout
    )


def streaming_ann_serve(
    probe_stream: DataFrame,
    bucket: DataFrame,
    centroid_rows: list[tuple[int, list[float]]],
    out_dir: str,
    k: int = 5,
    n_probe: int = 2,
    timeout_s: float = 300.0,
    ckpt_dir: str | None = None,
) -> None:
    """Serve an ANN index to a PROBE STREAM (r9) — the production
    shape of the v13/v14 lifecycle's query half: probes arrive as a
    stream, the published index stays static. Exercises the two
    streaming surfaces the other runtimes don't: a STREAM-STATIC
    equi-join (the standard enrichment topology — the static bucket
    table is re-planned per micro-batch, no state store involved) and
    ``foreachBatch`` (per-probe top-k needs a window, which streams
    don't support — but every candidate for a probe is generated
    inside that probe's own micro-batch by the join, so per-batch
    top-k IS global top-k, the documented contract that makes
    foreachBatch sound here).

    Probe→list assignment is STATELESS per row: the centroid table is
    driver-inlined as literals (k×dim doubles — the srp_planes
    precedent), each probe computes its distance struct array,
    array_sort picks the ``n_probe`` nearest — pure codegen, no
    shuffle on the stream side before the join.

    Scale: the bucket side is corpus-sized but arrives pre-assigned
    (vectors + norms materialised at publish time) and the join is a
    hash equi-join on list_id; per-batch cost is
    O(batch × corpus/n_lists × n_probe) — v13's query-half contract,
    now incremental per micro-batch. Results are parquet-APPENDED by
    foreachBatch (idempotent per epoch via the batch id is the
    production discipline; the bounded drain here runs each batch
    once).
    """
    from cellphe_data_pipeline_spark.functions.scalars import round_z
    from cellphe_data_pipeline_spark.operators.similarity import _as_double, _dot

    probe_cols = []
    for lid, cv in centroid_rows:
        diff = F.zip_with(
            F.col("_emb"),
            F.array(*[F.lit(float(x)) for x in cv]),
            lambda a, b: (a - b) * (a - b),
        )
        d2 = F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)
        probe_cols.append(F.struct(d2.alias("d2"), F.lit(int(lid)).alias("list_id")))
    nearest = F.slice(F.array_sort(F.array(*probe_cols)), 1, n_probe)
    probes = (
        probe_stream.withColumn("_emb", _as_double(F.col("embedding")))
        .withColumn("_norm", F.sqrt(_dot(F.col("_emb"), F.col("_emb"))))
        .select(
            "vec_id",
            F.col("_emb").alias("q_emb"),
            F.col("_norm").alias("q_norm"),
            F.explode(nearest).alias("pr"),
        )
        .select("vec_id", "q_emb", "q_norm", F.col("pr.list_id").alias("list_id"))
    )
    cand = probes.join(
        bucket.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("emb").alias("c_emb"),
            F.col("norm").alias("c_norm"),
            "list_id",
        ),
        "list_id",
    ).filter(F.col("vec_id") != F.col("neighbor_id"))
    dot = _dot(F.col("q_emb"), F.col("c_emb"))
    scored = cand.withColumn(
        "cos_sim", round_z(dot / (F.col("q_norm") * F.col("c_norm")), 5)
    ).select("vec_id", "neighbor_id", "cos_sim")

    def emit_topk(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W

        w = W.partitionBy("vec_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        (
            batch_df.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= k)
            .write.mode("append")
            .parquet(out_dir)
        )

    drain(
        scored.writeStream.foreachBatch(emit_topk)
        # the caller owns checkpoint lifetime: a STALE checkpoint makes
        # the file source silently skip already-seen paths — bounded
        # replays must wipe it alongside the output dir
        .option("checkpointLocation", ckpt_dir or out_dir + "_ckpt"),
        "streaming_ann_serve",
        timeout_s,
    )


GAPFILL_STATE = T.StructType(
    [
        T.StructField("last_h_us", T.LongType()),
        T.StructField("locf_cents", T.LongType()),
        T.StructField("has_locf", T.BooleanType()),
    ]
)

GAPFILL_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("h_us", T.LongType()),
        T.StructField("observed", T.BooleanType()),
        T.StructField("cents", T.LongType()),
        T.StructField("filled", T.BooleanType()),  # cents carries a value
    ]
)

_HOUR_US = 3_600_000_000


def streaming_gap_fill(
    events: DataFrame,
    key_col: str = "user_id",
    hour_col: str = "h_us",
    cents_col: str = "cents",
) -> DataFrame:
    """Streaming twin of the batch w10 time-grid LOCF gap fill (r9):
    per key, every hour between the first and last OBSERVED hour gets
    a row — observed hours carry their exact hourly sum, missing hours
    carry the last observation forward. State per key is three scalars
    (last emitted hour, LOCF sum in integer cents, whether any
    non-null sum exists yet): O(1), the streaming-native shape of an
    operator whose batch form needs a grid explode + keyed window.
    Emission is incremental — a new hour closes every gap behind it,
    so output grows with the stream, not with history.

    Exactness: hourly sums arrive as INTEGER CENTS (the caller
    pre-multiplies the 2dp value column), summed exactly in int64 per
    (key, hour); the /100.0 conversion happens once, engine-side, in
    the consuming query — bit-identical to the batch form's
    decimal-sum-then-double (one rounding from the same rational).

    Ordering contract (e13's, plus hour alignment): batches must be
    key-monotone AND hour-aligned — an hour's rows must not split
    across micro-batches, because an emitted hour's sum is final
    (availableNow backfill drains satisfy both trivially; a live
    deployment puts a watermarked hourly rollup — e5's operator — in
    front, whose append-mode emissions are exactly hour-closed
    batches). Null-sum hours (all values NULL) extend the grid but do
    not update LOCF, matching the batch oracle's IGNORE NULLS window;
    rows whose hour is NULL are dropped, matching the grid join.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch[batch[hour_col].notna()]
        if key[0] is None or pd.isna(key[0]):
            # a NULL grouping key has no portable grid semantics
            # (engines disagree on NULL group placement); dropped —
            # the batch oracle's fixtures carry none (censused r9).
            # pd.isna: Arrow hands a null bigint key to python as
            # float NaN, not None (measured r10), so `is None` alone
            # never fires and the astype(int64) downstream would raise
            batch = batch.iloc[0:0]
        if len(batch) == 0:
            yield pd.DataFrame([], columns=[f.name for f in GAPFILL_OUT.fields])
            return
        if state.exists:
            last_h, locf, has_locf = state.get
        else:
            last_h, locf, has_locf = None, 0, False
        per_hour = {}
        for h, c in zip(batch[hour_col].astype("int64"), batch[cents_col]):
            n, s = per_hour.get(int(h), (0, 0))
            if pd.notna(c):
                per_hour[int(h)] = (n + 1, s + int(c))
            else:
                per_hour[int(h)] = (n, s)
        out = []
        uid = key[0]
        for h in sorted(per_hour):
            n_obs, s = per_hour[h]
            if last_h is not None:
                g = last_h + _HOUR_US
                while g < h:
                    out.append((uid, g, False, locf, has_locf))
                    g += _HOUR_US
            if n_obs > 0:
                out.append((uid, h, True, s, True))
                locf, has_locf = s, True
            else:
                # null-sum hour: on the grid, unobserved, LOCF carried
                out.append((uid, h, False, locf, has_locf))
            last_h = h
        state.update((last_h, locf, has_locf))
        yield pd.DataFrame(
            out, columns=[f.name for f in GAPFILL_OUT.fields]
        ).astype(
            {"user_id": "int64", "h_us": "int64", "cents": "int64"}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        update, GAPFILL_OUT, GAPFILL_STATE, "append", GroupStateTimeout.NoTimeout
    )


TRACK_STATE = T.StructType(
    [
        T.StructField("next_tid", T.LongType()),
        T.StructField("ends_json", T.StringType()),  # open track ends
    ]
)

TRACK_OUT = T.StructType(
    [
        T.StructField("timelapse_id", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("frame", T.IntegerType()),
        T.StructField("track_id", T.LongType()),
    ]
)


def streaming_tracker(
    detections: DataFrame,
    linking_max_distance: float = 10.0,
    max_frame_gap: int = 4,
    gap_closing_max_distance: float = 20.0,
) -> DataFrame:
    """M3 as a STATEFUL STREAMING operator (SURVEY Phase 6 — the
    applyInPandasWithState tracker): per-timelapse state carries the
    open track ends and the track-id counter across micro-batches;
    each arriving frame's detections are linked against the state by
    the batch kernel's own greedy frame step
    (``domain.tracking._frame_candidates`` + ``_greedy``), so when
    micro-batch boundaries fall on frame boundaries the emitted track
    partition equals the batch tracker's.

    Input: (timelapse_id, id, frame, x, y) arriving in frame order per
    timelapse. Output: one (id → track_id) assignment per detection.
    Gap closing: an end that has been silent ≤ max_frame_gap frames may
    re-link within gap_closing_max_distance — ends past the gap expire
    from state, which is the streaming retention bound (the reference's
    MAX_FRAME_GAP as state TTL measured in event-time frames).
    Out-of-order frames start new tracks: a detection only links to an
    end from an EARLIER frame, so a frame split across micro-batches,
    or a frame that arrives after a later one, does not join the ends
    already in state from its own or a later frame.
    """
    import json

    def update(key, pdfs, state: GroupState):
        if state.exists:
            next_tid, ends_json = state.get
            ends = {int(k): tuple(v) for k, v in json.loads(ends_json).items()}
        else:
            next_tid, ends = 1, {}
        out_rows = []
        for pdf in pdfs:
            out_rows, ends, next_tid = _link_stream_frames(
                key[0], pdf, ends, next_tid, out_rows,
                linking_max_distance, max_frame_gap, gap_closing_max_distance,
            )
        state.update((next_tid, json.dumps({str(k): list(v) for k, v in ends.items()})))
        yield pd.DataFrame(out_rows, columns=[fld.name for fld in TRACK_OUT.fields])

    return (
        detections.groupBy("timelapse_id")
        .applyInPandasWithState(
            update, TRACK_OUT, TRACK_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


def _link_stream_frames(
    tl: str,
    pdf: pd.DataFrame,
    ends: dict,
    next_tid: int,
    out_rows: list,
    linking_max_distance: float,
    max_frame_gap: int,
    gap_closing_max_distance: float,
) -> tuple[list, dict, int]:
    """Per-micro-batch linking: each arriving frame, in frame order, is
    greedily linked against the open ends ``{id: (frame, x, y, tid)}``
    by the batch kernel's frame step; this keeps only the track-id
    bookkeeping (a linked detection continues its end's track, an
    unlinked one opens a new track)."""
    for f in sorted(int(v) for v in pdf["frame"].unique()):
        sub = pdf[pdf["frame"] == f].sort_values("id")
        dets = [
            (int(i), float(x), float(y))
            for i, x, y in zip(sub["id"].tolist(), sub["x"].tolist(), sub["y"].tolist())
        ]
        cands = _frame_candidates(
            ends, f, dets, linking_max_distance, gap_closing_max_distance, max_frame_gap
        )
        assigned = {dst: ends.pop(src)[3] for src, dst, _gap, _d in _greedy(cands)}
        for did, x, y in dets:
            tid = assigned.get(did)
            if tid is None:
                tid = next_tid
                next_tid += 1
            ends[did] = (f, x, y, tid)
            out_rows.append({"timelapse_id": tl, "id": did, "frame": f, "track_id": tid})
        ends = {i: e for i, e in ends.items() if f - e[0] - 1 <= max_frame_gap}
    return out_rows, ends, next_tid


def streaming_interval_pairs(
    events: DataFrame,
    ts_col: str = "ts",
    id_col: str = "event_id",
    key_col: str = "user_id",
    window_seconds: int = 60,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval self-join (the streaming port of the
    batch `interval_self_join_count` pattern): pairs of events from
    DIFFERENT keys within ±window_seconds of each other, emitted as
    the stream advances.

    Same scale shape as the batch op — time-bucket equality drives the
    join (the ±1-bucket explode on the build side is stateless), so the
    stream-stream join state is keyed by bucket, and BOTH sides carry
    watermarks plus a time-range condition, which lets Spark expire
    join state once the watermark passes a bucket: bounded state on an
    unbounded stream. A bare non-equi time-range join would be legal
    but state-unbounded per micro-batch; the bucket key is what makes
    it production-shaped.
    """
    win_us = int(window_seconds) * 1_000_000
    bucket = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(win_us)).cast("long")

    probe = (
        events.withWatermark(ts_col, watermark)
        .select(
            F.col(id_col).alias("l_id"),
            F.col(key_col).alias("l_key"),
            F.col(ts_col).alias("l_ts"),
            bucket.alias("_b"),
        )
    )
    build = (
        events.withWatermark(ts_col, watermark)
        .select(
            F.col(id_col).alias("r_id"),
            F.col(key_col).alias("r_key"),
            F.col(ts_col).alias("r_ts"),
            bucket.alias("_bb"),
        )
        .withColumn("_o", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select("r_id", "r_key", "r_ts", (F.col("_bb") + F.col("_o")).alias("_b"))
    )
    return (
        probe.join(
            build,
            [
                probe["_b"] == build["_b"],
                F.col("l_key") != F.col("r_key"),
                F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {window_seconds} SECONDS"),
                F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {window_seconds} SECONDS"),
            ],
            "inner",
        )
        .select("l_id", "r_id", "l_key", "r_key", "l_ts", "r_ts")
    )


def streaming_minhash_neardup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    horizon_seconds: int = 3600,
    watermark: str = "10 minutes",
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate detection: each arriving
    document is paired with every EARLIER document (within
    `horizon_seconds`) sharing an LSH band bucket — the streaming twin
    of the batch d3 pipeline (minhash_band_keys → lsh_candidate_pairs),
    for ingest-time dedup of a document firehose.

    Why this shape survives an unbounded stream:
    - signatures are the STATELESS staged expression form
      (dedup.minhash_band_key_rows) — a per-doc groupBy would be a
      stateful streaming aggregation; the staged selects are maps.
    - the self-join keys on (band, band_key) — exactly the batch
      bucket join — and BOTH sides carry watermarks plus a closed
      time-range condition (ts_a <= ts_b <= ts_a + horizon), so Spark
      expires join state once the watermark passes a bucket: bounded
      state, like streaming_interval_pairs.
    - multi-band collisions are collapsed by a downstream
      dropDuplicatesWithinWatermark on the pair key (chained stateful
      operators, Spark >= 3.4), whose state also evicts by watermark.

    Output (doc_a, doc_b, ts_b): doc_b arrived at ts_b and collides
    with earlier-or-same-timestamp doc_a (ties oriented doc_a < doc_b).
    Exact-Jaccard verification of candidates stays a batch
    post-pass (pairwise_jaccard), as in the batch pipeline.
    """
    from cellphe_data_pipeline_spark.operators.dedup import minhash_band_key_rows

    def side(a: str) -> DataFrame:
        # staged-projection signatures (r8): same rows as the batch
        # minhash_band_keys, as a stateless map chain (streaming-legal);
        # staging turns re-inlined HOF sub-expressions into attribute
        # references (~11x over one monolithic Column)
        return minhash_band_key_rows(
            docs.withWatermark(ts_col, watermark),
            text_col=text_col,
            id_col=id_col,
            passthrough=(ts_col,),
            num_hashes=num_hashes,
            band_size=band_size,
            n=n,
        ).select(
            F.col("doc_id").alias(f"doc_{a}"),
            F.col(ts_col).alias(f"ts_{a}"),
            F.col("band").alias(f"band_{a}"),
            F.col("band_key").alias(f"key_{a}"),
        )  # short docs already dropped: the band array is empty for them

    left, right = side("a"), side("b")
    joined = left.join(
        right,
        (F.col("band_a") == F.col("band_b"))
        & (F.col("key_a") == F.col("key_b"))
        # at-least-once ingest can redeliver the SAME doc id at a later
        # timestamp; without this guard every band self-collides and a
        # dedup consumer would drop the doc against itself
        & (F.col("doc_a") != F.col("doc_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr(f"INTERVAL {int(horizon_seconds)} SECONDS"))
        & (
            (F.col("ts_b") > F.col("ts_a"))
            | (F.col("doc_a") < F.col("doc_b"))
        ),
    ).select("doc_a", "doc_b", "ts_b")
    if hasattr(joined, "dropDuplicatesWithinWatermark"):
        return joined.dropDuplicatesWithinWatermark(["doc_a", "doc_b"])
    return joined.dropDuplicates(["doc_a", "doc_b", "ts_b"])


# ---------------------------------------------------------------------
# Streaming CDC upsert (the operators/cdc.merge_upsert twin)
# ---------------------------------------------------------------------

UPSERT_STATE = T.StructType(
    [
        T.StructField("t_ms", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("typ", T.StringType()),
        T.StructField("val", T.DoubleType()),
        T.StructField("deleted", T.BooleanType()),
    ]
)

UPSERT_OUT = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("t_ms", T.LongType()),
        T.StructField("last_seq", T.LongType()),
        T.StructField("last_type", T.StringType()),
        T.StructField("last_value", T.DoubleType()),
        T.StructField("is_delete", T.BooleanType()),
    ]
)

# count_rows=True variants: state/output gain a monotone applied-rows
# counter. The counter is the OBSERVABLE that lets an upstream stage's
# row-dropping (dedup, quality gate) be verified through the final
# snapshot — identical last-winner rows can hide how many rows the
# state consumed; the count cannot.
UPSERT_COUNT_STATE = T.StructType(
    list(UPSERT_STATE.fields) + [T.StructField("n_rows", T.LongType())]
)

UPSERT_COUNT_OUT = T.StructType(
    list(UPSERT_OUT.fields) + [T.StructField("n_rows_applied", T.LongType())]
)


def streaming_upsert(
    changes: DataFrame,
    key_col: str = "user_id",
    t_col: str = "t_ms",
    seq_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    delete_type: str = "error",
    count_rows: bool = False,
) -> DataFrame:
    """Latest-wins CDC state as a stream — the incremental twin of
    ``operators/cdc.merge_upsert`` (same (t, seq) total order, same
    tombstone semantics): per-key state holds the current winner; each
    micro-batch emits the key's refreshed snapshot row, ``is_delete``
    marking keys a tombstone currently removes. State is ONE fixed-size
    row per live key (the snapshot itself — not a buffer), so state
    size tracks the key cardinality exactly like the batch output, and
    a downstream sink applying the rows in arrival order materialises
    the same table the batch merge produces.

    Rows with a NULL ordering key (t/seq) are SKIPPED — they carry no
    position in the total order (the batch twin's descending window
    sorts SQL NULLs last, so they never win there either); a NULL
    payload value is carried as NULL.

    Documented DIVERGENCE from the batch twin (ADVICE r5): a key whose
    rows ALL have null (t, seq) establishes no winner — this stream
    stores no state and emits NOTHING for it, whereas merge_upsert's
    window still surfaces one all-null-ordered row (SQL window
    semantics force some row to rank first). An all-null snapshot row
    (is_delete NULL) is not a meaningful CDC state, so the stream
    suppresses it rather than mimicking the window artifact.

    With ``count_rows=True`` the state also carries a monotone counter
    of rows APPLIED (rows with a non-null ordering key that reached
    this operator), and each snapshot row reports it as
    ``n_rows_applied``. The count is what makes upstream row-dropping
    stages (streaming dedup, a quality gate) externally observable:
    the last-winner columns can be identical whether or not a
    redelivered duplicate was dropped upstream, but the applied-row
    count cannot (e16's chain verification leans on exactly this)."""

    out_schema = UPSERT_COUNT_OUT if count_rows else UPSERT_OUT
    state_schema = UPSERT_COUNT_STATE if count_rows else UPSERT_STATE

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            stored = state.get
            t_ms, seq, typ, val, deleted = stored[:5]
            n_rows = stored[5] if count_rows else 0
        else:
            t_ms = seq = typ = val = deleted = None
            n_rows = 0
        for pdf in pdfs:
            # no sort: the strict (t, seq) tuple max is order-independent
            for _, r in pdf.iterrows():
                if pd.isna(r[t_col]) or pd.isna(r[seq_col]):
                    continue
                n_rows += 1
                rt, rs = int(r[t_col]), int(r[seq_col])
                if t_ms is None or (rt, rs) > (t_ms, seq):
                    t_ms, seq = rt, rs
                    typ = str(r[type_col])
                    rv = r[value_col]
                    val = None if pd.isna(rv) else float(rv)
                    deleted = typ == delete_type
        if t_ms is None:
            # null-only group: no winner established, nothing to store
            # or emit (see the divergence note in the docstring)
            return
        row = {
            "key": key[0],
            "t_ms": t_ms,
            "last_seq": seq,
            "last_type": typ,
            "last_value": val,
            "is_delete": deleted,
        }
        if count_rows:
            state.update((t_ms, seq, typ, val, deleted, n_rows))
            row["n_rows_applied"] = n_rows
        else:
            state.update((t_ms, seq, typ, val, deleted))
        yield pd.DataFrame(
            [row], columns=[f.name for f in out_schema.fields]
        )

    return changes.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def streaming_profile(
    events: DataFrame, numeric_cols: list[str]
) -> DataFrame:
    """Corpus profile AS A STREAM — the always-on twin of the a14/a18
    profile family: every micro-batch folds its rows into per-column
    algebraic statistics (count, nulls, min, max, exact decimal sum →
    mean), so the sink always holds the profile of EVERYTHING ingested
    so far. The state is ONE row per profiled column — like e11's
    count-min, the operator's selling point made literal: state size
    is independent of stream length, so complete-mode output and
    unbounded retention are safe by construction (no watermark
    needed). The same algebra that makes a18's partials mergeable
    (order-free decimal sums, foldable min/max/counts) is what makes
    the streaming fold correct under ANY micro-batch split: each batch
    is just another partial merged into the running one by the
    engine's partial-aggregation machinery.

    Exact distincts are excluded exactly as in profile_partial — in
    streaming form they would make state grow with the value universe
    (the HLL sketch is the bounded-state substitute)."""
    melted = events.select(
        *[F.col(c).cast("double").alias(c) for c in numeric_cols]
    ).unpivot([], numeric_cols, "col_name", "value")
    return (
        melted.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("value").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_null"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum(F.col("value").cast("decimal(24,6)")).alias("_sum_dec"),
            F.count("value").alias("_n_nonnull"),
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


def streaming_join_rollup(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    sentinel_type: str = "sentinel",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    attribution_seconds: int = 3600,
    watermark: str = "3650 days",
) -> DataFrame:
    """Conversion attribution as ONE streaming plan — the fourth
    verified stateful chain class (after e9 join→dedup, e16
    dedup→python-state, e17 dedup→agg): a stream-stream INTERVAL JOIN
    feeding a watermarked tumbling aggregation. The canonical
    streaming-analytics chain: clicks ⋈ purchases by the same key with
    the purchase inside the click's attribution window, rolled up to
    conversions + value per purchase-hour.

    Composition mechanics worth the record:
      - Both join branches derive from ONE source stream (the e8
        self-join idiom), each with its own watermark node; the join's
        output watermark is the min over sides adjusted by the
        interval bound, and the downstream agg's append-mode emission
        keys off THAT — so a bounded drain needs the watermark
        advanced on BOTH branches. The ``sentinel_type`` row rides
        through BOTH side filters (key -1, far-future ts) purely to
        advance both watermark nodes; the only pair it can form is
        WITH ITSELF (the interval bound excludes every real row), and
        that pair lands in the far-future window, which append mode
        holds back forever — it never reaches the sink.
      - THE PUSHDOWN TRAP (found the hard way): the type predicates
        must live in the SIDE FILTERS, never in the join condition. A
        single-side predicate inside a join condition
        (``c_type = 'click'``) is pushed down through the watermark
        node by Catalyst — correct relationally, but it filters the
        sentinel out BEFORE the watermark tracker sees its event time,
        silently freezing the clock at the real data's max and holding
        every window back. The watermark node only "sees" rows that
        reach it; anything that must advance the clock has to survive
        every predicate below the watermark.
      - Join state evicts by the interval bound once watermarks
        advance; agg state by window close: both stores bounded, the
        chain's end-to-end state is O(attribution window × arrival
        rate + open windows).
    """
    def side(prefix: str, typ: str) -> DataFrame:
        return (
            events.filter(
                (F.col("event_type") == typ)
                | (F.col("event_type") == sentinel_type)
            )
            .withWatermark(ts_col, watermark)
            .select(
                F.col(key_col).alias(f"{prefix}_key"),
                F.col(ts_col).alias(f"{prefix}_ts"),
                F.col(value_col).alias(f"{prefix}_value"),
            )
        )

    clicks = side("c", left_type)
    purchases = side("p", right_type)
    joined = clicks.join(
        purchases,
        (F.col("c_key") == F.col("p_key"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (
            F.col("p_ts")
            <= F.col("c_ts") + F.expr(f"INTERVAL {attribution_seconds} SECONDS")
        ),
        "inner",
    )
    return joined.groupBy(F.window("p_ts", "1 hour").alias("win")).agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum(F.col("p_value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )


def streaming_ingest_lifecycle(
    changes: DataFrame,
    dedup_keys: list[str],
    gate_predicate: str,
    key_col: str = "user_id",
    t_col: str = "t_us",
    seq_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "3650 days",
) -> DataFrame:
    """The production ingest chain as ONE streaming plan — TWO stateful
    operators with stateless whole-stage codegen between them:

        dropDuplicatesWithinWatermark  (redelivery dedup — stateful #1)
          → gate_predicate filter      (quality gate — stateless codegen)
          → latest-wins CDC upsert     (python state server — stateful #2)

    The engine's prior streaming runtimes each exercised one mechanism
    (streaming_minhash_neardup's join→dedup being the one prior
    chain, both stages engine-managed); a real always-on ingest chains
    further, and chaining is NOT free — Spark's unsupported-operations
    checker historically rejected flatMapGroupsWithState-family
    operators downstream of another stateful operator, so the legality
    of exactly this python-state-tailed plan is itself a property
    worth pinning (it holds on Spark 4.x; verified empirically and by
    tests/test_streaming.py).

    Semantics and their composition contracts:
      - The dedup stage keys on ``dedup_keys``; redelivered rows
        (exact copies — at-least-once delivery's duplicate mode) are
        dropped while their key lives in the state store. The
        demonstration watermark spans the whole staged log so no key
        is evicted mid-drain; production sets it to the delivery
        layer's redelivery horizon so state stays bounded.
      - The gate runs BETWEEN the stateful stages and stays in
        whole-stage codegen; Catalyst cannot push it below the dedup
        (that would change which row establishes the key) but the gate
        sees only first-arrivals, so gate work scales with the deduped
        rate, not the redelivery rate — the right order for a chain
        where redelivery amplification is the load problem.
      - The upsert runs with ``count_rows=True``: its per-key
        ``n_rows_applied`` counter is the observable proving rows
        dropped upstream (duplicates, gate failures) never reached the
        state server — identical winner rows could not show that.

    At 100 TB/day the chain is two hash exchanges (dedup keys, then
    upsert key) plus codegen between; both state stores are
    hash-partitioned and evict by watermark / live-key set, so state
    scales with live keys, not stream length."""
    deduped = changes.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        dedup_keys
    )
    gated = deduped.filter(gate_predicate)
    return streaming_upsert(
        gated, key_col=key_col, t_col=t_col, seq_col=seq_col, count_rows=True
    )


def streaming_restartable_drain(
    spark,
    schema,
    source_dir: str,
    out_dir: str,
    ckpt_dir: str,
    transform,
    timeout_s: int = 300,
) -> int:
    """One availableNow drain of a restartable file-source job (r11,
    e23) — the failure-recovery primitive: call it, let it finish (or
    die), add more source files, call it AGAIN with the same
    checkpoint and sink, and the pair behaves as ONE continuous run:

      - the checkpoint's source log records which files each
        micro-batch read — a restart never re-reads them (no duplicate
        input processing);
      - the state store and the WATERMARK are restored from the last
        committed batch, so a window/keyed-state entry spanning the
        stop keeps accumulating where it left off;
      - the parquet sink is transactional via its _spark_metadata
        commit log: a batch's files become visible atomically and
        exactly once — a window emitted before the stop is not
        re-emitted after it, and readers (spark.read over the sink
        dir) never see an uncommitted file, even one left by a crash
        mid-write.

    Together: end-to-end exactly-once for (replayable source ×
    idempotent-committing sink), which is Structured Streaming's
    actual recovery contract — kill -9 between micro-batches replays
    at most the one uncommitted batch, whose sink commit is idempotent.
    One file per micro-batch (``ordered_file_stream``) keeps the
    batches deterministic. Returns the number of committed sink rows
    after this drain."""
    drain(
        transform(ordered_file_stream(spark, schema, source_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .outputMode("append"),
        "restartable drain",
        timeout_s,
    )
    return spark.read.parquet(out_dir).count()


def streaming_static_enrich_rollup(
    stream: DataFrame,
    dim: DataFrame,
    key_col: str = "user_id",
    dim_col: str = "tier",
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STATIC enrichment (r11, e24) — the canonical ingest
    pattern the stream-stream family (e8/e18/e22) does not cover:
    facts arriving as a stream are joined against a bounded dimension
    that is a plain batch DataFrame. The join is STATELESS — no state
    store, no watermark participation: each micro-batch hash-joins
    against the (broadcast) dim and moves on, so the dim side costs
    O(|dim|) memory once, not O(stream) state — which is exactly why
    enrichment should be stream-static whenever the dim's staleness
    tolerance allows (vs e22's stateful interval join when BOTH sides
    move). Two operational facts recorded: (1) the static side is
    re-planned per micro-batch, so a dim backed by a table picks up
    slowly-changing updates between batches WITHOUT a restart —
    staleness is bounded by batch cadence, the poor-man's SCD feed;
    (2) an INNER stream-static join cannot drop rows silently on the
    STREAM side without that being a semantic choice — unmatched keys
    vanish, so ingest gates that must quarantine (s19/s22 discipline)
    use left_outer + null-flag instead. The watermark here belongs to
    the downstream windowed AGG, not the join."""
    enriched = stream.join(F.broadcast(dim), key_col)
    return (
        enriched.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(dim_col))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def streaming_sliding_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "6 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """SLIDING-window streaming rollup (r11, e26) — a25's overlap cost
    model inside the streaming runtime: window(6h, 1h) expands every
    input row into window/slide = 6 state updates, so the overlap
    factor multiplies STATE WRITES, not just shuffle input — each open
    sliding window is its own state-store row, and at any watermark
    there are ~window/slide times more open windows than tumbling
    would hold. Same knob, sharper cliff: slide coarseness bounds both
    the input expansion AND the state footprint. DISTINCT aggregates
    are unsupported in streaming aggregation — exactly where a20's
    HLL substitute applies; count + decimal sum here are the mergeable
    measures."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def merge_batch_idempotent(
    spark, table_dir: str, batch_df, batch_id: int, key_col: str = "event_id"
) -> bool:
    """Streaming MERGE (latest-wins upsert) applier (r11, e28): e28
    drains correction batches into it through ``drain_batches``, and it
    is testable alone. Skip (return False) if the manifest's batch-id
    watermark already covers ``batch_id`` — BEFORE any merge work,
    which is what makes a non-idempotent MERGE replay-safe — else apply
    the o17 COW merge (only hit files rewritten) and commit with the
    new watermark. The first batch bootstraps the empty table."""
    from cellphe_data_pipeline_spark.operators.scale import merge_rows_cow
    from cellphe_data_pipeline_spark.sources.io import snapshot_batch_watermark

    _, last = snapshot_batch_watermark(table_dir)
    if batch_id <= last:
        return False
    merge_rows_cow(
        spark, table_dir, batch_df, key_col=key_col,
        out_slice=f"b{batch_id}",
        commit_extra={"last_batch_id": batch_id},
    )
    return True


def ivf_delete_batch_idempotent(
    spark, bucket_dir: str, ids_df, batch_id: int
) -> bool:
    """Streaming DELETE applier for a published IVF serving index
    (r12, e30): e30 drains takedown batches of vec_ids into it through
    ``drain_batches``, and its replay legs call it directly. Skip
    (return False) if the index's sidecar batch-id watermark already
    covers ``batch_id``, else apply the
    similarity.ivf_delete_ids partition-scoped rewrite and advance
    the watermark. Ordering note: the watermark is written AFTER the
    rewrite — a crash between them replays the batch, and the delete
    is IDEMPOTENT (re-deleting absent ids rewrites the affected lists
    to identical content), so at-least-once replay + idempotent
    apply = exactly-once OUTPUT; the snapshot-table sinks (e25/e28)
    get the same guarantee the other way round, skipping BEFORE a
    non-idempotent merge."""
    import json
    import os

    from cellphe_data_pipeline_spark.operators.similarity import (
        ivf_delete_ids,
    )

    wm_path = os.path.join(bucket_dir, "_delete_watermark.json")
    last = -1
    if os.path.exists(wm_path):
        with open(wm_path) as f:
            last = json.load(f)["last_batch_id"]
    if batch_id <= last:
        return False
    ivf_delete_ids(spark, bucket_dir, ids_df)
    from cellphe_data_pipeline_spark.sources.io import _write_replace

    _write_replace(wm_path, json.dumps({"last_batch_id": batch_id}).encode())
    return True


def streaming_corpus_ingest_drain(
    spark,
    schema,
    source_dir: str,
    table_dir: str,
    seen_dir: str,
    ckpt_dir: str,
    window_tokens: int = 512,
    timeout_s: int = 300,
) -> list[bool]:
    """Streaming COMPOSED corpus ingest (r13, e31 — the r12 verdict's
    ask #6: "the curation pipeline IS the ingest path"): c24's
    html→gopher→exact-dedup→pack stage subset as ONE availableNow
    plan draining to the snapshot sink. Composition of already-proven
    parts: the STATELESS stages (t13 html_to_text + t15 gopher_rules,
    pure codegen — the e10 shape) run inside the streaming plan per
    micro-batch; the two STATEFUL stages run in the foreachBatch sink
    with their state in the LAKEHOUSE, not the state store:

      - exact dedup: within-batch representative = min doc_id (a
        deterministic window — never Spark's arbitrary streaming
        dropDuplicates pick), cross-batch suppression = anti-join
        against a SEEN-HASH snapshot table the sink appends to
        idempotently (Delta's stream-dedup-via-MERGE pattern: state
        is a queryable table, survives restarts, and at scale is a
        bucketed/bloom-fronted probe rather than a state store scan);
      - packing: c13's window arithmetic (the SAME
        explode_token_windows kernel batch packing uses) started from
        per-stream token offsets CARRIED in the windows table's own
        manifest (`pack_offsets`, the last_batch_id idiom) — windows
        straddle micro-batch boundaries exactly as they straddle doc
        boundaries in batch.

    Exactly-once: both tables guard on their manifest's
    last_batch_id independently, so a crash between the two commits
    replays into one skip + one commit, never a double-apply; a full
    replay (fresh checkpoint, same files) is all-skips. Batch
    equivalence (the driver oracle replays the batch subset) holds
    because arrival order is doc order (_stage_ordered_batches pins
    file order by mtime): a duplicate group's minimum doc_id is in
    the EARLIEST batch containing any member, so earliest-batch-wins
    + min-in-batch == global min doc_id.

    Returns the per-batch commit flags (``drain_batches``)."""
    return drain_batches(
        spark, schema, source_dir, ckpt_dir,
        lambda batch_df, batch_id: corpus_ingest_apply_batch(
            spark, table_dir, seen_dir, batch_df, batch_id, window_tokens
        ),
        "corpus-ingest drain",
        plan=lambda stream: _curated_docs(stream).select(
            "doc_id", F.col("source").alias("stream"), "text_clean"
        ),
        timeout_s=timeout_s,
    )


def _curated_docs(stream: DataFrame) -> DataFrame:
    """The stateless curation stages of the streaming corpus ingest
    (html_to_text → gopher_rules): (doc_id, source, text_clean) of the
    docs that pass every rule. gate_mask=63 gates inside the operator —
    the external fail_mask filter was optimizer-pushed below the
    projections, re-running the interpreted HOF tree per row
    (gopher_rules docstring, r16)."""
    from cellphe_data_pipeline_spark.operators.text import (
        gopher_rules,
        html_to_text,
    )

    return gopher_rules(
        html_to_text(stream, keep_cols=["source"]),
        text_col="text_clean",
        keep_cols=["source", "text_clean"],
        gate_mask=63,
    ).select("doc_id", "source", "text_clean")


def streaming_corpus_full_ingest_drain(
    spark,
    schema,
    source_dir: str,
    table_dir: str,
    seen_dir: str,
    ckpt_dir: str,
    clusters_dir: str,
    bench_dir: str,
    window_tokens: int = 512,
    split_seed: str = "leak1-",
    train_bps: int = 9000,
    bench_cutoff: int = 20,
    timeout_s: int = 300,
) -> list[bool]:
    """Streaming corpus ingest at FULL c24 stage parity (r14, e32 —
    the r13 verdict's ask #2): all SIX composed-pipeline stages in one
    availableNow plan. e31 streams the ingest→curate→dedup→pack
    subset; this drain adds the two enrichment stages, each placed by
    its state class:

      - DECONTAMINATE (c24 stage 4) runs in the SINK, after dedup,
        against two STATIC bench-side artifacts read from
        ``bench_dir`` (cleaned bench docs — eval suites are batch-
        published side tables, MBs at 100 TB corpus scale): a Bloom
        prefilter (bloom_decontaminate — one ~KB bitmap broadcast, the
        c5 scale path) flags candidate docs map-side, then
        flag_contaminated exact-verifies ONLY the candidates against
        the broadcast bench shingle set (candidate-first verify, the
        d3 ordering). Bloom errs toward flagging, the exact pass
        removes the phantoms, so admission is exactly c5's semantics
        at the bloom's probe cost for the clean majority.
      - LEAKAGE-SAFE SPLIT (c24 stage 5) runs in the STREAMING PLAN as
        a stream-static broadcast left join against the cluster-label
        table at ``clusters_dir`` (near-dup clusters are a batch
        clustering job's output — precisely c23's label side), then
        the seeded split hash on COALESCE(cluster_id, doc_id) — pure
        codegen, no state.

    Shingling for decontamination uses the CLEANED text (a stream
    only ever has the crawl HTML; c24's raw-text shingling is a
    fixture convenience its batch oracle can afford) — the e32 oracle
    replays the same choice, so both engines shingle identical bytes.

    Stage ORDER matches c24 exactly: dedup (sink, stateful) precedes
    the bench-slice/contamination admission filters, which therefore
    run as the sink's post_dedup_gate — gating only what PACKS while
    the seen table records every representative's hash (see
    corpus_ingest_apply_batch). Exactly-once is untouched: the gate is
    deterministic per batch, so replays skip at the same watermarks.

    Returns the per-batch commit flags (``drain_batches``)."""
    from cellphe_data_pipeline_spark.functions.scalars import (
        portable_hash64,
    )
    from cellphe_data_pipeline_spark.operators.dedup import (
        bloom_decontaminate,
        flag_contaminated,
    )

    bench = spark.read.parquet(bench_dir).persist()  # (doc_id, text_clean)
    try:
        bench.count()  # materialize once; every batch's gate reuses it
        clusters = spark.read.parquet(clusters_dir)  # (doc_id, cluster_id)

        def gate(b):
            # candidate-first decontamination: bloom prefilter, exact
            # verify only the flagged docs, then the c24 admission filters
            cand = bloom_decontaminate(
                b, bench, n=4, text_col="text_clean"
            ).select("doc_id")
            contam = flag_contaminated(
                b.join(F.broadcast(cand), "doc_id", "semi"),
                bench,
                n=4,
                text_col="text_clean",
            ).select("doc_id")
            return b.filter(F.col("doc_id") >= bench_cutoff).join(
                F.broadcast(contam), "doc_id", "left_anti"
            )

        def label(stream):
            key = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
            split = F.when(
                portable_hash64(key.cast("string"), seed=split_seed) % 10000
                < train_bps,
                "train",
            ).otherwise("val")
            return (
                _curated_docs(stream)
                .join(F.broadcast(clusters), "doc_id", "left")
                .withColumn("stream", F.concat_ws("/", split, F.col("source")))
                .select("doc_id", "stream", "text_clean")
            )

        return drain_batches(
            spark, schema, source_dir, ckpt_dir,
            lambda batch_df, batch_id: corpus_ingest_apply_batch(
                spark, table_dir, seen_dir, batch_df, batch_id,
                window_tokens, post_dedup_gate=gate,
            ),
            "full corpus-ingest drain",
            plan=label,
            timeout_s=timeout_s,
        )
    finally:
        bench.unpersist()


def mor_takedown_apply_batch(
    spark,
    table_dir: str,
    key_col: str,
    batch_df,
    batch_id: int,
) -> bool:
    """Per-batch applier of the streaming MOR takedown sink (r14,
    e33): one micro-batch of takedown keys becomes ONE equality-delete
    commit — O(batch keys) of work and bytes, ZERO data files touched,
    with the e25 last_batch_id watermark making replays refuse before
    any write. Composes two proven pieces: snapshot_delete_keys (the
    o24 MOR tier — snapshot-wide tombstones, so a key taken down in
    batch k stays masked even if some ingest re-delivers it later) and
    the idempotent-by-batch-id commit discipline every streaming sink
    here uses. e33 drains takedown batches into it through
    ``drain_batches``. Returns True iff this call committed."""
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_batch_watermark,
        snapshot_delete_keys,
    )

    _, last = snapshot_batch_watermark(table_dir)
    if batch_id <= last:
        return False
    snapshot_delete_keys(
        spark,
        table_dir,
        key_col,
        batch_df,
        extra={"last_batch_id": batch_id},
    )
    return True


def corpus_ingest_apply_batch(
    spark,
    table_dir: str,
    seen_dir: str,
    batch_df,
    batch_id: int,
    window_tokens: int = 512,
    post_dedup_gate=None,
) -> bool:
    """Per-batch applier of the streaming corpus ingest (e31, e32 via
    ``drain_batches``), testable alone — in particular the
    PARTIAL-CRASH leg a drain cannot easily orchestrate: the two tables commit
    non-atomically, each guarded by its OWN last_batch_id watermark,
    so a crash between the windows commit and the seen commit replays
    into one skip + one commit, never a double-apply on either side.

    Steps: within-batch exact dedup (min doc_id representative, a
    deterministic window), cross-batch suppression (anti-join vs the
    seen-hash table), packing from the manifest-carried per-stream
    offsets, then the two idempotent commits.

    Commit ORDER is load-bearing: windows first, seen LAST, return
    after both. The engine advances its checkpoint only after
    foreachBatch returns, so any crash before the seen commit forces
    a replay of the whole batch — "seen missing a batch the
    checkpoint already covers" (which would silently re-admit that
    batch's duplicates forever) cannot occur. Returns True iff the
    WINDOWS table committed, which is the commit flag the drain
    reports for the batch.

    ``post_dedup_gate`` (r14, e32): an optional callable applied to
    the deduped, seen-filtered batch to select the subset that PACKS —
    the hook the full c24 stage order needs, because c24 runs exact
    dedup BEFORE its per-doc admission filters (bench slice-off,
    decontamination), and dedup is this sink's stateful stage. The
    seen table still records EVERY deduped row's hash (gated or not):
    a later exact duplicate of a gated-out representative must stay
    suppressed, exactly as c24's post-dedup filters drop the whole
    group — gating only the pack side and never the dedup state is
    what keeps the streaming composition equal to the batch plan."""
    import os

    from pyspark.sql import Window

    from cellphe_data_pipeline_spark.operators.text import (
        bpe_ish_token_count,
        explode_token_windows,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        from_driver_rows,
        snapshot_batch_watermark,
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_manifest,
        snapshot_read,
    )

    b = batch_df.withColumn("_h", F.md5("text_clean"))
    win = Window.partitionBy("_h").orderBy("doc_id")
    b = (
        b.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    seen_cur, seen_last = snapshot_batch_watermark(seen_dir)
    if seen_cur > 0:
        b = b.join(
            snapshot_read(spark, seen_dir, seen_cur), "_h", "left_anti"
        )
    b = b.persist()  # two consumers below; tiny (one micro-batch)
    committed = False
    try:
        cur, last = snapshot_batch_watermark(table_dir)
        if batch_id > last:
            offsets = (
                snapshot_manifest(table_dir, cur).get("pack_offsets", {})
                if cur > 0
                else {}
            )
            packable = post_dedup_gate(b) if post_dedup_gate else b
            base = from_driver_rows(
                spark,
                list(offsets.items()) or [("", 0)],
                "stream string, _base bigint",
            )
            cum = (
                Window.partitionBy("stream")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            pos = (
                packable.select(
                    "doc_id",
                    "stream",
                    bpe_ish_token_count(F.col("text_clean")).alias(
                        "n_tokens"
                    ),
                )
                .withColumn(
                    "_cum",
                    F.coalesce(F.sum("n_tokens").over(cum), F.lit(0)),
                )
                .join(F.broadcast(base), "stream", "left")
                .withColumn(
                    "start",
                    (F.coalesce(F.col("_base"), F.lit(0)) + F.col("_cum"))
                    .cast("bigint"),
                )
                .filter(F.col("n_tokens") > 0)
            )
            out = explode_token_windows(pos, window_tokens)
            d = os.path.join(table_dir, "data", f"b{batch_id}")
            out.write.mode("overwrite").parquet(d)
            batch_sums = {
                r["stream"]: r["s"]
                for r in pos.groupBy("stream")
                .agg(F.sum("n_tokens").alias("s"))
                .collect()  # bounded: one row per stream
            }
            new_offsets = dict(offsets)
            for s, n in batch_sums.items():
                new_offsets[s] = int(new_offsets.get(s, 0)) + int(n)
            # sharded commits (r13): a sink commits per micro-batch —
            # the exact workload whose flat manifest costs O(table)
            # per commit; the sharded append costs O(batch) forever
            snapshot_commit_sharded(
                table_dir,
                cur,
                snapshot_data_files(d),
                extra={
                    "last_batch_id": batch_id,
                    "pack_offsets": new_offsets,
                },
            )
            committed = True
        if batch_id > seen_last:
            ds = os.path.join(seen_dir, "data", f"b{batch_id}")
            b.select("_h").write.mode("overwrite").parquet(ds)
            snapshot_commit_sharded(
                seen_dir,
                seen_cur,
                snapshot_data_files(ds),
                extra={"last_batch_id": batch_id},
            )
    finally:
        b.unpersist()
    return committed


def kmv_distinct_apply_batch(
    spark,
    table_dir: str,
    key_col: str,
    tag_col: str,
    batch_df,
    batch_id: int,
    k: int = 512,
) -> bool:
    """Per-batch applier of the streaming KMV distinct-count sink
    (r15, e34): each micro-batch's keys are sketched (bottom-k per
    tag) and MERGED into the stored sketch table — the state is the
    sketch itself, O(k) per tag REGARDLESS of stream length, which is
    the whole point of sketch-backed streaming distinct counts (an
    exact streaming count-distinct carries unbounded key state; the
    e21-style dedup store grows with distinct keys; this never grows
    past k·tags rows). Correct because bottom-k is a semilattice
    (aggregates.kmv_merge): merging per-batch sketches in ANY batch
    order equals the one-shot sketch of the union — so the streamed
    store is hash-identical to a batch rebuild, asserted by the e34
    query.

    Exactly-once via the e25 manifest watermark: the batch id is
    checked against last_batch_id before any write, and each commit
    REPLACES the previous sketch files (removed_files) — sketch-sized
    bytes per commit, never corpus-sized. Returns True iff this call
    committed. e34 drains its batches into it through
    ``drain_batches``."""
    from cellphe_data_pipeline_spark.operators.aggregates import (
        kmv_merge,
        kmv_sketch,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_batch_watermark,
        snapshot_commit_sharded,
        snapshot_data_files,
        snapshot_files,
        snapshot_read,
    )
    import os

    cur, last = snapshot_batch_watermark(table_dir)
    if batch_id <= last:
        return False
    old_files = snapshot_files(table_dir, cur) if cur > 0 else []
    batch_sk = kmv_sketch(batch_df, key_col, tag_col, k=k)
    if old_files:
        merged = kmv_merge(
            snapshot_read(spark, table_dir, cur).unionByName(batch_sk),
            k,
            keys=("tag",),
        )
    else:
        merged = batch_sk
    out = os.path.join(table_dir, "data", f"sk_b{batch_id}")
    merged.write.mode("overwrite").parquet(out)
    snapshot_commit_sharded(
        table_dir,
        cur,
        snapshot_data_files(out),
        removed_files=old_files,
        extra={"last_batch_id": batch_id},
    )
    return True


def cdc_apply_batch(
    spark,
    table_dir: str,
    key_col: str,
    batch_df,
    batch_id: int,
) -> dict:
    """Per-batch applier of the streaming CDC-APPLY sink (r15, e35) —
    the CONSUMER half of the change-data-feed story (snapshot_changes
    produces feeds; this maintains a downstream materialized table
    from one). Each change row routes to the cost-right primitive of
    the target's own table format, per the o24 decision record:

      - UPDATES (a key in both the delete- and insert-side of the
        batch, i.e. update_pre/update_post pairs) go through the COW
        MERGE (scale.merge_rows_cow) — replace-in-place, O(affected
        files); the MOR tombstone cannot express replace (it would
        mask the new version too — the documented snapshot-wide
        semantics);
      - INSERTS — all of them — append through the value-watermarked
        multiwriter path (replay-refusal keyed on the batch id, never
        on table state). A key tombstoned by an EARLIER batch first
        has its OLD physical copies purged (scale.purge_rows_cow —
        without the purge, un-masking would resurrect the old row
        next to the appended new one, the double-row trap) and is
        UN-tombstoned LAST (snapshot_undelete_keys — O(delete set),
        zero data files), so the new row becomes visible exactly
        once;
      - pure DELETES land as one MOR tombstone commit — O(keys),
        zero data files.

    REPLAY SAFETY is the design constraint that shaped the step
    decomposition: a crash can strike between any two commits, and
    the re-run recomputes its routing from CURRENT table state — so
    every step is either (a) guarded by a VALUE watermark derived
    only from the feed (the append: pure_ins is feed-only, the
    multiwriter watermark refuses replays outright), or (b)
    intrinsically idempotent under state drift (merge replaces by
    key; purging absent keys is a no-op; un-tombstoning untombstoned
    keys is a no-op), with per-step marks (cdc_merge / cdc_purge /
    cdc_del / cdc_undel in the shared watermark-class last_batch_ids
    map) to skip completed work. The undelete runs LAST so no earlier
    step of the same attempt can observe the keys unmasked.
    Single-writer contract (one streaming query per checkpoint), as
    for every sink here; e35 drains the feed into it through
    ``drain_batches``. Returns {"merged", "purged", "inserted",
    "deleted", "undeleted"} booleans — False = skipped (replay) or
    empty."""
    from pyspark.sql import functions as F

    from cellphe_data_pipeline_spark.operators.scale import (
        merge_rows_cow,
        purge_rows_cow,
    )
    from cellphe_data_pipeline_spark.sources.io import (
        snapshot_append_batch_multiwriter,
        snapshot_current,
        snapshot_delete_keys,
        snapshot_manifest,
        snapshot_undelete_keys,
    )

    def marks() -> dict:
        cur = snapshot_current(table_dir)
        if cur == 0:
            return {}
        return dict(
            snapshot_manifest(table_dir, cur).get("last_batch_ids", {})
        )

    def tombstoned_keys():
        cur = snapshot_current(table_dir)
        dels = (
            snapshot_manifest(table_dir, cur).get("delete_files", [])
            if cur > 0
            else []
        )
        paths = [p for d in dels if d["key"] == key_col for p in d["paths"]]
        if not paths:
            return None
        return spark.read.parquet(*paths).select(key_col).distinct()

    b = batch_df.localCheckpoint(eager=True)  # feed slice: batch-sized
    del_side = b.filter(
        F.col("change_type").isin("delete", "update_pre")
    ).select(key_col).distinct()
    # COMPACT the insert side to the LAST change per key (r16, advisor
    # fix): a batch carrying insert(k) AND update_pre/update_post(k)
    # (insert-then-update inside one micro-batch — normal in CDC feeds)
    # previously put BOTH ins-side rows into upd_rows, and the COW
    # merge appended the delta verbatim — two committed rows for one
    # key. Within a batch the ordinal-free rule is: update_post
    # supersedes insert (CDC emit order); equal-precedence duplicates
    # (a malformed feed) collapse deterministically by max payload
    # struct. One O(batch) combinable aggregation; well-formed feeds
    # (one ins-side row per key) are byte-identical through it.
    ins_raw = b.filter(F.col("change_type").isin("insert", "update_post"))
    data_cols = [c for c in ins_raw.columns if c not in (key_col, "change_type")]
    prec = F.when(F.col("change_type") == "update_post", F.lit(1)).otherwise(
        F.lit(0)
    )
    ins_side = (
        ins_raw.groupBy(key_col)
        .agg(
            F.max(
                F.struct(prec.alias("_p"), *[F.col(c).alias(c) for c in data_cols])
            ).alias("_s")
        )
        .select(key_col, *[F.col(f"_s.{c}").alias(c) for c in data_cols])
        .select(*[c for c in ins_raw.columns if c != "change_type"])
    )
    upd_keys = del_side.join(
        ins_side.select(key_col), key_col, "semi"
    ).localCheckpoint(eager=True)
    pure_del = del_side.join(F.broadcast(upd_keys), key_col, "left_anti")
    pure_ins = ins_side.join(F.broadcast(upd_keys), key_col, "left_anti")
    upd_rows = ins_side.join(F.broadcast(upd_keys), key_col, "semi")

    # keys of currently-tombstoned rows this batch re-introduces (the
    # probe is sketch-small — a takedown list, not data); consumed ONLY
    # by the idempotent purge/undelete steps, never by the append.
    # PURGE set = tombstoned pure RE-INSERTS (their old physical copies
    # must go before the new append lands). UNDELETE set (r16, advisor
    # fix) = tombstoned keys from the WHOLE ins side — an UPDATE of a
    # tombstoned key flows through the COW merge (which rewrites the
    # old physical copies in place, so no purge is needed) but must
    # still be un-masked in step 5, or the updated row stays invisible
    # forever.
    tomb = tombstoned_keys()
    reins = (
        pure_ins.select(key_col)
        .join(F.broadcast(tomb), key_col, "semi")
        .localCheckpoint(eager=True)
        if tomb is not None
        else None
    )
    undel = (
        ins_side.select(key_col)
        .join(F.broadcast(tomb), key_col, "semi")
        .localCheckpoint(eager=True)
        if tomb is not None
        else None
    )

    out = {
        "merged": False, "purged": False, "inserted": False,
        "deleted": False, "undeleted": False,
    }

    # step 1: updates via COW merge
    if marks().get("cdc_merge", -1) < batch_id and not upd_rows.isEmpty():
        m = marks()
        m["cdc_merge"] = batch_id
        merge_rows_cow(
            spark, table_dir, upd_rows, key_col=key_col,
            out_slice=f"cdc_b{batch_id}",
            commit_extra={"last_batch_ids": m},
        )
        out["merged"] = True

    # step 2: purge old physical copies of re-inserted keys. The
    # cdc_ins guard (r16, advisor fix) closes a replay hole:
    # purge_rows_cow returns WITHOUT committing when no candidate file
    # is hit (re-inserted key tombstoned but physically absent), so
    # the cdc_purge mark is never persisted on a no-op. If a crash
    # then struck after step 3's append, the replayed purge would
    # re-scan stats, admit the FRESHLY APPENDED files, and rewrite
    # them minus the re-inserted keys — silently deleting the new
    # rows before step 5 unmasks them. Once cdc_ins == batch_id the
    # purge is either committed (mark persisted) or was vacuously
    # complete, so skipping is always correct.
    if (
        marks().get("cdc_purge", -1) < batch_id
        and marks().get("cdc_ins", -1) < batch_id
        and reins is not None
        and not reins.isEmpty()
    ):
        m = marks()
        m["cdc_purge"] = batch_id
        purge_rows_cow(
            spark, table_dir, reins, key_col=key_col,
            out_slice=f"cdc_pb{batch_id}",
            commit_extra={"last_batch_ids": m},
        )
        out["purged"] = True

    # step 3: ALL inserts via the value-watermarked append
    if marks().get("cdc_ins", -1) < batch_id and not pure_ins.isEmpty():
        out["inserted"] = snapshot_append_batch_multiwriter(
            table_dir, pure_ins, batch_id, "cdc_ins"
        )

    # step 4: deletes as one MOR tombstone commit (disjoint from this
    # batch's insert side by construction — an overlap is an update)
    if marks().get("cdc_del", -1) < batch_id and not pure_del.isEmpty():
        m = marks()
        m["cdc_del"] = batch_id
        snapshot_delete_keys(
            spark, table_dir, key_col, pure_del,
            extra={"last_batch_ids": m},
        )
        out["deleted"] = True

    # step 5 — LAST: un-tombstone every re-introduced key (old copies
    # purged in step 2 or rewritten by step 1's merge, new rows
    # appended in step 3 — unmasking now reveals exactly the new row).
    # `undel` covers BOTH re-inserts and updates-of-tombstoned keys
    # (r16 fix — see the routing block above).
    if (
        marks().get("cdc_undel", -1) < batch_id
        and undel is not None
        and not undel.isEmpty()
    ):
        m = marks()
        m["cdc_undel"] = batch_id
        snapshot_undelete_keys(
            spark, table_dir, key_col, undel, extra={"last_batch_ids": m}
        )
        out["undeleted"] = True
    return out
