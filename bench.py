"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a NOOP-SINK WRITE
(``df.write.format("noop")``): every output column is computed and
every operator executes, but nothing ships to the driver — measures
engine time, not result-transfer time. One warm-up of a trivial query
amortises JVM/codegen start so numbers reflect steady-state plan
execution.

Why not ``count()`` (the r1-r6 harness): Catalyst prunes any operator
whose columns a count does not need — the r6 verdict measured that the
left join + explode of j7, the window chains of m5/a8/c3, and the
join+generate of j10/t6 were optimizer-ELIMINATED under
``df.count()``, so 7 of 15 recorded per-query numbers measured little
more than the parquet scan (j7: 0.65s recorded vs 19.5s real). The
noop sink needs every column, so nothing is prunable;
tests/test_bench_materialisation.py pins both the harness action and
each headline query's operator set in the executed plan. BENCH_r07
onward is therefore NOT comparable with BENCH_r01-r06 per-query rows
for m5/j7/a8/j10/t6/c3/t1 — the new numbers are honest, the old ones
were under-measurements (see SCALE.md re-baseline).

Variance self-defence (round-6, after two contended-driver artifact
rounds — r3's 96.5s and r5's 46.1s vs same-box reruns of 22.5s): the
JSON now also carries
- "samples": every raw per-run timing behind each best-of number —
  a contended box shows as a LARGE spread between repeats of the same
  query (steady-state repeats on an idle box agree within ~10-20%),
- "loadavg_start"/"loadavg_end": the host 1-minute load average
  around the run — on this 32-cpu box a loadavg far above 32 means
  the measurement competed for cores and the absolute numbers are
  not comparable across rounds.
Read: compare MIN values across rounds, and trust a round-over-round
regression only if the spread within that round's samples is tight.

"codegen_compiles" holds, per leg, the Janino compiles each repeat
added (``session.codegen_compiles``). The first repeat of a leg may
compile its plan's classes; a steady repeat (``runs[1:]``) should find
them all in the generated-class cache, so a leg whose steady repeats
compiled anything is named in "warnings" — its repeats paid compile
time the first run should have paid alone (a cache smaller than the
working set, or an adaptive plan variant seen for the first time).

"python_worker_pools" holds, per leg, the session's Python worker pools
after the leg (``session.python_worker_pools``; the count only grows).
Engine code builds driver rows through Arrow and keeps one pool; a leg
that raises it to 2 ran a list-of-tuples ``createDataFrame`` (a pickled
PythonRDD job, which starts a second worker daemon).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "m5_movement_features",    # flagship native window chain
    "j7_density_grid_join",    # the un-stubbed OOM feature (grid range join)
    "j1_broadcast_dim_join",   # broadcast star join + agg
    "a4_group_sum_revenue",    # TPC-H-Q1-shaped rollup
    "a3_multistat_median",     # exact median
    "a8_timeseries_stats",     # per-key series stats
    "g4_connected_components", # iterative large/small-star CC
    "d1_exact_dedup",          # hash dedup
    "d3_minhash_near_dups",    # MinHash+LSH near-dup pipeline
    "v2_srp_topk",             # bucketed ANN
    "t1_quality_features",     # text quality (codegen regex)
    "j10_interval_join",       # temporal bucket range join (new r4)
    "t6_repetition",           # Gopher repetition gates (bigram mode)
    "c3_token_budget_shards",  # context-window packing (stream windows)
    "e1_hourly_rollup",        # streaming-shaped rollup (events read)
]


def _loadavg() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except (AttributeError, OSError):
        return None


def _materialise(df) -> None:
    """Execute EVERY operator of ``df`` without driver transfer.

    The noop sink consumes all columns, so Catalyst cannot prune
    joins/windows/generates the way it legally does under ``count()``
    (whose aggregate needs no input columns)."""
    df.write.format("noop").mode("overwrite").save()


def _repeat(spark, n: int, body) -> tuple[list[float], list[int], int]:
    """Run ``body`` ``n`` times; return each repeat's wall seconds, the
    compiles it added, and the session's Python worker pools after the
    last repeat (all read outside the timed section)."""
    from cellphe_data_pipeline_spark.session import codegen_compiles, python_worker_pools

    runs: list[float] = []
    compiles: list[int] = []
    for _ in range(n):
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        body()
        runs.append(round(time.perf_counter() - t0, 3))
        compiles.append(codegen_compiles(spark) - c0)
    return runs, compiles, python_worker_pools(spark)


def _preflight_quiet(max_wait_s: float, threshold: float = 2.0) -> list[str]:
    """r9 (verdict item 3 — BENCH_r07/r08 were both contended
    artifacts): wait up to ``max_wait_s`` for the 1-minute loadavg to
    drop below ``threshold`` before measuring, and return warnings to
    embed in the artifact if the box never quietens. The wait is
    bounded so a busy driver host still produces an artifact — the
    warning tells the reader the absolute numbers are not comparable
    across rounds (per-query minima with tight spreads remain the only
    readable signal on a contended box)."""
    warnings: list[str] = []
    la = _loadavg()
    if la is None:
        return warnings
    deadline = time.monotonic() + max_wait_s
    while la is not None and la > threshold and time.monotonic() < deadline:
        time.sleep(5.0)
        la = _loadavg()
    if la is not None and la > threshold:
        warnings.append(
            f"contended: loadavg {la} > {threshold} after waiting "
            f"{max_wait_s:.0f}s — absolute numbers not comparable across "
            "rounds; read per-query sample minima/spreads only"
        )
    return warnings


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    from cellphe_data_pipeline_spark.session import get_spark

    import __spark_entry__ as entry_mod

    warnings = _preflight_quiet(
        float(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "90"))
    )
    load_start = _loadavg()
    spark = get_spark(app_name="cellphe-bench")
    qs = entry_mod.queries()

    # warm-up: JVM, parquet footer reads, codegen, noop-sink lookup
    _materialise(qs["a2_group_count"](spark, sf_dir))

    times: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    codegen: dict[str, list[int]] = {}
    pools: dict[str, int] = {}
    total = 0.0
    for name in HEADLINE:
        # best of 3: the first run pays codegen/scan caches, the two
        # repeats are steady-state — their agreement (not the
        # first-vs-rest gap, which is codegen by design) is the
        # contention signal the spread check below reads
        def headline(name=name):
            df = qs[name](spark, sf_dir)
            _materialise(df)

        runs, codegen[name], pools[name] = _repeat(spark, 3, headline)
        samples[name] = runs
        times[name] = min(runs)
        total += times[name]

    # End-to-end domain chain at the reference's documented shape:
    # 33 containers -> ~721 frames (README.md:407) through split ->
    # segment -> track -> lineage -> QC -> movement -> time-series.
    # Kernel caveat: segmentation/decode are the deterministic stubs
    # (real codecs absent), so this measures ENGINE orchestration +
    # relational/graph work, not Cellpose inference.
    from cellphe_data_pipeline_spark.domain.images import make_fake_timelapse
    from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline
    from cellphe_data_pipeline_spark.sources.io import from_driver_rows

    bins = from_driver_rows(
        spark,
        [
            (f"tl_{i:02d}.fake", make_fake_timelapse(seed=100 + i, height=48, width=48, n_frames=22))
            for i in range(33)
        ],
        "path string, content binary",
    )

    def pipeline(bins):
        def body():
            out = run_pipeline(bins)
            # materialise BOTH terminal stages: the A8 time-series table
            # and (new in r5) the frame-summary table — movement ⋈ M4
            # static features ⋈ the un-stubbed J7 density column, the
            # reference's final CSV shape
            # (create_frame_summary_features.py), covering its heaviest
            # per-op budget (frame features 5 min/16 GB,
            # nextflow.config:23-92) PLUS the feature it had to disable
            _materialise(out["timeseries"])
            _materialise(out["summary"])

        return body

    # three repeats for the dominant entry: its spread is the clearest
    # in-artifact contention signal
    runs, codegen["pipeline_726frames"], pools["pipeline_726frames"] = _repeat(spark, 3, pipeline(bins))
    samples["pipeline_726frames"] = runs
    times["pipeline_726frames"] = min(runs)
    total += times["pipeline_726frames"]

    # Scaling probe (r10, verdict item 7): the same chain at 4x the
    # frames per container (33 x 88 = 2904 frames — longer tracks, a
    # 4x-edge lineage graph, 4x the density-join frames) to catch
    # superlinear creep in track -> CC -> features before it matters.
    # EXCLUDED from the headline total so "value" stays comparable
    # across rounds; reported under "scaling" with the wall-vs-data
    # ratio (sub-linear ratio = fixed overheads amortising; a ratio
    # > 4 would flag a superlinear stage). Two repeats: the 1x entry
    # above already paid codegen/warm-up for this plan shape.
    bins4 = from_driver_rows(
        spark,
        [
            (f"tl4_{i:02d}.fake", make_fake_timelapse(seed=100 + i, height=48, width=48, n_frames=88))
            for i in range(33)
        ],
        "path string, content binary",
    )
    runs4, codegen["pipeline_2904frames"], pools["pipeline_2904frames"] = _repeat(spark, 2, pipeline(bins4))
    samples["pipeline_2904frames"] = runs4
    scaling = {
        "pipeline_2904frames": min(runs4),
        "frames_ratio": 4.0,
        "wall_ratio": round(min(runs4) / times["pipeline_726frames"], 2)
        if times["pipeline_726frames"] > 0
        else None,
    }

    # LLM-corpus composed chain (r11): the text-side counterpart of
    # pipeline_726frames — minhash near-dup clustering → transitive
    # closure → leakage-safe cluster split (c23's full chain) joined
    # with per-doc token counts (t4) into a per-split token budget,
    # ONE lazy plan materialised end-to-end. EXCLUDED from the
    # headline total (new in r11 — keeping "value" comparable across
    # rounds); reported under "corpus". Two repeats; the registered
    # queries it composes are individually gate-verified, so this
    # measures the composition's wall, not correctness.
    from pyspark.sql import functions as F

    def corpus_split():
        split_df = qs["c23_leakage_safe_split"](spark, sf_dir)
        tok_df = qs["t4_token_counts"](spark, sf_dir)
        budget = (
            split_df.join(tok_df, "doc_id")
            .groupBy("split")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens_ws").alias("n_tokens"),
            )
        )
        _materialise(budget)

    runs_c, codegen["corpus_split_pipeline"], pools["corpus_split_pipeline"] = _repeat(spark, 2, corpus_split)
    samples["corpus_split_pipeline"] = runs_c
    corpus = {"corpus_split_pipeline": min(runs_c)}

    # Full composed corpus pipeline (r12): the oracle-checked c24
    # chain — HTML ingest → Gopher gate → exact dedup → 4-gram
    # decontamination → cluster-keyed split → 512-token packing, one
    # lazy plan (zero SMJ, two corpus shuffles — plan-pinned in
    # tests/test_plans.py). EXCLUDED from the headline total (same
    # cross-round comparability rule as corpus_split_pipeline); two
    # repeats, reported under "corpus".
    runs_e, codegen["corpus_e2e_pipeline"], pools["corpus_e2e_pipeline"] = _repeat(
        spark, 2, lambda: _materialise(qs["c24_corpus_pipeline"](spark, sf_dir))
    )
    samples["corpus_e2e_pipeline"] = runs_e
    corpus["corpus_e2e_pipeline"] = min(runs_e)

    # Core-scaling probe (r17, verdict item 6 — ADDITION ONLY: not in
    # the headline total, "queries" untouched). Every headline query is
    # sub-second at sf0.1, dominated by job-launch/codegen constants,
    # so the driver's 8-vs-32-core comparison reads ≈1 everywhere and
    # says nothing about operator parallelism. This leg is built to
    # SCALE: the sf documents corpus replicated 24x row-wise (generated
    # in the timed setup, deterministic, no caching), spread over
    # 4x-cores partitions, through the md5-heavy MinHash
    # shingle→signature pass — embarrassingly parallel CPU work whose
    # wall should drop ~linearly with cores. Reported under
    # "scaling.scale_cpu_probe"; a low/high-core ratio near 1 HERE
    # would be a real serialisation bug, not bench-shape noise.
    from cellphe_data_pipeline_spark.operators.dedup import (
        minhash_band_keys,
        word_shingles,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    reps = F.array(*[F.lit(i) for i in range(24)])
    # repartition the 1x rows BEFORE the 24x explode: the corpus is one
    # parquet file (one scan task), so exploding first would serialise
    # the replication itself inside the scan task and the probe would
    # measure that instead of the parallel hash work (measured: ratio
    # 1.6 explode-first vs 2.4 repartition-first at 32-vs-8 cores)
    big = (
        docs.select("doc_id", "text")
        .repartition(4 * spark.sparkContext.defaultParallelism)
        .withColumn("_r", F.explode(reps))
        .select(
            (F.col("doc_id") * 24 + F.col("_r")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" pad"), F.col("_r").cast("string")).alias(
                "text"
            ),
        )
    )
    runs_s, codegen["scale_cpu_probe"], pools["scale_cpu_probe"] = _repeat(
        spark, 2, lambda: _materialise(minhash_band_keys(word_shingles(big)))
    )
    samples["scale_cpu_probe"] = runs_s
    scaling["scale_cpu_probe"] = min(runs_s)

    # spread self-check (r9): on an idle box a query's STEADY-STATE
    # repeats (runs[1:] — the first run pays codegen by design) agree
    # within ~1.3x; a majority above that marks the artifact contended
    # even if loadavg looked fine at the start
    wide = [
        n
        for n, r in samples.items()
        if len(r) > 1 and min(r[1:]) > 0 and max(r[1:]) / min(r[1:]) > 1.3
    ]
    if len(wide) * 2 > len(samples):
        warnings.append(
            f"wide spreads on {len(wide)}/{len(samples)} queries "
            f"({', '.join(sorted(wide))}) — repeats disagree >1.3x; "
            "treat this artifact as contended"
        )
    recompiled = sorted(n for n, c in codegen.items() if any(c[1:]))
    if recompiled:
        warnings.append(
            f"steady repeats compiled generated classes on {', '.join(recompiled)} "
            "— their timings include compile work (codegen cache smaller "
            "than the working set, or a first-seen adaptive plan variant)"
        )

    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(total, 3),
                "unit": "sec",
                "queries": times,
                "samples": samples,
                "scaling": scaling,
                "corpus": corpus,
                "codegen_compiles": codegen,
                "python_worker_pools": pools,
                "loadavg_start": load_start,
                "loadavg_end": _loadavg(),
                "warnings": warnings,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
