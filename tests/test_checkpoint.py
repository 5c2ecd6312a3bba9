"""Replicated lineage cuts (r7 — VERDICT #7).

The engine's localCheckpoint cuts are single-host-fragile: their blocks
are unreplicated executor state. `cut_lineage` routes every cut through
one helper that, when `spark.cellphe.checkpointDir` (or
$CELLPHE_CHECKPOINT_DIR) points at shared storage, swaps the cut for an
S15-style parquet publish + re-read — the same plans then survive
executor loss on a real cluster. These tests exercise the flagged path
end-to-end through the two heaviest cut consumers (the CC loop and the
dedup keep-list) and pin output equality against the default path.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.checkpoint import (
    CHECKPOINT_DIR_CONF,
    cut_lineage,
)


@pytest.fixture
def ckpt_dir(spark, tmp_path):
    d = str(tmp_path / "ckpt")
    os.makedirs(d, exist_ok=True)
    spark.conf.set(CHECKPOINT_DIR_CONF, d)
    try:
        yield d
    finally:
        spark.conf.unset(CHECKPOINT_DIR_CONF)


def _parquet_cuts(d):
    return [n for n in os.listdir(d) if n.endswith(".parquet")]


def test_cut_lineage_default_is_local_checkpoint(spark, tmp_path):
    """Unflagged: behaves exactly like localCheckpoint — result equal,
    nothing written anywhere."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = cut_lineage(df)
    assert sorted(r["v"] for r in out.collect()) == [2 * i for i in range(100)]
    assert out.rdd.getNumPartitions() >= 1  # a real, queryable frame


def test_cut_lineage_replicated_writes_parquet(spark, ckpt_dir):
    df = spark.range(50).withColumn("v", F.col("id") + 1)
    out = cut_lineage(df, name="probe")
    rows = sorted(r["v"] for r in out.collect())
    assert rows == list(range(1, 51))
    cuts = _parquet_cuts(ckpt_dir)
    assert len(cuts) == 1 and cuts[0].startswith("probe-")
    # the returned frame is a SCAN of the published cut, not the
    # original lineage: its input files live under the checkpoint dir
    assert all("probe-" in f for f in out.inputFiles()) and out.inputFiles()


def test_connected_components_under_replicated_cuts(spark, ckpt_dir):
    """The CC loop's per-round cuts run through the parquet publish and
    produce the same components as the default path."""
    from cellphe_data_pipeline_spark.operators.graph import connected_components

    # two chains + one triangle, forced through the distributed loop
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21), (21, 22), (22, 20)],
        "src bigint, dst bigint",
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges, driver_finish_cap=0).collect()
    }
    want = {(n, 1) for n in (1, 2, 3, 4)} | {(n, 10) for n in (10, 11, 12)} | {
        (n, 20) for n in (20, 21, 22)
    }
    assert got == want
    assert len(_parquet_cuts(ckpt_dir)) >= 2  # input cut + >=1 round cut


def test_dedup_keep_list_under_replicated_cuts(spark, ckpt_dir):
    from cellphe_data_pipeline_spark.operators.dedup import dedup_keep_list

    rows = [
        (1, "aa bb cc dd ee ff gg hh", 23),
        (2, "aa bb cc dd ee ff gg hh ii jj", 29),
        (3, "totally unrelated text about nothing shared here at all", 55),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, n_chars bigint")
    out = {r["doc_id"]: r for r in dedup_keep_list(df, band_size=2).collect()}
    assert out[2]["keep"] and not out[1]["keep"] and out[1]["replaced_by"] == 2
    assert out[3]["keep"]
    assert any(n.startswith("dedup-clusters-") for n in _parquet_cuts(ckpt_dir))


def test_pipeline_under_replicated_cuts(spark, ckpt_dir):
    """r7: the whole domain chain (split → segment → detect → track →
    lineage → QC → movement) runs with every cut_lineage site publishing
    to parquet, and produces the same detections/summary row counts as
    the default path — the end-to-end proof behind the flag's
    cluster-safety claim. global_row_number's layout pin is exempt by
    design (see scale.py) and keeps working here."""
    from cellphe_data_pipeline_spark.domain.images import make_fake_timelapse
    from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline

    bins = spark.createDataFrame(
        [
            (
                f"tl_{i}.fake",
                bytearray(
                    make_fake_timelapse(seed=7 + i, height=32, width=32, n_frames=4)
                ),
            )
            for i in range(2)
        ],
        "path string, content binary",
    )
    out = run_pipeline(bins)
    flagged = {k: out[k].count() for k in ("detections", "summary")}
    assert flagged["detections"] > 0 and flagged["summary"] > 0
    assert _parquet_cuts(ckpt_dir)  # cuts actually went through parquet

    spark.conf.unset(CHECKPOINT_DIR_CONF)
    out2 = run_pipeline(bins)
    default = {k: out2[k].count() for k in ("detections", "summary")}
    assert flagged == default


def test_minhash_under_replicated_cuts(spark, ckpt_dir):
    """r17 (verdict item 10): minhash_near_duplicates' two lazy cuts
    (shingle arrays + band keys) degrade to EAGER parquet publishes
    under the replicated flag and produce pair-for-pair the same
    output as the default localCheckpoint path — the load-bearing cut
    sites for the dedup family survive executor loss at cluster scale."""
    from cellphe_data_pipeline_spark.operators.dedup import minhash_near_duplicates

    rows = [
        (1, "aa bb cc dd ee ff gg hh"),
        (2, "aa bb cc dd ee ff gg hh ii jj"),
        (3, "totally unrelated text about nothing shared here at all"),
        (4, "aa bb cc dd ee ff gg hh"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    flagged = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_near_duplicates(df, band_size=2).collect()
    }
    cuts = _parquet_cuts(ckpt_dir)
    assert any(n.startswith("shingle_arrays-") for n in cuts)
    assert any(n.startswith("band_keys-") for n in cuts)

    spark.conf.unset(CHECKPOINT_DIR_CONF)
    default = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in minhash_near_duplicates(df, band_size=2).collect()
    }
    assert flagged == default and (1, 4, 1.0) in flagged
