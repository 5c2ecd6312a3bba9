"""Bench-harness honesty gates (r7).

The r6 verdict proved that ``df.count()`` as the bench action lets
Catalyst prune any operator whose columns the count does not need:
j7's left join + explode, m5/a8/c3's window chains, j10/t6's
join+generate and t1's regex projections were optimizer-eliminated, so
7 of 15 recorded per-query numbers measured little more than a parquet
scan (j7: 0.65s recorded vs 19.5s real at sf0.1). These tests pin

1. the harness ACTION — bench.py materialises with a noop-sink write
   (which consumes every column, so nothing is prunable), never with
   ``count()``;
2. each headline query's operator set in the plan the noop write
   executes (``df``'s own executedPlan — identical operator set to the
   noop write, which adds only the sink) — so a future harness or
   query regression that re-opens the pruning hole fails here;
3. the pruning itself is REAL (j7 under count() loses its Generate) —
   documenting why the noop sink is required, and failing if a Spark
   upgrade changes the rule this gate exists for.
"""

from __future__ import annotations

import pathlib

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bench_source_uses_noop_sink_not_count():
    import ast

    src = (REPO / "bench.py").read_text()
    assert 'format("noop")' in src
    # the timed loops must route through _materialise; no bare count()
    # materialisation may reappear (docstring/comments exempt — they
    # EXPLAIN the count() hole)
    code = "\n".join(
        line.split("#", 1)[0]
        for line in src.replace(ast.get_docstring(ast.parse(src)) or "", "").splitlines()
    )
    assert ".count()" not in code
    assert "_materialise(df)" in src
    assert '_materialise(out["timeseries"])' in src
    assert '_materialise(out["summary"])' in src


def test_bench_source_records_codegen_compiles():
    """Every timed leg records the compiles each repeat added, under
    ``codegen_compiles`` in the artifact, so a steady repeat that paid
    compile time shows in the artifact instead of as a slower number."""
    src = (REPO / "bench.py").read_text()
    assert '"codegen_compiles": codegen' in src
    assert "codegen_compiles(spark)" in src
    assert "codegen[name]" in src  # the headline queries
    for leg in (
        "pipeline_726frames",
        "pipeline_2904frames",
        "corpus_split_pipeline",
        "corpus_e2e_pipeline",
        "scale_cpu_probe",
    ):
        assert f'codegen["{leg}"]' in src, leg


# headline query -> operator markers that MUST survive in the executed
# plan (the set count() was proven to prune in r6)
_HEADLINE_OPS = {
    "m5_movement_features": ["Window"],
    "j7_density_grid_join": ["Join", "Generate"],
    "a8_timeseries_stats": ["Window"],
    "j10_interval_join": ["Join", "Generate"],
    # t6 was rewritten in r16 to a single map-side projection (the
    # top-bigram count is the longest equal run of the sorted per-row
    # bigram array) — no join/exchange remains BY DESIGN, so the pin is
    # the projection expression itself, same idiom as t1's "regexp"
    "t6_repetition": ["array_sort"],
    "c3_token_budget_shards": ["Window"],
    "t1_quality_features": ["regexp"],
    "a4_group_sum_revenue": ["HashAggregate"],
    "j1_broadcast_dim_join": ["BroadcastHashJoin"],
    "d1_exact_dedup": ["HashAggregate"],
    # g4_connected_components is exempt: its iterative CC runs EAGERLY
    # during query construction (checkpoint cuts), so the returned df is
    # a Scan ExistingRDD — count() never could prune its real work
    "d3_minhash_near_dups": ["Join"],
    "v2_srp_topk": ["Join"],
    "a3_multistat_median": ["percentile"],
    "e1_hourly_rollup": ["HashAggregate"],
}


@pytest.mark.parametrize("name,ops", sorted(_HEADLINE_OPS.items()))
def test_headline_operator_set_survives_bench_action(spark, sf_dir, name, ops):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    plan = _plan(qs[name](spark, sf_dir))
    for op in ops:
        assert op in plan, f"{name}: '{op}' missing from executed plan — bench would under-measure"


def test_count_pruning_is_real_j7(spark, sf_dir):
    """Document WHY the noop sink is required: under a count() action
    Catalyst eliminates j7's explode (Generate) because the aggregate
    needs no columns. If this ever stops reproducing, the harness
    constraint can be revisited."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["j7_density_grid_join"](spark, sf_dir)
    assert "Generate" in _plan(df)
    assert "Generate" not in _plan(df.groupBy().count())
