"""cellphe_data_pipeline_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the query / data-processing
capabilities of the reference pipeline (uoy-research/CellPhe-data-pipeline,
a Nextflow cell-phenotyping ETL dataflow). The reference defines WHAT is
computed (operators, semantics, data model — see SURVEY.md); this package
defines HOW, idiomatically on Spark:

- Declarative DataFrame/SQL logical plans; Catalyst + Tungsten pick the
  physical strategy (predicate pushdown, column pruning, whole-stage
  codegen, AQE).
- Shuffle-conscious design for 100 TB scale: broadcast joins for dims,
  window functions instead of groupBy+join-back, map-side partial
  aggregation, grid-bucketed range joins for spatial self-joins.
- Python only at the edges: Arrow-batched kernels for numeric work
  Spark can't express (wavelets, image decode) — `mapInArrow` over
  numpy for every kernel the pipeline runs, so its workers never load
  pandas (`operators/arrow_map.py`); pandas UDFs only in query-only
  kernels; never row-at-a-time Python UDFs in hot paths.
"""

from cellphe_data_pipeline_spark.session import get_spark
from cellphe_data_pipeline_spark.sources.tables import load_table, load_tables

__all__ = ["get_spark", "load_table", "load_tables"]
__version__ = "0.2.0"


def run_pipeline(*args, **kwargs):
    """Convenience re-export of plans.pipeline.run_pipeline (lazy import
    keeps bare `import cellphe_data_pipeline_spark` light)."""
    from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline as _rp

    return _rp(*args, **kwargs)
