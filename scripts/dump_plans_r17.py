"""Capture .explain('formatted') dumps for round-17 target queries.

Usage: python scripts/dump_plans_r17.py <suffix> [query ...]
Writes plans/r17/<query>_<suffix>.txt. Special names:
  pipeline_summary / pipeline_timeseries — the run_pipeline outputs.
  d10_incremental — incremental_near_duplicates on the sf docs table.
"""
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r17")


def dump(df, name, suffix):
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(OUT, f"{name}_{suffix}.txt"), "w") as f:
        f.write(buf.getvalue())
    print("wrote", name, suffix, len(buf.getvalue()), "bytes")


def main():
    suffix = sys.argv[1]
    names = sys.argv[2:]
    from cellphe_data_pipeline_spark.session import get_spark
    import __spark_entry__ as entry
    spark = get_spark(app_name="plans-r17")
    qs = entry.queries()
    for name in names:
        if name == "pipeline_summary" or name == "pipeline_timeseries":
            from cellphe_data_pipeline_spark.domain.images import make_fake_timelapse
            from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline
            bins = spark.createDataFrame(
                [(f"tl_{i:02d}.fake", bytearray(make_fake_timelapse(seed=100 + i, height=48, width=48, n_frames=22)))
                 for i in range(4)],
                "path string, content binary",
            )
            out = run_pipeline(bins)
            dump(out["summary" if name.endswith("summary") else "timeseries"], name, suffix)
        elif name == "d10_incremental":
            from cellphe_data_pipeline_spark.operators.dedup import incremental_near_duplicates
            docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            idx = docs.filter("doc_id % 2 = 0")
            new = docs.filter("doc_id % 2 = 1")
            dump(incremental_near_duplicates(idx, new), name, suffix)
        else:
            dump(qs[name](spark, SF_DIR), name, suffix)


if __name__ == "__main__":
    main()
