"""The session factory's generated-class cache holds a pipeline run's
working set: repeating a plan in one session reuses its compiled
classes instead of recompiling them. And a pipeline session runs one
Python worker pool: no engine relation is built by a pickled PythonRDD
job, which would start a second worker daemon. None of that pool's
processes loads pandas: every kernel a pipeline run executes is a
``mapInArrow`` that builds its output without pyarrow's pandas
conversions.

Spark's codegen cache is a JVM-wide LRU sized once, from the static conf
``spark.sql.codegen.cache.maxEntries``, when the JVM first generates
code. A pipeline run needs more classes than Spark's default of 100, so
a default-sized cache evicts and recompiles them on every repeat.
"""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys

import pytest

from cellphe_data_pipeline_spark.domain.images import make_fake_timelapse
from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline
from cellphe_data_pipeline_spark.sources.io import from_driver_rows

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def tiny_pipeline(spark):
    """A tiny pipeline run (2 timelapses x 6 frames), forcing both
    published tables with a noop write."""
    bins = from_driver_rows(
        spark,
        [
            (f"tl_{i}.fake", make_fake_timelapse(seed=60 + i, height=32, width=32, n_frames=6))
            for i in range(2)
        ],
        "path string, content binary",
    )

    def run() -> None:
        out = run_pipeline(bins)
        for stage in ("summary", "timeseries"):
            out[stage].write.format("noop").mode("overwrite").save()

    return run


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.conf.get(CACHE_CONF) == "1000"


RUNS_SCRIPT = """
import sys

sys.path[:0] = [{repo!r}, {tests!r}]
from cellphe_data_pipeline_spark.session import codegen_compiles, get_spark
from test_session import tiny_pipeline

spark = get_spark(app_name="codegen-cache", extra_conf={conf!r})
jvm = spark._jvm
# log every compiled source (each line prefixed /* NNN */) to stderr
jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
    jvm.org.apache.logging.log4j.Level.DEBUG,
)
run = tiny_pipeline(spark)
for k in range(4):
    print("=== run", k, file=sys.stderr, flush=True)
    before = codegen_compiles(spark)
    run()
    print("compiles", codegen_compiles(spark) - before, flush=True)
print("=== end", file=sys.stderr, flush=True)
spark.stop()
"""


def recompiles_per_repeat(tmp_path, conf: dict[str, str]) -> tuple[list[int], list[int]]:
    """Run the tiny pipeline four times in a fresh JVM (the cache is
    sized once per JVM) with ``conf``; return each run's compile count,
    and for each repeat how many of the sources it compiled had been
    compiled by an earlier run, i.e. were evicted and compiled again.

    Sources are compared, not counts, because adaptive execution can
    give a repeat a plan variant it has not run before (it picks a
    join's build side, and numbers codegen stages, by which query stage
    finishes first): a variant's classes are new code, compiled once."""
    tests = os.path.dirname(os.path.abspath(__file__))
    env = {
        **os.environ,
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_SHUFFLE": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    script = RUNS_SCRIPT.format(
        repo=os.path.dirname(tests),
        tests=tests,
        conf={**conf, "spark.sql.codegen.logging.maxLines": "-1"},
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    compiles = [int(n) for n in re.findall(r"^compiles (\d+)$", proc.stdout, re.M)]
    # sources compiled before the first run, then one set per run
    runs: list[set[str]] = [set()]
    source: list[str] | None = None
    for line in proc.stderr.splitlines():
        if source is not None and re.match(r"/\* \d+ \*/", line):
            source.append(line)
            continue
        if source:
            runs[-1].add("\n".join(source))
        source = [] if "DEBUG CodeGenerator:" in line else None
        if line.startswith("=== "):
            runs.append(set())
    assert len(runs) == 6 and len(compiles) == 4, (proc.stdout, proc.stderr[-4000:])
    # the first run's sources were logged
    assert 0 < len(runs[1]) <= compiles[0], (compiles, len(runs[1]))
    seen = runs[0] | runs[1]
    recompiled = []
    for sources in runs[2:5]:
        recompiled.append(len(sources & seen))
        seen |= sources
    return compiles, recompiled


def test_repeated_pipeline_run_recompiles_nothing(tmp_path):
    """With the engine's session, no repeat of the pipeline compiles a
    class an earlier run already compiled."""
    compiles, recompiled = recompiles_per_repeat(tmp_path, {})
    assert compiles[0] > 100, compiles
    assert recompiled == [0, 0, 0], (compiles, recompiled)


def test_default_sized_cache_recompiles_a_repeated_run(tmp_path):
    """Control for the pin above: with Spark's default of 100 entries
    every repeat of the same pipeline recompiles classes the first run
    compiled, so the pin measures the cache size and not a plan too
    small to overflow it."""
    compiles, recompiled = recompiles_per_repeat(tmp_path, {CACHE_CONF: "100"})
    assert min(recompiled) > 0, (compiles, recompiled)


POOLS_SCRIPT = """
import json
import os
import sys

sys.path[:0] = [{repo!r}]
from cellphe_data_pipeline_spark.__main__ import main
from cellphe_data_pipeline_spark.domain.images import make_fake_timelapse
from cellphe_data_pipeline_spark.session import (
    get_spark,
    python_worker_pids,
    python_worker_pools,
)


def report(label):
    procs = python_worker_pids()
    with_pandas = 0
    for pid in procs:
        try:
            with open(f"/proc/{{pid}}/maps") as f:
                with_pandas += "pandas/_libs" in f.read()
        except OSError:
            pass
    print(label, python_worker_pools(spark), len(procs), with_pandas, flush=True)


os.makedirs("raw")
for i in range(2):
    with open(f"raw/tl_{{i}}.fake", "wb") as f:
        f.write(make_fake_timelapse(seed=80 + i, height=32, width=32, n_frames=6))
with open("params.json", "w") as f:
    json.dump({{}}, f)
argv = ["--input", "raw", "--config", "params.json", "--out", "out"]
assert main(argv + {extra!r}) == 0
spark = get_spark()
report("cli")
# control: one mapInPandas task in the same pool loads pandas in its worker
spark.range(1).mapInPandas(lambda batches: batches, "id long").collect()
report("mapInPandas")
# control: a list-of-tuples createDataFrame runs a pickled PythonRDD job
spark.createDataFrame([(1,)], "a long").collect()
report("createDataFrame")
spark.stop()
"""

_CLI_REPORTS: dict[tuple, dict[str, tuple[int, int, int]]] = {}


def cli_run_reports(tmp_path_factory, extra: list[str]) -> dict[str, tuple[int, int, int]]:
    """Run the CLI once per path in a fresh JVM (pools are per JVM) on two
    small timelapses, then a ``mapInPandas`` and a list-of-tuples
    ``createDataFrame`` in the same session. After each step: the
    session's worker-pool count, the live processes of its pool (the
    daemon and its workers) and how many of them map a pandas
    extension. Cached per path: the tests below share one run."""
    if tuple(extra) not in _CLI_REPORTS:
        tests = os.path.dirname(os.path.abspath(__file__))
        env = {
            **os.environ,
            "SPARK_GRAFT_CPUS": "2",
            "SPARK_GRAFT_SHUFFLE": "2",
            "SPARK_GRAFT_DRIVER_MEM": "1g",
        }
        script = POOLS_SCRIPT.format(repo=os.path.dirname(tests), extra=extra)
        proc = subprocess.run(
            [sys.executable, "-c", script],
            cwd=tmp_path_factory.mktemp("cli"),
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        _CLI_REPORTS[tuple(extra)] = {
            label: (int(pools), int(procs), int(pandas))
            for label, pools, procs, pandas in re.findall(
                r"^(\w+) (\d+) (\d+) (\d+)$", proc.stdout, re.M
            )
        }
    return _CLI_REPORTS[tuple(extra)]


RESUME = ["--resume-dir", "stages"]


def test_cli_run_starts_one_python_worker_pool(tmp_path_factory):
    """A default CLI run starts one worker pool; the control after it
    shows that a list-of-tuples createDataFrame starts a second."""
    reports = cli_run_reports(tmp_path_factory, [])
    assert [reports[k][0] for k in ("cli", "createDataFrame")] == [1, 2], reports


def test_resumable_cli_run_starts_one_python_worker_pool(tmp_path_factory):
    """The --resume-dir path publishes every stage, the feature
    manifest included, and still starts one worker pool."""
    reports = cli_run_reports(tmp_path_factory, RESUME)
    assert [reports[k][0] for k in ("cli", "createDataFrame")] == [1, 2], reports


@pytest.mark.parametrize("extra", [[], RESUME], ids=["default", "resume_dir"])
def test_cli_run_python_workers_load_no_pandas(tmp_path_factory, extra):
    """After a CLI run — the default path, or --resume-dir, which also
    runs the segmentation-highlight kernel — no process of the session's
    one worker pool maps pandas: every kernel the run executes is a
    ``mapInArrow`` that builds its output without pyarrow's pandas
    conversions. Control: one ``mapInPandas`` task in the same session
    loads pandas in a worker of that pool."""
    reports = cli_run_reports(tmp_path_factory, extra)
    pools, procs, with_pandas = reports["cli"]
    assert pools == 1 and procs >= 2 and with_pandas == 0, reports
    assert reports["mapInPandas"][0] == 1 and reports["mapInPandas"][2] >= 1, reports


#: modules holding the kernels a pipeline run executes
KERNEL_MODULES = (
    "domain/images.py",
    "domain/features.py",
    "domain/tracking.py",
    "domain/rois.py",
    "operators/timeseries.py",
    "operators/arrow_map.py",
)
#: the pipeline's kernels and the helpers that run them
PIPELINE_KERNELS = {
    "domain/images.py": ("decode_segment_centroid", "mask_boundary_overlay", "mask_pixels",
                         "_mask_pixel_rows"),
    "domain/features.py": ("_frame_features", "static_features", "static_features_fused"),
    "domain/tracking.py": ("track_detections", "_link_one", "_build_spot_feats"),
    "operators/timeseries.py": ("timeseries_features_multi",),
    "operators/arrow_map.py": ("map_groups_in_arrow", "to_arrow", "record_batch", "rows_batch"),
}


def test_kernel_modules_import_pandas_only_inside_query_kernels():
    """Source guard for the pin above: no kernel module imports pandas at
    module level (a worker imports the module of every kernel it
    unpickles), and no pipeline kernel calls ``mapInPandas`` or
    ``applyInPandas`` or names pandas."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "cellphe_data_pipeline_spark",
    )
    for rel in KERNEL_MODULES:
        with open(os.path.join(pkg, rel)) as f:
            tree = ast.parse(f.read())
        top = [
            n.names[0].name if isinstance(n, ast.Import) else n.module
            for n in tree.body
            if isinstance(n, (ast.Import, ast.ImportFrom))
        ]
        assert not [m for m in top if m and m.split(".")[0] == "pandas"], (rel, top)
        wanted = PIPELINE_KERNELS.get(rel, ())
        found = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name in wanted]
        assert sorted(n.name for n in found) == sorted(wanted), rel
        for fn in found:
            for n in ast.walk(fn):
                assert not (
                    isinstance(n, ast.Attribute) and n.attr in ("mapInPandas", "applyInPandas")
                ), (rel, fn.name, n.lineno)
                assert not (isinstance(n, ast.Name) and n.id == "pd"), (rel, fn.name, n.lineno)
                assert not (
                    isinstance(n, (ast.Import, ast.ImportFrom))
                    and any(a.name.split(".")[0] == "pandas" for a in n.names)
                    or isinstance(n, ast.ImportFrom) and (n.module or "").startswith("pandas")
                ), (rel, fn.name, n.lineno)


def test_engine_builds_driver_rows_only_through_arrow():
    """The only ``createDataFrame`` calls in the package are inside
    ``sources.io.from_driver_rows``."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "cellphe_data_pipeline_spark",
    )
    calls: dict[str, list[int]] = {}
    trees = {}
    for root, _, files in os.walk(pkg):
        for name in files:
            rel = os.path.relpath(os.path.join(root, name), pkg)
            if not name.endswith(".py"):
                continue
            with open(os.path.join(root, name)) as f:
                trees[rel] = tree = ast.parse(f.read())
            lines = [
                n.lineno
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "createDataFrame"
            ]
            if lines:
                calls[rel] = lines
    io_py = os.path.join("sources", "io.py")
    assert list(calls) == [io_py], calls
    helper = next(
        n
        for n in ast.walk(trees[io_py])
        if isinstance(n, ast.FunctionDef) and n.name == "from_driver_rows"
    )
    assert all(helper.lineno <= line <= helper.end_lineno for line in calls[io_py]), calls


def test_from_driver_rows_matches_the_list_path(spark):
    """Arrow-built relations carry the rows, types and nullability the
    list-of-tuples path gives, for DDL, StructType and name-list
    schemas, with and without rows."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    ddl = (
        "a int, b bigint, c string, d boolean, e double, f array<double>, "
        "g binary, h date, i decimal(10,2)"
    )
    rows = [
        (1, 2**62 + 1, "x", True, 1.5, [1.0, 2.0], b"ab",
         datetime.date(2020, 1, 2), decimal.Decimal("1.25")),
        (None, None, None, None, float("nan"), None, None, None, None),
    ]
    strict = T.StructType([T.StructField("k", T.LongType(), False)])
    for data, schema in (
        (rows, ddl),
        ([], ddl),
        ([(7,), (8,)], strict),
        ([], strict),
        ([("f", 1, 2.5)], ["_f", "_lo", "_hi"]),
    ):
        got = from_driver_rows(spark, data, schema)
        want = spark.createDataFrame(data, schema)
        assert got.schema == want.schema
        assert repr(got.collect()) == repr(want.collect())
