"""The session factory's generated-class cache holds a pipeline run's
working set: repeating a plan in one session reuses its compiled
classes instead of recompiling them. And a pipeline session runs one
Python worker pool: no engine relation is built by a pickled PythonRDD
job, which would start a second worker daemon.

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
from cellphe_data_pipeline_spark.session import get_spark, python_worker_pools

os.makedirs("raw")
for i in range(2):
    with open(f"raw/tl_{{i}}.fake", "wb") as f:
        f.write(make_fake_timelapse(seed=80 + i, height=32, width=32, n_frames=6))
with open("params.json", "w") as f:
    json.dump({{}}, f)
argv = ["--input", "raw", "--config", "params.json", "--out", "out"]
assert main(argv + {extra!r}) == 0
spark = get_spark()
print("pools", python_worker_pools(spark), flush=True)
# control: a list-of-tuples createDataFrame runs a pickled PythonRDD job
spark.createDataFrame([(1,)], "a long").collect()
print("pools", python_worker_pools(spark), flush=True)
spark.stop()
"""


def pools_after_cli_run(tmp_path, extra: list[str]) -> list[int]:
    """Run the CLI once in a fresh JVM (pools are per JVM) on two small
    timelapses; return the worker-pool count after the run, then after
    a list-of-tuples ``createDataFrame`` in the same session."""
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
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return [int(n) for n in re.findall(r"^pools (\d+)$", proc.stdout, re.M)]


def test_cli_run_starts_one_python_worker_pool(tmp_path):
    """A default CLI run starts one worker pool; the control after it
    shows that a list-of-tuples createDataFrame starts a second."""
    assert pools_after_cli_run(tmp_path, []) == [1, 2]


def test_resumable_cli_run_starts_one_python_worker_pool(tmp_path):
    """The --resume-dir path publishes every stage, the feature
    manifest included, and still starts one worker pool."""
    assert pools_after_cli_run(tmp_path, ["--resume-dir", "stages"]) == [1, 2]


def test_engine_builds_driver_rows_only_through_arrow():
    """Outside ``queries.py`` and ``testing/``, the only
    ``createDataFrame`` calls in the package are inside
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
            if not name.endswith(".py") or rel == "queries.py" or rel.startswith("testing"):
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
