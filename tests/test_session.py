"""The session factory's generated-class cache holds a pipeline run's
working set: repeating a plan in one session reuses its compiled
classes instead of recompiling them.

Spark's codegen cache is a JVM-wide LRU sized once, from the static conf
``spark.sql.codegen.cache.maxEntries``, when the JVM first generates
code. A pipeline run needs more classes than Spark's default of 100, so
a default-sized cache evicts and recompiles them on every repeat.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

from cellphe_data_pipeline_spark.domain.images import make_fake_timelapse
from cellphe_data_pipeline_spark.plans.pipeline import run_pipeline

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def tiny_pipeline(spark):
    """A tiny pipeline run (2 timelapses x 6 frames), forcing both
    published tables with a noop write."""
    bins = spark.createDataFrame(
        [
            (f"tl_{i}.fake", bytearray(make_fake_timelapse(seed=60 + i, height=32, width=32, n_frames=6)))
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
