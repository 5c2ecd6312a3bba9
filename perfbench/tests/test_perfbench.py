"""The benchmark's own tests: ``python3 -m pytest perfbench/tests -q``.

The arithmetic and parsing tests run in well under a second; the
end-to-end tests start the benchmark at its ``tiny`` scale in a
subprocess (about a minute each).
"""

from __future__ import annotations

import json
import os
import random
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import host  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _span(name, start, end, parent, cut=False):
    return layers.Span(name, start, parent, run=0, end=end, cut=cut)


def test_self_time_subtracts_children_union():
    # run [0,10] > pipeline [1,9] > {a [2,4], b [3,5] overlapping, c [6,7]}
    spans = [
        _span("run", 0, 10, None),
        _span("pipeline", 1, 9, 0),
        _span("a", 2, 4, 1),
        _span("b", 3, 5, 1),
        _span("c", 6, 7, 1),
        _span("perfbench.count", 7.5, 8, 1),
    ]
    selfs = layers.self_times(spans)
    assert selfs[0] == pytest.approx(2.0)   # 10 - 8
    assert selfs[1] == pytest.approx(3.5)   # 8 - (union [2,5] + [6,7] + [7.5,8])
    assert selfs[2:5] == pytest.approx([2.0, 2.0, 1.0])
    summ = layers.summarise_run(spans)
    assert summ["pipeline_self"] == pytest.approx(3.5)
    # named layers a, b, c: 5.0 of self time over 10 - 0.5 counted
    assert summ["coverage"] == pytest.approx(5.0 / 9.5)
    assert summ["count_wall"] == pytest.approx(0.5)


def test_layer_walls_count_outermost_span_only():
    spans = [
        _span("run", 0, 10, None),
        _span("lineage", 1, 5, 0),
        _span("lineage", 2, 3, 1),      # nested repeat: not added again
        _span("checkpoint", 3, 4, 1, cut=True),
        _span("lineage", 6, 7, 0),
    ]
    walls = layers.layer_walls(spans)
    assert walls["lineage"] == pytest.approx(5.0)
    summ = layers.summarise_run(spans)
    assert summ["cuts"] == 1 and summ["cut_wall"] == pytest.approx(1.0)


def test_spans_of_run_reindexes_parents():
    spans = [
        layers.Span("run", 0, None, run=1, end=4),
        layers.Span("run", 5, None, run=2, end=9),
        layers.Span("tracking", 6, 1, run=2, end=7),
    ]
    mine = layers.spans_of_run(spans, 2)
    assert [s.name for s in mine] == ["run", "tracking"]
    assert mine[1].parent == 0


def test_metric_names_are_valid_and_match_benchmark_json():
    names = {**run.END_TO_END, **run.per_layer_names()}
    for name, unit in names.items():
        assert NAME.match(name), name
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", unit), unit
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_names()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_contention_is_flagged_from_foreign_cpu_and_steal():
    quiet = host.classify(10.0, own_cpu_s=30.0, host_busy_s=31.0, steal_s=0.1,
                          loadavg=3.0, n_cores=4)
    assert not quiet.contended and quiet.foreign_cpu_s == pytest.approx(1.0)
    busy = host.classify(10.0, own_cpu_s=30.0, host_busy_s=40.0, steal_s=0.0,
                         loadavg=4.0, n_cores=4)
    assert busy.contended
    stolen = host.classify(10.0, own_cpu_s=30.0, host_busy_s=30.0, steal_s=3.0,
                           loadavg=4.0, n_cores=4)
    assert stolen.contended


def test_tree_probes_see_this_process():
    assert os.getpid() in host.tree_pids(os.getpid())
    assert host.tree_rss_mb(os.getpid()) > 1.0


def test_spawned_child_in_parent_address_space_counts_once():
    def stat(ppid, vsize, rss):
        # fields after the command name: state, ppid, ..., vsize, rss, ...
        return ["S", str(ppid)] + ["0"] * 18 + [str(vsize), str(rss)] + ["0"] * 10
    jvm = stat(1, 9_000_000, 640_000)
    assert host.shares_parent_memory(stat(100, 9_000_000, 640_000), jvm)
    assert not host.shares_parent_memory(stat(100, 12_000, 300), jvm)
    assert not host.shares_parent_memory(jvm, None)
    assert host.tree_cpu_s(os.getpid()) > 0.0


def test_digest_is_order_insensitive_and_value_sensitive():
    import pandas as pd

    df = pd.DataFrame({"b": [1.0, 2.5, -3.0], "a": ["x", "y", "z"], "n": [1, 2, 3]})
    d = workloads.table_digest(df)
    shuffled = df.sample(frac=1.0, random_state=3)[["n", "a", "b"]]
    assert workloads.table_digest(shuffled) == d
    changed = df.copy()
    changed.loc[1, "b"] = 2.5000001
    assert workloads.table_digest(changed) != d


def test_generator_is_seeded():
    shape = workloads.WORKLOADS["tl_small_frames"][1]
    a = workloads.timelapse_bytes(7, shape)
    assert a == workloads.timelapse_bytes(7, shape)
    assert a != workloads.timelapse_bytes(8, shape)
    assert a[:5] == workloads.FAKE_MAGIC


@pytest.mark.parametrize("seed", [0, 1, 4295, 2**40 + 7, -3])
def test_generator_takes_any_integer_seed(seed, tmp_path):
    shape = workloads.WORKLOADS["tl_small_frames"][1]
    workloads.generate(shape, seed, str(tmp_path / "in"), str(tmp_path / "c.json"))
    assert len(os.listdir(tmp_path / "in")) == shape.n_timelapses
    # seed 1 keeps the streams its digests in expected.json were taken from
    assert workloads.timelapse_seed(1, 2) == 1_000_005


def test_event_log_groups_tasks_by_layer_tag(tmp_path):
    def task(stage, run_ms, cpu_ns, shuffle):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms + 30},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": 5, "Executor Deserialize Time": 10,
                "Result Serialization Time": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {
             "spark.job.tags": "spark-session-x-thread-y-layer:tracking,spark-session-x"}},
        task(0, 200, 1e8, 64),
        task(0, 100, 5e7, 32),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1], "Properties": {}},
        task(1, 10, 1e6, 0),
    ]
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    jobs = layers.read_event_log(str(tmp_path), "local-1")
    assert [j["layer"] for j in jobs] == ["tracking", "untagged"]
    t = jobs[0]
    assert t["tasks"] == 2 and t["shuffle_bytes"] == 96
    assert t["run_s"] == pytest.approx(0.3) and t["cpu_s"] == pytest.approx(0.15)
    # 30 ms of each task's wall is neither run nor deserialise time
    assert t["sched_wait_s"] == pytest.approx(0.04)
    assert len(layers.jobs_in(jobs, 1.9, 2.1)) == 1


# ---------------------------------------------------------------------
# end to end, at the tiny scale


def _bench(*args):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--scale", "tiny",
         "--seconds", "1", *args],
        capture_output=True, text=True, cwd=ROOT, timeout=400,
    )
    return p, json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_end_to_end(workload):
    p, res = _bench("--workload", workload, "--seed", str(random.randint(2, 99)),
                    "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 4
    assert set(res["metrics"]) == set(run.END_TO_END)
    for name, m in res["metrics"].items():
        assert m["value"] > 0, name
        assert m["unit"] == run.END_TO_END[name]
    assert "failed_ratio" in p.stdout


def test_traced_run_reports_every_layer():
    p, res = _bench("--workload", "tl_dense_cells", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    assert set(res["metrics"]) == set(run.per_layer_names())
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.coverage"] > 0.5
    assert m["checkpoint.cuts"] >= 4
    assert m["features.m4.cells_out"] == m["qc_filters.rows_out"]


def test_injected_failure_is_counted():
    p, res = _bench("--workload", "tl_small_frames", "--trace", "0",
                    "--inject-failure", "2")
    assert p.returncode == 1
    assert res["correct"] is False
    assert res["failed"] == 1 and res["attempted"] >= 4
    ratio = float(re.search(r"^failed_ratio\s+(\S+)", p.stdout, re.M).group(1))
    assert ratio == pytest.approx(1 / res["attempted"], abs=1e-4)


def test_refuses_to_run_without_the_program(tmp_path):
    bare = tmp_path / "checkout"
    (bare / "perfbench").mkdir(parents=True)
    for name in ("run.py", "host.py", "layers.py", "workloads.py", "expected.json"):
        (bare / "perfbench" / name).write_bytes(open(os.path.join(BENCH, name), "rb").read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tl_small_frames",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=bare, timeout=60,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
