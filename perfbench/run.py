"""CellPhe pipeline benchmark: one workload, one process, one client.

    python3 perfbench/run.py --workload tl_small_frames --seed 1 --seconds 10 --trace 0

Run from the repository root. The program is driven only through its
CLI (``cellphe_data_pipeline_spark.__main__.main``: scan ->
``run_pipeline_from_config`` -> ``publish``) on ``local[<cores>]``, in a
closed loop: each run starts when the previous one has ended.

A run of the benchmark: generate the inputs from the seed; set up a
SparkSession (the cold start, then nine restarts); one first run
(codegen, Python-worker start); then steady runs until ``--seconds`` have
passed (at least three). Every run's published tables are checked (see
``workloads.check_outputs``) outside its timing. ``--trace 1`` alternates
traced and untraced steady runs and reports per-layer numbers (see
``layers``). The last stdout line is the JSON result; the lines before
it are a readable report, and the full record is written under
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
import workloads  # noqa: E402

MIN_STEADY = 3
MIN_TRACED = 2
#: untimed runs between the first run and the measured window: the JIT
#: is still compiling the hot paths for several runs after the first
WARMUP_RUNS = 1
SETUP_RESTARTS = 9
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "first_run_s": "s",
    "frames_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: layer -> metrics reported for it in the traced run
LAYER_METRICS = {
    "images.scan": ["wall_s", "bytes_in"],
    "images.fused_kernel": ["wall_s", "cpu_s", "tree_cpu_s", "tasks", "frames_out"],
    "tracking": ["wall_s", "cpu_s", "shuffle_bytes", "edges_out"],
    "lineage": ["wall_s", "jobs", "shuffle_bytes"],
    "qc_filters": ["wall_s", "rows_in", "rows_out"],
    "movement": ["wall_s", "cpu_s"],
    "timeseries": ["wall_s", "cpu_s"],
    "features.m4": ["wall_s", "cpu_s", "tree_cpu_s", "cells_out"],
    "joins.density": ["wall_s", "shuffle_bytes"],
    "pipeline.self": ["wall_s"],
    "io.publish": ["wall_s", "bytes_out"],
    "checkpoint": ["wall_s", "cuts"],
    "spark": ["jobs", "tasks", "sched_wait_s", "core_util", "gc_s", "spill_bytes"],
    "host": ["steal_s", "foreign_cpu_s", "loadavg"],
    "trace": ["wall_s", "untraced_wall_s", "overhead_ratio", "coverage"],
}
UNITS = {
    "wall_s": "s", "cpu_s": "s", "tree_cpu_s": "s", "sched_wait_s": "s",
    "gc_s": "s", "steal_s": "s", "foreign_cpu_s": "s", "untraced_wall_s": "s",
    "bytes_in": "bytes", "bytes_out": "bytes", "shuffle_bytes": "bytes",
    "spill_bytes": "bytes", "core_util": "ratio", "overhead_ratio": "ratio",
    "coverage": "ratio", "loadavg": "load",
}


def per_layer_names() -> dict[str, str]:
    return {
        f"{layer}.{m}": UNITS.get(m, "count")
        for layer, ms in LAYER_METRICS.items()
        for m in ms
    }


def pin_environment(work: str) -> dict:
    """Worker environment: every core, local dirs inside the checkout,
    the repo root on the Python workers' path."""
    n = host.cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # both JVMs (spark-submit's launcher and the driver) keep their
    # temporary files inside the work directory too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the package defaults to an 8 GiB driver heap, which the JVM grows
    # into freely; 2 GiB holds every workload here and keeps the
    # benchmark's footprint small on a shared host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {"cores": n}


class Bench:
    def __init__(self, args, shape: workloads.Shape, work: str, env: dict):
        self.args = args
        self.shape = shape
        self.work = work
        self.env = env
        self.in_dir = os.path.join(work, "input")
        self.config = os.path.join(work, "config.json")
        self.runs: list[dict] = []
        self.spark = None
        self.tracer = None

    # -- session -------------------------------------------------------

    def _conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # the driver heap is committed and touched up front, so its
            # RSS is the same 2 GiB in every invocation instead of
            # following the collector's resizing from run to run
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                }
            )
            os.makedirs(os.path.join(self.work, "eventlog"), exist_ok=True)
        return conf

    def _start_session(self) -> float:
        t0 = time.perf_counter()
        from cellphe_data_pipeline_spark.session import get_spark

        spark = get_spark(app_name="perfbench", extra_conf=self._conf())
        spark.range(1).count()
        dt = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        return dt

    def setup(self) -> dict:
        cold = self._start_session()
        warm = []
        for _ in range(SETUP_RESTARTS):
            self.spark.stop()
            warm.append(self._start_session())
        return {"setup_cold_s": cold, "setup_restarts_s": warm}

    # -- runs ----------------------------------------------------------

    def one_run(self, phase: str, traced: bool = False) -> dict:
        from cellphe_data_pipeline_spark.__main__ import main as cli_main

        k = len(self.runs)
        out = os.path.join(self.work, "out", f"run-{k}")
        argv = ["--input", self.in_dir, "--config", self.config, "--out", out]
        rec = {"run": k, "phase": phase, "traced": traced, "ok": False}
        probe = host.Interval().start()
        epoch0 = time.time()
        t0 = time.perf_counter()
        try:
            if k + 1 == self.args.inject_failure:
                raise RuntimeError("injected failure")
            # the CLI prints one line per published stage; keep stdout
            # for the report
            with contextlib.redirect_stdout(sys.stderr):
                if traced:
                    with self.tracer.traced_run(k):
                        rc = cli_main(argv)
                else:
                    rc = cli_main(argv)
            if rc != 0:
                raise RuntimeError(f"CLI exited with {rc}")
        except Exception as exc:  # a failed run is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        rec["wall_s"] = time.perf_counter() - t0
        rec["epoch"] = (epoch0, time.time())
        rec["host"] = probe.stop(rec["wall_s"]).as_dict()
        if "error" not in rec:
            try:
                rec.update(workloads.check_outputs(out, self.shape))
                rec["ok"] = True
            except (workloads.OutputError, OSError, KeyError) as exc:
                rec["error"] = f"output check: {exc}"
        shutil.rmtree(out, ignore_errors=True)
        self.runs.append(rec)
        return rec

    def loop(self) -> None:
        self.one_run("first")
        for _ in range(WARMUP_RUNS):
            self.one_run("warmup")
        t_end = time.perf_counter() + self.args.seconds
        steady = 0
        while True:
            traced = bool(self.args.trace) and steady % 2 == 0
            self.one_run("steady", traced)
            steady += 1
            n_traced = sum(r["traced"] for r in self.runs)
            enough = steady >= MIN_STEADY and (
                not self.args.trace or n_traced >= MIN_TRACED
            )
            if enough and time.perf_counter() >= t_end:
                break


def stop_jvm(timeout_s: float = 60.0) -> None:
    """End the driver JVM and wait until it and the Python workers it
    started have exited. The JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while len(host.tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def correctness(runs: list[dict], workload: str, seed: int, scale: str) -> list[str]:
    problems = [f"run {r['run']}: {r['error']}" for r in runs if not r["ok"]]
    digests = {r["digest"] for r in runs if r["ok"]}
    if len(digests) > 1:
        problems.append(f"digests differ across runs: {sorted(digests)}")
    if seed == workloads.DEFAULT_SEED and digests:
        with open(os.path.join(HERE, "expected.json")) as f:
            want = json.load(f).get(workload, {}).get(scale)
        if want is not None and digests != {want}:
            problems.append(f"digest {sorted(digests)} != recorded {want}")
    return problems


def steady_walls(runs: list[dict]) -> tuple[list[float], int]:
    """Walls of the passing untraced steady runs, and how many of them
    are contended. The median is taken over the uncontended ones when
    at least half of the runs (and two) are uncontended, so a burst of
    load from outside the benchmark does not move it."""
    ok = [r for r in runs if r["phase"] == "steady" and r["ok"] and not r["traced"]]
    clean = [r for r in ok if not r["host"]["contended"]]
    use = clean if len(clean) >= max(2, len(ok) / 2) else ok
    return sorted(r["wall_s"] for r in use), len(ok) - len(clean)


def end_to_end(bench: Bench, setup: dict, peak_mb: float) -> dict:
    wall = _median(steady_walls(bench.runs)[0])
    return {
        "setup_s": _median(setup["setup_restarts_s"]),
        "wall_s": wall,
        "first_run_s": bench.runs[0]["wall_s"],
        "frames_per_s": bench.shape.frames / wall if wall else 0.0,
        "peak_rss_mb": peak_mb,
    }


def _sum_jobs(jobs: list[dict]) -> dict:
    out = {"jobs": len(jobs)}
    for key in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_bytes",
                "spill_bytes", "sched_wait_s"):
        out[key] = sum(j[key] for j in jobs)
    return out


def per_layer(bench: Bench, app_id: str) -> tuple[dict, list[dict]]:
    """Median over the traced steady runs of every per-layer metric."""
    import layers

    jobs = layers.read_event_log(os.path.join(bench.work, "eventlog"), app_id)
    steady = [r for r in bench.runs if r["phase"] == "steady" and r["ok"]]
    names = per_layer_names()
    per_run = []
    for r in (r for r in steady if r["traced"]):
        summ = layers.summarise_run(layers.spans_of_run(bench.tracer.spans, r["run"]))
        run_jobs = layers.jobs_in(jobs, *r["epoch"])
        executor = {
            layer: _sum_jobs([j for j in run_jobs if j["layer"] == layer])
            for layer in LAYER_METRICS
        }
        executor["spark"] = _sum_jobs([j for j in run_jobs if j["layer"] != layers.COUNT])
        executor["spark"]["core_util"] = (
            executor["spark"]["run_s"] / (r["wall_s"] * bench.env["cores"])
        )
        values = {
            **{f"{lay}.{k}": v for lay, d in executor.items() for k, v in d.items()},
            **{f"{lay}.{k}": v for lay, d in summ["counts"].items() for k, v in d.items()},
            **{f"{lay}.wall_s": v for lay, v in summ["wall"].items()},
            **{f"{lay}.tree_cpu_s": v for lay, v in summ["tree_cpu"].items()},
            "pipeline.self.wall_s": summ["pipeline_self"],
            "checkpoint.wall_s": summ["cut_wall"],
            "checkpoint.cuts": summ["cuts"],
            **{f"host.{k}": r["host"][k] for k in ("steal_s", "foreign_cpu_s", "loadavg")},
            "trace.wall_s": r["wall_s"],
            "trace.coverage": summ["coverage"],
        }
        m = {k: values.get(k, 0.0) for k in names}
        per_run.append({"run": r["run"], "metrics": m, "self_s": summ["self"]})
    out = {k: _median([p["metrics"][k] for p in per_run]) for k in names}
    # the untraced runs interleaved with the traced ones give the overhead
    u = _median([r["wall_s"] for r in steady if not r["traced"]])
    out["trace.untraced_wall_s"] = u
    out["trace.overhead_ratio"] = out["trace.wall_s"] / u if u else 0.0
    return out, per_run


def report(lines: list[tuple[str, float, str]]) -> None:
    for name, value, unit in lines:
        print(f"{name:<34} {value:>14.4f} {unit}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=workloads.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: minimal inputs for the benchmark's own tests")
    ap.add_argument("--inject-failure", type=int, default=0, metavar="K",
                    help="make run K (1 = the first run) raise; for tests")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cellphe_data_pipeline_spark", "__main__.py")):
        print(f"perfbench: no cellphe_data_pipeline_spark package under {ROOT}",
              file=sys.stderr)
        return 2

    full, tiny = workloads.WORKLOADS[args.workload]
    shape = tiny if args.scale == "tiny" else full
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    bench = Bench(args, shape, work, env)
    try:
        t0 = time.perf_counter()
        bytes_in = workloads.generate(shape, args.seed, bench.in_dir, bench.config)
        gen_s = time.perf_counter() - t0
        setup = bench.setup()
        import pyspark

        if args.trace:
            import layers

            bench.tracer = layers.Tracer(bench.spark)
            bench.tracer.install()
        with host.RssSampler() as rss:
            bench.loop()
        app_id = bench.spark.sparkContext.applicationId
        if bench.tracer is not None:
            bench.tracer.uninstall()
        bench.spark.stop()
        bench.spark = None
        problems = correctness(bench.runs, args.workload, args.seed, args.scale)
        e2e = end_to_end(bench, setup, rss.peak_mb)
        layer_m, layer_runs = per_layer(bench, app_id) if args.trace else ({}, [])
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(bench.runs)
    failed = sum(not r["ok"] for r in bench.runs)
    steady, n_contended = steady_walls(bench.runs)
    contended = [r["run"] for r in bench.runs if r["host"]["contended"]]
    record = {
        "workload": args.workload,
        "scale": args.scale,
        "shape": vars(shape) | {"frames": shape.frames},
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "versions": {
            "cores": env["cores"],
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
        },
        "input_bytes": bytes_in,
        "generate_s": gen_s,
        **setup,
        "end_to_end": e2e,
        "failed_ratio": failed / attempted,
        # the highest percentile the sample count supports, and the count
        "wall_max_s": steady[-1] if steady else None,
        "wall_max_percentile": round(100 * (1 - 1 / len(steady))) if steady else None,
        "steady_samples": len(steady),
        "steady_contended": n_contended,
        "contended_runs": contended,
        "per_layer": layer_m,
        "per_layer_runs": layer_runs,
        "runs": bench.runs,
        "problems": problems,
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    art = os.path.join(
        HERE, "results", f"{args.workload}-{args.scale}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(art, "w") as f:
        json.dump(record, f, indent=1, default=float)

    print(f"workload {args.workload} ({args.scale}, seed {args.seed}): "
          f"{shape.frames} frames, {env['cores']} cores, Spark "
          f"{record['versions']['spark']}, Python {record['versions']['python']}")
    report([(k, v, END_TO_END[k]) for k, v in e2e.items()])
    report([
        ("failed_ratio", record["failed_ratio"], "ratio"),
        ("setup_cold_s", setup["setup_cold_s"], "s"),
        (f"wall_max_s (p{record['wall_max_percentile']}, n={len(steady)})",
         record["wall_max_s"] or 0.0, "s"),
    ])
    units = per_layer_names()
    report([(k, v, units.get(k, "")) for k, v in sorted(layer_m.items())])
    print(f"contended runs: {contended or 'none'} of {attempted} "
          f"({n_contended} steady run(s) left out of wall_s); artifact {art}")
    for p in problems:
        print(f"CHECK FAILED: {p}")

    if args.trace:
        metrics = {k: {"value": layer_m.get(k, 0.0), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
