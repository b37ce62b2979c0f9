"""Benchmark entry point.

    python3 perfbench/run.py --workload detection --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. Generates seeded inputs under
``.perfbench_work/``, sets up a ``local[nproc]`` session several times
(the first start launches the JVM; set-up time is the median), then
runs whole passes of the workload's closed loop for ``--seconds`` and
prints a table of the end-to-end metrics and one JSON result as the
last line of stdout, with an ``info`` JSON line on stderr.

``--trace 0`` reports the end-to-end metrics named in ``BENCHMARK.json``.
``--trace 1`` traces every pass, reports the per-layer metrics and writes
the spans to ``.perfbench_work/traces/``; its ``items_per_s`` (stderr
``info`` line and table) against an untraced run of the same seed is the
tracing overhead, which ``steadiness.py`` reports.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
DRIVER_MEMORY = "2g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, help="detection | text_curation | all (both) | det_eval | dataset_edit")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _require_repo() -> None:
    if not os.path.isfile(os.path.join(ROOT, "lours_spark", "__init__.py")):
        sys.exit("perfbench: run from the repository root (no lours_spark/ package here)")
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _isolate(run_dir: str) -> None:
    """Keep every file Spark and its workers write inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    # Python workers unpickle functions defined in lours_spark: put the
    # checkout (and the benchmark's own modules) on their import path
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])


def _session(run_dir: str):
    from lours_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        cpus=os.cpu_count(),
        shuffle_partitions=2 * os.cpu_count(),
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # keep every job, stage and SQL execution of a run in the
            # status stores that the traced runs read
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "10000",
            "spark.sql.ui.retainedExecutions": "5000",
        },
    )


def _warm_python_workers(spark) -> None:
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInArrow(lambda it: it, "id long").count()


def _stop_all(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_one(args) -> dict:
    t_run = time.perf_counter()
    import numpy as np

    import procstat
    from harness import EXTRA_METRICS, LAYER_METRICS, LAYERS, CallFailed, Harness, layer_metrics, tail
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)

    # inputs: generated outside set-up and outside every timed region
    t_gen = time.perf_counter()
    inp_dir = os.path.join(run_dir, "inputs")
    os.makedirs(inp_dir)
    inp = wl.prepare(np.random.default_rng(args.seed), inp_dir)
    gen_s = time.perf_counter() - t_gen

    spark = None
    starts, warmups = [], []
    attempted = failed = 0
    passes: list[dict] = []
    with procstat.RssSampler() as sampler:
        try:
            # set up several times: the first start launches the JVM, the
            # later ones restart the SparkContext inside it
            for _ in range(SETUPS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = _session(run_dir)
                t1 = time.perf_counter()
                _warm_python_workers(spark)
                starts.append(t1 - t0)
                warmups.append(time.perf_counter() - t1)
            spark.sparkContext.setLogLevel("ERROR")
            h = Harness(spark, sampler, trace=bool(args.trace))
            # measured passes: whole passes while the next one is expected
            # to end within --seconds, at least one. The first pass runs in
            # the freshly set-up session and takes the deep checks.
            t_start = time.perf_counter()
            last = 0.0
            while not passes or time.perf_counter() - t_start + last <= args.seconds:
                t0 = time.perf_counter()
                h.begin_pass(f"{wl.name}-{args.seed}-pass{len(passes)}")
                ok = True
                try:
                    wl.run(h, spark, inp, deep=not passes)
                except CallFailed:
                    ok = False
                rec = h.end_pass()
                rec["complete"] = ok
                passes.append(rec)
                last = time.perf_counter() - t0
            attempted += h.attempted
            failed += h.failed
        finally:
            if spark is not None:
                _stop_all(spark)
    setup_s = statistics.median(a + b for a, b in zip(starts, warmups))

    # every pass must reproduce the first pass's results
    ref = passes[0]["digests"] if passes[0]["complete"] else None
    consistent = ref is not None and all(p["digests"] == ref for p in passes if p["complete"])
    done = [p for p in passes if p["complete"]]
    items = wl.items(inp)
    walls = [c["wall_s"] for p in done for c in p["calls"]]
    result = {
        "correct": failed == 0 and consistent,
        "attempted": attempted,
        "failed": failed + (0 if consistent else 1),
    }
    info = {
        "workload": wl.name,
        "seed": args.seed,
        "traced": bool(args.trace),
        "input_rows": inp["rows"],
        "input_digest": inp["digest"],
        "generate_s": gen_s,
        "setup": {"starts_s": starts, "worker_warmups_s": warmups},
        "passes": len(passes),
        "calls_per_pass": len(done[0]["calls"]) if done else 0,
        "call_walls_s": [(c["name"], round(c["wall_s"], 3)) for c in (done[0]["calls"] if done else [])],
        "items": items,
    }
    e2e = {}
    if done:
        tail_v, tail_p = tail(walls)
        e2e = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (statistics.median(items / p["wall_s"] for p in done), "items/s"),
            "call_p50_s": (statistics.median(walls), "s"),
            "call_tail_s": (tail_v, "s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in done), "s"),
            "peak_rss_mb": (statistics.median(p["peak_rss_mb"] for p in done), "MB"),
            "failed_frac": (result["failed"] / max(attempted, 1), "ratio"),
        }
        info.update(items_per_s=e2e["items_per_s"][0], call_tail_pct=tail_p, call_samples=len(walls))
    if args.trace:
        per_layer = layer_metrics(done) if done else {}
        per_layer["session.start_s"] = statistics.median(starts)
        per_layer["session.warmup_s"] = statistics.median(warmups)
        names = [f"{l}.{m}" for l in LAYERS for m in LAYER_METRICS] + list(EXTRA_METRICS)
        units = {**{f"{l}.{m}": u for l in LAYERS for m, u in LAYER_METRICS.items()}, **EXTRA_METRICS}
        result["metrics"] = {n: {"value": per_layer.get(n, 0.0), "unit": units[n]} for n in names}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{wl.name}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"info": info, "spans": h.spans, "per_layer": per_layer}, f)
        info["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            reported = [m["name"] for m in json.load(f)["end_to_end"]]
        result["metrics"] = {n: {"value": e2e[n][0], "unit": e2e[n][1]} for n in reported if n in e2e}
    info["run_s"] = time.perf_counter() - t_run
    _report(info, e2e)
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def _report(info: dict, e2e: dict) -> None:
    print(json.dumps(info), file=sys.stderr)
    for name, (value, unit) in e2e.items():
        extra = ""
        if name == "call_tail_s":
            extra = f"  (p{info['call_tail_pct']:.1f} of {info['call_samples']} calls)"
        print(f"{info['workload']:>14}  {name:<12} {value:14.4f} {unit}{extra}")


def main(argv=None) -> int:
    args = _parse(argv)
    _require_repo()
    if args.workload == "all":
        from workloads import BENCHMARK_WORKLOADS

        ok = True
        for name in BENCHMARK_WORKLOADS:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            ok = subprocess.run(cmd, check=False).returncode == 0 and ok
        return 0 if ok else 1
    result = run_one(args)
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
