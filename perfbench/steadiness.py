"""Steadiness report: run the benchmark repeatedly on one commit and
give, per workload and metric, the median and the quartile spread
(Q3 - Q1, as a share of the median, from ``statistics.quantiles(n=4)``),
next to the bound ``BENCHMARK.json`` sets.

With ``--trace 1`` it prints, per workload, each layer's median wall
time, jobs and ``cache_left`` (the leak tally), and the tracing
overhead: untraced over traced ``items_per_s``, when a ``--trace 0``
report of the same workloads exists.

    python3 perfbench/steadiness.py --seeds 1-10
    python3 perfbench/steadiness.py --seeds 1-5 --workloads text_curation --trace 1

Run from the repository root. Each run's stderr goes to
``.perfbench_work/steadiness/``; the report is printed and written there
as ``report-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.getcwd(), ".perfbench_work", "steadiness")


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median; 0 for fewer than two values or a zero median."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def main(argv=None) -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    os.makedirs(OUT, exist_ok=True)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report: dict = {}
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        runs = []
        for seed in _seeds(args.seeds):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            tag = f"{wl}-t{args.trace}-s{seed}"
            with open(os.path.join(OUT, f"{tag}.err"), "w") as err:
                proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
            with open(os.path.join(OUT, f"{tag}.err")) as err:
                info = [json.loads(x) for x in err if x.startswith('{"workload"')]
            runs.append({"seed": seed, "exit": proc.returncode, "result": result, "info": info[-1] if info else None})
            if result is None:
                print(f"{tag}: exit {proc.returncode}, no result", file=sys.stderr)
                continue
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{tag}: correct={result['correct']} failed={result['failed']}/{result['attempted']}", file=sys.stderr)
        rows = {
            name: {
                "median": statistics.median(v),
                "spread": spread(v),
                "bound": bounds.get(name),
                "values": v,
            }
            for name, v in values.items()
        }
        ips = [r["info"]["items_per_s"] for r in runs if r["info"] and "items_per_s" in r["info"]]
        report[wl] = {"runs": runs, "metrics": rows, "items_per_s": statistics.median(ips) if ips else None}
        if args.trace:
            _print_layers(wl, rows)
            untraced = _load(0).get(wl, {}).get("items_per_s")
            if untraced and ips:
                print(f"{wl:>14}  tracing overhead: untraced {untraced:.2f} / traced "
                      f"{report[wl]['items_per_s']:.2f} items/s = {untraced / report[wl]['items_per_s'] - 1:+.1%}")
            continue
        for name, r in rows.items():
            bound = "" if r["bound"] is None else f"  bound {r['bound']:.2f}  spread/bound {r['spread'] / r['bound']:.2f}"
            print(f"{wl:>14}  {name:<12} median {r['median']:12.4f}  spread {r['spread']:.3f}{bound}")
    with open(os.path.join(OUT, f"report-t{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


def _load(trace: int) -> dict:
    path = os.path.join(OUT, f"report-t{trace}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _print_layers(wl: str, rows: dict) -> None:
    layers = sorted({k.split(".")[0] for k in rows if k.endswith(".calls")})
    print(f"{wl:>14}  {'layer':<11} {'calls':>6} {'wall_s':>8} {'driver_s':>9} {'jobs':>6} {'eager':>6} "
          f"{'exec_cpu_s':>10} {'pyworker_s':>10} {'cache_left':>10}")
    for layer in layers:
        m = {k: rows[f"{layer}.{k}"]["median"] for k in
             ("calls", "wall_s", "driver_s", "jobs", "eager_jobs", "exec_cpu_s", "pyworker_s", "cache_left")}
        print(f"{wl:>14}  {layer:<11} {m['calls']:6.0f} {m['wall_s']:8.2f} {m['driver_s']:9.2f} {m['jobs']:6.0f} "
              f"{m['eager_jobs']:6.0f} {m['exec_cpu_s']:10.2f} {m['pyworker_s']:10.2f} {m['cache_left']:10.0f}")


if __name__ == "__main__":
    sys.exit(main())
