"""Run sets of benchmark runs and summarise them.

    python3 perfbench/sets.py --seeds 1-10 [--workloads a,b] [--traced] [--out FILE]

Runs ``perfbench/run.py`` once per (workload, seed), each in a fresh
process, and prints per workload and end-to-end metric the median, the
quartiles and the quartile spread as a share of the median (the figure
``BENCHMARK.json``'s bounds are judged against). Workloads default to
the gated ones. With both ``ingest_mor`` and ``ingest_1core`` it also
prints the derived ``scaling_eff_1to4``: median ``ingest_events_per_s``
of ``ingest_mor`` divided by 4 x that of ``ingest_1core`` (not gated). ``--traced`` adds one traced run per workload, prints its
per-layer metrics and the tracing overhead (traced run's end-to-end
figure against the untraced median).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, list[str]]:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = time.monotonic() - t0
    return res, lines[:-1]


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--traced", action="store_true")
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report: dict = {"workloads": {}}
    for wl in names:
        runs = []
        for seed in _seeds(args.seeds):
            res, _ = run_once(wl, seed, bench["run_seconds"], 0)
            runs.append(res)
            print(f"{wl} seed {seed}: wall={res['wall_s']:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} " + " ".join(
                      f"{m}={res['metrics'][m]['value']:.4g}" for m in bounds), flush=True)
        metrics = {
            m: summarise([r["metrics"][m]["value"] for r in runs]) for m in bounds}
        entry = {"correct": all(r["correct"] for r in runs), "metrics": metrics,
                 "run_wall_s": [round(r["wall_s"], 1) for r in runs]}
        print(f"\n{wl}  ({len(runs)} runs)")
        for m, s in metrics.items():
            flag = "" if s["spread"] <= bounds[m] / 3 else "  <-- spread above bound/3"
            print(f"  {m:<30} median {s['median']:>12.4f}  "
                  f"spread {s['spread']:.3f} (bound {bounds[m]}){flag}")
        if args.traced:
            res, lines = run_once(wl, _seeds(args.seeds)[0], bench["run_seconds"], 1)
            traced = json.loads(
                next(x for x in lines if x.startswith("traced end-to-end: ")).split(": ", 1)[1])
            entry["per_layer"] = {k: v["value"] for k, v in res["metrics"].items()}
            entry["tracing_overhead"] = {
                m: traced[m] / metrics[m]["median"] - 1 for m in metrics if metrics[m]["median"]}
            print("  per-layer (traced run):")
            for k, v in entry["per_layer"].items():
                print(f"    {k:<40} {v:14.4f} {res['metrics'][k]['unit']}")
            print("  tracing overhead (traced / untraced median - 1):")
            for m, v in entry["tracing_overhead"].items():
                print(f"    {m:<30} {v:+.3f}")
        report["workloads"][wl] = entry
        print(flush=True)
    w = report["workloads"]
    if "ingest_mor" in w and "ingest_1core" in w:
        eff = (w["ingest_mor"]["metrics"]["ingest_events_per_s"]["median"]
               / (4 * w["ingest_1core"]["metrics"]["ingest_events_per_s"]["median"]))
        report["scaling_eff_1to4"] = eff
        print(f"scaling_eff_1to4 {eff:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
