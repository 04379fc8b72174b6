"""Run one workload on several seeds and summarise each metric's spread.

    python3 perfbench/spread.py --workload lake --seeds 1-10 [--out FILE]

Runs ``run.py`` once per seed, one after another, from the root of the
checkout and with the ``run_seconds`` of ``BENCHMARK.json`` (run length is
part of the benchmark, so two versions are compared at the same length),
and prints each end-to-end metric's median and the distance
between its first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``): the figure that two sets of runs
are compared by. With ``--out`` it also writes every run's result, set-up
phases, host probes and diagnostics, and the summary, as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBES = ("cpu_probe_pre_s", "cpu_probe_post_s", "spark_probe_pre_s", "spark_probe_post_s",
          "cpu_pressure_pre", "cpu_pressure_post", "cpu_steal_share")


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = map(int, spec.split("-"))
        return list(range(lo, hi + 1))
    return [int(s) for s in spec.split(",")]


def summarise(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        xs = [r["metrics"][name] for r in runs]
        m = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (m, m, m)
        out[name] = {"median": m, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / m}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="'1-10' or '1,5,9'")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]

    runs, config = [], {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        record, res = json.loads(lines[-2]), json.loads(lines[-1])
        config = {k: v for k, v in record["config"].items() if k not in ("seed", "work_dir")}
        run = {
            "seed": seed, "wall_s": wall,
            **{k: res[k] for k in ("correct", "attempted", "failed")},
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "phases": record.get("phases"),
            "probes": {k: record.get(k) for k in PROBES},
            "diagnostics": record.get("diagnostics"),
        }
        runs.append(run)
        print(json.dumps({k: run[k] for k in ("seed", "wall_s", "correct", "metrics")}), flush=True)

    summary = summarise(runs)
    for name, s in summary.items():
        print(f"{name:16s} median {s['median']:12.3f}  iqr/median {s['iqr_share']:.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "config": config, "summary": summary, "runs": runs}, f, indent=1)
            f.write("\n")
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
