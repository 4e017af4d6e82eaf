"""Print every metric, with its unit, for every workload.

    python3 perfbench/report.py [--seed 42] [--seconds 10] [--workload NAME ...]

Runs ``run.py`` once untraced (end-to-end metrics) and once traced
(per-layer metrics) per workload, as separate processes, then prints one
table per workload: the BENCHMARK.json metrics, ``failed_frac`` and the
per-part wall times the traced run wrote to its trace file. Defaults to
the workloads listed in BENCHMARK.json; ``pages_profile_grouped`` runs
only when named.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} --trace {trace} exited with {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--workload", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()

    for wl in args.workload:
        plain = run(wl, args.seed, args.seconds, 0)
        traced = run(wl, args.seed, args.seconds, 1)
        with open(os.path.join(HERE, ".cache", "traces", f"{wl}-seed{args.seed}.json")) as fh:
            trace = json.load(fh)
        print(f"\n== {wl} (seed {args.seed}, {trace['cpus']} cores) "
              f"correct={plain['correct'] and traced['correct']} "
              f"failed_frac={(plain['failed'] + traced['failed']) / (plain['attempted'] + traced['attempted']):.3f} "
              f"fixture_gen_s={trace['fixture_gen_s']:.1f}")
        for name, m in {**plain["metrics"], **traced["metrics"]}.items():
            print(f"  {name:42s} {m['value']:>16.6g} {m['unit']}")
        for name, value in trace["part_wall_s"].items():
            print(f"  {name:42s} {value:>16.6g} s")


if __name__ == "__main__":
    main()
