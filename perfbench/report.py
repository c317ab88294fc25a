"""Print every benchmark metric per workload, with units.

    python3 perfbench/report.py [--seed N] [--seconds S] [--workloads a,b]

For each workload (default: those in BENCHMARK.json) this makes one
untraced and one traced run with ``run.py`` and prints the end-to-end
metrics, the failed share, and the tracing overhead (traced against
untraced ``pass_s``), followed by the traced run's per-layer metrics
that are not zero.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"{workload} (trace {trace}) failed:\n{p.stderr[-3000:]}")
    info, result = (json.loads(line) for line in p.stdout.splitlines()[-2:])
    return info, result


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()

    for wl in a.workloads.split(","):
        info, plain = run(wl, a.seed, a.seconds, 0)
        _, traced = run(wl, a.seed, a.seconds, 1)
        m, layers = plain["metrics"], traced["metrics"]
        traced_pass = layers["run.traced_pass_s"]["value"]
        print(f"== {wl}  seed {a.seed}  dataset {info['dataset']}  "
              f"cores {info['cores']}  driver_mem {info['driver_mem']}  "
              f"host_mem {info['host_mem_gb']} GB")
        for name, v in m.items():
            extra = f"  ({info['pass_samples']} passes)" if name == "pass_s" else ""
            print(f"  {name:<14} {v['value']:>10.3f} {v['unit']}{extra}")
        print(f"  {'peak_rss_mb':<14} {info['peak_rss_mb']:>10.1f} MB")
        print(f"  {'failed_share':<14} {info['failed_share']:>10.3f} "
              f"({plain['failed']}/{plain['attempted']}, traced run "
              f"{traced['failed']}/{traced['attempted']})")
        print(f"  {'trace_overhead':<14} {traced_pass / m['pass_s']['value'] - 1:>+10.1%} "
              f"(traced pass_s {traced_pass:.3f} s)")
        for name, v in layers.items():
            if v["value"] or name.startswith("run."):
                print(f"    {name:<40} {v['value']:>10.3f} {v['unit']}")


if __name__ == "__main__":
    main()
