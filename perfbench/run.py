"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload ml --seed 1 --seconds 20 --trace 0

Run from the repository root.  The run

- builds its dataset from ``--seed`` (outside any timing) with
  ``tools/gen_sf.py 1`` into ``.perfbench/data/``, reused by later runs
  with the same dataset;
- starts ``worker.py`` in a fresh process (its own SparkSession and
  JVM) at ``local[<cores>]``, with the engine's scratch, Spark local
  dirs and temp files in a private directory under ``.perfbench/runs/``
  that is deleted afterwards, so every run starts cold;
- prints a JSON line describing the host, dataset and passes, then as
  its last line the result: ``{"correct", "attempted", "failed",
  "metrics"}`` with the end-to-end metrics (``--trace 0``) or the
  per-layer metrics (``--trace 1``).

Seed parity picks the dataset.  Both come from ``tools/gen_sf.py`` with
sf0.1 row counts: even seeds use its own fixed seed 7; odd seeds run the
same generator with its RNG seeded 42 (the seed of the reference test
data in TESTDATA.md, whose files are not part of the repository).  Both workloads read the
dataset (``ml_als_rmse`` fits ALS on ratings derived from it); the
realistic text corpora and embeddings depend only on table sizes.

Exit status is 0 when the run produced a result (``correct`` says
whether every output check passed), 2 when the engine is not in the
checkout, 1 on any other failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import (END_TO_END, PACKAGE, SF_NAME, WORKLOADS,  # noqa: E402
                       per_layer_units)

GEN_SF = os.path.join(ROOT, "tools", "gen_sf.py")
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170  # the whole run, generation included, must end by this
DATASETS = {0: ("gen_sf_seed7", 7), 1: ("gen_sf_seed42", 42)}

# Runs tools/gen_sf.py unchanged, with numpy's default_rng forced to the
# given seed (gen_sf.py seeds a single PCG64 with the constant 7).
_RESEEDED_GEN = """
import runpy, sys
import numpy as np
_rng, seed = np.random.default_rng, int(sys.argv[1])
np.random.default_rng = lambda *_a, **_k: _rng(seed)
sys.argv = [sys.argv[2], "1", sys.argv[3]]
runpy.run_path(sys.argv[0], run_name="__main__")
"""


def host_memory_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def prepare_dataset(seed: int) -> tuple[str, str]:
    """(dataset name, sf dir), generating the dataset on first use."""
    name, gen_seed = DATASETS[seed % 2]
    sf_dir = os.path.join(STATE, "data", name, SF_NAME)
    if not os.path.exists(os.path.join(sf_dir, "_COMPLETE")):
        shutil.rmtree(sf_dir, ignore_errors=True)
        if gen_seed == 7:
            cmd = [sys.executable, GEN_SF, "1", sf_dir]
        else:
            cmd = [sys.executable, "-c", _RESEEDED_GEN, str(gen_seed),
                   GEN_SF, sf_dir]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=120)
    return name, sf_dir


def stop_group(pgid: int, timeout: float = 5.0) -> None:
    """Kill what is left of the worker's process group and wait until it
    is gone (the JVM is a grandchild, so it cannot be waited on)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise RuntimeError(f"process group {pgid} did not exit")


def run_worker(a, sf_dir: str, run_dir: str, started: float) -> dict:
    scratch = os.path.join(run_dir, "scratch")
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "events")
    for d in (scratch, tmp, events):
        os.makedirs(d)
    cores = len(os.sched_getaffinity(0))
    submit = [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"']
    if a.trace:
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{events}",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false"]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(6, int(host_memory_gb() / 2)))}g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "driver.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", a.workload, "--sf-dir", sf_dir,
           "--dataset", os.path.basename(os.path.dirname(sf_dir)),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--scratch", scratch, "--event-dir", events, "--driver-log", log,
           "--out", out]
    with open(log, "w") as logf:
        launch = time.time()
        proc = subprocess.Popen(cmd + ["--launch", repr(launch)], cwd=run_dir,
                                env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc.pid)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.read()[-4000:]
        reason = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"worker {reason}; log tail:\n{tail}")
    with open(out) as f:
        result = json.load(f)
    result["env"] = {"cores": cores, "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
                     "host_mem_gb": round(host_memory_gb(), 1)}
    return result


def main() -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in (GEN_SF, os.path.join(ROOT, PACKAGE, "registry.py"))
               if not os.path.exists(p)]
    if missing:
        print(f"engine not found in {ROOT}: missing {missing}", file=sys.stderr)
        return 2

    dataset, sf_dir = prepare_dataset(a.seed)
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        r = run_worker(a, sf_dir, run_dir, started)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.trace:
        with open(os.path.join(STATE, f"trace-{a.workload}.json"), "w") as f:
            json.dump(r["trace_detail"], f)
        units, values = per_layer_units(), r["layers"]
    else:
        units, values = END_TO_END, r["e2e"]
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "dataset": dataset,
        "sf_dir": os.path.relpath(sf_dir, ROOT), **r["env"],
        "queries": WORKLOADS[a.workload]["queries"],
        "e2e": r["e2e"], "pass_samples": len(r["passes"]), "passes": r["passes"],
        "query_s": r["query_s"], "steal_share": r["steal_share"],
        "peak_rss_mb": r["peak_rss_mb"], "als_rmse": r["als_rmse"],
        "failed_share": r["failed"] / r["attempted"],
        "check_failures": r["check_failures"], "errors": r["errors"],
    }))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
