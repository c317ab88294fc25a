"""One benchmark run of one workload, in a fresh process.

Started by ``run.py``; not meant to be run by hand.  The process builds
its own SparkSession (and so its own JVM), then:

1. untimed first pass: every query once, each collected to the driver
   so its output can be checked; ``setup_s`` ends here;
2. timed passes: every query through the noop sink, back to back,
   until ``--seconds`` have elapsed and at least ``MIN_PASSES`` ran;
   ``pass_s`` is their median, so the first of them, slowed by JIT
   compilation still in progress, does not set it;
3. peak RSS of the JVM, then output checks against the DuckDB twins
   and the pinned ALS fit (``checks.py``).

With ``--trace 1`` the JVM writes an uncompressed event log, the run
records a span around each query-function call and each sink action,
reads retained storage after every call, and folds the event log into
per-layer counters after the session stops.

The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import eventlog  # noqa: E402
from workloads import LAYERS, PACKAGE, WORKLOADS, per_layer_units  # noqa: E402

# Pass 0 is the cold pass that ends set-up; the passes after it are timed.
FIRST_TIMED_PASS = 1
MIN_PASSES = 3


def redirect_scratch(scratch: str) -> None:
    """Point the engine's hard-coded /tmp artifact roots into this run's
    directory, so every run starts from the same (empty) first-call
    cache state and writes nothing outside the checkout.  Must run
    before the query modules are imported: some bind these names at
    import time."""
    from recommendation_system_spark_ml_spark import session
    from recommendation_system_spark_ml_spark.sources import realistic

    root = os.path.join(scratch, "shared")
    realistic._SHARED_ROOT = root
    realistic.DOCS_ORACLE_GLOB = f"{root}/{realistic._DOCS_VERSION}_n*/*.parquet"
    realistic.EMB_ORACLE_GLOB = f"{root}/{realistic._EMB_VERSION}_n*/*.parquet"
    session.scratch_path = lambda sf_dir, name: os.path.join(
        scratch, "rsml", os.path.basename(os.path.normpath(sf_dir)), name)


def record_als_rmse(runner: "Runner") -> None:
    """Record the test RMSE of every ALS fit ``ml_als_rmse`` makes,
    with the pass it was made in: the query's output leaves the fit
    itself out, so the checks compare this value with its pin."""
    from recommendation_system_spark_ml_spark.ml import parity

    fit = parity.als_rmse_detail

    def recorded(spark, sf_dir):
        out = fit(spark, sf_dir)
        runner.als_rmse.append((runner.pass_idx, out[0]))
        return out

    parity.als_rmse_detail = recorded


def stored_rdds_mb(spark) -> dict[int, float]:
    """RDD id -> memory plus disk held by its cached or checkpointed
    blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): (i.memSize() + i.diskSize()) / eventlog.MB for i in infos}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs: steal is time the
    hypervisor gave this machine's vCPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


class Runner:
    """Runs queries one after another, optionally recording spans."""

    def __init__(self, spark, specs, sf_dir: str, trace: bool):
        self.spark, self.specs, self.sf_dir = spark, specs, sf_dir
        self.trace = trace
        self.spans: list[dict] = []
        self.retained: list[dict] = []
        self.errors: list[tuple[str, int, str]] = []
        self.als_rmse: list[tuple[int, float]] = []
        self.pass_idx = 0
        self.query_s: dict[str, list[float]] = {}

    def call(self, name: str, pass_idx: int, collect: bool):
        """Run one query; returns its pandas rows when ``collect``.
        An exception is recorded as a failure, not raised."""
        spec = self.specs[name]
        layer = spec.fn.__module__.removeprefix(PACKAGE + ".")
        sc = self.spark.sparkContext
        self.pass_idx = pass_idx
        try:
            if self.trace:
                sc.setJobGroup(f"{name}#{pass_idx}", name)
                held0 = stored_rdds_mb(self.spark)
            t0 = time.time()
            df = spec.fn(self.spark, self.sf_dir)
            t1 = time.time()
            if collect:
                out = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
            t2 = time.time()
            if pass_idx >= FIRST_TIMED_PASS:
                self.query_s.setdefault(name, []).append(t2 - t0)
            if self.trace:
                span = {"query": name, "layer": layer, "pass": pass_idx,
                        "group": f"{name}#{pass_idx}"}
                self.spans += [dict(span, kind="fn", start=t0, end=t1),
                               dict(span, kind="sink", start=t1, end=t2)]
                # blocks of RDDs this call stored and left behind
                left = stored_rdds_mb(self.spark)
                self.retained.append({"layer": layer, "pass": pass_idx, "mb": sum(
                    mb for rdd, mb in left.items() if rdd not in held0)})
            return out
        except Exception:  # a failing query counts, the run goes on
            self.errors.append((name, pass_idx, traceback.format_exc(limit=5)))
            return None


def layer_metrics(spans, fold, retained, n_timed: int) -> dict[str, float]:
    """Per-pass means over the timed passes of every per-layer counter,
    and ``first_fn_s`` from the untimed first pass."""
    sums: dict[str, float] = {}
    first: dict[str, float] = {}

    def add(layer: str, counter: str, v: float, into=sums) -> None:
        if counter in LAYERS.get(layer, ()):
            key = f"{layer}.{counter}"
            into[key] = into.get(key, 0.0) + v

    for span, c in zip(spans, fold["spans"]):
        wall = span["end"] - span["start"]
        if span["pass"] < FIRST_TIMED_PASS:
            if span["kind"] == "fn":
                add(span["layer"], "first_fn_s", wall, into=first)
            continue
        add(span["layer"], f"{span['kind']}_s", wall)
        add(span["layer"], "driver_gap_s", wall - c["job_busy_s"])
        for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                  "gc_s", "shuffle_write_mb", "spill_mb", "py_mb"):
            add(span["layer"], k, c[k])
    for r in retained:
        if r["pass"] >= FIRST_TIMED_PASS:
            add(r["layer"], "retained_mb", r["mb"])
    return {**{k: v / n_timed for k, v in sums.items()}, **first}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--dataset", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--launch", type=float, required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--event-dir", default="")
    ap.add_argument("--driver-log", default="")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    trace = bool(a.trace)

    redirect_scratch(a.scratch)
    from recommendation_system_spark_ml_spark.registry import all_specs
    from recommendation_system_spark_ml_spark.session import get_spark

    names = WORKLOADS[a.workload]["queries"]
    spark = get_spark(app_name=f"perfbench-{a.workload}")
    session_start_s = time.time() - a.launch
    runner = Runner(spark, all_specs(), a.sf_dir, trace)
    record_als_rmse(runner)

    outputs = {n: runner.call(n, 0, collect=True) for n in names}
    setup_s = time.time() - a.launch

    passes: list[float] = []
    steal0, total0 = cpu_ticks()
    deadline = time.perf_counter() + a.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        for n in names:
            runner.call(n, len(passes) + FIRST_TIMED_PASS, collect=False)
        passes.append(time.perf_counter() - t0)
    steal1, total1 = cpu_ticks()
    peak_rss_mb = jvm_peak_rss_mb(spark)
    if trace:
        spark.stop()  # flushes the event log; run.py kills an untraced JVM
    attempted = len(names) * (FIRST_TIMED_PASS + len(passes))
    raised = {(n, p) for n, p, _ in runner.errors}
    als_calls = [p for p in range(FIRST_TIMED_PASS + len(passes))
                 if "ml_als_rmse" in names and ("ml_als_rmse", p) not in raised]
    check_failures = checks.check_outputs(outputs, runner.specs, a.sf_dir,
                                          als_calls, runner.als_rmse, a.dataset)
    failed = len({(n, p) for n, p, _ in runner.errors + check_failures})

    result = {
        "workload": a.workload,
        "attempted": attempted,
        "failed": failed,
        "errors": runner.errors,
        "check_failures": check_failures,
        "passes": passes,
        "als_rmse": runner.als_rmse,
        "query_s": runner.query_s,
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "peak_rss_mb": peak_rss_mb,
        "e2e": {"setup_s": setup_s, "pass_s": statistics.median(passes)},
    }
    if trace:
        logs = glob.glob(os.path.join(a.event_dir, "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {a.event_dir}: {logs}")
        fold = eventlog.fold(eventlog.read_events(logs[0]), runner.spans)
        codegen = eventlog.codegen_failures(a.driver_log, runner.spans)
        metrics = dict.fromkeys(per_layer_units(), 0.0)
        metrics.update(layer_metrics(runner.spans, fold, runner.retained,
                                     len(passes)))
        metrics.update({
            "session.start_s": session_start_s,
            "run.unattributed_jobs": fold["unattributed_jobs"],
            "run.codegen_fallbacks": len(codegen),
            "run.traced_pass_s": statistics.median(passes),
        })
        result["layers"] = metrics
        result["trace_detail"] = {
            "ungrouped_jobs": fold["ungrouped_jobs"],
            "codegen_failures": codegen,
            "spans": [dict(s, **c) for s, c in zip(runner.spans, fold["spans"])],
        }
    with open(a.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
