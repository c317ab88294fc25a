"""Workload and layer definitions for the benchmark.

A workload is an ordered list of registered queries (``registry``
names) that one closed-loop client runs back to back; one run of all
of them is a *pass*.  A layer is the engine module that owns a query
(``QuerySpec.fn.__module__`` without the package prefix), plus the
``session`` and ``run`` pseudo-layers.

The per-layer metric names are derived from ``LAYERS`` and must equal
the ``per_layer`` list in BENCHMARK.json (checked by
``test_eventlog.py``).
"""

from __future__ import annotations

PACKAGE = "recommendation_system_spark_ml_spark"

# The engine sizes derived data by the sf directory's basename (the
# MovieLens twin in ml/parity.py), so every dataset lives in a directory
# named after the scale it has.
SF_NAME = "sf0.1"

# Two workloads, because the benchmark's whole check (4 + 22 runs per
# workload) must end in 3420 s and one run here takes 50-75 s on 4
# cores.  ``operators`` leaves out operators.graph, operators.windows and
# operators.timeseries to stay within that: graph_degree_histogram alone
# cost 2 s a pass and left ~47 MB of stored blocks behind per call.
WORKLOADS: dict[str, dict] = {
    "ml": {
        "why": ("the paper's ALS model on sf0.1 ratings: a seeded MLlib fit "
                "scored by RMSE, bound by job count and driver time"),
        "queries": ["ml_als_rmse"],
    },
    "operators": {
        "why": ("a cheap oracle-backed query from each of nine more engine "
                "modules over sf0.1 parquet: fixed per-query Catalyst/codegen cost"),
        "queries": [
            "tpch_q6", "flagship_fused", "join_semi", "agg_avg_groupby",
            "fn_json", "stream_tumbling", "pipeline_docs",
            "dedup_fingerprint", "vec_class_centroids",
        ],
    },
}

# Counters the traced run folds from the Spark event log per call span.
JOB_COUNTERS = ("fn_s", "sink_s", "driver_gap_s", "jobs", "stages", "tasks",
                "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb",
                "spill_mb")
LIGHT_COUNTERS = ("fn_s", "sink_s", "driver_gap_s", "jobs", "task_cpu_s")

# ``first_fn_s`` is the layer's time inside its query functions in the
# untimed first pass, the part of ``setup_s`` its first calls cost.
LAYERS: dict[str, tuple[str, ...]] = {
    "ml.parity": JOB_COUNTERS + ("retained_mb", "first_fn_s"),
    "operators.similarity": JOB_COUNTERS + ("py_mb", "retained_mb"),
    "operators.dedup": JOB_COUNTERS + ("py_mb", "retained_mb", "first_fn_s"),
    "operators.textops": JOB_COUNTERS + ("py_mb",),
    "plans.flagship": JOB_COUNTERS,
    "operators.analytics": JOB_COUNTERS,
    "operators.joins": LIGHT_COUNTERS,
    "operators.aggregates": LIGHT_COUNTERS,
    "functions.scalar": LIGHT_COUNTERS,
    "streaming.windows": LIGHT_COUNTERS,
}

# Pseudo-layer counters that are not folded per call span.
RUN_METRICS = {
    "session.start_s": "s",
    "run.unattributed_jobs": "count",
    "run.codegen_fallbacks": "count",
    "run.traced_pass_s": "s",
}

END_TO_END = {"setup_s": "s", "pass_s": "s"}


def counter_unit(counter: str) -> str:
    if counter.endswith("_s"):
        return "s"
    if counter.endswith("_mb"):
        return "MB"
    return "count"


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in BENCHMARK.json order."""
    out = {"session.start_s": RUN_METRICS["session.start_s"]}
    for layer, counters in LAYERS.items():
        for c in counters:
            out[f"{layer}.{c}"] = counter_unit(c)
    out.update({k: v for k, v in RUN_METRICS.items() if k not in out})
    return out
