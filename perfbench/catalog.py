"""Workloads and metrics of the benchmark: the one list BENCHMARK.json is
written from and every run's output is checked against."""

RUN_SECONDS = 15

# The workloads BENCHMARK.json gates on.
WORKLOADS = [
    ("snapshot-scan",
     "point, range and time-travel reads of a 240-file table over all three "
     "scan-planning paths; its history fits the manifest caches"),
    ("commit-mix",
     "one writer: appends, MoR and CoW deletes, periodic compact and expire, "
     "reads at current and past snapshots of a growing history"),
]

# Runnable, traced for its layers (queries.*), but not gated: over ten
# seeds its median latency spread 0.07 in one series and 0.31 in the next
# on a shared 4-core machine, past the largest bound allowed.
LAYER_WORKLOADS = [
    ("query-pack",
     "8 SparkEntry.queries (one per warm-time stratum) on the bundled "
     "sf0.001 tables: query building and Spark execution dominate"),
]

# name, unit, better, bound (share of the parent's median)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("op_p95_ms", "ms", "lower", 0.25),
    ("heap_peak_mb", "MB", "lower", 0.25),
]

_LOWER_MS = "ms", "lower"
_COUNT = "count", "lower"

# name, unit, better
PER_LAYER = [
    ("query_p50_ms", *_LOWER_MS), ("query_p95_ms", *_LOWER_MS),
    ("read_p50_ms", *_LOWER_MS), ("read_p95_ms", *_LOWER_MS),
    ("commit_p50_ms", *_LOWER_MS), ("commit_p95_ms", *_LOWER_MS),
    ("bytes_per_row", "bytes", "lower"),
    ("failed_frac", "ratio", "lower"),
] + [(f"read_ms.{k}", *_LOWER_MS) for k in
     ("point", "range", "tt-id", "tt-view", "tt-sql", "snapshots")] + [
    (f"table.commit_ms.{k}", *_LOWER_MS) for k in
    ("append", "delete-mor", "delete-cow", "compact", "expire")] + [
    ("queries.build_ms", *_LOWER_MS), ("queries.build_jobs", *_COUNT),
    ("sql.analysis_ms", *_LOWER_MS), ("sql.optimization_ms", *_LOWER_MS),
    ("sql.planning_ms", *_LOWER_MS), ("sql.exchanges", *_COUNT),
    ("sql.codegen_stages", *_COUNT),
    ("exec.ms", *_LOWER_MS), ("exec.jobs", *_COUNT), ("exec.stages", *_COUNT),
    ("exec.tasks", *_COUNT), ("exec.task_cpu_ms", *_LOWER_MS),
    ("exec.task_run_ms", *_LOWER_MS), ("exec.gc_ms", *_LOWER_MS),
    ("exec.input_bytes", "bytes", "lower"),
    ("exec.shuffle_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.core_busy", "ratio", "higher"),
    ("table.load_ms", *_LOWER_MS), ("table.plan_ms", *_LOWER_MS),
    ("table.plan_jobs", *_COUNT), ("table.files_total", "count", "lower"),
    ("table.files_scanned", *_COUNT), ("table.prune_ratio", "ratio", "higher"),
    ("table.log_read_ms", *_LOWER_MS), ("table.log_bytes", "bytes", "lower"),
    ("table.snapshots", "count", "lower"),
    ("table.manifest_read_ms", *_LOWER_MS),
    ("table.manifest_list_parses", *_COUNT),
    ("table.manifest_list_hit_ratio", "ratio", "higher"),
    ("table.commit_jobs", *_COUNT),
    ("table.bytes_written.data", "bytes", "lower"),
    ("table.bytes_written.meta", "bytes", "lower"),
    ("table.delete_artifacts", *_COUNT),
] + [(f"self_ms.{layer}", *_LOWER_MS) for layer in
     ("op", "queries", "sql", "exec", "table", "probe")] + [
    ("trace.overhead_frac", "ratio", "lower"),
    ("trace.spans", "count", "lower"),
    ("repeat.mismatches", *_COUNT),
]

# counts that repeat exactly for a seed; compared before any time
EXACT = ["queries.build_jobs", "table.plan_jobs", "table.files_scanned",
         "table.manifest_list_parses", "exec.tasks",
         "table.bytes_written.data", "table.bytes_written.meta"]


def units():
    return {n: u for n, u, *_ in END_TO_END + PER_LAYER}


def benchmark_json():
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in PER_LAYER],
    }
