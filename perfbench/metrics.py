"""Every metric the benchmark reports: unit, direction, and — for the
per-layer ones — the end-to-end metric it is expected to move, on which
workload.  ``BENCHMARK.json`` lists the same names (a test keeps the two
in step).

End-to-end metrics are reported by every workload; their meaning per
workload:

========  =====================================  ===================
metric    cdc                                    curation_queries
========  =====================================  ===================
cpu_s     median CPU time of a cycle: one        CPU time of a warm
          chunk's commit through the tailer,     pass: the sum of
          then its change feed and a batch of    each query's median
          lookups                                over the passes
setup_s   wall time of session start + input generation + the untimed
          warm-up (bulk snapshot through the tailer and one read of each
          kind on cdc; one query pass on curation_queries)
========  =====================================  ===================

CPU time is that of the whole process tree (Python driver, JVM, Python
workers) outside the JVM's JIT compiler threads; see ``common.tree_cpu``.
Per layer, ``cpu.op_ms`` is the CPU time of one commit (median) or one
query (mean of the medians), and ``wall.total_s`` and
``wall.latency_ms`` are the same work in wall time.
"""

from __future__ import annotations

from curation_queries import HEADLINE

E2E = {
    "setup_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
}

SPARK_CALLERS = [
    "streaming.tailer",
    "lake.read_keys",
    "lake.read_changes",
    "background",
    "queries",
]
SPARK_UNITS = {
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "task_skew": "ratio",
}
SPAN_LAYERS = ["perfbench", "streaming.tailer", "sources.lake", "plans"]

_D, _C = "cdc", "curation_queries"

# name -> (unit, better, moves "<e2e metric>@<workload>")
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "cpu.op_ms": ("ms", "lower", "cpu_s@all: one commit on cdc, one query on curation_queries"),
    "wall.total_s": ("s", "lower", "wall-time view of cpu_s@all; also waiting and lost parallelism"),
    "wall.latency_ms": ("ms", "lower", "wall-time view of cpu.op_ms; also waiting and lost parallelism"),
    "jvm.jit_cpu_s": ("s", "lower", "JIT compiler CPU over the measured phase, kept out of cpu_s"),
    "host.ref_loop_ms": ("ms", "lower", "host speed record: a fixed Python loop's CPU time"),
    "session.start_s": ("s", "lower", "setup_s@all"),
    "changelog.write_s": ("s", "lower", f"setup_s@{_D}"),
    "tables.write_s": ("s", "lower", f"setup_s@{_C}"),
    "warmup_s": ("s", "lower", "setup_s@all"),
    "peak_rss_mb": ("MB", "lower", "memory record: Python driver + JVM + workers, whole run"),
    "host.busy_frac": ("frac", "lower", "host health record"),
    "host.steal_frac": ("frac", "lower", "host health record"),
    **{f"self.{layer}_s": ("s", "lower", "cpu_s@all, cpu.op_ms@cdc") for layer in SPAN_LAYERS},
    "lake.merge.call_s": ("s", "lower", f"cpu.op_ms@{_D}"),
    "lake.merge.call_p50_s": ("s", "lower", f"cpu.op_ms@{_D}"),
    "lake.merge.plan_s": ("s", "lower", f"cpu.op_ms@{_D}"),
    "lake.merge.write_s": ("s", "lower", f"cpu.op_ms@{_D}"),
    "lake.merge.compact_s": ("s", "lower", f"cpu.op_ms@{_D}"),
    "lake.merge.touched_buckets": ("count", "lower", f"cpu.op_ms@{_D}"),
    "lake.merge.compacted_buckets": ("count", "lower", f"cpu.op_ms@{_D}"),
    "lake.compaction_drain_s": ("s", "lower", f"cpu.op_ms@{_D}"),
    "lake.read_keys.call_s": ("s", "lower", f"cpu_s@{_D}"),
    "lake.read_keys.call_p50_ms": ("ms", "lower", f"cpu_s@{_D}"),
    "lake.read_keys.files_scanned": ("count", "lower", f"cpu_s@{_D}"),
    "lake.read_changes.call_s": ("s", "lower", f"cpu_s@{_D}"),
    "lake.read_changes.call_p50_ms": ("ms", "lower", f"cpu_s@{_D}"),
    "lake.read_changes.files_scanned": ("count", "lower", f"cpu_s@{_D}"),
    "lake.delta_depth_max": ("count", "lower", f"reads (cpu_s@{_D}) vs commits (cpu.op_ms@{_D})"),
    "lake.bytes_on_disk": ("B", "lower", f"reads (cpu_s@{_D}) vs commits (cpu.op_ms@{_D})"),
    "stream.batches": ("count", "lower", f"cpu.op_ms@{_D}"),
    "stream.rows_per_batch": ("count", "higher", f"cpu.op_ms@{_D}"),
    **{
        f"stream.{k}_ms": ("ms", "lower", f"cpu.op_ms@{_D}")
        for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "latestOffset", "getBatch")
    },
    "stream.overhead_ms": ("ms", "lower", f"cpu.op_ms@{_D}"),
    "stream.apply_p50_s": ("s", "lower", f"cpu.op_ms@{_D}"),
    "stream.pickup_p50_ms": ("ms", "lower", f"cpu.op_ms@{_D}"),
    "stream.commit_p90_s": ("s", "lower", f"cpu.op_ms@{_D}"),
    **{
        f"spark.{c}.{f}": (u, "lower", "see the caller's lake/queries metrics")
        for c in SPARK_CALLERS
        for f, u in SPARK_UNITS.items()
    },
    "queries.build_s": ("s", "lower", f"cpu_s@{_C}"),
    "queries.exec_s": ("s", "lower", f"cpu_s@{_C}"),
    **{f"query.{n}_s": ("s", "lower", f"cpu_s@{_C}") for n in HEADLINE},
    **{f"traced.{k}": (u, b, "tracing overhead vs the untraced run") for k, (u, b) in E2E.items()},
}
