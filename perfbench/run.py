"""Benchmark entry point for investigraph_etl_spark.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 18 --trace 0

Runs one workload against the package in this checkout (resolved from
this file's location, never from an installed copy), checks every
output against an independent DuckDB oracle, and prints a report
followed by one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics``.  With ``--trace 0`` the metrics are the end-to-end ones
(tracing off); with ``--trace 1`` they are the per-layer ones from a
traced run (spans, caller-tagged Spark jobs, the Spark event log and,
for the stream, a streaming progress listener).  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

from common import ROOT, WORK_ROOT

WORKLOADS = ("cdc", "curation_queries")


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=18)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _import_engine():
    """Import the package under test from this checkout; refuse any
    other copy."""
    sys.path.insert(0, str(ROOT))
    import investigraph_etl_spark

    where = os.path.realpath(investigraph_etl_spark.__file__)
    if not where.startswith(str(ROOT) + os.sep):
        raise ImportError(f"investigraph_etl_spark resolved outside the checkout: {where}")


def _layer_of(span_name: str, layers: list[str]) -> str:
    prefix = span_name.rsplit(".", 1)[0]
    return prefix if prefix in layers else "perfbench"


def _isolate(work) -> None:
    """Keep every file the run writes inside the checkout, and give
    Spark's Python workers this checkout's package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def main(argv: list[str]) -> int:
    args = _parse(argv)
    try:
        _import_engine()
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import importlib

    from common import Outcome, RssSampler, emit, host_cpus, host_health, proc_stat, start_spark, stop_spark
    from metrics import E2E, PER_LAYER, SPAN_LAYERS, SPARK_CALLERS
    from tracing import Tracer, read_event_logs, self_times, spark_metrics

    wl = importlib.import_module(args.workload)
    work = WORK_ROOT / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _isolate(work)
    outcome = Outcome()
    trace = bool(args.trace)
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(work, trace=trace)
            try:
                tracer = Tracer(spark, enabled=trace)
                spark.range(10_000).selectExpr("sum(id)").collect()  # first job
                session_s = time.perf_counter() - t0
                t = time.perf_counter()
                inputs = wl.make_inputs(work / "inputs", args.seed, args.seconds)
                gen_s = time.perf_counter() - t
                t = time.perf_counter()
                wl.warm(spark, work, inputs, tracer)
                warm_s = time.perf_counter() - t

                stat1 = proc_stat()
                res = wl.measure(spark, work, inputs, tracer, outcome)
                stat2 = proc_stat()
            finally:
                stop_spark(spark)
        health = host_health(stat1, stat2)
        if not res:
            emit(outcome, {}, [])
            return 1

        setup_s = session_s + gen_s + warm_s
        e2e = {"setup_s": setup_s, "cpu_s": res["cpu_s"]}
        # unbounded figures of the same measured work, in the report and per layer
        side = {
            "cpu.op_ms": res["op_cpu_ms"],
            **{f"wall.{k}": v for k, v in res["wall"].items()},
            "jvm.jit_cpu_s": res["jit_s"],
            "host.ref_loop_ms": res["ref_s"] * 1e3,
        }
        report = [
            f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}  "
            f"local[{host_cpus()}]",
            f"  inputs {json.dumps(wl.PROPS)}",
            *(f"  {k:<28} {v:>14.4f} {u}" for k, (v, u) in res["report"].items()),
            *(f"  {k:<28} {v:>14.4f} {E2E[k][0]}" for k, v in e2e.items()),
            *(f"  {k:<28} {v:>14.4f} {PER_LAYER[k][0]}" for k, v in side.items()),
            f"  {'peak_rss_mb':<28} {rss.peak_mb:>14.4f} MB",
            f"  setup parts: session {session_s:.3f} s, inputs {gen_s:.3f} s, warm-up {warm_s:.3f} s",
            f"  {'error_rate':<28} {outcome.failed / max(outcome.attempted, 1):>14.4f} "
            f"({outcome.failed}/{outcome.attempted})",
            "  host " + "  ".join(f"{k}={v:.4f}" for k, v in health.items()),
        ]
        if not trace:
            emit(outcome, {k: (v, E2E[k][0]) for k, v in e2e.items()}, report)
            return 0

        spans = [s.as_dict() for s in tracer.spans]
        tracer.write(WORK_ROOT / "traces" / f"{args.workload}-seed{args.seed}.spans.jsonl")
        by_layer: dict[str, float] = {}
        for name, secs in self_times(spans).items():
            layer = _layer_of(name, SPAN_LAYERS)
            by_layer[layer] = by_layer.get(layer, 0.0) + secs
        callers = read_event_logs(work / "eventlog", res.get("stream_callers", {}))
        gen_name = "changelog.write_s" if args.workload == "cdc" else "tables.write_s"
        layers = {
            "session.start_s": session_s,
            "peak_rss_mb": rss.peak_mb,
            gen_name: gen_s,
            "warmup_s": warm_s,
            **health,
            **{f"self.{layer}_s": by_layer.get(layer, 0.0) for layer in SPAN_LAYERS},
            **spark_metrics(callers, SPARK_CALLERS),
            **res.get("layers", {}),
            **side,
            **{f"traced.{k}": v for k, v in e2e.items()},
        }
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
        emit(outcome, {k: (float(layers.get(k, 0.0)), u) for k, (u, _, _) in PER_LAYER.items()}, report)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
