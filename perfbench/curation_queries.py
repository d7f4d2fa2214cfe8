"""``curation_queries``: warm passes over 8 of the headline queries of
``__spark_entry__``.

Each query from ``__spark_entry__.queries()`` is built on the driver
and its result written to Spark's ``noop`` sink, so the whole plan runs
and nothing is kept.  At this table size a pass is bound by per-query
fixed cost — planning, code generation and scheduling — which makes it
the workload for the ``plans`` and ``operators`` layers and the control
for changes to the lake path.  Set-up runs one untimed pass; the
number of measured passes follows ``--seconds`` (see ``PASS_S``).  Each
query's time is the median over the passes, and a pass is reported as
the sum of those medians, so one slow execution does not move it.
Each query's row count rides the same execution through
``DataFrame.observe`` and is checked, every pass, against the DuckDB
row count of its ``oracle_sql()`` twin.
"""

from __future__ import annotations

import pathlib

from common import HostSpeed, median
from tables import TABLES, write_tables

SF = 0.01
# a warm pass takes 5-9 s on a 4-core host, as busy as its neighbours
# let it be; --seconds buys seconds // PASS_S measured passes, at least one
PASS_S = 8

# 8 of bench.py's 39 headline queries, each with a DuckDB oracle: one
# per operator module (lww, textstats, similarity, dedup, packing,
# decontaminate, lm) plus the aggregate plan shape.  The full 39-query
# warm-up pass takes ~45 s on a 4-core host, more than one run's share
# of the benchmark's time budget.
HEADLINE = [
    "q1_pricing_summary",
    "lww_latest_event",
    "repetition_signals",
    "minhash_lsh",
    "dup_clusters",
    "pack_sequences",
    "decontaminate",
    "lm_perplexity",
]

PROPS = {"queries": len(HEADLINE), "scale_factor": SF, "lineitem_rows": int(6_000_000 * SF), "pass_s": PASS_S}


def make_inputs(out: pathlib.Path, seed: int, seconds: int) -> dict:
    write_tables(str(out / "tables"), seed=seed, sf=SF)
    return {"tables": str(out / "tables"), "seconds": seconds}


def _run(spark, tables: str, name: str, tracer):
    """Build query ``name`` and write it to the noop sink; its row count
    rides the same execution.  Returns (rows, build_s, exec_s)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    import __spark_entry__ as entry

    with tracer.span("plans.build", caller="queries") as b:
        df = entry.queries()[name](spark, tables)
    obs = Observation(name)
    with tracer.span("plans.exec", caller="queries") as e:
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return obs.get["n"], b.seconds, e.seconds


def warm(spark, work: pathlib.Path, inputs: dict, tracer) -> None:
    """One untimed pass, so the measured passes run compiled.  It is
    not traced: its jobs count as the benchmark's own, not ``queries``."""
    from tracing import Tracer

    for name in HEADLINE:
        _run(spark, inputs["tables"], name, Tracer())


def measure(spark, work: pathlib.Path, inputs: dict, tracer, outcome) -> dict:
    import __spark_entry__ as entry
    from oracle import query_row_counts

    oracles = entry.oracle_sql()
    want = query_row_counts(
        inputs["tables"], TABLES, {n: oracles[n].strip().rstrip(";") for n in HEADLINE}
    )
    n = max(1, inputs["seconds"] // PASS_S)
    passes: list[float] = []
    per_query: dict[str, list[float]] = {q: [] for q in HEADLINE}
    per_query_cpu: dict[str, list[float]] = {q: [] for q in HEADLINE}
    build_s = exec_s = jit_s = 0.0
    speed = HostSpeed()
    with tracer.span("curation_queries", "run") as run_span:
        for i in range(n):
            speed.sample()
            with tracer.span("pass", f"pass-{i}") as p:
                for name in HEADLINE:
                    with tracer.span("query", name, cpu=True) as q:
                        rows, b, e = _run(spark, inputs["tables"], name, tracer)
                    outcome.check(f"{name}: {rows} rows, oracle {want[name]}", rows == want[name])
                    per_query[name].append(q.seconds)
                    per_query_cpu[name].append(q.cpu_seconds)
                    jit_s += q.jit_seconds
                    build_s += b
                    exec_s += e
            passes.append(p.seconds)
        speed.sample()
    pass_s = sum(median(per_query[q]) for q in HEADLINE)
    pass_cpu = sum(median(per_query_cpu[q]) for q in HEADLINE)
    out = {
        "cpu_s": pass_cpu,
        "op_cpu_ms": pass_cpu / len(HEADLINE) * 1e3,
        "wall": {"total_s": pass_s, "latency_ms": pass_s / len(HEADLINE) * 1e3},
        "jit_s": jit_s,
        "ref_s": speed.ref_s,
        "report": {
            "pass_cpu_s": (pass_cpu, f"s (sum of per-query medians over {n} warm passes, {len(HEADLINE)} queries)"),
            "queries_total_s": (pass_s, f"s (sum of per-query medians over {n} warm passes, {len(HEADLINE)} queries)"),
            "pass_p50_s": (median(passes), f"s (n={n})"),
            "measured_s": (run_span.seconds, "s"),
        },
    }
    if tracer.enabled:
        out["layers"] = {
            "queries.build_s": build_s / n,
            "queries.exec_s": exec_s / n,
            **{f"query.{q}_s": median(per_query[q]) for q in HEADLINE},
        }
    return out
