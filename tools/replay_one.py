"""Measure CDC replay throughput at a given core count, isolated in a
fresh process (fresh JVM — JIT state cannot leak between core counts).

Usage: python tools/replay_one.py <cores> <log_dir> <work_dir> <n_events> \
           [reps] [batches] [slice_mod] [slice_idx]

``slice_mod`` > 1 restricts the replay to the doc_id hash slice
``pmod(xxhash64(doc_id), slice_mod) == slice_idx`` — one "executor"'s
key range carved from a shared full log (each process then pays a
full-log scan).  bench.py's executor-scaling experiment instead
PRE-SPLITS the changelog into per-slice directories (how a
key-partitioned CDC stream actually arrives) and passes slice_mod=1
with the slice's own log_dir; ``slice_idx`` then only names this
process's barrier-ready file.
Prints one JSON line with all rep times and the min (the sandbox host
shows multi-second scheduling stalls at random moments — min-of-N is
the sustained-capability estimate; all samples are reported).

``batches`` > 1 replays the log as that many sequential merge commits
into ONE lake (the sustained incremental-ingest shape; exercises the
merge-on-read delta path + auto-compaction) instead of one bulk merge.

A warmup replay (100k events) runs first so JIT compilation does not
contaminate rep 1.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from investigraph_etl_spark.changelog import write_changelog  # noqa: E402
from investigraph_etl_spark.session import get_spark  # noqa: E402
from investigraph_etl_spark.sources.lake import HashLakeTable  # noqa: E402
from investigraph_etl_spark.streaming.tailer import (  # noqa: E402
    change_schema,
    prepare_batch,
    replay_batch,
    target_schema,
)


def main() -> None:
    cores, log_dir, work, n_events = (
        int(sys.argv[1]),
        sys.argv[2],
        sys.argv[3],
        int(sys.argv[4]),
    )
    reps = int(sys.argv[5]) if len(sys.argv) > 5 else 3
    batches = int(sys.argv[6]) if len(sys.argv) > 6 else 1
    slice_mod = int(sys.argv[7]) if len(sys.argv) > 7 else 1
    slice_idx = int(sys.argv[8]) if len(sys.argv) > 8 else 0
    # fixed-size "executor" semantics: heap and GC threads bounded by
    # THIS process's share, never the host (4 concurrent JVMs each
    # sizing ParallelGC for 32 cores + a 48g heap thrash and swap —
    # measured 12x degradation in the executor-scaling experiment)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    # table bucket count.  The executor-scaling experiment sets this to
    # 32/K per slice: a K-executor cluster keeps ONE 32-bucket table
    # and each executor owns the bucket subset its keys hash into, so
    # the K slice lakes together have exactly the baseline's layout.
    # The delta write's task count follows the batch, not the bucket
    # count: AQE coalesces its 4×-buckets rebalance to the slice's size.
    num_buckets = int(os.environ.get("SPARK_GRAFT_NUM_BUCKETS", "32"))
    spark = get_spark(
        f"replay{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.driver.memory": mem,
            "spark.driver.extraJavaOptions": (
                "-Djava.net.preferIPv4Stack=true -XX:+UseParallelGC "
                f"-XX:ParallelGCThreads={max(cores, 2)}"
            ),
        },
    )

    # --- warmup: full code path, small log
    warm_log = f"{work}/warm_log"
    write_changelog(warm_log, 100_000, chunk_size=25_000, seed=7, n_docs=10_000)
    warm_dir = f"{work}/warm_lake_{cores}"
    shutil.rmtree(warm_dir, ignore_errors=True)
    warm_lake = HashLakeTable.create(spark, warm_dir, target_schema(), num_buckets=num_buckets)
    replay_batch(spark.read.schema(change_schema()).parquet(warm_log), warm_lake)

    chunk_files = sorted(str(p) for p in pathlib.Path(log_dir).glob("*.parquet"))
    groups: list[list[str]]
    if batches <= 1 or len(chunk_files) < batches:
        groups = [chunk_files]
    else:
        per = (len(chunk_files) + batches - 1) // batches
        groups = [chunk_files[i : i + per] for i in range(0, len(chunk_files), per)]

    # start-line barrier for concurrent-executor experiments: without
    # it, an early-starting process times its replay while its peers
    # are still in JVM-start/warmup/codegen (heavy, unrepresentative
    # interference) — measured 4-6x inflation.  All peers signal ready
    # after warmup and wait for "go"; timed regions then align.
    barrier = os.environ.get("SPARK_GRAFT_BARRIER")
    if barrier:
        import pathlib as _pl

        bdir = _pl.Path(barrier)
        (bdir / f"ready_{slice_idx}").touch()
        while not (bdir / "go").exists():
            time.sleep(0.05)

    # SPARK_GRAFT_REPLAY_MODE=stream drives the PRODUCT surface — the
    # Structured Streaming tailer (file source → foreachBatch merge,
    # checkpointed, availableNow drain) — instead of direct merge
    # calls, so the published number includes streaming-engine
    # overhead (offset tracking, per-batch planning, commit log).
    stream_mode = os.environ.get("SPARK_GRAFT_REPLAY_MODE") == "stream"

    # SPARK_GRAFT_REPLAY_DERIVED=1 (batches mode only): maintain a
    # materialized aggregate (source → count, Σn_tok) from the preimage
    # change feed after every commit — measures the marginal cost of
    # per-commit derived-view maintenance at the real ingest cadence.
    derived_mode = (
        os.environ.get("SPARK_GRAFT_REPLAY_DERIVED") == "1" and batches > 1
    )

    times, final_rows = [], None
    refresh_times_by_rep: list[list[float]] = []
    for i in range(reps):
        d = f"{work}/lake_{cores}_b{batches}_{i}"
        shutil.rmtree(d, ignore_errors=True)
        lake = HashLakeTable.create(spark, d, target_schema(), num_buckets=num_buckets)
        if stream_mode:
            from investigraph_etl_spark.streaming.tailer import tail_changelog

            ckpt = f"{work}/ckpt_{cores}_{i}"
            shutil.rmtree(ckpt, ignore_errors=True)
            per_trigger = max(1, (len(chunk_files) + batches - 1) // batches)
            t0 = time.monotonic()
            q = tail_changelog(
                spark, log_dir, lake, ckpt,
                max_files_per_trigger=per_trigger,
                available_now=True,
                compact_mode="async",
            )
            q.awaitTermination()
            lake.wait_for_compaction()
            times.append(round(time.monotonic() - t0, 2))
            if final_rows is None:
                final_rows = lake.read().count()
            continue
        t0 = time.monotonic()
        if len(groups) == 1:
            # bulk replay: events/doc ≫ 1 → the in-batch reduce pays
            # for itself in write volume (replay_batch)
            batch = spark.read.schema(change_schema()).parquet(*groups[0])
            if slice_mod > 1:
                from pyspark.sql import functions as F

                batch = batch.filter(
                    F.pmod(F.xxhash64("doc_id"), F.lit(slice_mod))
                    == F.lit(slice_idx)
                )
            replay_batch(batch, lake)
        else:
            # sustained micro-batch ingest: low in-batch dup ratio →
            # append unreduced (read-time LWW subsumes it) and fold
            # deltas on the background thread, overlapped with the
            # next commits' write jobs.  The final wait is inside the
            # timed region: steady state must include compaction.
            derived = None
            if derived_mode:
                from investigraph_etl_spark.operators.incremental import (
                    DerivedAggTable,
                )

                dd = f"{work}/derived_{cores}_{i}"
                shutil.rmtree(dd, ignore_errors=True)
                derived = DerivedAggTable(
                    spark, dd, ["source"], sum_cols={"total_tok": "n_tok"}
                )
                refreshes: list[float] = []
            for bid, group in enumerate(groups):
                batch = spark.read.schema(change_schema()).parquet(*group)
                lake.merge(prepare_batch(batch), bid, compact_mode="async")
                if derived is not None:
                    tr = time.monotonic()
                    derived.refresh(lake)
                    refreshes.append(round(time.monotonic() - tr, 3))
            lake.wait_for_compaction()
            if derived is not None:
                refresh_times_by_rep.append(refreshes)
        times.append(round(time.monotonic() - t0, 2))
        if final_rows is None:
            final_rows = lake.read().count()
    best = min(times)
    out = {
        "cores": cores,
        "batches": len(groups),
        "times": times,
        "seconds": best,
        "events_per_sec": round(n_events / best, 1),
        "final_rows": final_rows,
    }
    if refresh_times_by_rep:
        # the best (least-stalled) rep's per-commit refresh times
        rt = refresh_times_by_rep[times.index(best)]
        out["derived_refresh_times"] = rt
        out["derived_refresh_total"] = round(sum(rt), 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
