"""Changelog tailer: binlog/WAL directory → lake MERGE (north rule).

Replaces the reference's pull-generator pipeline + unix-pipe
parallelism (/root/reference/investigraph/pipeline.py:43-47,
docs/run/parallelization.md) with Structured Streaming:

    readStream(parquet, maxFilesPerTrigger)
      → foreachBatch( normalize → lake.merge )

Exactly-once = Structured Streaming checkpoint (at-least-once
redelivery) + the lake's idempotent commit log keyed by batch id
(SURVEY.md §2.9 T4).  A killed query resumed from the same checkpoint
re-delivers the in-flight batch with the same ``batchId``; the lake
skips already-committed ids, so the final state is replay-invariant.

Late / out-of-order events need no watermark: the lake's read-time LWW
on ``(event_sequence, commit)`` is order-insensitive within a batch,
and across batches its ``_seq``-max guard ignores stale arrivals
(SURVEY.md §2.9 T5).
"""

from __future__ import annotations

import json
import pathlib
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from investigraph_etl_spark.operators.lww import lww_dedup
from investigraph_etl_spark.operators.normalize import normalize_events


def change_schema(with_lang: bool = False) -> StructType:
    fields = [
        StructField("event_sequence", LongType(), False),
        StructField("op", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
        StructField("event_time", TimestampType(), True),
    ]
    if with_lang:
        fields.append(StructField("lang", StringType(), True))
    return StructType(fields)


def target_schema(with_lang: bool = False) -> StructType:
    fields = [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), True),
        StructField("n_tok", IntegerType(), True),
        StructField("source", StringType(), True),
    ]
    if with_lang:
        fields.append(StructField("lang", StringType(), True))
    return StructType(fields)


def prepare_batch(events: DataFrame) -> DataFrame:
    """Normalize one (micro)batch for merge (narrow, no shuffle).

    No in-batch LWW: the lake's read/fold-time LWW resolves duplicate
    keys (``LWW(LWW(batch) ∪ target) ≡ LWW(batch ∪ target)``).  Reduce
    with :func:`investigraph_etl_spark.operators.lww.lww_dedup` when
    fewer rows pay (a bulk replay, see :func:`replay_batch`).
    ``event_time`` is stream metadata (lag metrics), not table payload.
    """
    return normalize_events(events).drop("event_time")


def replay_batch(
    events: DataFrame, lake, *, batch_id: int = 0, salt_buckets: int = 0
) -> dict:
    """Batch-mode full replay: the whole changelog, LWW-reduced to ≤1
    row per key, as one merge.  At many events per doc the reduce pays
    for itself in delta rows; a micro-batch removes few and is merged as
    is (:func:`tail_changelog`).  ``salt_buckets`` salts the reduce for
    single-key skew; ``"auto_count"`` sizes its winner join, as a replay
    can carry 10^7+ distinct keys (see :func:`lww_dedup`).  A batch id
    the lake already committed returns before the reduce is built: its
    winner count is an eager job over the whole changelog."""
    if batch_id <= lake.last_committed():
        return {"skipped": True, "version": lake.version}
    reduced = lww_dedup(
        prepare_batch(events), lake.key, "event_sequence",
        salt_buckets=salt_buckets, winners_strategy="auto_count",
    )
    return lake.merge(reduced, batch_id)


class MetricsLog:
    """Per-microbatch JSON-lines metrics (throughput, lag, lineage) —
    the reference analog is progress logging + Collector stats
    (/root/reference/investigraph/model/context.py:126-133,
    /root/reference/investigraph/logic/export.py:64-79)."""

    def __init__(self, path: str | None):
        self.path = pathlib.Path(path) if path else None
        if self.path:
            self.path.parent.mkdir(parents=True, exist_ok=True)

    def write(self, record: dict) -> None:
        if self.path:
            with self.path.open("a") as fh:
                fh.write(json.dumps(record) + "\n")


def tail_changelog(
    spark: SparkSession,
    changelog_dir: str,
    lake,
    checkpoint_dir: str,
    *,
    with_lang: bool = False,
    max_files_per_trigger: int = 4,
    metrics_path: str | None = None,
    available_now: bool = True,
    derived: list | None = None,
    stream: DataFrame | None = None,
    dead_letter_dir: str | None = None,
):
    """Start the tailer; returns the StreamingQuery.

    ``stream`` — a pre-built streaming DataFrame to tail instead of
    the default parquet changelog source (e.g. a decoded Debezium
    envelope stream from :func:`tail_debezium`).  If it carries the
    ``_dead`` marker column (sources/debezium.py), dead-lettered rows
    are quarantined to ``dead_letter_dir`` (append-parquet, keyed by
    batch id for idempotent retries) instead of poisoning the merge;
    such a stream without a ``dead_letter_dir`` raises ``ValueError``
    rather than drop its dead letters unrecorded.

    ``available_now=True`` drains everything currently in the directory
    and stops (the replay/bench mode); ``False`` keeps tailing.
    Each micro-batch is merged unreduced, and its folds run inline in
    the merge: a fold that fails fails the batch.
    ``derived`` — change-feed consumers refreshed after every batch's
    merge: anything with ``refresh(lake)`` keyed to the lake version —
    ``DerivedAggTable`` materialized views (operators/incremental.py)
    and ``MinHashIndex`` dedup indexes (operators/minhash_index.py).
    Each keeps its own lake-version pointer, so replayed batches are
    no-ops and a consumer that missed batches catches up over the
    widened feed.
    The declared schema may be a superset of early files — parquet
    fills missing columns with null, and the lake promotes genuinely
    new columns on first sight (additive evolution, SURVEY.md T6).
    """
    metrics = MetricsLog(metrics_path)

    if stream is None:
        stream = (
            spark.readStream.schema(change_schema(with_lang))
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(changelog_dir)
        )
    if "_dead" in stream.columns and dead_letter_dir is None:
        raise ValueError(
            "stream carries dead letters (_dead): pass dead_letter_dir"
        )

    def apply(batch: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        persisted = None
        if "_dead" in batch.columns:
            # quarantine, then merge only the valid side.  Two actions
            # over the decoded batch — persist so the envelope parse
            # runs once; dead letters keyed by batch id so a replayed
            # batch overwrites (not duplicates) its own quarantine.
            from investigraph_etl_spark.sources.debezium import (
                split_dead_letters,
            )

            persisted = batch.persist()
            good, dead = split_dead_letters(batch)
            (
                dead.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .parquet(f"{dead_letter_dir}/batch_id={batch_id}")
            )
            batch = good
        # metrics ride the merge's own actions via observe() — no extra
        # scan of the batch (batch.count() would re-read every file, a
        # full second pass at 100 TB)
        obs = Observation()
        observed = batch.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.min("event_sequence").alias("min_seq"),
            F.max("event_sequence").alias("max_seq"),
            F.max("event_time").alias("max_event_time"),
        )
        result = lake.merge(prepare_batch(observed), batch_id)
        # materialized views ride the same batch cadence; their own
        # version pointer makes a replayed batch a no-op and lets a
        # missed refresh catch up over the widened feed
        # (operators/incremental.py DerivedAggTable)
        for d in derived or []:
            d.refresh(lake)
        dt = time.monotonic() - t0
        o = obs.get if not result.get("skipped") else {}
        max_et = o.get("max_event_time")
        metrics.write(
            {
                "batch_id": batch_id,
                "rows_in": o.get("rows_in"),
                "min_seq": o.get("min_seq"),
                "max_seq": o.get("max_seq"),
                # ingest lag: wall clock vs newest event in the batch
                "lag_sec": round(time.time() - max_et.timestamp(), 3)
                if max_et is not None
                else None,
                "events_per_sec": round(o["rows_in"] / dt, 2)
                if dt > 0 and o.get("rows_in")
                else None,
                "seconds": round(dt, 3),
                "lake_version": result.get("version"),
                "skipped": result.get("skipped", False),
                "touched_buckets": result.get("touched_buckets"),
                "compacted_buckets": result.get("compacted_buckets"),
                # the merge's phase seconds (plan/write/compact)
                "timings": result.get("timings"),
                "wall_time": time.time(),
            }
        )
        if persisted is not None:
            persisted.unpersist()

    writer = (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def tail_debezium(
    spark: SparkSession,
    envelope_dir: str,
    lake,
    checkpoint_dir: str,
    *,
    dead_letter_dir: str,
    with_lang: bool = False,
    max_files_per_trigger: int = 4,
    **kwargs,
):
    """Tail a directory of Debezium JSON-lines envelope files (the
    file-based stand-in for a Kafka topic) into the lake: decode →
    dead-letter quarantine → normalize → MERGE, with the same
    exactly-once checkpoint semantics as :func:`tail_changelog`.
    ``dead_letter_dir`` is required: undecodable envelopes land there.

    On a real cluster swap the file source for ``format("kafka")`` and
    pass ``key_col="key"``/``seq_col="offset"`` through to
    :func:`investigraph_etl_spark.sources.debezium.decode_debezium` —
    the decode projection is source-agnostic.
    """
    from investigraph_etl_spark.sources.debezium import debezium_stream

    stream = debezium_stream(
        spark,
        envelope_dir,
        with_lang=with_lang,
        max_files_per_trigger=max_files_per_trigger,
    )
    return tail_changelog(
        spark,
        envelope_dir,
        lake,
        checkpoint_dir,
        with_lang=with_lang,
        stream=stream,
        dead_letter_dir=dead_letter_dir,
        **kwargs,
    )
