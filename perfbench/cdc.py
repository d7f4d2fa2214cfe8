"""``cdc``: the engine's change-data-capture path, binlog → lake →
downstream consumer, as a closed loop with one client.

Set-up writes a seeded change log with the engine's own generator and
starts ``tail_changelog`` on an empty lake with its defaults
(``available_now=False``).  Before anything is timed, the bulk slice,
many events per document and a hot-key share far above the generator's
default, lands through the tailer as one snapshot micro-batch (the
in-batch LWW reduce does most of its work here; its rate is reported as
``bulk_events_per_s``), and one change-feed read and one lookup compile
the read paths.

Each measured cycle:

1. moves the next low-duplicate chunk into the watched directory and
   waits for the tailer's commit of it, read from the tailer's own
   per-batch log: the commit latency, i.e. freshness on an idle tailer;
2. reads the net change feed since the previous version and counts it;
3. looks up a fixed seeded batch of keys (a hot key, a key the bulk
   slice tombstones, an absent key) in one ``read_keys`` call.

The number of cycles follows ``--seconds``; the reported figures are
medians over the cycles, so one slow cycle does not move them.
"""

from __future__ import annotations

import json
import pathlib
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import HostSpeed, median, quantile
from oracle import arrow_checksum, events_sql, net_changes, oracle_checksum, rows_at

BULK_EVENTS = 5_000
BULK_DOCS = 500
BULK_FILES = 2
HOT_KEYS = 8
HOT_SHARE = 0.25
CHUNK_EVENTS = 2_000
CHUNK_DOCS = 100_000
# a measured cycle takes 3.5-7 s on a 4-core host, as busy as its
# neighbours let it be; --seconds buys seconds // CYCLE_S cycles, at
# least two
CYCLE_S = 6
COMMIT_TIMEOUT_S = 90.0

PROPS = {
    "bulk_events": BULK_EVENTS,
    "bulk_events_per_doc": BULK_EVENTS / BULK_DOCS,
    "bulk_hot_share": HOT_SHARE,
    "chunk_events": CHUNK_EVENTS,
    "chunk_key_space": CHUNK_DOCS,
    "cycle_s": CYCLE_S,
}


def cycles_for(seconds: int) -> int:
    return max(2, seconds // CYCLE_S)


def make_inputs(out: pathlib.Path, seed: int, seconds: int) -> dict:
    """The bulk slice, then one chunk per measured cycle; the chunks'
    sequence numbers are shifted past the bulk slice, so every chunk is
    newer than everything before it."""
    from investigraph_etl_spark.changelog import write_changelog

    bulk = write_changelog(
        str(out / "bulk"),
        BULK_EVENTS,
        chunk_size=BULK_EVENTS // BULK_FILES,
        seed=seed,
        n_docs=BULK_DOCS,
        skew_frac=HOT_SHARE,
        n_hot=HOT_KEYS,
    )
    n = cycles_for(seconds)
    chunks = write_changelog(
        str(out / "chunks"), n * CHUNK_EVENTS, chunk_size=CHUNK_EVENTS, seed=seed + 1, n_docs=CHUNK_DOCS
    )
    for i, f in enumerate(chunks):  # after the bulk slice, named after it in the watched directory
        t = pq.read_table(f)
        seq = pc.add(t.column("event_sequence"), BULK_EVENTS)
        pq.write_table(t.set_column(0, "event_sequence", seq), out / "chunks" / f"next-{i:06d}.parquet")
        pathlib.Path(f).unlink()
    chunks = sorted(str(p) for p in (out / "chunks").glob("next-*.parquet"))
    return {"bulk": bulk, "chunks": chunks, "keys": lookup_keys(bulk, seed)}


def lookup_keys(bulk: list[str], seed: int) -> list[str]:
    """A hot key, a key the bulk slice leaves tombstoned and a key no
    event names: the same batch after every commit."""
    import duckdb
    import numpy as np

    rng = np.random.default_rng(seed)
    hot = f"doc-{int(rng.integers(HOT_KEYS)):08d}"
    tomb = duckdb.sql(
        f"SELECT doc_id FROM ({events_sql(bulk)}) "
        "QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY event_sequence DESC) = 1 "
        "AND op = 'delete' ORDER BY doc_id"
    ).fetchall()
    dead = tomb[int(rng.integers(len(tomb)))][0]
    absent = f"doc-{90_000_000 + int(rng.integers(1_000_000)):08d}"
    return [hot, dead, absent]


def upto(i: int) -> int:
    """Last sequence number of chunk ``i``; chunk -1 is the bulk slice."""
    return BULK_EVENTS + (i + 1) * CHUNK_EVENTS - 1


def _batches(path: pathlib.Path) -> list[dict]:
    """The tailer's per-batch records so far; a line still being
    written (no newline yet) is left for the next read."""
    if not path.exists():
        return []
    return [json.loads(x) for x in path.read_text().split("\n")[:-1] if x.strip()]


def wait_commit(batch_log: pathlib.Path, seq: int, timeout: float) -> dict | None:
    """The tailer's record of the first batch that commits ``seq``, or
    None after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    size = -1
    while True:
        now = batch_log.stat().st_size if batch_log.exists() else 0
        if now != size:  # parse only when the tailer has written
            size = now
            done = [b for b in _batches(batch_log) if b.get("rows_in") and b["max_seq"] >= seq]
            if done:
                return done[0]
        if time.monotonic() > deadline:
            return None
        time.sleep(0.01)


def _feed(path: str, watched: pathlib.Path) -> float:
    """Move one change-log file into the watched directory (an atomic
    rename); returns the wall time of the move."""
    src = pathlib.Path(path)
    src.rename(watched / src.name)
    return time.time()


def warm(spark, work: pathlib.Path, inputs: dict, tracer) -> None:
    from investigraph_etl_spark.sources.lake import HashLakeTable
    from investigraph_etl_spark.streaming.tailer import tail_changelog, target_schema
    from tracing import make_progress_listener

    watched = work / "watched"
    watched.mkdir()
    lake = HashLakeTable.create(spark, str(work / "lake"), target_schema())
    batch_log = work / "batches.jsonl"
    listener = None
    if tracer.enabled:
        listener = make_progress_listener()
        spark.streams.addListener(listener)
    for f in inputs["bulk"]:
        _feed(f, watched)
    query = tail_changelog(
        spark, str(watched), lake, str(work / "checkpoint"), metrics_path=str(batch_log), available_now=False
    )
    inputs.update(lake=lake, query=query, listener=listener, batch_log=batch_log, watched=watched)
    bulk = wait_commit(batch_log, BULK_EVENTS - 1, COMMIT_TIMEOUT_S)
    if bulk is None or bulk["min_seq"] != 0:
        raise RuntimeError("the tailer did not commit the bulk slice as one batch")
    inputs["bulk_s"] = bulk["seconds"]
    lake.read_changes(0).count()
    lake.read_keys(inputs["keys"]).collect()


def _row(r) -> tuple:
    return (tuple(r["tokens"]), r["n_tok"], r["source"])


def _record_merges(lake) -> list[tuple[float, dict]]:
    """Wrap the lake's ``merge`` so the tailer's calls are timed and
    their commit stats kept; the arguments pass through unchanged."""
    merges: list[tuple[float, dict]] = []
    merge = lake.merge

    def recorded(*args, **kwargs):
        t = time.perf_counter()
        out = merge(*args, **kwargs)
        merges.append((time.perf_counter() - t, out))
        return out

    lake.merge = recorded
    return merges


def measure(spark, work: pathlib.Path, inputs: dict, tracer, outcome) -> dict:
    lake, query, listener = inputs["lake"], inputs["query"], inputs["listener"]
    batch_log, watched, keys = inputs["batch_log"], inputs["watched"], inputs["keys"]
    first_batch = len(_batches(batch_log))  # batches before this are the warm-up
    merges = _record_merges(lake) if tracer.enabled else []
    commit_s: list[float] = []
    pickup_s: list[float] = []
    feed_s: list[float] = []
    lookup_s: list[float] = []
    cycle_s: list[float] = []
    commit_cpu: list[float] = []
    cycle_cpu: list[float] = []
    cycle_jit: list[float] = []
    lookups: list[tuple[int, set]] = []
    feeds: list[tuple[int, int]] = []
    files_keys: list[int] = []
    files_feed: list[int] = []
    depth = 0
    speed = HostSpeed()
    try:
        with tracer.span("cdc", "run"):
            for i, chunk in enumerate(inputs["chunks"]):
                prev = lake.version
                speed.sample()
                with tracer.span("cycle", f"commit-{i}", cpu=True) as c:
                    with tracer.span("streaming.tailer.commit", cpu=True) as t:
                        moved = _feed(chunk, watched)
                        b = wait_commit(batch_log, upto(i), COMMIT_TIMEOUT_S)
                    if b is None:
                        outcome.fail(f"the tailer did not commit chunk {i} within {COMMIT_TIMEOUT_S} s")
                        return {}
                    commit_s.append(b["wall_time"] - moved)
                    commit_cpu.append(t.cpu_seconds)
                    pickup_s.append(b["wall_time"] - moved - b["seconds"])
                    if tracer.enabled:
                        depth = max(depth, max((len(d) for d in lake.snapshot()["deltas"].values()), default=0))
                    try:
                        with tracer.span("sources.lake.read_changes", caller="lake.read_changes") as s:
                            feed = lake.read_changes(prev)
                            feeds.append((i, feed.count()))
                        feed_s.append(s.seconds)
                        if tracer.enabled:
                            files_feed.append(len(feed.inputFiles()))
                    except Exception as exc:  # counted, the loop goes on
                        outcome.fail(f"read_changes after chunk {i}: {exc!r}")
                    try:
                        with tracer.span("sources.lake.read_keys", caller="lake.read_keys") as s:
                            df = lake.read_keys(keys)
                            lookups.append((i, {(r["doc_id"], _row(r)) for r in df.collect()}))
                        lookup_s.append(s.seconds)
                        if tracer.enabled:
                            files_keys.append(len(df.inputFiles()))
                    except Exception as exc:
                        outcome.fail(f"read_keys after chunk {i}: {exc!r}")
                cycle_s.append(c.seconds)
                cycle_cpu.append(c.cpu_seconds)
                cycle_jit.append(c.jit_seconds)
            speed.sample()
    finally:
        query.stop()
    with tracer.span("sources.lake.wait_for_compaction", caller="streaming.tailer") as s:
        lake.wait_for_compaction()
    drain_s = s.seconds
    batches = _batches(batch_log)
    if listener is not None:
        deadline = time.time() + 5
        while time.time() < deadline and len(listener.progress) < len(batches):
            time.sleep(0.05)
        spark.streams.removeListener(listener)

    _verify(lake, inputs, lookups, feeds, outcome)
    fed = batches[first_batch:]
    out = {
        "cpu_s": median(cycle_cpu),
        "op_cpu_ms": median(commit_cpu) * 1e3,
        "wall": {"total_s": median(cycle_s), "latency_ms": median(commit_s) * 1e3},
        "jit_s": sum(cycle_jit),
        "ref_s": speed.ref_s,
        "stream_callers": {str(query.id): ("streaming.tailer", first_batch)},
        "report": {
            "bulk_events_per_s": (BULK_EVENTS / inputs["bulk_s"], "1/s (set-up snapshot batch)"),
            "cycle_cpu_p50_s": (median(cycle_cpu), f"s (n={len(cycle_cpu)})"),
            "commit_cpu_p50_s": (median(commit_cpu), f"s (n={len(commit_cpu)})"),
            "cycle_p50_s": (median(cycle_s), f"s (n={len(cycle_s)})"),
            "commit_p50_s": (median(commit_s), f"s (n={len(commit_s)})"),
            "commit_p90_s": (quantile(commit_s, 0.9), f"s (n={len(commit_s)})"),
            "ingest_events_per_s": (CHUNK_EVENTS / median(commit_s), "1/s (chunk / median commit)"),
            "lookup_p50_ms": (median(lookup_s) * 1e3, f"ms (n={len(lookup_s)})"),
            "changefeed_p50_s": (median(feed_s), f"s (n={len(feed_s)})"),
            "read_share_of_cycle": ((median(lookup_s) + median(feed_s)) / median(cycle_s), "frac"),
            "stream_batches": (len(fed), f"count (for {len(inputs['chunks'])} chunks)"),
        },
    }
    if tracer.enabled:
        from tracing import progress_metrics

        out["layers"] = {
            **progress_metrics(listener.progress[first_batch:]),
            "stream.apply_p50_s": median([b["seconds"] for b in fed]),
            "stream.pickup_p50_ms": median(pickup_s) * 1e3,
            "stream.commit_p90_s": quantile(commit_s, 0.9),
            "lake.merge.call_s": sum(t for t, _ in merges),
            "lake.merge.call_p50_s": median([t for t, _ in merges]),
            "lake.merge.plan_s": sum(m["timings"]["plan_sec"] for _, m in merges),
            "lake.merge.write_s": sum(m["timings"]["write_sec"] for _, m in merges),
            "lake.merge.compact_s": sum(m["timings"]["compact_sec"] for _, m in merges),
            "lake.merge.touched_buckets": sum(m["touched_buckets"] for _, m in merges),
            "lake.merge.compacted_buckets": sum(m["compacted_buckets"] for _, m in merges),
            "lake.compaction_drain_s": drain_s,
            "lake.read_keys.call_s": sum(lookup_s),
            "lake.read_keys.call_p50_ms": median(lookup_s) * 1e3,
            "lake.read_keys.files_scanned": median(files_keys),
            "lake.read_changes.call_s": sum(feed_s),
            "lake.read_changes.call_p50_ms": median(feed_s) * 1e3,
            "lake.read_changes.files_scanned": median(files_feed),
            "lake.delta_depth_max": depth,
            "lake.bytes_on_disk": sum(p.stat().st_size for p in (work / "lake").rglob("*") if p.is_file()),
        }
    return out


def _verify(lake, inputs: dict, lookups, feeds, outcome) -> None:
    """Final state, every lookup and every change-feed count against
    the DuckDB last-writer-wins oracle over the same change log."""
    fed = sorted(str(p) for p in inputs["watched"].glob("*.parquet"))
    events = events_sql(fed)
    outcome.check(
        "final lake state differs from the oracle",
        arrow_checksum(lake.read().toArrow()) == oracle_checksum(events),
    )
    keys = inputs["keys"]
    for i, got in lookups:
        want = rows_at(events, upto(i), keys)
        outcome.check(f"read_keys after chunk {i}", got == {(k, v) for k, v in want.items()})
    for i, n in feeds:
        outcome.check(f"read_changes count after chunk {i}", n == net_changes(events, upto(i - 1), upto(i)))
