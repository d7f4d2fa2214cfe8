"""LakeTable MERGE semantics: replay equivalence (token-array equality
per doc_id — the north-rule invariant), idempotency, late-event guard,
tombstone no-resurrection, schema evolution, bucket pruning."""

from __future__ import annotations

import pandas as pd
import pytest

from investigraph_etl_spark.changelog import gen_events_pandas, oracle_reduce
from investigraph_etl_spark.sources.lake import HashLakeTable
from investigraph_etl_spark.streaming.tailer import (
    change_schema,
    prepare_batch,
    replay_batch,
    target_schema,
)
from tests.conftest import assert_pdf_equal


def _spark_events(spark, pdf: pd.DataFrame, with_lang: bool = False):
    return spark.createDataFrame(pdf, schema=change_schema(with_lang))


@pytest.fixture()
def lake(spark, tmp_path):
    return HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=8
    )


def test_batch_replay_equals_oracle(spark, lake):
    events = gen_events_pandas(0, 4000, seed=42, n_docs=300, dirty_frac=0.1)
    replay_batch(_spark_events(spark, events), lake)
    got = lake.read().toPandas()
    expected = oracle_reduce(events)
    assert_pdf_equal(got, expected)


def test_replay_of_committed_batch_launches_no_job(spark, lake):
    """A re-delivered bulk batch returns before its reduce is built:
    the winner count would otherwise scan the whole changelog."""
    events = _spark_events(spark, gen_events_pandas(0, 2000, seed=5, n_docs=300))
    replay_batch(events, lake, batch_id=0)
    before = lake.read().toPandas()
    version = lake.version
    sc = spark.sparkContext
    sc.setJobGroup("replay-again", "re-deliver committed batch 0")
    try:
        r = replay_batch(events, lake, batch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("replay-again")) == []
    assert r == {"skipped": True, "version": version}
    assert_pdf_equal(lake.read().toPandas(), before)


def test_multi_batch_replay_equals_oracle(spark, lake):
    events = gen_events_pandas(0, 3000, seed=1, n_docs=200)
    for bid, start in enumerate(range(0, 3000, 700)):
        chunk = events.iloc[start : start + 700]
        lake.merge(prepare_batch(_spark_events(spark, chunk)), bid)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))


def test_merge_idempotent_on_replayed_batch(spark, lake):
    events = gen_events_pandas(0, 1000, seed=2, n_docs=100)
    batch = prepare_batch(_spark_events(spark, events))
    r1 = lake.merge(batch, 0)
    v1 = lake.version
    r2 = lake.merge(batch, 0)  # foreachBatch retry delivers same id
    assert not r1["skipped"] and r2["skipped"]
    assert lake.version == v1
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))


def test_late_events_cannot_rewind_state(spark, lake):
    events = gen_events_pandas(0, 2000, seed=3, n_docs=150)
    newer, older = events.iloc[1000:], events.iloc[:1000]
    # deliver the *newer* half first, stale half afterwards
    lake.merge(prepare_batch(_spark_events(spark, newer)), 0)
    lake.merge(prepare_batch(_spark_events(spark, older)), 1)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))


def test_tombstone_blocks_resurrection(spark, lake):
    cols = ["event_sequence", "op", "doc_id", "tokens", "n_tok", "source", "event_time"]
    t = pd.to_datetime(0, unit="s")
    ins = pd.DataFrame([[1, "insert", "x", [1, 2], 2, "web", t]], columns=cols)
    dele = pd.DataFrame([[5, "delete", "x", None, None, None, t]], columns=cols)
    stale = pd.DataFrame([[3, "update", "x", [9], 1, "web", t]], columns=cols)
    lake.merge(prepare_batch(_spark_events(spark, ins)), 0)
    lake.merge(prepare_batch(_spark_events(spark, dele)), 1)
    # a late update older than the delete must NOT resurrect the row
    lake.merge(prepare_batch(_spark_events(spark, stale)), 2)
    assert lake.read().count() == 0
    raw = lake.read_raw().toPandas()
    assert len(raw) == 1 and bool(raw["_deleted"][0]) and int(raw["_seq"][0]) == 5


def test_schema_evolution_promotes_new_column(spark, lake):
    old = gen_events_pandas(0, 800, seed=4, n_docs=100)
    new = gen_events_pandas(800, 800, seed=4, n_docs=100, with_lang=True)
    lake.merge(prepare_batch(_spark_events(spark, old)), 0)
    assert "lang" not in [f.name for f in lake.schema.fields]
    lake.merge(prepare_batch(_spark_events(spark, new, with_lang=True)), 1)
    assert "lang" in [f.name for f in lake.schema.fields]
    combined = pd.concat([old, new], ignore_index=True)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(combined))
    # rows last written before evolution read back with null lang
    got = lake.read().toPandas().set_index("doc_id")
    exp = oracle_reduce(combined).set_index("doc_id")
    stale_docs = exp[exp["lang"].isna()].index
    assert got.loc[stale_docs, "lang"].isna().all()


def test_bucket_pruning_touches_only_needed_buckets(spark, lake):
    events = gen_events_pandas(0, 2000, seed=5, n_docs=300)
    lake.merge(prepare_batch(_spark_events(spark, events)), 0)
    cols = ["event_sequence", "op", "doc_id", "tokens", "n_tok", "source", "event_time"]
    one = pd.DataFrame(
        [[99_999, "update", "doc-00000007", [7], 1, "web", pd.to_datetime(0, unit="s")]],
        columns=cols,
    )
    r = lake.merge(prepare_batch(_spark_events(spark, one)), 1)
    assert r["touched_buckets"] == 1
    # untouched buckets' files carried forward unchanged
    assert_pdf_equal(
        lake.read().toPandas(),
        oracle_reduce(pd.concat([events, one], ignore_index=True)),
    )


def test_salted_lww_same_result(spark, lake):
    events = gen_events_pandas(0, 3000, seed=6, n_docs=50, skew_frac=0.6, n_hot=1)
    replay_batch(_spark_events(spark, events), lake, salt_buckets=8)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))


def test_merge_appends_every_row_replay_reduces(spark, lake, tmp_path):
    """``merge`` appends the batch as is — duplicate keys included — and
    the read-time LWW resolves them; ``replay_batch`` reduces the bulk
    batch first, so it stores at most one row per key.  Both read back
    the oracle state."""
    def stored(t):  # every row in the table's files (read_raw is LWW'd)
        return spark.read.parquet(*t._bucket_files(None))

    events = gen_events_pandas(0, 1200, seed=13, n_docs=40)  # heavy dups
    assert events["doc_id"].nunique() < len(events)
    lake.merge(prepare_batch(_spark_events(spark, events)), 0)
    assert stored(lake).count() == len(events)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))

    replayed = HashLakeTable.create(
        spark, str(tmp_path / "replayed"), target_schema(), num_buckets=8
    )
    replay_batch(_spark_events(spark, events), replayed)
    per_key = stored(replayed).groupBy(replayed.key).count().toPandas()
    assert len(per_key) == events["doc_id"].nunique()
    assert (per_key["count"] == 1).all()
    assert_pdf_equal(replayed.read().toPandas(), oracle_reduce(events))


def test_delta_write_rebalance_sized_to_batch(spark, lake, monkeypatch):
    """The delta write is a bucket rebalance on the 4×-buckets fan that
    AQE coalesces to the batch: a 2k-row commit writes in at most
    shuffle-partitions tasks, as exactly ONE delta file (one write
    task) whose stored ``_bucket`` values are the touched buckets, and
    every touched bucket's new delta set is exactly that file."""
    import pathlib
    import re

    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    plans = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans.append(self._df._jdf.queryExecution().executedPlan().toString())
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    events = gen_events_pandas(0, 2000, seed=29, n_docs=1500)
    batch = prepare_batch(_spark_events(spark, events))
    sc = spark.sparkContext
    sc.setJobGroup("delta-write-shape", "one 2k-row merge commit")
    try:
        r = lake.merge(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    (plan,) = plans
    fan = re.search(
        r"Exchange hashpartitioning\(_bucket#\d+L?, (\d+)\), REBALANCE_PARTITIONS_BY_COL",
        plan,
    )
    assert fan, plan
    assert int(fan.group(1)) == 4 * lake.num_buckets

    # the status store is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    write_job = st.getJobInfo(max(st.getJobIdsForGroup("delta-write-shape")))
    write_stage = st.getStageInfo(max(write_job.stageIds))
    assert write_stage.numTasks <= int(spark.conf.get("spark.sql.shuffle.partitions"))

    out = pathlib.Path(lake.root) / "data" / f"c{r['version']:06d}"
    (only,) = [str(f) for f in out.glob("*.parquet")]
    stored = set(pq.read_table(only, columns=["_bucket"]).column(0).to_pylist())
    (entry,) = lake.snapshot()["lineage"]
    assert stored == set(entry["touched_buckets"])
    assert len(stored) == r["touched_buckets"] > 1
    assert entry["files"] == [only]
    deltas = lake.snapshot()["deltas"]
    assert {int(b) for b in deltas} == stored
    assert all(dsets == [[only]] for dsets in deltas.values())
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))


def _data_bytes(lake) -> int:
    import pathlib

    data = pathlib.Path(lake.root) / "data"
    return sum(p.stat().st_size for p in data.rglob("*") if p.is_file())


def test_merge_on_read_write_amplification_bounded(spark, lake):
    """North-rule scale property: a delta commit writes ∝ batch bytes,
    NOT table bytes (the round-1 COW design rewrote every touched
    bucket per commit)."""
    big = gen_events_pandas(0, 5000, seed=11, n_docs=400)
    lake.merge(prepare_batch(_spark_events(spark, big)), 0, auto_compact_deltas=100)
    table_bytes = _data_bytes(lake)
    one = gen_events_pandas(50_000, 1, seed=12, n_docs=400)
    before = _data_bytes(lake)
    lake.merge(prepare_batch(_spark_events(spark, one)), 1, auto_compact_deltas=100)
    delta_bytes = _data_bytes(lake) - before
    # a 1-event delta commit must be orders of magnitude below the table
    assert delta_bytes < table_bytes / 10, (delta_bytes, table_bytes)


def test_compact_folds_deltas_preserves_state(spark, lake):
    events = gen_events_pandas(0, 3000, seed=13, n_docs=150)
    for bid, start in enumerate(range(0, 3000, 500)):
        chunk = events.iloc[start : start + 500]
        lake.merge(
            prepare_batch(_spark_events(spark, chunk)), bid, auto_compact_deltas=100
        )
    assert any(lake.snapshot()["deltas"].values())
    expected = oracle_reduce(events)
    r = lake.compact()
    assert r["compacted_buckets"] > 0
    assert not any(lake.snapshot()["deltas"].values())
    assert_pdf_equal(lake.read().toPandas(), expected)
    # and the table still merges after compaction
    more = gen_events_pandas(9000, 100, seed=14, n_docs=150)
    lake.merge(prepare_batch(_spark_events(spark, more)), 99)
    assert_pdf_equal(
        lake.read().toPandas(),
        oracle_reduce(pd.concat([events, more], ignore_index=True)),
    )


def test_auto_compact_triggers_at_threshold(spark, lake):
    """Merge folds threshold buckets inline into bases that carry
    harvested key stats."""
    events = gen_events_pandas(0, 1200, seed=15, n_docs=20)  # few docs → few buckets
    compactions = 0
    for bid, start in enumerate(range(0, 1200, 200)):
        chunk = events.iloc[start : start + 200]
        r = lake.merge(
            prepare_batch(_spark_events(spark, chunk)), bid,
            auto_compact_deltas=3,
        )
        compactions += r.get("compacted_buckets", 0)
    assert compactions > 0
    deltas = lake.snapshot()["deltas"]
    # smoothed compaction folds a bounded bucket set per commit, so
    # delta counts stay bounded by ~2× the threshold, not threshold+1
    assert all(len(d) <= 2 * 3 for d in deltas.values())
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))
    # every base file carries harvested [min, max] key stats
    stats = lake._manifest["file_stats"]
    bases = [f for fl in lake._manifest["buckets"].values() for f in fl]
    assert bases
    for f in bases:
        assert f in stats and stats[f][0] <= stats[f][1]


def test_lww_auto_count_strategy(spark, lake):
    """auto_count picks shuffle_hash above the key threshold and
    broadcast below it — same result either way."""
    from investigraph_etl_spark.operators.lww import lww_dedup

    events = gen_events_pandas(0, 2000, seed=16, n_docs=300)
    df = _spark_events(spark, events)
    small = lww_dedup(df, "doc_id", "event_sequence")  # auto_count default
    forced = lww_dedup(
        df,
        "doc_id",
        "event_sequence",
        winners_strategy="auto_count",
        auto_count_max_keys=10,  # force the shuffle_hash branch
    )
    a = {r["doc_id"]: r["event_sequence"] for r in small.collect()}
    b = {r["doc_id"]: r["event_sequence"] for r in forced.collect()}
    assert a == b and len(a) > 200
    # the retired explicit strategies (and typos) are rejected, not
    # silently planned as "auto"
    for bad in ("broadcast", "shuffle_hash", "auto_cnt"):
        with pytest.raises(ValueError, match=repr(bad)):
            lww_dedup(df, "doc_id", "event_sequence", winners_strategy=bad)


def test_vacuum_time_travel_to_retained_manifest(spark, lake):
    """Vacuum must keep every file referenced by any RETAINED manifest,
    and resolve paths before comparing (symlink/relative spellings)."""
    import json
    import pathlib

    events = gen_events_pandas(0, 2000, seed=17, n_docs=100)
    for bid, start in enumerate(range(0, 2000, 400)):
        lake.merge(
            prepare_batch(_spark_events(spark, events.iloc[start : start + 400])),
            bid,
            auto_compact_deltas=2,  # force compactions → superseded files
        )
    lake.vacuum(keep_manifests=3)
    # every retained manifest's file set must still exist on disk
    for m in sorted((pathlib.Path(lake.root) / "manifests").glob("v*.json"))[-3:]:
        doc = HashLakeTable._materialize(m.parent, json.loads(m.read_text()))
        assert doc.get("buckets") or doc.get("deltas")  # not vacuous
        for files in doc.get("buckets", {}).values():
            for f in files:
                assert pathlib.Path(f).exists(), f
        for dsets in doc.get("deltas", {}).values():
            for files in dsets:
                for f in files:
                    assert pathlib.Path(f).exists(), f
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))


def test_vacuum_reclaims_superseded_files_preserves_state(spark, lake):
    events = gen_events_pandas(0, 3000, seed=7, n_docs=100)
    for bid, start in enumerate(range(0, 3000, 600)):
        chunk = events.iloc[start : start + 600]
        lake.merge(prepare_batch(_spark_events(spark, chunk)), bid)
    expected = oracle_reduce(events)
    import pathlib

    data = pathlib.Path(lake.root) / "data"
    before = sum(1 for p in data.rglob("*") if p.is_file())
    stats = lake.vacuum(keep_manifests=2)
    after = sum(1 for p in data.rglob("*") if p.is_file())
    # 5 commits each rewrote most buckets → most file sets superseded
    assert stats["removed_files"] > 0 and after < before
    assert stats["expired_manifests"] > 0
    # live state byte-identical after GC, and the table still merges
    assert_pdf_equal(lake.read().toPandas(), expected)
    one = gen_events_pandas(9000, 10, seed=8, n_docs=100)
    lake.merge(prepare_batch(_spark_events(spark, one)), 99)
    assert_pdf_equal(
        lake.read().toPandas(),
        oracle_reduce(pd.concat([events, one], ignore_index=True)),
    )


def test_fast_policy_replay_equals_oracle(spark, lake):
    """The sustained-ingest policy must reach the exact same final
    state as the oracle.  auto_compact_deltas=2 forces several inline
    folds mid-replay, each followed by more delta appends to the same
    buckets."""
    events = gen_events_pandas(0, 3000, seed=11, n_docs=200, dirty_frac=0.1)
    for bid, start in enumerate(range(0, 3000, 300)):
        chunk = events.iloc[start : start + 300]
        lake.merge(
            prepare_batch(_spark_events(spark, chunk)), bid,
            auto_compact_deltas=2,
        )
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))
    # reopening from disk (fresh reader) sees the identical state —
    # every fold was persisted by its merge's manifest write
    reopened = HashLakeTable(spark, lake.root)
    assert_pdf_equal(reopened.read().toPandas(), oracle_reduce(events))


def test_unreduced_deltas_fold_at_compaction(spark, lake):
    """merge writes duplicate key rows into one commit's delta; read()
    must still LWW them away, and compact() must fold them into
    singletons."""
    events = gen_events_pandas(0, 1200, seed=12, n_docs=40)  # heavy dups
    # one commit never reaches the default fold threshold
    lake.merge(prepare_batch(_spark_events(spark, events)), 0)
    assert any(lake.snapshot()["deltas"].values())
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))
    lake.compact()
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))
    # post-compaction the base holds ≤1 row per key
    raw = lake.read_raw().groupBy(lake.key).count().toPandas()
    assert (raw["count"] == 1).all()


def test_failed_fold_rolls_back_the_commit(spark, tmp_path, monkeypatch):
    """A fold that raises inside merge fails the batch and leaves the
    handle where the disk is: the same version and last committed batch
    id as a reopened handle.  The retry of that batch id is applied, not
    skipped, and both handles then read the oracle's state."""
    lake = HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=4
    )
    events = gen_events_pandas(0, 600, seed=25, n_docs=60)
    chunks = [events.iloc[:300], events.iloc[300:]]
    lake.merge(prepare_batch(_spark_events(spark, chunks[0])), 0, auto_compact_deltas=2)
    calls = []

    def boom(*args):
        calls.append(args)
        raise RuntimeError("injected fold failure")

    with monkeypatch.context() as m:
        m.setattr(lake, "_fold", boom)
        with pytest.raises(RuntimeError, match="injected fold failure"):
            lake.merge(
                prepare_batch(_spark_events(spark, chunks[1])), 1,
                auto_compact_deltas=2,
            )
    assert calls
    reopened = HashLakeTable(spark, lake.root)
    assert (lake.version, lake.last_committed()) == (
        reopened.version, reopened.last_committed()
    ) == (1, 0)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(chunks[0]))

    r = lake.merge(
        prepare_batch(_spark_events(spark, chunks[1])), 1, auto_compact_deltas=2
    )
    assert not r["skipped"] and r["compacted_buckets"] > 0
    reopened = HashLakeTable(spark, lake.root)
    assert (lake.version, lake.last_committed()) == (
        reopened.version, reopened.last_committed()
    ) == (2, 1)
    for handle in (lake, reopened):
        assert_pdf_equal(handle.read().toPandas(), oracle_reduce(events))


def test_read_keys_prunes_to_key_buckets(spark, lake):
    """Point lookup: result equals a filtered full read, tombstoned
    keys return nothing, and the scan prunes at two granularities (the
    100 TB point-lookup story).  Compacted bases are per bucket, so
    the scan reads ONLY the bases of the buckets the keys hash into;
    delta files are per write task, so after one more commit the scan
    adds exactly that commit's one file, read whole."""
    events = gen_events_pandas(0, 2000, seed=23, n_docs=150)
    replay_batch(_spark_events(spark, events), lake)
    lake.compact()
    oracle = oracle_reduce(events)
    live = list(oracle["doc_id"].iloc[:3])
    all_ids = {f"doc-{n:08d}" for n in range(150)}
    dead = sorted(all_ids - set(oracle["doc_id"]))[:1]  # tombstoned
    keys = live + dead
    got = lake.read_keys(keys).toPandas()
    assert_pdf_equal(got, oracle[oracle["doc_id"].isin(live)])

    def scanned(df):
        return {f.removeprefix("file://") for f in df.inputFiles()}

    bases = lake._manifest["buckets"]
    want = {f for k in keys for f in bases[str(_bucket_of(lake, k))]}
    every = scanned(lake.read_raw())
    assert scanned(lake.read_keys(keys)) == want and want < every
    # the delta path: an update of one key lands as one delta file
    cols = ["event_sequence", "op", "doc_id", "tokens", "n_tok", "source", "event_time"]
    t = pd.to_datetime(0, unit="s")
    up = pd.DataFrame([[99_999, "update", live[0], [7], 1, "web", t]], columns=cols)
    lake.merge(prepare_batch(_spark_events(spark, up)), 1)
    (new_file,) = lake.snapshot()["lineage"][-1]["files"]
    assert scanned(lake.read_keys(keys)) == want | {new_file}
    final = oracle_reduce(pd.concat([events, up], ignore_index=True))
    assert_pdf_equal(
        lake.read_keys(keys).toPandas(), final[final["doc_id"].isin(live)]
    )


def test_read_keys_skips_shared_delta_file_by_bucket_range(spark, lake):
    """A delta file shared by several buckets keeps one key range per
    bucket: a lookup skips it when the key's own bucket's rows in it
    exclude the key, even though the file's whole range covers it.
    The ranges survive the per-bucket manifest split."""
    cands = [f"doc-{n:08d}" for n in range(64)]
    bucket_of = dict(
        spark.createDataFrame([(k,) for k in cands], "doc_id string")
        .select("doc_id", lake._bucket_col().cast("int"))
        .collect()
    )
    key = cands[20]
    other = [k for k in cands if bucket_of[k] != bucket_of[key]]
    below = next(k for k in other if k < key)
    above = next(k for k in other if k > key)
    same = next(k for k in cands if k > above and bucket_of[k] == bucket_of[key])
    cols = ["event_sequence", "op", "doc_id", "tokens", "n_tok", "source", "event_time"]
    t = pd.to_datetime(0, unit="s")
    first = pd.DataFrame(
        [[i, "insert", k, [i], 1, "web", t] for i, k in enumerate((below, above, same))],
        columns=cols,
    )
    second = pd.DataFrame([[9, "insert", key, [9], 1, "web", t]], columns=cols)
    for bid, part in enumerate((first, second)):
        lake.merge(prepare_batch(_spark_events(spark, part)), bid)
    (shared,), (mine,) = (e["files"] for e in lake.snapshot()["lineage"][-2:])
    assert shared in lake._bucket_files([bucket_of[key]])
    stats = lake._manifest["file_stats"][shared]
    assert stats[str(bucket_of[key])] == [same, same]
    got = lake.read_keys([key])
    assert {f.removeprefix("file://") for f in got.inputFiles()} == {mine}
    want = oracle_reduce(pd.concat([first, second], ignore_index=True))
    assert_pdf_equal(got.toPandas(), want[want["doc_id"] == key])
    # each bucket manifest stores its own range; a reader reassembles them
    reopened = HashLakeTable(spark, str(lake.root))
    assert reopened._manifest["file_stats"] == lake._manifest["file_stats"]
    assert {
        f.removeprefix("file://") for f in reopened.read_keys([key]).inputFiles()
    } == {mine}


def test_read_keys_integer_key_lake(spark, tmp_path):
    """``read_keys`` on a long-keyed lake (the ``_events_lake`` shape of
    the driver queries) with duplicate, tombstoned and absent keys:
    rows equal a pandas LWW oracle, the buckets the write path stored
    for the keys' rows are among the ``_bucket_col`` assignments of
    the keys, the scanned files are among those the manifest lists
    under the keys' buckets, and their stored ``_bucket`` values cover
    them — the literal-key bucket job agrees with the write path for
    non-string keys."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    lake = HashLakeTable.create(
        spark, str(tmp_path / "events_lake"), schema, key="user_id", num_buckets=8
    )
    rng = np.random.default_rng(13)
    n = 600
    events = pd.DataFrame(
        {
            "user_id": rng.integers(0, 80, n),
            "_evseq": np.arange(n),
            "event_type": rng.choice(["click", "view", "error"], n),
            "value": rng.random(n),
        }
    )
    # user 3's last event is an error → tombstoned
    tomb = {"user_id": [3], "_evseq": [n], "event_type": ["error"], "value": [0.0]}
    events = pd.concat([events, pd.DataFrame(tomb)], ignore_index=True)
    events["op"] = np.where(events["event_type"] == "error", "delete", "upsert")
    first = events._evseq <= n // 2
    for bid, part in enumerate((events[first], events[~first])):
        lake.merge(spark.createDataFrame(part), bid, seq="_evseq", op="op")

    last = events.sort_values("_evseq").groupby("user_id").tail(1)
    live = last[last.op != "delete"]
    present = [int(k) for k in live["user_id"].iloc[:4]]
    keys = present + [present[0], 3, 10_000, 3]
    got = lake.read_keys(keys).toPandas()
    want = live[live.user_id.isin(keys)][["user_id", "event_type", "value"]]
    assert_pdf_equal(got, want, key="user_id")

    key_df = spark.createDataFrame([(k,) for k in keys], StructType([schema["user_id"]]))
    assigned = {r[0] for r in key_df.select(lake._bucket_col()).collect()}
    scanned_files = lake.read_keys(keys).inputFiles()
    # the lookup reads only files the manifest lists under the keys' buckets
    assert {f.removeprefix("file://") for f in scanned_files} <= set(
        lake._bucket_files(sorted(assigned))
    )
    scanned = {
        r["_bucket"]
        for r in spark.read.parquet(*scanned_files)
        .select("_bucket")
        .distinct()
        .collect()
    }
    # where the write path put the requested keys' rows
    written = {
        r["_bucket"]
        for c in (tmp_path / "events_lake" / "data").glob("c*")
        for r in spark.read.parquet(str(c))
        .filter(F.col("user_id").isin(keys))
        .select("_bucket")
        .collect()
    }
    assert written <= scanned and written <= assigned
    assert len(assigned) < lake.num_buckets


def test_read_keys_empty_list(spark, lake):
    events = gen_events_pandas(0, 500, seed=24, n_docs=50)
    replay_batch(_spark_events(spark, events), lake)
    assert lake.read_keys([]).count() == 0


def _kv_lake(spark, root, key_type: str, num_buckets: int = 8):
    """An empty lake of ``(k <key_type>, v string)`` keyed on ``k``."""
    schema = spark.createDataFrame([], f"k {key_type}, v string").schema
    return HashLakeTable.create(
        spark, str(root), schema, key="k", num_buckets=num_buckets
    )


def _kv_batch(spark, keys, key_type: str, seq0: int = 0):
    return spark.createDataFrame(
        [(k, f"v{k}", seq0 + i, "upsert") for i, k in enumerate(keys)],
        f"k {key_type}, v string, seq long, op string",
    )


def test_driver_bucket_matches_spark_xxhash64(spark, tmp_path):
    """The driver's XXH64 equals Spark's ``xxhash64`` on string keys
    (random, non-ASCII, empty, and ≥ 32 bytes, which take the
    four-lane loop) and long keys (0, −1, the bounds, random), and its
    bucket equals ``_bucket_col``'s on a lake whose bucket count is
    not a power of two (a signed hash, taken with ``pmod``)."""
    import random

    from pyspark.sql import functions as F

    from investigraph_etl_spark.sources.lake import _xxh64

    rng = random.Random(5)
    alphabet = "abcXYZ019 -_é漢字🙂\x00"
    strings = ["", "a", "doc-00000042", "é", "漢字", "🙂" * 9, "x" * 32, "y" * 33]
    strings += [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 80)))
        for _ in range(200)
    ]
    longs = [0, -1, 1, 2**63 - 1, -(2**63), 2**31, -(2**31) - 1]
    longs += [rng.randrange(-(2**63), 2**63) for _ in range(200)]
    for key_type, keys, encode in (
        ("string", strings, lambda k: k.encode("utf-8")),
        ("bigint", longs, lambda k: k.to_bytes(8, "little", signed=True)),
    ):
        lake = _kv_lake(spark, tmp_path / key_type, key_type, num_buckets=13)
        got = (
            spark.createDataFrame([(k,) for k in keys], f"k {key_type}")
            .select("k", F.xxhash64("k"), lake._bucket_col())
            .collect()
        )
        assert len(got) == len(keys)
        for k, h, _ in got:
            assert _xxh64(encode(k)) == h, k
        assert lake._key_buckets(keys) == {k: b for k, _, b in got}


def test_read_keys_builds_no_job_and_plans_one_aggregate(spark, lake):
    """Building a lookup launches no Spark job (the keys' buckets are
    hashed on the driver), and its plan is the pruned scan under ONE
    aggregate (partial + final ``max_by``), with no join."""
    import re

    events = gen_events_pandas(0, 1500, seed=31, n_docs=120)
    replay_batch(_spark_events(spark, events), lake)
    lake.merge(prepare_batch(_spark_events(spark, events.iloc[::7])), 1)
    oracle = oracle_reduce(events)
    keys = list(oracle["doc_id"].iloc[:3]) + ["doc-99999999"]
    sc = spark.sparkContext
    sc.setJobGroup("lookup-build", "build a lookup")
    try:
        df = lake.read_keys(keys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("lookup-build")) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\w+Aggregate\(", plan)) == 2
    assert len(re.findall(r"partial_max_by\(", plan)) == 1
    assert not re.findall(r"\w+Join ", plan)
    assert_pdf_equal(df.toPandas(), oracle[oracle["doc_id"].isin(keys)])


def test_read_keys_coerces_keys_to_the_key_type(spark, tmp_path):
    """Keys are cast to the stored key type before hashing, as the CLI
    passes strings: on a long-keyed lake ``"7"`` finds key 7 and a key
    that does not parse raises, naming it; on a string-keyed lake an
    int finds its decimal string.  ``create`` takes only string or
    long keys."""
    import re

    lake = _kv_lake(spark, tmp_path / "l", "bigint")
    lake.merge(_kv_batch(spark, range(-5, 20), "bigint"), 0, seq="seq")
    got = lake.read_keys(["7", " -3 ", 12, "40"]).collect()
    assert sorted(map(tuple, got)) == [(-3, "v-3"), (7, "v7"), (12, "v12")]
    for bad in ("x5", "1.5", str(2**63)):
        with pytest.raises(ValueError, match=re.escape(repr(bad))):
            lake.read_keys(["1", bad])
    skeys = _kv_lake(spark, tmp_path / "s", "string")
    skeys.merge(_kv_batch(spark, ["12"], "string"), 0, seq="seq")
    assert [r.v for r in skeys.read_keys([12]).collect()] == ["v12"]
    with pytest.raises(ValueError, match="'k' is int"):
        _kv_lake(spark, tmp_path / "i", "int")


@pytest.mark.parametrize("policy", ["evolve", "strict"])
def test_key_type_promotion_is_rejected(spark, tmp_path, policy):
    """A long-keyed batch into a lake that stores an int key raises,
    naming the key, and leaves the lake as it was.  Spark hashes an
    int and a long of one value into different buckets, so promoting
    the key would strand the stored rows: lookups miss them and a
    fold drops them.  The int-keyed lake is written as one that
    predates ``create``'s key-type check."""
    import json

    from investigraph_etl_spark.sources.lake import SchemaCompatibilityError

    root = tmp_path / "lake"
    _kv_lake(spark, root, "bigint")
    listing = root / "manifests" / "v000000.json"
    doc = json.loads(listing.read_text())
    doc["schema"]["fields"][0]["type"] = "integer"
    listing.write_text(json.dumps(doc))
    lake = HashLakeTable(spark, str(root))
    lake.merge(_kv_batch(spark, range(40), "int"), 0, seq="seq")
    before = sorted(lake.read().collect())
    assert len(before) == 40
    late = _kv_batch(spark, range(40, 45), "bigint", seq0=100)
    with pytest.raises(SchemaCompatibilityError, match="key column 'k'"):
        lake.merge(late, 1, seq="seq", schema_policy=policy)
    reopened = HashLakeTable(spark, str(root))
    assert lake.version == reopened.version == 1
    assert lake.schema == reopened.schema
    assert lake.schema["k"].dataType.typeName() == "integer"
    lake.compact([0, 1, 2, 3])
    assert sorted(lake.read().collect()) == before


def test_time_travel_reads_retained_versions(spark, lake):
    """read(version=v) reproduces the state as of commit v (MVCC), and
    vacuum-expired versions raise instead of silently reading current
    files."""
    events = gen_events_pandas(0, 3000, seed=25, n_docs=120)
    versions = []
    for bid, start in enumerate(range(0, 3000, 1000)):
        chunk = events.iloc[start : start + 1000]
        stats = lake.merge(prepare_batch(_spark_events(spark, chunk)), bid)
        versions.append(stats["version"])
    # snapshot after the FIRST commit == oracle over its events only
    assert_pdf_equal(
        lake.read(version=versions[0]).toPandas(),
        oracle_reduce(events.iloc[:1000]),
    )
    # latest (explicit + implicit agree)
    assert_pdf_equal(
        lake.read(version=versions[-1]).toPandas(), oracle_reduce(events)
    )
    # expire everything but the newest manifest: old version must raise
    lake.vacuum(keep_manifests=1)
    with pytest.raises(ValueError, match="expired|not available"):
        lake.read(version=versions[0]).count()
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))


def test_time_travel_schema_as_of_version(spark, lake):
    """A version before additive evolution exposes the OLD schema —
    the snapshot's columns, not the current ones."""
    base = gen_events_pandas(0, 800, seed=26, n_docs=60)
    s1 = lake.merge(prepare_batch(_spark_events(spark, base)), 0)
    evolved = gen_events_pandas(800, 800, seed=26, n_docs=60, with_lang=True)
    lake.merge(
        prepare_batch(_spark_events(spark, evolved, with_lang=True)), 1
    )
    old_cols = set(lake.read(version=s1["version"]).columns)
    new_cols = set(lake.read().columns)
    assert "lang" not in old_cols and "lang" in new_cols


def test_mvcc_pinned_reader_sees_stable_snapshot(spark, lake):
    """A DataFrame built before later commits is pinned to its
    snapshot's file set (manifest captured at plan time; compaction
    supersedes but never deletes — only vacuum does): collecting it
    AFTER more merges and forced compactions must still return the
    old state, while a fresh read sees the new one."""
    events = gen_events_pandas(0, 2400, seed=61, n_docs=120)
    first, rest = events.iloc[:1200], events.iloc[1200:]
    lake.merge(prepare_batch(_spark_events(spark, first)), 0)
    pinned = lake.read()
    expected_old = oracle_reduce(first)
    for bid, start in enumerate(range(0, 1200, 400), start=1):
        lake.merge(
            prepare_batch(_spark_events(spark, rest.iloc[start : start + 400])),
            bid,
            auto_compact_deltas=2,  # force folds while the reader is pinned
        )
    lake.compact()
    assert_pdf_equal(pinned.toPandas(), expected_old)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))


def test_manifest_bytes_per_commit_proportional_to_touched_buckets(spark, tmp_path):
    """The Iceberg-style split (round 3): committing a batch that
    touches ONE bucket writes metadata ∝ that bucket's (compaction-
    bounded) file list plus an O(num_buckets)-pointer manifest list —
    NOT the whole table's file inventory.  The flat round-2 layout
    re-serialized EVERY bucket's file list per commit; here a
    single-bucket commit on a well-populated 64-bucket table must write
    far less than the flat-equivalent document, and untouched buckets'
    manifest files must be reused, not rewritten."""
    import json as _json
    import pathlib as _pl

    lake = HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=64
    )
    mdir = _pl.Path(lake.root) / "manifests"
    # populate every bucket across several commits (default compaction)
    for bid, start in enumerate(range(0, 6000, 1000)):
        ev = gen_events_pandas(start, 1000, seed=7, n_docs=400)
        lake.merge(prepare_batch(_spark_events(spark, ev)), bid)

    cols = ["event_sequence", "op", "doc_id", "tokens", "n_tok", "source", "event_time"]
    t = pd.to_datetime(0, unit="s")
    before = {p.name: p.stat().st_size for p in mdir.iterdir()}
    ev = pd.DataFrame([[10**6, "insert", "one-key", [1], 1, "web", t]], columns=cols)
    lake.merge(prepare_batch(_spark_events(spark, ev)), 99)
    new_files = [p for p in mdir.iterdir() if p.name not in before]
    new_bytes = sum(p.stat().st_size for p in new_files)
    # the flat layout would have re-serialized this whole document:
    flat_bytes = len(
        _json.dumps(
            {
                "buckets": lake._manifest.get("buckets", {}),
                "deltas": lake._manifest.get("deltas", {}),
            }
        )
    )
    assert new_bytes < 0.3 * flat_bytes, (new_bytes, flat_bytes)
    # exactly one bucket manifest rewritten; the other 63 reused
    new_bm = [p for p in new_files if p.name.startswith("bm-")]
    assert len(new_bm) == 1, [p.name for p in new_files]
    refs = _json.loads(
        (mdir / f"v{lake.version:06d}.json").read_text()
    )["bucket_refs"]
    assert sum(1 for r in refs.values() if r not in before) == 1


def _bucket_of(lake, key: str) -> int:
    from pyspark.sql import functions as F

    return (
        lake.spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(key)), F.lit(lake.num_buckets))
            .cast("int")
            .alias("b")
        )
        .collect()[0]["b"]
    )


def test_read_keys_file_skipping_after_sorted_compaction(spark, lake):
    """Iceberg-style data skipping: compaction sorts each bucket by key
    and rolls files at compact_target_file_rows, so a point lookup
    reads a strict subset of even its OWN bucket's base files — and the
    result still equals the filtered full read (pruning can never
    change LWW winners)."""
    lake.compact_target_file_rows = 4
    events = gen_events_pandas(0, 3000, seed=31, n_docs=200)
    for bid, start in enumerate(range(0, 3000, 1000)):
        chunk = events.iloc[start : start + 1000]
        lake.merge(prepare_batch(_spark_events(spark, chunk)), bid)
    lake.compact()
    oracle = oracle_reduce(events)
    key = str(oracle["doc_id"].iloc[0])
    got = lake.read_keys([key]).toPandas()
    assert_pdf_equal(got, oracle[oracle["doc_id"] == key])
    # the key's bucket was rolled into several key-disjoint files …
    bucket_files = set(lake._manifest["buckets"][str(_bucket_of(lake, key))])
    assert len(bucket_files) > 1
    # … and the lookup reads a strict subset of them
    touched = {
        f.removeprefix("file://") for f in lake.read_keys([key]).inputFiles()
    }
    assert touched and touched < bucket_files
    # every base file now carries harvested [min,max] key stats
    stats = lake._manifest["file_stats"]
    for fl in lake._manifest["buckets"].values():
        for f in fl:
            assert f in stats and stats[f][0] <= stats[f][1]


def test_file_stats_survive_manifest_roundtrip(spark, lake):
    """Stats persist in the per-bucket manifests: a fresh table handle
    (new reader process) prunes lookups just like the writer did."""
    lake.compact_target_file_rows = 4
    events = gen_events_pandas(0, 2000, seed=32, n_docs=150)
    replay_batch(_spark_events(spark, events), lake)
    lake.compact()
    oracle = oracle_reduce(events)
    key = str(oracle["doc_id"].iloc[1])
    reopened = HashLakeTable(spark, str(lake.root))
    assert reopened._manifest["file_stats"] == lake._manifest["file_stats"]
    bucket_files = set(reopened._manifest["buckets"][str(_bucket_of(lake, key))])
    touched = {
        f.removeprefix("file://") for f in reopened.read_keys([key]).inputFiles()
    }
    assert touched and touched < bucket_files
    assert_pdf_equal(
        reopened.read_keys([key]).toPandas(),
        oracle[oracle["doc_id"] == key],
    )


def test_file_skipping_with_tombstones_and_compaction(spark, lake):
    """Skipping is sound under the full LWW surface: tombstoned keys
    stay dead, late events stay lost, and the inline folds carry the
    new bases' stats (old files' stats dropped)."""
    lake.compact_target_file_rows = 4
    events = gen_events_pandas(0, 2500, seed=33, n_docs=180, dirty_frac=0.1)
    for bid, start in enumerate(range(0, 2500, 500)):
        chunk = events.iloc[start : start + 500]
        lake.merge(
            prepare_batch(_spark_events(spark, chunk)),
            bid,
            auto_compact_deltas=2,
        )
    oracle = oracle_reduce(events)
    all_ids = {f"doc-{n:08d}" for n in range(180)}
    dead = sorted(all_ids - set(oracle["doc_id"]))[:2]
    live = [str(k) for k in oracle["doc_id"].iloc[:3]]
    got = lake.read_keys(live + dead).toPandas()
    assert_pdf_equal(got, oracle[oracle["doc_id"].isin(live)])
    # stats reference only files the manifest still points at
    current = set(lake._bucket_files())
    assert set(lake._manifest["file_stats"]) <= current


# ------------------------- interleaved-read property over inline folds


@pytest.mark.parametrize("seed", range(20))
def test_async_compaction_interleaved_reads_lww_equivalent(
    spark, tmp_path, seed
):
    """Randomized (seeded) multi-commit ingest whose merges fold
    inline at a delta depth of 1 or 2: a read issued between commits
    must see the exact LWW survivor set of the commits applied so far
    (round-5, VERDICT r4 task 6).  Also time-travels back to every
    recorded version at the end: later folds must not have changed any
    snapshot's rows.  The name predates the removal of the background
    fold this test first ran against; its 20 seeded ids are kept."""
    import random

    rng = random.Random(seed)
    n_commits = rng.choice([3, 4])
    chunk = rng.choice([200, 350])
    n_docs = rng.choice([40, 80])
    lake = HashLakeTable.create(
        spark, str(tmp_path / f"alake{seed}"), target_schema(), num_buckets=4
    )
    lake.compact_target_file_rows = rng.choice([4, 64])
    events = gen_events_pandas(
        0, n_commits * chunk, seed=seed, n_docs=n_docs, dirty_frac=0.15
    )
    snapshots = []  # (version, oracle prefix end)
    for bid in range(n_commits):
        part = events.iloc[bid * chunk : (bid + 1) * chunk]
        lake.merge(
            prepare_batch(_spark_events(spark, part)),
            bid,
            auto_compact_deltas=rng.choice([1, 2]),
        )
        snapshots.append((lake.version, (bid + 1) * chunk))
        # read between commits: already LWW-exact after this one's fold
        if rng.random() < 0.7:
            assert_pdf_equal(
                lake.read().toPandas(),
                oracle_reduce(events.iloc[: (bid + 1) * chunk]),
            )
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))
    # every recorded snapshot still reads to its own prefix's LWW state
    for version, end in snapshots:
        assert_pdf_equal(
            lake.read(version=version).toPandas(),
            oracle_reduce(events.iloc[:end]),
        )
