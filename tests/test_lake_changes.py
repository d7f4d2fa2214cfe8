"""Change-feed (CDC *out*) semantics: ``HashLakeTable.read_changes``
is the Delta CDF / Iceberg changelog-scan analog — the NET row-level
diff between two retained snapshots.  Pinned here: insert/update/delete
classification, late-loser suppression, tombstone interactions,
apply-changes state reconstruction, correctness across compaction
(compacted files mix old rows → the row-level ``_commit`` filter is
load-bearing), schema evolution, and the file-pruning scale shape."""

from __future__ import annotations

import pandas as pd
import pytest

from investigraph_etl_spark.changelog import gen_events_pandas, oracle_reduce
from investigraph_etl_spark.sources.lake import HashLakeTable
from investigraph_etl_spark.streaming.tailer import (
    change_schema,
    prepare_batch,
    target_schema,
)
from tests.conftest import assert_pdf_equal

COLS = ["event_sequence", "op", "doc_id", "tokens", "n_tok", "source", "event_time"]
T0 = pd.to_datetime(0, unit="s")


def _spark_events(spark, pdf: pd.DataFrame, with_lang: bool = False):
    return spark.createDataFrame(pdf, schema=change_schema(with_lang))


@pytest.fixture()
def lake(spark, tmp_path):
    return HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=8
    )


def oracle_changes(ev_from: pd.DataFrame, ev_all: pd.DataFrame) -> pd.DataFrame:
    """Single-threaded net diff between the LWW states of two event
    prefixes: one row per key whose winner changed, classified by the
    (from-live, to-live) transition; delete rows carry null payload."""
    f = oracle_reduce(ev_from, with_tombstones=True).set_index("doc_id")
    t = oracle_reduce(ev_all, with_tombstones=True).set_index("doc_id")
    pay_cols = [c for c in t.columns if c not in ("_deleted", "_seq")]
    rows = []
    for key, trow in t.iterrows():
        frow = f.loc[key] if key in f.index else None
        if frow is not None and frow["_seq"] == trow["_seq"]:
            continue  # winner unchanged → no net change
        f_live = frow is not None and not frow["_deleted"]
        if trow["_deleted"]:
            if f_live:
                rows.append(
                    {"doc_id": key, **{c: None for c in pay_cols},
                     "_change_type": "delete"}
                )
        else:
            rows.append(
                {"doc_id": key, **{c: trow[c] for c in pay_cols},
                 "_change_type": "insert" if not f_live else "update"}
            )
    cols = ["doc_id"] + pay_cols + ["_change_type"]
    return pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)


def test_changes_classify_insert_update_delete(spark, lake):
    """Hand-built transitions: update, delete, insert, late loser
    (no row), re-insert over a from-side tombstone (insert), and a
    range delete of a never-live key (no row)."""
    c1 = pd.DataFrame(
        [
            [1, "insert", "a", [1], 1, "web", T0],
            [2, "insert", "b", [2], 1, "web", T0],
            [9, "update", "c", [3], 1, "web", T0],  # c's winner stays seq 9
            [3, "insert", "e", [5], 1, "web", T0],
            [4, "delete", "e", None, None, None, T0],  # tombstone at from
        ],
        columns=COLS,
    )
    c2 = pd.DataFrame(
        [
            [10, "update", "a", [7, 7], 2, "books", T0],  # update
            [11, "delete", "b", None, None, None, T0],  # delete
            [12, "insert", "d", [8], 1, "code", T0],  # insert
            [5, "update", "c", [9], 1, "web", T0],  # late loser → no row
            [13, "insert", "e", [6], 1, "wiki", T0],  # over tombstone → insert
            [14, "delete", "z", None, None, None, T0],  # never live → no row
        ],
        columns=COLS,
    )
    v1 = lake.merge(prepare_batch(_spark_events(spark, c1)), 0)["version"]
    lake.merge(prepare_batch(_spark_events(spark, c2)), 1)
    got = lake.read_changes(v1).toPandas()
    by_key = {r["doc_id"]: r for _, r in got.iterrows()}
    assert set(by_key) == {"a", "b", "d", "e"}
    assert by_key["a"]["_change_type"] == "update"
    assert list(by_key["a"]["tokens"]) == [7, 7] and by_key["a"]["source"] == "books"
    assert by_key["b"]["_change_type"] == "delete"
    assert by_key["b"]["tokens"] is None and by_key["b"]["source"] is None
    assert by_key["d"]["_change_type"] == "insert"
    assert by_key["e"]["_change_type"] == "insert"
    assert_pdf_equal(got, oracle_changes(c1, pd.concat([c1, c2])))


def test_changes_match_oracle_diff_interleaved(spark, lake):
    """Generator events delivered even/odd (each commit interleaves
    sequence numbers) so commit 2 contains genuine late losers against
    commit 1 winners — the feed must equal the oracle net diff."""
    events = gen_events_pandas(0, 3000, seed=31, n_docs=200, dirty_frac=0.1)
    ev1, ev2 = events.iloc[::2], events.iloc[1::2]
    v1 = lake.merge(prepare_batch(_spark_events(spark, ev1)), 0)["version"]
    lake.merge(prepare_batch(_spark_events(spark, ev2)), 1)
    got = lake.read_changes(v1).toPandas()
    assert_pdf_equal(got, oracle_changes(ev1, events))
    # sanity: the interleave produced a non-trivial feed with all kinds
    kinds = set(got["_change_type"])
    assert kinds == {"insert", "update", "delete"}


def test_changes_apply_reconstructs_to_state(spark, lake):
    """state(from) + changes = state(to): upsert inserts/updates, drop
    deletes.  The invariant a downstream incremental consumer relies
    on, independent of the diff oracle's own reasoning."""
    events = gen_events_pandas(0, 4000, seed=32, n_docs=250)
    chunks = [events.iloc[i::4] for i in range(4)]
    versions = []
    for bid, chunk in enumerate(chunks):
        versions.append(
            lake.merge(prepare_batch(_spark_events(spark, chunk)), bid)["version"]
        )
    vf = versions[1]  # diff spans two commits
    state = {
        r["doc_id"]: dict(r)
        for _, r in lake.read(version=vf).toPandas().iterrows()
    }
    for _, ch in lake.read_changes(vf).toPandas().iterrows():
        if ch["_change_type"] == "delete":
            state.pop(ch["doc_id"])
        else:
            state[ch["doc_id"]] = {
                k: v for k, v in dict(ch).items() if k != "_change_type"
            }
    rebuilt = pd.DataFrame(list(state.values()))
    assert_pdf_equal(rebuilt, lake.read().toPandas())


def test_changes_across_compaction(spark, lake):
    """Compaction rewrites old rows into files stamped with a NEW
    commit dir — the row-level ``_commit`` range filter (not just file
    pruning) must keep pre-``from`` rows out of the feed."""
    events = gen_events_pandas(0, 3000, seed=33, n_docs=150)
    chunks = [events.iloc[i::5] for i in range(5)]
    versions = []
    for bid, chunk in enumerate(chunks):
        versions.append(
            lake.merge(
                prepare_batch(_spark_events(spark, chunk)), bid,
                auto_compact_deltas=2,  # force folds mid-replay
            )["version"]
        )
    lake.compact()  # everything now lives in compaction files
    vf = versions[2]
    ev_from = pd.concat(chunks[:3])
    got = lake.read_changes(vf).toPandas()
    assert_pdf_equal(got, oracle_changes(ev_from, events))


def test_changes_range_scan_avoids_compaction_outputs(spark, lake):
    """After folds, the range side must come from the commit-addressed
    delta dirs (manifest lineage), never the compacted bases — the
    compacted _commit row-filter scan was a measured 2-3× refresh
    spike.  Also: truncating the lineage window forces the manifest
    fallback, which must stay value-identical."""
    import json
    import pathlib

    events = gen_events_pandas(0, 3000, seed=72, n_docs=150)
    chunks = [events.iloc[i::5] for i in range(5)]
    # folds start at the 4th commit's delta depth of 4, after vf: vf's
    # from-state is all delta files, so a compaction output in the
    # scan could only come from the range side
    results = [
        lake.merge(
            prepare_batch(_spark_events(spark, c)), b, auto_compact_deltas=4
        )
        for b, c in enumerate(chunks)
    ]
    assert sum(r["compacted_buckets"] for r in results) > 0
    lake.compact()
    vf = results[2]["version"]
    assert not lake._manifest_at(vf)["buckets"]
    feed = lake.read_changes(vf)
    expected = oracle_changes(pd.concat(chunks[:3]), events)
    assert_pdf_equal(feed.toPandas(), expected)
    # no compaction output (c%06dx / c%06da) in the scan
    assert all(
        "x/_bucket=" not in f and "a/_bucket=" not in f
        for f in feed.inputFiles()
    ), [f for f in feed.inputFiles() if "x/_bucket" in f or "a/_bucket" in f]
    # lineage window too short → manifest-file fallback, same values
    mp = pathlib.Path(lake.root) / "manifests" / f"v{lake.version:06d}.json"
    doc = json.loads(mp.read_text())
    doc["lineage"] = doc["lineage"][-1:]
    mp.write_text(json.dumps(doc))
    fb = lake.read_changes(vf)
    assert_pdf_equal(fb.toPandas(), expected)
    assert any("x/_bucket=" in f or "a/_bucket=" in f for f in fb.inputFiles())


def test_changes_empty_range_and_errors(spark, lake):
    events = gen_events_pandas(0, 500, seed=34, n_docs=50)
    v1 = lake.merge(prepare_batch(_spark_events(spark, events)), 0)["version"]
    same = lake.read_changes(v1, v1)
    assert same.count() == 0 and "_change_type" in same.columns
    with pytest.raises(ValueError, match="from_version"):
        lake.read_changes(v1 + 1, v1)
    # from the empty table, everything live is an insert
    full = lake.read_changes(0).toPandas()
    assert (full["_change_type"] == "insert").all()
    assert_pdf_equal(
        full.drop(columns=["_change_type"]), oracle_reduce(events)
    )


def test_changes_bounded_to_version(spark, lake):
    """to_version pins the feed's upper snapshot: commits after it are
    invisible, and the payload is the to-version winner."""
    events = gen_events_pandas(0, 1800, seed=35, n_docs=100)
    chunks = [events.iloc[i::3] for i in range(3)]
    versions = [
        lake.merge(prepare_batch(_spark_events(spark, c)), b)["version"]
        for b, c in enumerate(chunks)
    ]
    got = lake.read_changes(versions[0], versions[1]).toPandas()
    assert_pdf_equal(
        got, oracle_changes(chunks[0], pd.concat(chunks[:2]))
    )


def test_changes_schema_evolution(spark, lake):
    """A feed spanning an additive-evolution commit exposes the
    to-version schema; pre-evolution from-state still prunes/compares
    correctly on its own (narrower) schema."""
    old = gen_events_pandas(0, 800, seed=36, n_docs=80)
    new = gen_events_pandas(800, 800, seed=36, n_docs=80, with_lang=True)
    v1 = lake.merge(prepare_batch(_spark_events(spark, old)), 0)["version"]
    lake.merge(prepare_batch(_spark_events(spark, new, with_lang=True)), 1)
    got = lake.read_changes(v1).toPandas()
    assert "lang" in got.columns
    combined = pd.concat([old, new], ignore_index=True)
    assert_pdf_equal(got, oracle_changes(old, combined))


def test_changes_file_pruning(spark, lake):
    """Scale shape: feed cost ∝ changes, not table size.  After a big
    commit, a compact and a 1-key commit, the feed's scan reads (a) for
    the range side exactly the 1-key commit's one delta file and (b)
    for the from-state side only the touched key's bucket — never the
    whole table.  Bucket pruning of the from-state is per bucket where
    the bases hold the bytes; delta files prune at write-task
    granularity (a micro-batch's file holds all the buckets it
    touched)."""
    events = gen_events_pandas(0, 2000, seed=37, n_docs=300)
    lake.merge(prepare_batch(_spark_events(spark, events)), 0)
    v1 = lake.compact()["version"]
    one = pd.DataFrame(
        [[99_999, "update", "doc-00000007", [7], 1, "web", T0]], columns=COLS
    )
    lake.merge(prepare_batch(_spark_events(spark, one)), 1)
    feed = lake.read_changes(v1)
    got = feed.toPandas()
    assert list(got["doc_id"]) == ["doc-00000007"]
    scanned = {f.removeprefix("file://") for f in feed.inputFiles()}
    every = {f.removeprefix("file://") for f in lake.read_raw().inputFiles()}
    assert scanned and scanned < every
    (range_file,) = lake.snapshot()["lineage"][-1]["files"]
    assert range_file in scanned
    old_files = scanned - {range_file}
    assert all(HashLakeTable._file_commit_version(f) <= v1 for f in old_files)
    # every scanned pre-``from`` file is a base of the ONE touched bucket
    (touched,) = lake.snapshot()["lineage"][-1]["touched_buckets"]
    assert old_files == set(lake._manifest_at(v1)["buckets"][str(touched)])


def oracle_changes_preimage(
    ev_from: pd.DataFrame, ev_all: pd.DataFrame
) -> list[dict]:
    """Expected Delta-CDF-shape rows: updates emit a preimage/postimage
    pair, deletes carry the from-state payload."""
    f = oracle_reduce(ev_from, with_tombstones=True).set_index("doc_id")
    t = oracle_reduce(ev_all, with_tombstones=True).set_index("doc_id")
    pay_cols = [c for c in t.columns if c not in ("_deleted", "_seq")]

    def payload(row, cols):
        return {
            c: (row[c] if c in row.index else None) if row is not None else None
            for c in cols
        }

    rows = []
    for key, trow in t.iterrows():
        frow = f.loc[key] if key in f.index else None
        if frow is not None and frow["_seq"] == trow["_seq"]:
            continue
        f_live = frow is not None and not frow["_deleted"]
        if trow["_deleted"]:
            if f_live:
                rows.append(
                    {"doc_id": key, **payload(frow, pay_cols),
                     "_change_type": "delete"}
                )
        elif not f_live:
            rows.append(
                {"doc_id": key, **payload(trow, pay_cols),
                 "_change_type": "insert"}
            )
        else:
            rows.append(
                {"doc_id": key, **payload(frow, pay_cols),
                 "_change_type": "update_preimage"}
            )
            rows.append(
                {"doc_id": key, **payload(trow, pay_cols),
                 "_change_type": "update_postimage"}
            )
    return rows


def _row_key(d: dict):
    from tests.conftest import _norm

    return tuple(str(_norm(d[k])) for k in sorted(d))


def assert_rows_equal(got: pd.DataFrame, expected: list[dict]):
    g = sorted(_row_key(dict(r)) for _, r in got.iterrows())
    e = sorted(_row_key(r) for r in expected)
    assert g == e, f"first diff: {next(((a, b) for a, b in zip(g, e) if a != b), (len(g), len(e)))}"


def test_changes_preimage_feed_matches_oracle(spark, lake):
    events = gen_events_pandas(0, 3000, seed=41, n_docs=200, dirty_frac=0.1)
    ev1, ev2 = events.iloc[::2], events.iloc[1::2]
    v1 = lake.merge(prepare_batch(_spark_events(spark, ev1)), 0)["version"]
    lake.merge(prepare_batch(_spark_events(spark, ev2)), 1)
    got = lake.read_changes(v1, include_preimage=True).toPandas()
    kinds = set(got["_change_type"])
    assert kinds == {"insert", "update_preimage", "update_postimage", "delete"}
    # pre/post rows come in pairs per updated key
    ups = got[got["_change_type"].str.startswith("update_")]
    assert (ups.groupby("doc_id").size() == 2).all()
    assert_rows_equal(got, oracle_changes_preimage(ev1, events))


def test_changes_preimage_delete_carries_old_payload(spark, lake):
    c1 = pd.DataFrame(
        [[1, "insert", "a", [1, 2], 2, "web", T0]], columns=COLS
    )
    c2 = pd.DataFrame(
        [[9, "delete", "a", None, None, None, T0]], columns=COLS
    )
    v1 = lake.merge(prepare_batch(_spark_events(spark, c1)), 0)["version"]
    lake.merge(prepare_batch(_spark_events(spark, c2)), 1)
    got = lake.read_changes(v1, include_preimage=True).toPandas()
    assert len(got) == 1
    r = got.iloc[0]
    assert r["_change_type"] == "delete"
    assert list(r["tokens"]) == [1, 2] and r["source"] == "web"


def test_incremental_agg_matches_recompute(spark, lake):
    """The end-to-end CDF consumer: a (source → count, Σn_tok) derived
    table maintained from the preimage feed must equal a full
    recompute over the live table — including group migrations (a
    doc whose source changed) and null group keys (dirty sources
    normalize to None)."""
    from investigraph_etl_spark.operators.incremental import (
        aggregate_state,
        apply_feed,
    )

    events = gen_events_pandas(0, 4000, seed=42, n_docs=250, dirty_frac=0.15)
    chunks = [events.iloc[i::3] for i in range(3)]
    versions = [
        lake.merge(prepare_batch(_spark_events(spark, c)), b)["version"]
        for b, c in enumerate(chunks)
    ]
    v1 = versions[0]
    state = aggregate_state(
        lake.read(version=v1), ["source"], sum_cols={"total_tok": "n_tok"}
    )
    feed = lake.read_changes(v1, include_preimage=True)
    new = apply_feed(state, feed, ["source"], sum_cols={"total_tok": "n_tok"})
    full = aggregate_state(
        lake.read(), ["source"], sum_cols={"total_tok": "n_tok"}
    )
    assert_pdf_equal(new.toPandas(), full.toPandas(), key="source")


def test_incremental_agg_bootstrap_from_empty(spark, lake):
    from investigraph_etl_spark.operators.incremental import (
        aggregate_state,
        apply_feed,
    )

    events = gen_events_pandas(0, 1500, seed=43, n_docs=100)
    lake.merge(prepare_batch(_spark_events(spark, events)), 0)
    feed = lake.read_changes(0, include_preimage=True)
    got = apply_feed(None, feed, ["source"], sum_cols={"total_tok": "n_tok"})
    full = aggregate_state(
        lake.read(), ["source"], sum_cols={"total_tok": "n_tok"}
    )
    assert_pdf_equal(got.toPandas(), full.toPandas(), key="source")


def test_apply_feed_rejects_net_feed(spark, lake):
    """A net feed (plain 'update' rows, no preimages) is not
    invertible — apply_feed must fail loudly, not double-count."""
    from investigraph_etl_spark.operators.incremental import apply_feed

    events = gen_events_pandas(0, 1000, seed=44, n_docs=50)
    ev1, ev2 = events.iloc[::2], events.iloc[1::2]
    v1 = lake.merge(prepare_batch(_spark_events(spark, ev1)), 0)["version"]
    lake.merge(prepare_batch(_spark_events(spark, ev2)), 1)
    net = lake.read_changes(v1)  # no preimages
    assert (net.toPandas()["_change_type"] == "update").any()
    with pytest.raises(Exception, match="preimage"):
        apply_feed(None, net, ["source"]).collect()


def test_changes_survive_vacuum_retention(spark, lake):
    """read_changes across a vacuumed table: both manifests retained ⇒
    the feed still works (vacuum keeps every retained manifest's
    files); an expired from-version raises instead of mis-reading."""
    events = gen_events_pandas(0, 2500, seed=45, n_docs=120)
    chunks = [events.iloc[i::5] for i in range(5)]
    versions = [
        lake.merge(
            prepare_batch(_spark_events(spark, c)), b, auto_compact_deltas=2
        )["version"]
        for b, c in enumerate(chunks)
    ]
    lake.vacuum(keep_manifests=3)
    vf = versions[-3]
    got = lake.read_changes(vf).toPandas()
    assert_pdf_equal(got, oracle_changes(pd.concat(chunks[:3]), events))
    with pytest.raises(ValueError, match="expired|not available"):
        lake.read_changes(versions[0]).count()


def _fresh_derived(spark, tmp_path, name="agg"):
    from investigraph_etl_spark.operators.incremental import DerivedAggTable

    return DerivedAggTable(
        spark, str(tmp_path / name), ["source"],
        sum_cols={"total_tok": "n_tok"},
    )


def _recompute(spark, lake):
    from investigraph_etl_spark.operators.incremental import aggregate_state

    return aggregate_state(
        lake.read(), ["source"], sum_cols={"total_tok": "n_tok"}
    ).toPandas()


def test_derived_table_tracks_lake(spark, lake, tmp_path):
    """Refresh after every commit: the persisted materialized view
    always equals a full recompute, and a same-version refresh is a
    no-op (replayed-batch idempotency)."""
    d = _fresh_derived(spark, tmp_path)
    events = gen_events_pandas(0, 3000, seed=51, n_docs=150, dirty_frac=0.1)
    chunks = [events.iloc[i::3] for i in range(3)]
    for bid, chunk in enumerate(chunks):
        lake.merge(prepare_batch(_spark_events(spark, chunk)), bid)
        r = d.refresh(lake)
        assert not r["skipped"] and d.version == lake.version
        assert_pdf_equal(d.state().toPandas(), _recompute(spark, lake), key="source")
    assert d.refresh(lake)["skipped"]


def test_derived_table_catches_up_over_gap(spark, lake, tmp_path):
    """A refresh skipped for several commits folds the single
    multi-commit feed — the crash-recovery / cron-cadence path."""
    d = _fresh_derived(spark, tmp_path)
    events = gen_events_pandas(0, 4000, seed=52, n_docs=200)
    chunks = [events.iloc[i::4] for i in range(4)]
    lake.merge(prepare_batch(_spark_events(spark, chunks[0])), 0)
    d.refresh(lake)
    # three commits land with no maintenance (simulated downtime)
    for bid, chunk in enumerate(chunks[1:], start=1):
        lake.merge(prepare_batch(_spark_events(spark, chunk)), bid)
    r = d.refresh(lake)
    assert r["from_version"] == 1 and r["version"] == lake.version
    assert_pdf_equal(d.state().toPandas(), _recompute(spark, lake), key="source")


def test_tailer_maintains_derived_view(spark, lake, tmp_path):
    """End-to-end streaming: the tailer refreshes the materialized
    view every micro-batch; after the drain it equals a recompute."""
    from investigraph_etl_spark.changelog import write_changelog
    from investigraph_etl_spark.streaming.tailer import tail_changelog

    d = _fresh_derived(spark, tmp_path)
    log = str(tmp_path / "log")
    write_changelog(log, 2000, chunk_size=250, seed=53, n_docs=150)
    q = tail_changelog(
        spark, log, lake, str(tmp_path / "ckpt"),
        max_files_per_trigger=3, derived=[d],
    )
    q.awaitTermination(300)
    assert d.version == lake.version > 0
    assert_pdf_equal(d.state().toPandas(), _recompute(spark, lake), key="source")


def test_cli_changes_subcommand(spark, tmp_path):
    from investigraph_etl_spark.changelog import (
        read_changelog_pandas,
        write_changelog,
    )
    from investigraph_etl_spark.run import main

    log = str(tmp_path / "log")
    write_changelog(log, 1200, chunk_size=300, seed=38, n_docs=100)
    main(["replay", "--changelog", log, "--lake", str(tmp_path / "lake"),
          "--num-buckets", "8"])
    lake = HashLakeTable(spark, str(tmp_path / "lake"))
    vf = lake.version
    one = pd.DataFrame(
        [[99_999, "insert", "doc-brandnew", [1, 2], 2, "web", T0]], columns=COLS
    )
    lake.merge(prepare_batch(_spark_events(spark, one)), 10_000)
    out = str(tmp_path / "feed")
    main(["changes", "--lake", str(tmp_path / "lake"),
          "--from-version", str(vf), "--out", out, "--num-buckets", "8"])
    got = spark.read.parquet(out).toPandas()
    ev = read_changelog_pandas(log)
    assert_pdf_equal(got, oracle_changes(ev, pd.concat([ev, one])))


def test_file_commit_version_parsing():
    """Pure path parsing behind the feed's file-level pruning: delta
    and compaction dir forms, and a root dir that itself looks like a
    commit dir must not confuse the (last-match) parse."""
    f = HashLakeTable._file_commit_version
    assert f("/x/data/c000005/_bucket=3/part-0.parquet") == 5
    assert f("/x/data/c000007x/_bucket=0/part-0.parquet") == 7
    assert f("/tmp/c123456_w/data/c000002/_bucket=1/p.parquet") == 2
    # versions past 999,999 widen beyond the 6-digit zero padding
    assert f(f"/x/data/c{1000001:06d}/_bucket=0/p.parquet") == 1000001
    assert f(f"/x/data/c{1000001:06d}x/_bucket=0/p.parquet") == 1000001
    with pytest.raises(ValueError):
        f("/x/data/nope/part-0.parquet")


def test_changes_column_projection_prunes_and_matches(spark, lake):
    """columns= restricts the feed payload AND the scans: no parquet
    ReadSchema may include the token arrays, and the projected rows
    equal the full feed projected after the fact."""
    import contextlib
    import io

    events = gen_events_pandas(0, 2000, seed=71, n_docs=120, dirty_frac=0.1)
    ev1, ev2 = events.iloc[::2], events.iloc[1::2]
    v1 = lake.merge(prepare_batch(_spark_events(spark, ev1)), 0)["version"]
    lake.merge(prepare_batch(_spark_events(spark, ev2)), 1)
    feed = lake.read_changes(
        v1, include_preimage=True, columns=["source", "n_tok"]
    )
    assert set(feed.columns) == {"doc_id", "source", "n_tok", "_change_type"}
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        feed.explain("formatted")
    reads = [l for l in buf.getvalue().splitlines() if "ReadSchema" in l]
    assert reads and all("tokens" not in l for l in reads), reads
    full = lake.read_changes(v1, include_preimage=True).toPandas()
    exp = [
        dict(r)
        for _, r in full[["doc_id", "source", "n_tok", "_change_type"]].iterrows()
    ]
    assert_rows_equal(feed.toPandas(), exp)
    with pytest.raises(ValueError, match="unknown"):
        lake.read_changes(v1, columns=["nope"])


def test_changes_of_map_payload_and_key_only_projection(spark, tmp_path):
    """A map column, which cannot be ordered, rides the feed's
    aggregate as payload; a feed projected to the key alone carries no
    payload.  Covers insert, update and delete rows, net and
    preimage."""
    ddl = "k string, m map<string,int>, seq long, op string"
    first = spark.createDataFrame(
        [("a", {"x": 1}, 1, "upsert"), ("b", {"y": 2}, 2, "upsert")], ddl
    )
    lake = HashLakeTable.create(
        spark, str(tmp_path / "lake"), first.select("k", "m").schema,
        key="k", num_buckets=4,
    )
    lake.merge(first, 0, seq="seq")
    lake.merge(
        spark.createDataFrame(
            [("a", {"z": 3}, 3, "upsert"), ("b", None, 4, "delete"),
             ("c", {"w": 5}, 5, "upsert")],
            ddl,
        ),
        1, seq="seq",
    )

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    assert rows(lake.read_changes(1)) == [
        ("a", {"z": 3}, "update"), ("b", None, "delete"), ("c", {"w": 5}, "insert")
    ]
    assert rows(lake.read_changes(1, include_preimage=True)) == [
        ("a", {"x": 1}, "update_preimage"), ("a", {"z": 3}, "update_postimage"),
        ("b", {"y": 2}, "delete"), ("c", {"w": 5}, "insert"),
    ]
    assert rows(lake.read_changes(1, columns=["k"])) == [
        ("a", "update"), ("b", "delete"), ("c", "insert")
    ]


def test_changes_build_runs_no_job_and_plans_one_aggregate(spark, lake):
    """The feed's plan shape.  Building it launches no Spark job — the
    touched buckets of a pure-delta range come off the lineage, and a
    from-state of more than 32 files (per-bucket bases, each rolled
    into several files by a compact) is not listed by a distributed
    job.  The net feed scans parquet twice (the from state, narrow;
    the range files with their payload) under one aggregate (partial +
    final) and no join: the range winner carries its payload.  The
    preimage feed adds one scan and one join for the from-state
    payload."""
    import re

    lake.compact_target_file_rows = 10
    events = gen_events_pandas(0, 3000, seed=73, n_docs=400)
    chunks = [events.iloc[i::6] for i in range(6)]
    for b, c in enumerate(chunks[:4]):
        lake.merge(prepare_batch(_spark_events(spark, c)), b)
    lake.compact()
    versions = [
        lake.merge(prepare_batch(_spark_events(spark, c)), b)["version"]
        for b, c in enumerate(chunks[4:], start=4)
    ]
    vf = versions[-2]
    touched = lake.snapshot()["lineage"][-1]["touched_buckets"]
    assert len(lake._bucket_files(touched, lake._manifest_at(vf))) > 32
    sc = spark.sparkContext
    sc.setJobGroup("feed-build", "build the change feeds")
    try:
        net = lake.read_changes(vf)
        pre = lake.read_changes(vf, include_preimage=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed by the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("feed-build")) == []

    def shape(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return (
            plan.count("FileScan parquet"),
            len(re.findall(r"\w+Aggregate\(", plan)),
            len(re.findall(r"partial_max\(", plan)),
            len(re.findall(r"\w+Join ", plan)),
        )

    # 2 partial_max: the range winner and the from-state winner
    assert shape(net) == (2, 2, 2, 0)
    assert shape(pre) == (3, 2, 2, 1)
    ev_from = pd.concat(chunks[:-1])
    assert_pdf_equal(net.toPandas(), oracle_changes(ev_from, events))
    assert_rows_equal(pre.toPandas(), oracle_changes_preimage(ev_from, events))


def _truncate_lineage(lake: HashLakeTable) -> None:
    """Empty every persisted manifest's lineage, so read_changes takes
    its manifest-file fallback for any range."""
    import json
    import pathlib

    for mp in (pathlib.Path(lake.root) / "manifests").glob("v*.json"):
        doc = json.loads(mp.read_text())
        doc["lineage"] = []
        mp.write_text(json.dumps(doc))


@pytest.mark.slow
@pytest.mark.parametrize("seed", [81, 82, 83, 84])
def test_changes_property_vs_oracle(spark, tmp_path, seed):
    """Seeded random histories against the pandas oracles.  Each event
    lands in a random commit, so later commits carry late losers
    against earlier winners; the generator's deletes leave tombstones.
    Commits fold their buckets inline at a delta depth of 2,
    some are followed by a full compact, and the history ends in one.
    Feeds for random (from, to) pairs — net, preimage and a projected
    preimage feed — must equal the oracles, first on the
    commit-addressed delta path and then, with the lineage truncated,
    on the manifest-file fallback.  The fallback scans compaction
    outputs written after ``from`` that hold copies of from-state
    winners (rows with ``_commit <= from``); the feed's one aggregate
    over from ∪ range must still pick the same winners."""
    import numpy as np

    from investigraph_etl_spark.operators.lww import lww_dedup

    rng = np.random.default_rng(seed)
    events = gen_events_pandas(
        0, 900, seed=seed, n_docs=90, dirty_frac=0.1
    ).reset_index(drop=True)
    n_commits = int(rng.integers(4, 7))
    assign = rng.permutation(np.arange(len(events)) % n_commits)
    lake = HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=4
    )
    merged = {0: 0}  # version -> number of commits its state holds
    for c in range(n_commits):
        batch = prepare_batch(_spark_events(spark, events[assign == c]))
        if rng.integers(2):  # reduced and unreduced commits in one lake
            batch = lww_dedup(batch, "doc_id", "event_sequence")
        r = lake.merge(batch, c, auto_compact_deltas=2)
        merged[r["version"]] = c + 1
        if c < n_commits - 1 and rng.random() < 0.3:
            merged[lake.compact()["version"]] = c + 1
    merged[lake.compact()["version"]] = n_commits

    versions = sorted(merged)
    pairs = {(int(rng.choice(versions[:-1])), versions[-1])}
    while len(pairs) < 3:
        a, b = sorted(rng.choice(versions, 2, replace=False))
        pairs.add((int(a), int(b)))

    def upto(v):
        return events[assign < merged[v]]

    proj = ["doc_id", "source", "_change_type"]

    def check(vf, vt):
        ev_from, ev_to = upto(vf), upto(vt)
        assert_pdf_equal(
            lake.read_changes(vf, vt).toPandas(), oracle_changes(ev_from, ev_to)
        )
        expected = oracle_changes_preimage(ev_from, ev_to)
        assert_rows_equal(
            lake.read_changes(vf, vt, include_preimage=True).toPandas(), expected
        )
        assert_rows_equal(
            lake.read_changes(
                vf, vt, include_preimage=True, columns=["source"]
            ).toPandas(),
            [{c: r[c] for c in proj} for r in expected],
        )

    for vf, vt in sorted(pairs):
        check(vf, vt)
    _truncate_lineage(lake)
    for vf, vt in sorted(pairs):
        check(vf, vt)
    # the fallback range of the last pair-to-final includes the final
    # full compact's outputs, whose rows mostly predate ``from``
    vf = min(vf for vf, vt in pairs if vt == versions[-1])
    scanned = lake.read_changes(vf).inputFiles()
    assert any(
        HashLakeTable._file_commit_version(f) > vf and "x/_bucket=" in f
        for f in scanned
    )


def test_changes_truncated_lineage_takes_fallback(spark, lake):
    """A range the lineage does not cover cannot name its delta files,
    so the feed takes the manifest-file fallback (a distinct job finds
    the touched buckets) with unchanged values."""
    events = gen_events_pandas(0, 2400, seed=74, n_docs=160, dirty_frac=0.1)
    chunks = [events.iloc[i::4] for i in range(4)]
    versions = [
        lake.merge(
            prepare_batch(_spark_events(spark, c)), b, auto_compact_deltas=2
        )["version"]
        for b, c in enumerate(chunks)
    ]
    vf = versions[1]
    want = lake.read_changes(vf).toPandas()
    want_pre = lake.read_changes(vf, include_preimage=True).toPandas()
    assert_pdf_equal(want, oracle_changes(pd.concat(chunks[:2]), events))
    _truncate_lineage(lake)
    lake = HashLakeTable(spark, lake.root)
    assert lake._range_delta_files(lake._manifest, vf, lake.version) is None
    sc = spark.sparkContext
    sc.setJobGroup("feed-fallback", "build the fallback feed")
    try:
        net = lake.read_changes(vf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("feed-fallback"))
    assert_pdf_equal(net.toPandas(), want)
    assert_rows_equal(
        lake.read_changes(vf, include_preimage=True).toPandas(),
        [dict(r) for _, r in want_pre.iterrows()],
    )


@pytest.mark.slow
@pytest.mark.parametrize("seed", [91, 92, 93])
def test_partial_folds_of_shared_delta_files(spark, tmp_path, seed):
    """Seeded histories on 4 buckets whose commits each touch 2-3
    buckets, folded inline at a delta depth of 2.  A commit
    writes one delta file listed under every bucket it holds, so a
    fold of some of them leaves the file listed under the others with
    stale rows of the folded ones.  Every read must drop those rows:
    ``read()``, ``read(version=)``, ``read_raw(buckets=subset)``,
    ``read_keys`` and the net, preimage and fallback feeds equal the
    pandas oracles and return no key twice, and the key stats of every
    file a bucket still lists survive the folds."""
    import numpy as np

    rng = np.random.default_rng(seed)
    events = gen_events_pandas(
        0, 900, seed=seed, n_docs=90, dirty_frac=0.1
    ).reset_index(drop=True)
    lake = HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=4
    )
    ids = sorted(set(events["doc_id"]))
    bucket_of = {
        r["doc_id"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in ids], "doc_id string")
        .select("doc_id", lake._bucket_col().cast("int").alias("b"))
        .collect()
    }
    n_commits = int(rng.integers(6, 9))
    while True:  # each commit's bucket set; together they cover all 4
        sets = [
            set(rng.choice(4, int(rng.integers(2, 4)), replace=False).tolist())
            for _ in range(n_commits)
        ]
        if set().union(*sets) == {0, 1, 2, 3}:
            break
    assign = np.array(
        [
            rng.choice([c for c in range(n_commits) if bucket_of[k] in sets[c]])
            for k in events["doc_id"]
        ]
    )

    def upto(v):
        return events[assign < merged[v]]

    def state(v, buckets=None):
        s = oracle_reduce(upto(v), with_tombstones=True)
        if buckets is not None:
            s = s[s["doc_id"].map(bucket_of).isin(buckets)]
        return s[["doc_id", "tokens", "n_tok", "source", "_seq", "_deleted"]]

    def unique_keys(pdf):
        assert not pdf["doc_id"].duplicated().any()
        return pdf

    absent = "doc-absent"
    merged = {0: 0}  # version -> number of commits its state holds
    partial = False  # a listed delta file lost some, not all, buckets
    for c in range(n_commits):
        r = lake.merge(
            prepare_batch(_spark_events(spark, events[assign == c])), c,
            auto_compact_deltas=2,
        )
        merged[r["version"]] = c + 1
        man = lake.snapshot()
        listing = {}
        for b, dsets in man["deltas"].items():
            for f in (f for ds in dsets for f in ds):
                listing.setdefault(f, set()).add(int(b))
        for e in man["lineage"]:
            held = set(e["touched_buckets"])
            partial |= any(
                0 < len(listing.get(f, held)) < len(held) for f in e["files"]
            )
        # stats are kept for exactly the files some bucket lists
        assert set(man["file_stats"]) == set(lake._bucket_files())
        keys = [str(k) for k in rng.choice(ids, 6, replace=False)] + [absent]
        cur = state(r["version"])
        live = cur[~cur["_deleted"] & cur["doc_id"].isin(keys)]
        assert_pdf_equal(
            unique_keys(lake.read_keys(keys).toPandas()),
            live.drop(columns=["_seq", "_deleted"]),
        )
    assert partial, "no fold left a shared delta file partly listed"

    versions = sorted(merged)
    for v in versions:
        want = state(v)
        want = want[~want["_deleted"].astype(bool)].drop(columns=["_seq", "_deleted"])
        assert_pdf_equal(unique_keys(lake.read(version=v).toPandas()), want)
        sub = sorted(rng.choice(4, int(rng.integers(1, 3)), replace=False).tolist())
        assert_pdf_equal(
            unique_keys(lake.read_raw(sub, version=v).toPandas()), state(v, sub)
        )
    assert_pdf_equal(unique_keys(lake.read().toPandas()), want)

    pairs = {(int(rng.choice(versions[:-1])), versions[-1])}
    while len(pairs) < 4:
        a, b = sorted(rng.choice(versions, 2, replace=False))
        pairs.add((int(a), int(b)))

    def check(vf, vt):
        ev_from, ev_to = upto(vf), upto(vt)
        assert_pdf_equal(
            unique_keys(lake.read_changes(vf, vt).toPandas()),
            oracle_changes(ev_from, ev_to),
        )
        assert_rows_equal(
            lake.read_changes(vf, vt, include_preimage=True).toPandas(),
            oracle_changes_preimage(ev_from, ev_to),
        )

    for vf, vt in sorted(pairs):
        check(vf, vt)
    _truncate_lineage(lake)
    for vf, vt in sorted(pairs):
        check(vf, vt)
