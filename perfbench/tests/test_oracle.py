from __future__ import annotations

import pyarrow as pa

from oracle import arrow_checksum, events_sql, net_changes, oracle_checksum, rows_at

SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("tokens", pa.list_(pa.int32())),
        pa.field("n_tok", pa.int32()),
        pa.field("source", pa.string()),
    ]
)


def _table(rows):
    return pa.Table.from_pylist(
        [dict(zip(SCHEMA.names, r)) for r in rows], schema=SCHEMA
    )


ROWS = [("a", [1, 2], 2, "web"), ("b", [3], 1, None), ("c", [], 0, "wiki")]


def test_checksum_ignores_row_order():
    assert arrow_checksum(_table(ROWS)) == arrow_checksum(_table(ROWS[::-1]))


def test_checksum_sees_every_column():
    base = arrow_checksum(_table(ROWS))
    assert arrow_checksum(_table(ROWS[:2])) != base
    for changed in (
        ("a", [2, 1], 2, "web"),
        ("a", [1, 2], 3, "web"),
        ("a", [1, 2], 2, None),
        ("A", [1, 2], 2, "web"),
    ):
        assert arrow_checksum(_table([changed] + ROWS[1:])) != base


def _log(tmp_path, n, **knobs):
    from investigraph_etl_spark.changelog import write_changelog

    return write_changelog(str(tmp_path / "log"), n, chunk_size=97, seed=7, **knobs)


def test_lww_oracle_matches_the_engine_generators_own_reducer(tmp_path):
    from investigraph_etl_spark.changelog import oracle_reduce, read_changelog_pandas

    files = _log(tmp_path, 600, n_docs=40, skew_frac=0.3, n_hot=3, dirty_frac=0.3)
    want = oracle_reduce(read_changelog_pandas(str(tmp_path / "log")))
    table = pa.Table.from_pandas(want[SCHEMA.names], schema=SCHEMA, preserve_index=False)
    assert oracle_checksum(events_sql(files)) == arrow_checksum(table)


def test_rows_at_and_net_changes(tmp_path):
    import pyarrow.parquet as pq

    # seq: 0 insert a, 1 insert b, 2 delete a, 3 update b, 4 delete z (absent), 5 insert c
    log = pa.table(
        {
            "event_sequence": pa.array([0, 1, 2, 3, 4, 5], pa.int64()),
            "op": ["insert", "insert", "delete", "update", "delete", "insert"],
            "doc_id": ["a", "b", "a", "b", "z", "c"],
            "tokens": pa.array([[1], [2], None, [3, 4], None, [5]], pa.list_(pa.int32())),
            "n_tok": pa.array([1, 9, None, 2, None, 1], pa.int32()),
            "source": [" WEB ", "books\t", None, "", None, "Wiki"],
        }
    )
    f = str(tmp_path / "log.parquet")
    pq.write_table(log, f)
    ev = events_sql([f])
    assert rows_at(ev, 1, ["a", "b", "z"]) == {"a": ((1,), 1, "web"), "b": ((2,), 1, "books")}
    assert rows_at(ev, 5, ["a", "b", "c"]) == {"b": ((3, 4), 2, None), "c": ((5,), 1, "wiki")}
    # (1, 5]: a deleted, b updated, z deleted while absent (no change), c inserted
    assert net_changes(ev, 1, 5) == 3
