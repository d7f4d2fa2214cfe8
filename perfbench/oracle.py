"""Independent DuckDB oracles for the benchmark's outputs.

The last-writer-wins oracle replays a change log in ``event_sequence``
order with the engine's normalization (source trimmed, lower-cased,
empty → null; ``n_tok`` recomputed from the tokens; deletes keep only
the key).  Table states are compared by live row count plus an
order-insensitive checksum of ``(doc_id, tokens, n_tok, source)``.
"""

from __future__ import annotations

import duckdb


def _files_sql(files: list[str]) -> str:
    return "[" + ", ".join(f"'{f}'" for f in files) + "]"


def events_sql(files: list[str]) -> str:
    """Normalized events of the change-log parquet ``files``."""
    return f"""
        SELECT doc_id,
               event_sequence,
               op,
               CASE WHEN op = 'delete' THEN NULL ELSE tokens END AS tokens,
               CASE WHEN op = 'delete' THEN NULL ELSE CAST(len(tokens) AS INTEGER) END AS n_tok,
               CASE WHEN op = 'delete' THEN NULL
                    ELSE nullif(lower(regexp_replace(source, '^\\s+|\\s+$', '', 'g')), '')
               END AS source
        FROM read_parquet({_files_sql(files)})
    """


def winners_sql(events: str, upto: int | None = None) -> str:
    """Last writer per key among ``events`` with sequence ≤ ``upto``."""
    where = "" if upto is None else f"WHERE event_sequence <= {upto}"
    return f"""
        SELECT * FROM ({events}) {where}
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY event_sequence DESC) = 1
    """


def live_sql(events: str, upto: int | None = None) -> str:
    return f"SELECT doc_id, tokens, n_tok, source FROM ({winners_sql(events, upto)}) WHERE op <> 'delete'"


CHECKSUM_SQL = """
    SELECT count(*) AS n,
           coalesce(sum(hash(CAST(doc_id AS VARCHAR), CAST(tokens AS INTEGER[]),
                             CAST(n_tok AS INTEGER), CAST(source AS VARCHAR))::HUGEINT), 0) AS h
    FROM ({rel})
"""


def checksum(con: duckdb.DuckDBPyConnection, rel_sql: str) -> tuple[int, int]:
    """(row count, order-insensitive checksum) of a relation with
    columns doc_id, tokens, n_tok, source."""
    n, h = con.execute(CHECKSUM_SQL.format(rel=rel_sql)).fetchone()
    return int(n), int(h)


def arrow_checksum(table) -> tuple[int, int]:
    """Checksum of a pyarrow table (the engine's side)."""
    con = duckdb.connect()
    try:
        con.register("engine_state", table)
        return checksum(con, "SELECT doc_id, tokens, n_tok, source FROM engine_state")
    finally:
        con.close()


def oracle_checksum(events: str) -> tuple[int, int]:
    con = duckdb.connect()
    try:
        return checksum(con, live_sql(events))
    finally:
        con.close()


def rows_at(events: str, upto: int, keys: list[str]) -> dict[str, tuple]:
    """Live rows of ``keys`` as of sequence ``upto``:
    key → (tokens tuple, n_tok, source)."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT doc_id, tokens, n_tok, source FROM ({live_sql(events, upto)}) "
            f"WHERE doc_id IN ({', '.join('?' for _ in keys)})",
            keys,
        ).fetchall()
    finally:
        con.close()
    return {r[0]: (tuple(r[1]), r[2], r[3]) for r in rows}


def net_changes(events: str, lo: int, hi: int) -> int:
    """Keys whose live state differs between sequence ``lo`` and ``hi``
    (every event in (lo, hi] is newer than all before it)."""
    con = duckdb.connect()
    try:
        (n,) = con.execute(
            f"""
            WITH touched AS (SELECT DISTINCT doc_id FROM ({events})
                             WHERE event_sequence > {lo} AND event_sequence <= {hi}),
                 before AS ({live_sql(events, lo)}),
                 after AS ({live_sql(events, hi)})
            SELECT count(*) FROM touched t
            WHERE t.doc_id IN (SELECT doc_id FROM before)
               OR t.doc_id IN (SELECT doc_id FROM after)
            """
        ).fetchone()
    finally:
        con.close()
    return int(n)


def query_row_counts(tables_dir: str, table_names: list[str], sqls: dict[str, str]) -> dict[str, int]:
    """Row count of each oracle query over parquet tables in ``tables_dir``."""
    con = duckdb.connect()
    try:
        for t in table_names:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        return {
            name: int(con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0])
            for name, sql in sqls.items()
        }
    finally:
        con.close()
