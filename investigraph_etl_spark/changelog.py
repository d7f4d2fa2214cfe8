"""Deterministic synthetic CDC change-log + single-threaded oracle.

The reference pins correctness with a committed golden output
(`/root/reference/tests/fixtures/eu_authorities.ftm.json`, asserted in
`/root/reference/tests/test_pipeline.py:6-16`).  Our analog: a seeded,
*counter-based* event generator (every field is a pure function of the
event index, so driver-side pandas and distributed Spark generation
produce byte-identical events) plus a trivial single-threaded pandas
reducer that computes the expected final table state.  Engine output
must match it under token-array equality per ``doc_id``.

Event shape (FIXTURES.md §2):
  (event_sequence int64, op string∈{insert,update,delete},
   doc_id string, tokens array<int32>, n_tok int32, source string,
   event_time timestamp[, lang string after the evolution point])
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SOURCES = ["web", "books", "code", "wiki"]
# dirty variants the normalizer must clean (str_or_none + lower/trim,
# reference behavior: /root/reference/investigraph/util.py:72-76)
DIRTY_SOURCES = ["  WEB  ", "Books\t", "", "  "]
LANGS = ["en", "de", "fr", "es"]
EPOCH_MS = 1704067200000  # 2024-01-01T00:00:00Z

_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — the per-index hash everything
    derives from.  Counter-based ⇒ order/partition independent."""
    with np.errstate(over="ignore"):
        z = (x.astype(np.uint64) + _GOLDEN) * np.uint64(1)
        z = (z ^ (z >> np.uint64(30))) * _MIX1
        z = (z ^ (z >> np.uint64(27))) * _MIX2
        return z ^ (z >> np.uint64(31))


def _h(i: np.ndarray, stream: int, seed: int) -> np.ndarray:
    """Independent hash stream #``stream`` over event indices ``i``."""
    with np.errstate(over="ignore"):
        return _splitmix64(
            i.astype(np.uint64)
            ^ (np.uint64(seed) * _GOLDEN)
            ^ (np.uint64(stream) * _MIX1)
        )


def gen_events_pandas(
    start: int,
    n: int,
    *,
    seed: int = 42,
    n_docs: int = 1000,
    skew_frac: float = 0.0,
    n_hot: int = 4,
    mix: tuple[int, int, int] = (60, 30, 10),
    max_tok: int = 64,
    dirty_frac: float = 0.05,
    with_lang: bool = False,
) -> pd.DataFrame:
    """Events for indices [start, start+n) as a pandas DataFrame.

    Pure function of (index, knobs) — no RNG state, so any partitioning
    of the index range yields identical rows.
    """
    i = np.arange(start, start + n, dtype=np.uint64)

    # op: insert/update/delete per `mix` percentages
    op_r = (_h(i, 1, seed) % np.uint64(100)).astype(np.int64)
    ins, upd, _ = mix
    op = np.where(op_r < ins, "insert", np.where(op_r < ins + upd, "update", "delete"))

    # doc id: skewed draws hit one of n_hot hot keys
    is_hot = (_h(i, 2, seed) % np.uint64(10_000)).astype(np.float64) < skew_frac * 10_000
    uniform_doc = (_h(i, 3, seed) % np.uint64(n_docs)).astype(np.int64)
    hot_doc = (_h(i, 4, seed) % np.uint64(max(n_hot, 1))).astype(np.int64)
    doc_num = np.where(is_hot, hot_doc, uniform_doc)
    doc_id = np.char.add("doc-", np.char.zfill(doc_num.astype(str), 8))

    # token arrays: length 1..max_tok, values a hash of (index, position)
    length = (1 + (_h(i, 5, seed) % np.uint64(max_tok))).astype(np.int64)
    is_del = op == "delete"
    length = np.where(is_del, 0, length)
    total = int(length.sum())
    row_of = np.repeat(i, length)
    pos = np.arange(total, dtype=np.uint64) - np.repeat(
        np.concatenate(([0], np.cumsum(length)[:-1])).astype(np.uint64), length
    )
    with np.errstate(over="ignore"):
        flat = (_splitmix64(row_of * np.uint64(1_000_003) + pos ^ np.uint64(seed)) % np.uint64(50_257)).astype(np.int32)
    bounds = np.cumsum(length)[:-1]
    tokens: list[np.ndarray | None] = [None if is_del[k] else t for k, t in enumerate(np.split(flat, bounds))]

    # n_tok: correct for most rows; deletes null; a slice deliberately
    # corrupted so normalization (recompute n_tok = size(tokens)) is load-bearing
    n_tok = length.astype(np.float64)
    corrupt = (_h(i, 6, seed) % np.uint64(100)).astype(np.int64) < 3
    n_tok = np.where(corrupt, n_tok + 7, n_tok)
    n_tok = np.where(is_del, np.nan, n_tok)

    # source: mostly clean, dirty_frac dirty variants needing normalization
    src_ix = (_h(i, 7, seed) % np.uint64(len(SOURCES))).astype(np.int64)
    dirty = (_h(i, 8, seed) % np.uint64(10_000)).astype(np.float64) < dirty_frac * 10_000
    source = np.where(
        dirty,
        np.array(DIRTY_SOURCES, dtype=object)[src_ix % len(DIRTY_SOURCES)],
        np.array(SOURCES, dtype=object)[src_ix],
    )

    event_time = pd.to_datetime(EPOCH_MS + i.astype(np.int64) * 37, unit="ms")

    out = pd.DataFrame(
        {
            "event_sequence": i.astype(np.int64),
            "op": op,
            "doc_id": doc_id,
            "tokens": tokens,
            "n_tok": pd.array(
                [None if np.isnan(v) else int(v) for v in n_tok], dtype="Int32"
            ),
            "source": source,
            "event_time": event_time,
        }
    )
    if with_lang:
        lang_ix = (_h(i, 9, seed) % np.uint64(len(LANGS))).astype(np.int64)
        out["lang"] = np.array(LANGS, dtype=object)[lang_ix]
    return out


def normalize_pandas(df: pd.DataFrame) -> pd.DataFrame:
    """Oracle-side mirror of the engine's vectorized normalization:
    source → trim+lower, empty→None (str_or_none semantics,
    /root/reference/investigraph/util.py:72-76); n_tok recomputed from
    tokens (trust the payload, not the producer)."""
    out = df.copy()
    src = out["source"].astype("string").str.strip().str.lower()
    out["source"] = src.mask(src == "", None)
    out["n_tok"] = pd.array(
        [None if t is None else len(t) for t in out["tokens"]], dtype="Int32"
    )
    return out


def oracle_reduce(events: pd.DataFrame, *, with_tombstones: bool = False) -> pd.DataFrame:
    """Expected final table state: apply normalized events strictly in
    ``event_sequence`` order.  insert/update upsert; delete tombstones.

    Mirrors the reference's store-level keyed merge
    (/root/reference/investigraph/logic/export.py:25-33) except merge
    policy is last-writer-wins per the north rule, not value-union.
    """
    ev = normalize_pandas(events).sort_values("event_sequence")
    has_lang = "lang" in ev.columns
    state: dict[str, dict] = {}
    for row in ev.itertuples(index=False):
        rec = row._asdict()
        if rec["op"] == "delete":
            state[rec["doc_id"]] = {
                "doc_id": rec["doc_id"],
                "_deleted": True,
                "_seq": rec["event_sequence"],
            }
        else:
            lang = rec.get("lang")
            if not isinstance(lang, str):
                lang = None
            state[rec["doc_id"]] = {
                "doc_id": rec["doc_id"],
                "tokens": list(rec["tokens"]),
                "n_tok": rec["n_tok"],
                "source": rec["source"] if isinstance(rec["source"], str) else None,
                **({"lang": lang} if has_lang else {}),
                "_deleted": False,
                "_seq": rec["event_sequence"],
            }
    rows = [
        v
        for v in state.values()
        if with_tombstones or not v["_deleted"]
    ]
    cols = ["doc_id", "tokens", "n_tok", "source"] + (["lang"] if has_lang else [])
    if with_tombstones:
        cols += ["_deleted", "_seq"]
    return pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(columns=cols)


def write_changelog(
    out_dir: str,
    n_events: int,
    *,
    chunk_size: int = 1000,
    seed: int = 42,
    shuffle_window: int = 0,
    evolution_at: int | None = None,
    row_group_size: int | None = None,
    **knobs,
) -> list[str]:
    """Write the change log as sequence-named parquet chunks (the
    binlog/WAL directory a file-stream source tails).

    ``shuffle_window``: file order is permuted within windows of this
    many events (event_sequence values untouched) — the out-of-order /
    late-event test knob.  ``evolution_at``: events ≥ this index carry
    the additive ``lang`` column (earlier files simply lack it).
    """
    import pathlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = pathlib.Path(out_dir)
    path.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    files: list[str] = []
    for chunk_ix, start in enumerate(range(0, n_events, chunk_size)):
        n = min(chunk_size, n_events - start)
        with_lang = evolution_at is not None and start >= evolution_at
        df = gen_events_pandas(start, n, seed=seed, with_lang=with_lang, **knobs)
        if shuffle_window > 1:
            order = np.arange(n)
            for w in range(0, n, shuffle_window):
                seg = order[w : w + shuffle_window]
                rng.shuffle(seg)
            df = df.iloc[order].reset_index(drop=True)
        fields = [
            pa.field("event_sequence", pa.int64()),
            pa.field("op", pa.string()),
            pa.field("doc_id", pa.string()),
            pa.field("tokens", pa.list_(pa.int32())),
            pa.field("n_tok", pa.int32()),
            pa.field("source", pa.string()),
            pa.field("event_time", pa.timestamp("us")),
        ]
        if with_lang:
            fields.append(pa.field("lang", pa.string()))
        table = pa.Table.from_pandas(df, schema=pa.schema(fields), preserve_index=False)
        fname = str(path / f"chunk-{chunk_ix:06d}.parquet")
        # row_group_size: parquet scan splits align to row-group
        # boundaries, so bounded groups would let Spark fan a file's
        # scan across tasks.  Measured on this host (8M events, 16
        # commits, interleaved A/B): 32k-row groups + 8 MB splits are
        # ~8% SLOWER than one group per chunk — split scheduling costs
        # more than map-side parallelism buys here; default stays
        # pyarrow's (one big group).
        if row_group_size:
            pq.write_table(table, fname, row_group_size=row_group_size)
        else:
            pq.write_table(table, fname)
        files.append(fname)
    return files


def read_changelog_pandas(out_dir: str) -> pd.DataFrame:
    """All events back as one pandas frame (for the oracle)."""
    import pathlib

    import pyarrow.parquet as pq

    parts = []
    for f in sorted(pathlib.Path(out_dir).glob("chunk-*.parquet")):
        pdf = pq.read_table(f).to_pandas()
        parts.append(pdf)
    df = pd.concat(parts, ignore_index=True)
    if "lang" not in df.columns:
        return df
    df["lang"] = df["lang"].where(df["lang"].notna(), None)
    return df

