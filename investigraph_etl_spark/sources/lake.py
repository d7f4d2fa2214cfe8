"""LakeTable — Iceberg-style upsert table on plain parquet.

SURVEY.md §7.1: no Iceberg/Delta jars exist in this sandbox, so the
engine ships its own lake behind one API (``merge`` / ``read`` /
``add_columns`` / ``snapshot``): :class:`HashLakeTable` —
hash-bucketed parquet directories + JSON manifest snapshots + an
atomically-swapped version pointer.  Functionally an "Iceberg-lite":
MVCC reads, bucket-pruned MERGE, additive schema evolution,
idempotent commits.

Merge semantics (the core invariant, SURVEY.md §1.3): the batch is a
set of change rows ``(key, op, event_sequence, payload…)``, raw or
LWW-reduced; merging = last-writer-wins over ``target ∪ batch`` on
``(key, _seq)`` with delete-as-tombstone.  Tombstones are retained so
a *late* event older than a delete cannot resurrect a row — the
``WHEN MATCHED AND s.event_sequence > t._seq`` guard from SURVEY.md
§2.9 T5, expressed as a plain max-by reduce.

Scale design (100 TB / 10^10 events) — merge-on-read (round 2; round 1
was copy-on-write, whose per-commit write amplification O(table size /
batch) was the top 100 TB killer flagged in VERDICT.md):
* the table is bucketed by ``xxhash64(key) % num_buckets``; each
  bucket holds a *base* file set plus a list of *delta* file sets;
* a MERGE appends the batch as delta files, one per write
  task (a micro-batch is one file per commit), each storing its rows'
  ``_bucket`` and listed in the manifest under every bucket it holds —
  **per-commit bytes written ∝ batch size**, never the table;
* reads apply LWW over base ∪ deltas on ``(key, max(_seq, _commit))``
  — ``_commit`` (the writing commit's version, stored per row) breaks
  equal-``_seq`` ties in arrival order, exactly as the old COW union's
  ``_pref`` column did;
* :meth:`compact` folds a bucket's deltas back into its base (the
  Iceberg merge-on-read + ``rewrite_data_files`` analog; a shared delta
  file stays listed under its unfolded buckets, and reads drop its
  folded buckets' rows, see :meth:`HashLakeTable._live`); ``merge``
  auto-compacts any touched bucket whose delta count reaches
  ``auto_compact_deltas``, so read amplification is bounded and
  compaction cost is amortized 1/``auto_compact_deltas`` per commit;
* the LWW reduce is a hash aggregate with map-side combine — no sort,
  no row_number;
* metadata is split Iceberg-style (round 3): an O(num_buckets)
  manifest LIST per version points at immutable per-bucket manifest
  files; a commit rewrites only touched buckets' manifests, so
  per-commit metadata bytes ∝ touched buckets — never total file
  count (round-2's flat JSON was the 10^10-event metadata bottleneck).

Single-writer assumption: one committer at a time (Structured
Streaming's ``foreachBatch`` is sequential per query).  Matches the
reference's warning that parallel loads need a parallel-safe store
(/root/reference/docs/run/parallelization.md:17-19).
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import struct
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_INTERNAL = [
    StructField("_seq", LongType(), True),
    StructField("_deleted", BooleanType(), True),
]
# stored per row but not part of the public read_raw contract: the
# version of the commit that wrote the row (LWW tie-break across files)
_COMMIT = StructField("_commit", LongType(), True)

# a data file's writing commit, from its ``c%06d`` (delta) or
# ``c%06dx`` (compaction) directory.  \d{6,}: versions are
# zero-padded to six digits but NOT capped at six — past commit 999,999
# f"c{v:06d}" emits 7+ digits and a fixed-width match would miss it.
_COMMIT_DIR = re.compile(r"c(\d{6,})x?(?=/|$)")
# stored per row in delta files (a delta file may hold several
# buckets); base files keep it in their directory name and read it as null
_BUCKET = StructField("_bucket", LongType(), True)


class SchemaCompatibilityError(ValueError):
    """An incoming change batch's schema cannot be applied to the
    table under the active schema policy (see
    :func:`check_schema_compatibility`)."""


# Lossless implicit widenings a batch column may take INTO the stored
# table type (Iceberg's type-promotion table, applied in the batch→
# table direction): the integer chain and float→double.  long→double
# is NOT here (loses precision past 2^53), nor is any narrowing or
# kind change — those are breaking.
_WIDEN_CHAINS = (
    ["byte", "short", "integer", "long"],
    ["float", "double"],
)


def _type_accepts(table_t, batch_t) -> bool:
    """True iff a batch column of ``batch_t`` can be applied to a
    stored column of ``table_t`` without loss: equal, a lossless
    widening, or (recursively) array/map/struct of such."""
    from pyspark.sql.types import ArrayType, MapType

    if table_t == batch_t:
        return True
    tn, bn = table_t.typeName(), batch_t.typeName()
    for chain in _WIDEN_CHAINS:
        if bn in chain and tn in chain:
            return chain.index(bn) <= chain.index(tn)
    if isinstance(table_t, ArrayType) and isinstance(batch_t, ArrayType):
        return _type_accepts(table_t.elementType, batch_t.elementType)
    if isinstance(table_t, MapType) and isinstance(batch_t, MapType):
        return _type_accepts(table_t.keyType, batch_t.keyType) and _type_accepts(
            table_t.valueType, batch_t.valueType
        )
    if isinstance(table_t, StructType) and isinstance(batch_t, StructType):
        if {f.name for f in table_t.fields} != {f.name for f in batch_t.fields}:
            return False  # nested add/drop: handled only at top level
        return all(
            _type_accepts(table_t[f.name].dataType, f.dataType)
            for f in batch_t.fields
        )
    return False


def _has_nested_field_drift(table_t, batch_t) -> bool:
    """True iff the (recursive) reason ``table_t`` rejects ``batch_t``
    is a nested struct field ADD/DROP — the one drift class the gate
    handles only at top level.  Lets the error message name the real
    cause instead of the misleading 'equal types or lossless
    widenings' (ADVICE r4)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(table_t, StructType) and isinstance(batch_t, StructType):
        tn = {f.name for f in table_t.fields}
        bn = {f.name for f in batch_t.fields}
        if tn != bn:
            return True
        return any(
            _has_nested_field_drift(table_t[f.name].dataType, f.dataType)
            for f in batch_t.fields
        )
    if isinstance(table_t, ArrayType) and isinstance(batch_t, ArrayType):
        return _has_nested_field_drift(table_t.elementType, batch_t.elementType)
    if isinstance(table_t, MapType) and isinstance(batch_t, MapType):
        return _has_nested_field_drift(
            table_t.keyType, batch_t.keyType
        ) or _has_nested_field_drift(table_t.valueType, batch_t.valueType)
    return False


def check_schema_compatibility(
    table: StructType, batch: StructType, *, meta: set[str] = frozenset()
) -> dict:
    """Classify an incoming batch schema against the stored table
    schema — DRIVER-side, before any job runs.  Returns
    ``{"additive": [names], "missing": [names], "breaking":
    [(name, batch_type, table_type)], "promote": [(name, batch_type,
    table_type)], "nested": [(name, batch_type, table_type)]}``.

    ``promote`` (round-5, ADVICE r4): columns where the BATCH is the
    wider type along the same lossless chains (e.g. batch long into a
    stored int) — the mirror of Iceberg's type promotion.  In evolve
    mode the merge promotes the STORED column type up; strict mode
    rejects.  ``nested`` separates the one drift class the gate
    handles only at top level — nested struct field add/drop — so the
    error can name the real cause.

    Why a gate instead of the blanket ``cast`` the merge used to do:
    under Spark's default ANSI mode a producer-side type change (e.g.
    ``n_tok`` int→string) survives analysis and then throws from an
    executor mid-job — after shuffle work is spent, with a stack trace
    pointing nowhere near the producer.  With ANSI off it is worse:
    the cast silently yields nulls/truncation and corrupts the table.
    A 10^10-event stream needs the clean failure at the driver with
    the offending column named.  ``meta`` columns (seq/op) are
    exempt — they are consumed by the merge itself, not stored."""
    batch_names = {f.name for f in batch.fields}
    additive = [
        f.name for f in batch.fields
        if f.name not in {x.name for x in table.fields} and f.name not in meta
    ]
    missing = [f.name for f in table.fields if f.name not in batch_names]
    breaking, promote, nested = [], [], []
    for f in table.fields:
        if f.name not in batch_names:
            continue
        bt = batch[f.name].dataType
        if _type_accepts(f.dataType, bt):
            continue
        entry = (f.name, bt.simpleString(), f.dataType.simpleString())
        if _type_accepts(bt, f.dataType):
            promote.append(entry)
        elif _has_nested_field_drift(f.dataType, bt):
            nested.append(entry)
        else:
            breaking.append(entry)
    return {
        "additive": additive,
        "missing": missing,
        "breaking": breaking,
        "promote": promote,
        "nested": nested,
    }


# XXH64 (Collet) primes
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)
_M64 = (1 << 64) - 1


def _xxh64(data: bytes) -> int:
    """Signed XXH64 of ``data`` with seed 42 — the value Spark's
    ``xxhash64`` gives a string column (its UTF-8 bytes) or a long
    column (its 8 little-endian bytes).  Pure Python, for the few keys
    of a lookup; Spark's expression (:meth:`HashLakeTable._bucket_col`)
    hashes rows."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _M64

    def rnd(acc: int, lane: int) -> int:
        return rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64

    seed, n, i = 42, len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, seed + _P2, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [rnd(x, lane) for x, lane in zip(v, lanes)]
            i += 32
        h = rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)
        for x in v:
            h = ((h ^ rnd(0, x)) * _P1 + _P4) & _M64
    else:
        h = seed + _P5
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= rnd(0, struct.unpack_from("<Q", data, i)[0])
        h = (rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h = rotl(h ^ (b * _P5 & _M64), 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


class HashLakeTable:
    """Hash-bucketed parquet table with snapshot manifests.

    Layout::

        <root>/_latest                  # version pointer (atomic rename)
        <root>/manifests/v<NNNNNN>.json # schema, bucket→base/deltas, commits
        <root>/data/c<version>/*.parquet        # commit v's delta files
        <root>/data/c<version>x/_bucket=<b>/…   # bucket b's base, folded at v

    A delta file holds the rows of a whole write task, one or more
    buckets, and stores each row's ``_bucket``; bucket b's manifest
    lists it in b's delta sets for as long as b has not folded it.
    A base file holds one bucket (its ``_bucket`` is the directory,
    so it reads back as null).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = pathlib.Path(root)
        self._manifest = self._load_manifest()
        # last PERSISTED manifest — _commit_manifest diffs against it so
        # only buckets whose file lists changed get new bucket-manifest
        # files (the Iceberg manifest-reuse analog)
        self._persisted = self._manifest
        # compaction rewrites sort each bucket by key and roll files at
        # this row count, giving the bucket a set of key-range-disjoint
        # base files whose footer min/max land in the bucket manifest —
        # point lookups then prune to O(1) base files per bucket instead
        # of the whole bucket (Iceberg sorted-rewrite + data skipping).
        # None = let the write produce one file per bucket per task.
        self.compact_target_file_rows: int | None = None

    # ---------------------------------------------------------- create
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: StructType,
        *,
        key: str = "doc_id",
        num_buckets: int = 32,
    ) -> HashLakeTable:
        rootp = pathlib.Path(root)
        if (rootp / "_latest").exists():
            return cls(spark, root)
        key_type = schema[key].dataType
        if not isinstance(key_type, (StringType, LongType)):
            # lookups hash keys on the driver (_key_buckets), for these two
            raise ValueError(
                f"key column {key!r} is {key_type.simpleString()}; a lake "
                "key must be string or bigint"
            )
        (rootp / "manifests").mkdir(parents=True, exist_ok=True)
        (rootp / "data").mkdir(parents=True, exist_ok=True)
        manifest = {
            "version": 0,
            "key": key,
            "num_buckets": num_buckets,
            "schema": json.loads(schema.json()),
            "buckets": {},  # bucket -> base file list
            "deltas": {},  # bucket -> list of delta file lists (commit order)
            "commits": {},
            "lineage": [],
        }
        cls._write_manifest(rootp, manifest)
        return cls(spark, root)

    @staticmethod
    def _write_manifest(
        rootp: pathlib.Path, manifest: dict, prev: dict | None = None
    ) -> dict:
        """Persist ``manifest`` as a manifest LIST + per-bucket manifest
        files (the Iceberg manifest-list / manifest split).

        Round-2 VERDICT flagged the flat layout as the 10^10-event
        metadata bottleneck: one JSON embedding EVERY bucket's file
        list was driver-serialized per commit, so commit cost grew with
        total file count.  Now each bucket's ``{"base": […], "deltas":
        [[…], …]}`` lives in an immutable ``bm-v<ver>-b<bucket>.json``;
        a commit rewrites only the TOUCHED buckets' manifests (diffed
        against ``prev``, the last persisted state) plus an
        O(num_buckets)-pointer list — per-commit metadata bytes ∝
        touched buckets, never the table.  Returns the manifest with
        its ``bucket_refs`` updated.
        """
        v = manifest["version"]
        mdir = rootp / "manifests"
        prev = prev or {}
        prev_refs = prev.get("bucket_refs", {})
        prev_bases = prev.get("buckets", {})
        prev_deltas = prev.get("deltas", {})
        bases = manifest.get("buckets", {})
        deltas = manifest.get("deltas", {})
        stats = manifest.get("file_stats", {})
        refs: dict[str, str] = {}
        for b in sorted(set(bases) | set(deltas), key=int):
            base, dsets = bases.get(b, []), deltas.get(b, [])
            if (
                b in prev_refs
                and prev_bases.get(b, []) == base
                and prev_deltas.get(b, []) == dsets
            ):
                refs[b] = prev_refs[b]  # unchanged → reuse, no rewrite
            else:
                refs[b] = f"bm-v{v:06d}-b{b}.json"
                bfiles = list(base) + [f for ds in dsets for f in ds]
                # a shared delta file's per-bucket ranges are split
                # across the manifests of its buckets, so metadata
                # stays ∝ the bucket's files, not files × buckets
                bstats = {}
                for f in bfiles:
                    st = stats.get(f)
                    if isinstance(st, dict):
                        st = {b: st[b]} if b in st else None
                    if st is not None:
                        bstats[f] = st
                (mdir / refs[b]).write_text(
                    json.dumps({"base": base, "deltas": dsets, "stats": bstats})
                )
        listing = {
            k: val
            for k, val in manifest.items()
            if k not in ("buckets", "deltas", "file_stats")
        }
        listing["bucket_refs"] = refs
        (mdir / f"v{v:06d}.json").write_text(json.dumps(listing))
        tmp = rootp / f"_latest.tmp.{uuid.uuid4().hex}"
        tmp.write_text(str(v))
        os.replace(tmp, rootp / "_latest")  # atomic pointer swap
        return {**manifest, "bucket_refs": refs}

    def _commit_manifest(self) -> None:
        """Persist ``self._manifest`` diffed against the last persisted
        state (only changed buckets' manifest files are rewritten)."""
        self._manifest = self._write_manifest(
            self.root, self._manifest, self._persisted
        )
        self._persisted = self._manifest

    def _commit_version(self, **changes) -> None:
        """Persist the manifest, with ``changes`` applied, as the next
        version (schema-only and compaction-only commits)."""
        self._manifest = {**self._manifest, **changes, "version": self.version + 1}
        self._commit_manifest()

    @staticmethod
    def _materialize(mdir: pathlib.Path, doc: dict) -> dict:
        """Resolve a manifest list's ``bucket_refs`` into the in-memory
        ``buckets``/``deltas`` maps."""
        buckets: dict[str, list] = {}
        deltas: dict[str, list] = {}
        file_stats: dict[str, list | dict] = {}
        for b, ref in doc["bucket_refs"].items():
            bm = json.loads((mdir / ref).read_text())
            if bm["base"]:
                buckets[b] = bm["base"]
            if bm["deltas"]:
                deltas[b] = bm["deltas"]
            for f, st in bm.get("stats", {}).items():
                if isinstance(st, dict):
                    file_stats.setdefault(f, {}).update(st)
                else:
                    file_stats[f] = st
        return {**doc, "buckets": buckets, "deltas": deltas,
                "file_stats": file_stats}

    def _load_manifest(self) -> dict:
        v = int((self.root / "_latest").read_text())
        mdir = self.root / "manifests"
        return self._materialize(mdir, json.loads((mdir / f"v{v:06d}.json").read_text()))

    def _harvest_file_stats(
        self, files: list[str], *, buckets: bool = False
    ) -> tuple[dict[str, list | dict], dict[str, list[int]]]:
        """Per-file ``[min, max]`` of the table key, read from parquet
        FOOTERS (no data scan — the Iceberg write-time column-stats
        analog, harvested instead of computed because the files were
        just written by a Spark job).  Driver cost ∝ files written this
        commit, never table size.  A file whose footer lacks key stats
        is simply absent from the result — readers treat missing stats
        as "may contain anything", so stats are a pure pruning hint and
        never a correctness dependency.  Parquet min/max may be
        truncated bounds (parquet-mr truncates long binary stats); a
        truncated min is still a valid lower bound and a truncated max
        a valid upper bound, so range pruning stays conservative.

        With ``buckets`` (delta files, shared by the buckets they hold)
        the stats come from reading each file's key and ``_bucket``
        columns instead: ``{bucket: [min, max]}`` over the file's rows of
        each bucket, so a lookup checks a key only against its own
        bucket's range (a whole-file range of a commit's shared file
        spans nearly the whole key space); this reads the two columns,
        so its cost is ∝ the batch's rows.  The file's sorted bucket
        set — the buckets whose manifests list it — comes with them.
        Returns (stats, bucket sets).

        Footer reads are driver-SERIAL time on the commit path (a
        128-file delta write adds ~0.5s single-threaded — a pure
        serial-fraction tax the scaling pair pays at every core
        count), so they run on a small thread pool; pyarrow releases
        the GIL on I/O."""
        import concurrent.futures

        import pyarrow.parquet as pq

        def _key_range(f: str) -> list | None:
            try:
                md = pq.ParquetFile(f).metadata
                idx = md.schema.names.index(self.key)
            except Exception:
                return None
            lo = hi = None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or not st.has_min_max:
                    return None
                gmin, gmax = st.min, st.max
                if isinstance(gmin, bytes):
                    gmin = gmin.decode("utf-8", "surrogateescape")
                if isinstance(gmax, bytes):
                    gmax = gmax.decode("utf-8", "surrogateescape")
                lo = gmin if lo is None else min(lo, gmin)
                hi = gmax if hi is None else max(hi, gmax)
            return None if lo is None else [lo, hi]

        def _one(f: str) -> tuple[str, list | dict | None, list[int] | None]:
            if not buckets:
                return f, _key_range(f), None
            t = pq.read_table(f, columns=[self.key, "_bucket"])
            g = t.group_by("_bucket").aggregate([(self.key, "min"), (self.key, "max")])
            ranges = {
                str(b): [lo, hi]
                for b, lo, hi in zip(
                    g["_bucket"].to_pylist(),
                    g[f"{self.key}_min"].to_pylist(),
                    g[f"{self.key}_max"].to_pylist(),
                )
            }
            return f, ranges, sorted(int(b) for b in ranges)

        if not files:
            return {}, {}
        with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
            out = list(pool.map(_one, files))
        return (
            {f: st for f, st, _ in out if st is not None},
            {f: held for f, _, held in out if held is not None},
        )

    @staticmethod
    def _files_for_keys(
        files: list[str], stats: dict[str, list | dict], keys: list[tuple]
    ) -> list[str]:
        """Drop files whose key range provably excludes every requested
        ``(key, bucket)`` pair (missing stats ⇒ keep).  A base file's
        stats are one ``[min, max]``; a delta file's are
        ``{bucket: [min, max]}`` over the buckets it holds (see
        :meth:`_harvest_file_stats`), so each key is checked against its
        own bucket's rows only.  Sound for LWW reads: a pruned file
        contributes no row for any requested key, so winners per key are
        unchanged."""

        def may_hold(s: list | dict, k, b: int) -> bool:
            if isinstance(s, dict):
                if str(b) not in s:
                    return False
                s = s[str(b)]
            return s[0] is None or s[0] <= k <= s[1]

        return [
            f for f in files
            if f not in stats or any(may_hold(stats[f], k, b) for k, b in keys)
        ]

    # ------------------------------------------------------ properties
    @property
    def key(self) -> str:
        return self._manifest["key"]

    @property
    def num_buckets(self) -> int:
        return self._manifest["num_buckets"]

    @property
    def schema(self) -> StructType:
        """Payload schema (without internal columns)."""
        return StructType.fromJson(self._manifest["schema"])

    @property
    def version(self) -> int:
        return self._manifest["version"]

    def snapshot(self) -> dict:
        return dict(self._manifest)

    def last_committed(self, stream_id: str = "default") -> int:
        return self._manifest["commits"].get(stream_id, -1)

    def _manifest_at(self, version: int) -> dict:
        """The manifest persisted at ``version`` (time travel).  Raises
        if that version was expired by :meth:`vacuum` or never existed."""
        p = self.root / "manifests" / f"v{version:06d}.json"
        if not p.exists():
            raise ValueError(
                f"version {version} not available (expired by vacuum or "
                f"never committed); latest is {self.version}"
            )
        return self._materialize(self.root / "manifests", json.loads(p.read_text()))

    # ------------------------------------------------------------ read
    def _bucket_files(
        self, buckets: list[int] | None = None, manifest: dict | None = None
    ) -> list[str]:
        """Base + delta files for the given buckets (None = all), each
        once (a delta file may be listed under several buckets)."""
        manifest = manifest if manifest is not None else self._manifest
        bases = manifest["buckets"]
        deltas = manifest.get("deltas", {})
        if buckets is None:
            keys = sorted(set(bases) | set(deltas))
        else:
            keys = [str(b) for b in buckets]
        out: list[str] = []
        for k in keys:
            out.extend(bases.get(k, []))
            for dset in deltas.get(k, []):
                out.extend(dset)
        return list(dict.fromkeys(out))

    def _scan(
        self, files: list[str], payload: StructType, live: Column | None = None
    ) -> DataFrame:
        """Raw file scan (no LWW), stored schema incl. ``_commit`` and
        ``_bucket``, keeping the rows ``live`` admits (see :meth:`_live`;
        None keeps all).  Explicit schema ⇒ files written before a column
        was added read it back as null (additive evolution, SURVEY.md
        §2.9 T6)."""
        stored = StructType(
            list(payload.fields) + list(_INTERNAL) + [_COMMIT, _BUCKET]
        )
        if not files:
            # no partitions, so reading it (say, in a union) runs no
            # task; an empty list would start a Python worker per task
            return self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), stored
            )
        rows = self.spark.read.schema(stored).parquet(*files)
        return rows if live is None else rows.filter(live)

    def _live(self, manifest: dict, buckets: list[int] | None) -> Column:
        """The rows of ``manifest``'s files that a read of ``buckets``
        (None = all) may see.  A delta file is shared by the buckets it
        holds, and a fold of bucket b consumes b's delta sets while the
        file stays listed under b's unfolded neighbours, so its b rows
        go stale.  A fold writes b's base at a version x(b) such that
        every delta set it consumed is ≤ x(b) and every one still listed
        or appended later is > x(b) (folds in :meth:`merge` and
        :meth:`compact` alike).  Hence a row with a stored ``_bucket`` b
        is live iff b is requested and ``_commit`` > x(b) (−1 when b has
        no base).  Base rows read ``_bucket`` as null and are live;
        delta files written before ``_bucket`` was stored also read
        null, and each holds one bucket, so the rule stays right."""
        bases = manifest["buckets"]
        want = range(manifest["num_buckets"]) if buckets is None else buckets
        folded_at = {
            int(b): self._file_commit_version(bases[str(b)][0])
            if bases.get(str(b)) else -1
            for b in want
        }
        by_version: dict[int, list[int]] = {}
        for b, x in folded_at.items():
            by_version.setdefault(x, []).append(b)
        # one SQL string: built from Column operators, the predicate
        # cost ~20 ms of py4j round trips per read (4-core host)
        return F.expr(" OR ".join(["_bucket IS NULL"] + [
            f"(_bucket IN ({', '.join(map(str, bs))}) AND _commit > {x})"
            for x, bs in sorted(by_version.items())
        ]))

    def _lww(self, rows: DataFrame) -> DataFrame:
        """The read-time LWW rule: per key, the row with the max
        ``(_seq, _commit)``.  The winner semi-join strategy is left to
        Catalyst/AQE — a table scan is not a micro-batch, forcing
        broadcast would be wrong at scale."""
        from investigraph_etl_spark.operators.lww import lww_dedup

        return lww_dedup(
            rows, self.key, "_seq", extra_keys=("_commit",), winners_strategy="auto"
        )

    def _bucket_col(self) -> Column:
        """A row's bucket, ``pmod(xxhash64(key), num_buckets)`` — the
        one assignment the delta write, the fold and bucket pruning
        agree on."""
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.num_buckets))

    def _key_buckets(self, keys: list) -> dict:
        """Each distinct key, coerced to the stored key type as
        ``F.lit(k).cast(key_type)`` does, mapped to its bucket — the
        driver-side twin of :meth:`_bucket_col` for string and long
        keys (the only key types :meth:`create` accepts).  A long key
        may arrive as a string (the CLI passes strings); one that does
        not parse as a long raises ``ValueError`` naming it."""
        long_key = isinstance(self.schema[self.key].dataType, LongType)
        out: dict = {}
        for k in keys:
            if long_key:
                v = k.strip() if isinstance(k, str) else k
                if isinstance(v, str) and re.fullmatch(r"[+-]?[0-9]+", v):
                    v = int(v)
                if type(v) is not int or not -(1 << 63) <= v < 1 << 63:
                    raise ValueError(
                        f"lookup key {k!r} is not a bigint, the type of "
                        f"key column {self.key!r}"
                    )
                data = struct.pack("<q", v)
            else:
                if not isinstance(k, (str, int)) or isinstance(k, bool):
                    raise ValueError(
                        f"lookup key {k!r} is not a string, the type of "
                        f"key column {self.key!r}"
                    )
                v = str(k)
                data = v.encode("utf-8")
            out[v] = _xxh64(data) % self.num_buckets  # pmod
        return out

    def read_raw(
        self,
        buckets: list[int] | None = None,
        *,
        version: int | None = None,
    ) -> DataFrame:
        """Current row per key incl. tombstones and internal columns
        (merge-on-read: LWW over base ∪ deltas on ``(_seq, _commit)``).
        Passing ``buckets`` prunes the scan to those buckets' files;
        ``version`` time-travels to a retained manifest (MVCC — the
        snapshot's file set AND its schema as of that version)."""
        manifest = self._manifest if version is None else self._manifest_at(version)
        payload = StructType.fromJson(manifest["schema"])
        files = self._bucket_files(buckets, manifest)
        merged = self._lww(self._scan(files, payload, self._live(manifest, buckets)))
        return merged.select(
            *[f.name for f in payload.fields], *[f.name for f in _INTERNAL]
        )

    def read(self, *, version: int | None = None) -> DataFrame:
        """Live rows, public schema.  ``version`` time-travels to any
        manifest still retained by :meth:`vacuum` (Iceberg
        ``VERSION AS OF`` analog)."""
        return (
            self.read_raw(version=version)
            .filter(~F.col("_deleted"))
            .drop(*[f.name for f in _INTERNAL])
        )

    def read_keys(self, keys: list) -> DataFrame:
        """Point / multi-key lookup with two pruning layers:

        1. **bucket pruning** — scan only the files the manifest lists
           under the buckets the keys hash into.  The driver hashes the
           keys itself (:meth:`_key_buckets`: the XXH64 and ``pmod``
           that :meth:`_bucket_col` runs on rows), so the lookup
           launches no job before its scan.  Bases are per bucket, so
           they prune per bucket; delta files are per write task, so
           they prune at that granularity — a micro-batch's one file
           is read whole and :meth:`_live` drops its other buckets'
           rows;
        2. **file skipping** — within those files, drop every file
           whose manifest ``[min,max]`` key range excludes all
           requested keys (harvested at write time, see
           :meth:`_harvest_file_stats`; a delta file keeps one range
           per bucket it holds, checked against the keys of that
           bucket).  Compacted bases are
           key-sorted and optionally range-rolled, so after compaction
           a single-key fetch reads O(1) base files of ONE bucket —
           at 100 TB the bases hold the bytes, so that is megabytes,
           not the lake.

        The scan keeps the requested keys' rows only, and ONE aggregate
        picks each key's winner with ``max_by`` over ``(_seq,
        _commit)`` — the LWW rule of :meth:`_lww`, with no winner join:
        its rows grow with keys × versions, so carrying their payload
        through the aggregate is cheap.  Pruning never changes LWW
        winners: a skipped file contains no version of any requested
        key.  Tombstoned keys return no row, exactly like :meth:`read`."""
        cols = [f.name for f in self.schema.fields]
        if not keys:
            return self.read().limit(0)
        buckets_of = self._key_buckets(keys)
        buckets = sorted(set(buckets_of.values()))
        files = self._files_for_keys(
            self._bucket_files(buckets),
            self._manifest.get("file_stats", {}),
            list(buckets_of.items()),
        )
        live = self._live(self._manifest, buckets)
        payload = [c for c in cols if c != self.key]
        winner = F.max_by(
            F.struct(*payload, "_deleted"), F.struct("_seq", "_commit")
        ).alias("_w")
        return (
            self._scan(files, self.schema, live)
            .filter(F.col(self.key).isin(list(buckets_of)))
            .groupBy(self.key)
            .agg(winner)
            .filter(~F.col("_w._deleted"))
            .select(*[c if c == self.key else f"_w.{c}" for c in cols])
        )

    @staticmethod
    def _file_commit_version(path: str) -> int:
        """The commit version that WROTE a data file, parsed from its
        directory name (``c%06d`` delta, ``c%06dx``
        compaction).  Every row in a file has ``_commit`` ≤ this
        version, so files at version ≤ v cannot contain rows committed
        after v — the file-level pruning :meth:`read_changes` uses."""
        m = _COMMIT_DIR.findall(path)
        if not m:
            raise ValueError(f"not a lake data file path: {path}")
        return int(m[-1])

    def _range_delta_files(
        self, man_to: dict, from_version: int, to_version: int
    ) -> tuple[list[str], list[int]] | None:
        """Commit-addressed range: the delta files each merge commit in
        ``(from, to]`` wrote and the buckets they hold, both recorded
        in the manifest lineage (``files``, ``touched_buckets``).
        Scanning those files yields the range rows, each once, WITHOUT
        touching compaction outputs — whose row-level ``_commit``
        filter would otherwise degrade to a narrow full-table scan
        (compaction writes rows unsorted, so parquet row-group stats
        cannot skip on ``_commit``; measured as 2-3× refresh spikes
        after every fold, BASELINE.md History).  Vacuum's contiguous
        last-K retention means the feed's existing contract (the FROM
        manifest is retained) already keeps every range commit's delta
        files alive: each is referenced by its own, newer, also-retained
        manifest.

        Returns ``None`` — caller falls back to the manifest file set
        + ``_commit`` row filter — when the lineage window (last 200
        commits) doesn't reach back to ``from_version``, or when a
        recorded file is gone (defensive: unexpected vacuum)."""
        lin = man_to.get("lineage", [])
        if not lin or min(e["version"] for e in lin) > from_version + 1:
            return None
        files: list[str] = []
        touched: set[int] = set()
        for e in lin:
            if not (from_version < e["version"] <= to_version):
                continue
            files += e["files"]
            touched.update(e["touched_buckets"])
        if not all(os.path.exists(f) for f in files):
            return None
        return files, sorted(touched)

    def read_changes(
        self,
        from_version: int,
        to_version: int | None = None,
        *,
        include_preimage: bool = False,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """NET row-level change feed between two retained snapshots —
        the Delta CDF / Iceberg changelog-scan analog (CDC *out* of the
        lake, for downstream incremental consumers).  Returns the
        to-version payload schema plus ``_change_type``: one row per
        key whose live state differs between the snapshots.  A key
        touched in the range whose late events all LOSE the LWW race to
        the from-state winner emits nothing (no net change) — same
        guard as the merge path.

        ``include_preimage=False`` (default): ``_change_type`` ∈
        {'insert','update','delete'}; delete rows carry the key and
        null payload; the from-state side of the scan reads only the
        narrow internal columns (key, _seq, _commit, _deleted).

        ``include_preimage=True`` (the Delta CDF row shape): updates
        emit TWO rows — 'update_preimage' (from-state payload) then
        'update_postimage' — and delete rows carry the deleted
        (from-state) payload.  This is what makes the feed invertible
        for downstream incremental aggregation (subtract preimages,
        add postimages — operators/incremental.py); it costs reading
        the from state's payload columns for the touched buckets.
        Merge-on-read trade, stated plainly: Delta computes preimages
        at WRITE time because MERGE rewrites the old files anyway;
        this lake's merge never reads the target, so preimage feeds
        pay that read here instead.

        ``columns`` restricts the payload to the listed columns (the
        key is always included) — pass exactly what the consumer
        aggregates so every scan prunes to narrow columns.  A derived
        view over two small columns then never touches the token
        arrays, which is the difference between a metadata-weight and
        a full-table-weight refresh when uniform batches touch every
        bucket.

        Scale shape: the feed reads only the range files (those whose
        writing commit is > ``from_version``: the range commits' delta
        files, or compaction outputs, which keep each row's original
        ``_commit``) and the from-state files of the buckets they
        touch.  ONE aggregate over ``from ∪ range`` yields each key's
        range winner, which carries its payload, and its from-state
        winner, which does not: a net feed has no join, and a preimage
        feed adds one join for the from-state payload.  The aggregate
        sorts the range rows with their payload; the range side is ∝
        changes.  The from-state side is ∝ the touched buckets' row
        count, and a net feed reads only the key and the internal
        columns there (metadata-weight), while a preimage feed also
        reads the requested payload columns.  A from-state delta
        file is shared by the buckets it holds, so that side also reads
        the untouched buckets' rows of the files it names; they have no
        range winner and drop out of the aggregate.  Building the feed
        runs no Spark job when the range is pure delta files (the
        touched buckets come from the lineage).  Requires both
        manifests retained (same retention contract as :meth:`vacuum` /
        time travel).
        """
        to_version = self.version if to_version is None else to_version
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_version}"
            )
        man_to = self._manifest_at(to_version)
        pay_to = StructType.fromJson(man_to["schema"])
        sel_fields = list(pay_to.fields)
        if columns is not None:
            want = set(columns) | {self.key}
            unknown = want - {f.name for f in pay_to.fields}
            if unknown:
                raise ValueError(f"unknown payload columns: {sorted(unknown)}")
            sel_fields = [f for f in pay_to.fields if f.name in want]
        pay_cols = [f.name for f in sel_fields]
        empty = self.spark.createDataFrame(
            [],
            StructType(
                sel_fields + [StructField("_change_type", StringType())]
            ),
        )
        if from_version == to_version:
            return empty
        # the range side: the range commits' delta files with their
        # touched buckets off the lineage (no Spark job), or else the
        # to-manifest's files written after from
        delta = self._range_delta_files(man_to, from_version, to_version)
        if delta is not None:
            files, touched = delta
        else:
            files = [
                f
                for f in self._bucket_files(None, man_to)
                if self._file_commit_version(f) > from_version
            ]
            touched = None
        if not files:
            return empty
        key = self.key
        in_range = (F.col("_commit") > F.lit(from_version)) & (
            F.col("_commit") <= F.lit(to_version)
        )
        if touched is None:
            # compacted files mix a bucket's history, so a narrow
            # distinct job over the range rows names the touched
            # buckets (bounded by num_buckets)
            touched = sorted(
                r["b"]
                for r in self._scan(files, pay_to)
                .filter(in_range)
                .select(self._bucket_col().cast("int").alias("b"))
                .distinct()
                .collect()
            )
        # every scan reads with the to-version schema: columns added
        # after from_version read back as null from the old files
        # (additive evolution), so preimages of them are null
        man_from = self._manifest_at(from_version)
        old_files = self._bucket_files(touched, man_from)
        # one aggregate over from ∪ range picks both winners per key:
        # _w, the range winner, with _p, its payload, and _s, the
        # from-state winner.  The from-state scan reads no payload, and
        # the payload rides max_by, not max, as a map column cannot be
        # ordered.  A range file may hold rows with _commit <= from
        # (compaction outputs written after from, fallback path only);
        # each is a copy of the key's from-state winner, so _s is
        # unchanged.  A stale row of a shared delta file (see _live) is
        # a copy of, or loses to, its bucket's base winner — same
        # (_seq, _commit), same payload — so no winner moves and the
        # aggregate needs no filter.  _commit splits the two sides, so
        # (_seq, _commit) never ties between _w and _s.
        order = ["_seq", "_commit", "_deleted"]
        pre_cols = [c for c in pay_cols if c != key]
        from_rows = self._scan(old_files, pay_to).select(
            key, *order,
            *[F.lit(None).cast(pay_to[c].dataType).alias(c) for c in pre_cols],
        )
        rows = from_rows.unionByName(
            self._scan(files, pay_to).select(key, *order, *pre_cols)
        )
        state = rows.groupBy(key).agg(
            F.max(F.when(in_range, F.struct(*order))).alias("_w"),
            F.max_by(
                F.struct(*pre_cols), F.when(in_range, F.struct("_seq", "_commit"))
            ).alias("_p"),
            F.max(
                F.when(F.col("_commit") <= F.lit(from_version), F.struct(*order))
            ).alias("_s"),
        )
        s_live = F.col("_s").isNotNull() & ~F.col("_s._deleted")
        j = state.filter(
            F.col("_w").isNotNull()
            & (F.col("_s").isNull() | (F.col("_w") > F.col("_s")))
            # a delete of a key that was not live at from_version is a
            # no-op for net-diff consumers
            & ~(F.col("_w._deleted") & ~s_live)
        ).select(key, "_w.*", "_p.*", "_s")
        if not include_preimage:
            change = (
                F.when(~s_live, F.lit("insert"))
                .when(F.col("_deleted"), F.lit("delete"))
                .otherwise(F.lit("update"))
            )
            return j.select(*pay_cols, change.alias("_change_type"))

        # the preimage shape: the from-state winner's payload, from the
        # old files' live rows (a stale copy would join twice), over the
        # REQUESTED payload columns only
        s_rows = self._scan(
            old_files, pay_to, self._live(man_from, touched)
        ).select(
            F.col(key).alias("_s_key"),
            F.col("_seq").alias("_s_seq"),
            F.col("_commit").alias("_s_commit"),
            *[F.col(c).alias(f"_s_{c}") for c in pre_cols],
        )
        j = j.join(
            s_rows,
            (F.col(key) == F.col("_s_key"))
            & (F.col("_s._seq") == F.col("_s_seq"))
            & (F.col("_s._commit") == F.col("_s_commit")),
            "left",
        )

        def _mk(change_type: str, pre: bool):
            """One feed row as a struct: key + payload (from- or
            to-state) + change type."""
            vals = [
                F.col(f"_s_{c}" if pre and c != key else c).alias(c)
                for c in pay_cols
            ]
            vals.append(F.lit(change_type).alias("_change_type"))
            return F.struct(*vals)

        rows = (
            F.when(~s_live, F.array(_mk("insert", False)))
            .when(F.col("_deleted"), F.array(_mk("delete", True)))
            .otherwise(
                F.array(
                    _mk("update_preimage", True), _mk("update_postimage", False)
                )
            )
        )
        return j.select(F.explode(rows).alias("_r")).select("_r.*")

    # --------------------------------------------------------- evolve
    def add_columns(self, new_fields: list[StructField]) -> None:
        existing = {f.name for f in self.schema.fields}
        added = [f for f in new_fields if f.name not in existing]
        if not added:
            return
        schema = StructType(list(self.schema.fields) + added)
        self._commit_version(schema=json.loads(schema.json()))

    def promote_columns(self, promotions: list[tuple[str, "DataType"]]) -> None:
        """Widen stored column TYPES along the lossless chains
        (Iceberg type promotion, round-5 ADVICE r4): a schema-only
        commit that rewrites the manifest types; data files are NOT
        rewritten — Spark's parquet reader widens old files' values at
        scan time (int32→long, float→double are in its supported
        widening set), which :meth:`_scan`'s explicit schema relies on.
        Only lossless widenings are accepted (the same ``_type_accepts``
        test, reversed); anything else raises."""
        by_name = {f.name: f for f in self.schema.fields}
        changed = False
        for name, new_t in promotions:
            f = by_name.get(name)
            if f is None:
                raise KeyError(f"no such column {name!r}")
            if f.dataType == new_t:
                continue
            if not _type_accepts(new_t, f.dataType):
                raise SchemaCompatibilityError(
                    f"cannot promote {name!r}: {f.dataType.simpleString()} → "
                    f"{new_t.simpleString()} is not a lossless widening"
                )
            by_name[name] = StructField(name, new_t, f.nullable, f.metadata)
            changed = True
        if changed:
            schema = StructType([by_name[f.name] for f in self.schema.fields])
            self._commit_version(schema=json.loads(schema.json()))

    # ----------------------------------------------------------- merge
    def merge(
        self,
        batch: DataFrame,
        batch_id: int,
        *,
        stream_id: str = "default",
        seq: str = "event_sequence",
        op: str = "op",
        auto_compact_deltas: int = 8,
        schema_policy: str = "evolve",
    ) -> dict:
        """Append one change batch as a merge-on-read delta commit:
        gate → shape → bucket → append → fold.

        The batch's rows, duplicate keys included, are appended as delta
        files; the target is never read or rewritten, so per-commit bytes
        written ∝ batch size.  Last-writer-wins, within the batch and
        against the target (late events lose, tombstones cannot be
        resurrected), is the read/fold-time rule: ``max(_seq, _commit)``
        over base ∪ deltas, ``_commit`` ordering equal ``_seq`` by
        arrival.  A bulk replay pre-reduces its batch
        (:func:`~investigraph_etl_spark.streaming.tailer.replay_batch`).

        Any touched bucket accumulating ``auto_compact_deltas`` delta
        sets is folded into its base inline, in the same manifest commit
        (see :meth:`compact`) — read amplification stays bounded while
        amortized compaction cost per commit is table/auto_compact.  A
        fold that raises rolls the in-memory manifest back to the last
        persisted one and re-raises: the batch is not committed, so its
        retry under the same id applies it, and its delta files are
        orphans :meth:`vacuum` collects.

        Exactly-once: Structured Streaming batch ids are monotonic and a
        retried batch re-runs with the same id, so a batch with
        ``batch_id <= last committed`` is a replay → skipped (the
        reference analog is tag-based source skip,
        /root/reference/investigraph/model/context.py:272-279).
        Returns commit stats.
        """
        import time as _time

        if batch_id <= self.last_committed(stream_id):
            return {"skipped": True, "version": self.version}
        _t0 = _time.monotonic()
        self._gate_schema(batch, seq, op, schema_policy)

        # shape: change rows → target row shape (+ internal columns)
        pay_cols = [f.name for f in self.schema.fields]
        changes = batch.select(
            *[
                F.col(c).cast(self.schema[c].dataType)
                if c in batch.columns
                else F.lit(None).cast(self.schema[c].dataType).alias(c)
                for c in pay_cols
            ],
            F.col(seq).cast("long").alias("_seq"),
            (F.col(op) == F.lit("delete")).alias("_deleted"),
        )
        # deletes keep the key but null payload
        changes = changes.select(
            F.col(self.key),
            *[
                F.when(F.col("_deleted"), F.lit(None).cast(self.schema[c].dataType))
                .otherwise(F.col(c))
                .alias(c)
                for c in pay_cols
                if c != self.key
            ],
            "_seq",
            "_deleted",
        )
        # bucket: each row's bucket and the writing commit
        out_version = self.version + 1
        rows = changes.withColumn("_bucket", self._bucket_col()).withColumn(
            "_commit", F.lit(out_version).cast("long")
        )

        _t_plan = _time.monotonic()
        new_files, by_bucket, new_stats = self._write_delta(rows, out_version)
        _t_write = _time.monotonic()
        touched = sorted(int(b) for b in by_bucket)

        # commit: append deltas (a file under every bucket it holds)
        deltas = {k: list(v) for k, v in self._manifest.get("deltas", {}).items()}
        for b, fl in by_bucket.items():
            deltas.setdefault(b, []).append(fl)
        commits = {**self._manifest["commits"], stream_id: batch_id}
        lineage = self._manifest.get("lineage", [])[-200:] + [
            {"batch_id": batch_id, "stream_id": stream_id, "version": out_version,
             "touched_buckets": touched, "files": new_files}
        ]
        self._manifest = {
            **self._manifest,
            "version": out_version,
            "deltas": deltas,
            "commits": commits,
            "lineage": lineage,
            "file_stats": {**self._manifest.get("file_stats", {}), **new_stats},
        }

        # fold: bounded read amplification — fold buckets at the delta
        # threshold back into their bases (same manifest commit).
        # Smoothed (round 2): uniform-key batches make every bucket hit
        # the threshold on the SAME commit — compacting all of them at
        # once is a stop-the-world full-table rewrite.  Instead compact
        # at most num_buckets/auto_compact_deltas buckets per commit,
        # most-behind first: steady state folds each bucket every
        # ``auto_compact_deltas`` commits with the same amortized cost
        # but no latency spike, and delta counts stay bounded by
        # ~2× the threshold.
        full = sorted(
            (int(b) for b, dsets in deltas.items() if len(dsets) >= auto_compact_deltas),
            key=lambda b: -len(deltas[str(b)]),
        )
        per_commit = max(1, self.num_buckets // max(auto_compact_deltas, 1))
        _t_pre_compact = _time.monotonic()
        try:
            compacted = self._compact(full[:per_commit], out_version) if full else 0
        except BaseException:
            # this commit's manifest is not persisted: drop it from the
            # handle too, or the handle would claim a batch id the disk
            # never committed (the delta files are orphans for vacuum)
            self._manifest = self._persisted
            raise
        _t_compact = _time.monotonic()

        self._commit_manifest()
        return {
            "skipped": False,
            "version": out_version,
            "touched_buckets": len(touched),
            "compacted_buckets": compacted,
            # per-commit phase timings (microbatch metrics surface):
            # plan = gate and shaping up to the write action, write =
            # the delta-write Spark job and its footer-stat harvest,
            # compact = amortized folding
            "timings": {
                "plan_sec": round(_t_plan - _t0, 3),
                "write_sec": round(_t_write - _t_plan, 3),
                "compact_sec": round(_t_compact - _t_pre_compact, 3),
            },
        }

    def _gate_schema(
        self, batch: DataFrame, seq: str, op: str, schema_policy: str
    ) -> None:
        """Schema gate + evolution for a merge batch (driver-side, before
        any job): additive columns promote, absent columns null-fill,
        lossless widenings (int→long, float→double, recursively through
        array/map/struct) cast up — anything else raises HERE with the
        column named, instead of an executor-side ANSI cast error (or,
        ANSI off, silent null corruption) after shuffle work is already
        spent.  The key column never changes type, under either policy.
        ``schema_policy="strict"`` additionally rejects ANY drift
        (additive or absent) — the locked-schema production mode."""
        for required in (self.key, seq, op):
            if required not in batch.columns:
                raise SchemaCompatibilityError(
                    f"merge batch is missing required column {required!r} "
                    f"(key/sequence/op); batch columns: {batch.columns}"
                )
        compat = check_schema_compatibility(
            self.schema, batch.schema, meta={seq, op}
        )
        if compat["breaking"] or compat["nested"]:
            detail = ", ".join(
                f"{n}: batch {bt} cannot be applied to stored {tt}"
                for n, bt, tt in compat["breaking"]
            )
            nested_detail = ", ".join(
                f"{n}: batch {bt} adds/drops NESTED struct fields vs "
                f"stored {tt} (nested field evolution is supported only "
                "at top level)"
                for n, bt, tt in compat["nested"]
            )
            raise SchemaCompatibilityError(
                "incompatible change-batch schema ("
                + "; ".join(x for x in (detail, nested_detail) if x)
                + "); allowed: equal types or lossless widenings "
                "(byte<short<int<long, float<double, recursively inside "
                "array/map/struct) — nested struct field add/drop is not.  "
                "Fix the producer, or migrate the table explicitly."
            )
        for n, bt, tt in compat["promote"]:
            if n == self.key:
                # a row's bucket is the hash of its key AS STORED, and
                # Spark hashes an int and a long of one value apart:
                # promoting the key would re-bucket every stored row
                raise SchemaCompatibilityError(
                    f"key column {n!r}: batch {bt} cannot be applied to "
                    f"stored {tt}; the key's type cannot change"
                )
        if schema_policy == "strict" and (
            compat["additive"] or compat["missing"] or compat["promote"]
        ):
            raise SchemaCompatibilityError(
                f"schema_policy='strict' rejects drift: additive="
                f"{compat['additive']}, absent={compat['missing']}, "
                f"promote={compat['promote']}"
            )
        meta = {self.key, seq, op}
        self.add_columns(
            [batch.schema[n] for n in compat["additive"] if n not in meta]
        )
        # batch wider than stored (e.g. producer int→long): promote the
        # STORED type up the same lossless chain (Iceberg promotion,
        # round-5 ADVICE r4) — schema-only commit, no file rewrite.
        # (seq/op never appear — they are not table columns.)
        self.promote_columns(
            [(n, batch.schema[n].dataType) for n, _bt, _tt in compat["promote"]]
        )

    def _write_delta(
        self, rows: DataFrame, version: int
    ) -> tuple[list[str], dict[str, list[str]], dict[str, dict]]:
        """Write commit ``version``'s bucketed ``rows`` as delta files,
        one per write task, and harvest them.  Returns (new files, bucket
        → the new files holding it, file → per-bucket key ranges).

        The rebalance hashes ``_bucket`` into a 4×-buckets fan, so each
        bucket lands wholly in ONE slot (32 values in 32 slots would
        leave ~1/e empty and the fullest with 2-3 buckets), and AQE
        coalesces adjacent slots to the batch's size: a micro-batch
        writes in one task, so ONE file per commit that every later read
        opens once; a bulk batch about one file per core.  AQE also
        splits a slot larger than ``advisoryPartitionSizeInBytes``, so a
        very large batch may spread a bucket over several files; readers
        take each delta set as a file list, so that is safe.  NO global
        sort — sorting rows that carry token arrays measurably
        inverse-scales (BASELINE.md History).  The stored ``_bucket``
        column, read back with the key, yields each file's bucket set
        (the touched buckets, with no distinct() job) and per-bucket key
        ranges for lookup file skipping."""
        out_dir = self.root / "data" / f"c{version:06d}"
        rows.hint("rebalance", self.num_buckets * 4, "_bucket").write.mode(
            "overwrite"
        ).parquet(str(out_dir))
        new_stats, held = self._harvest_file_stats(
            sorted(str(p) for p in out_dir.glob("*.parquet")), buckets=True
        )
        new_files = [f for f, bs in held.items() if bs]  # skip empty files
        by_bucket: dict[str, list[str]] = {}
        for f in new_files:
            for b in held[f]:
                by_bucket.setdefault(str(b), []).append(f)
        return new_files, by_bucket, new_stats

    # ------------------------------------------------------- compaction
    def _compact(self, buckets: list[int], version: int) -> int:
        """Fold ``buckets``' base ∪ deltas into new bases written at
        ``version`` — the one compaction path behind :meth:`merge` and
        :meth:`compact`: :meth:`_fold` (Spark work, no table state), then
        :meth:`_apply_fold` (the only manifest mutation; the caller
        persists it).  Returns the number of buckets folded.

        Crash safety: if the process dies mid-fold the manifest never
        references the new files; :meth:`vacuum` removes the orphans."""
        files = self._bucket_files(buckets)
        if not files:
            return 0
        out_dir = self.root / "data" / f"c{version:06d}x"
        return self._apply_fold(buckets, *self._fold(files, buckets, out_dir))

    def _fold(
        self, files: list[str], buckets: list[int], out_dir: pathlib.Path
    ) -> tuple[dict[str, list[str]], dict[str, list]]:
        """LWW-fold ``files``, the base and delta files of ``buckets``,
        into new per-bucket bases under ``out_dir``.  Touches no table
        state; returns (bucket → new base files, file → [min,max] key
        stats).

        The folded buckets' delta files are shared with other buckets,
        so the scan keeps only the rows the :meth:`_live` rule,
        restricted to ``buckets``, admits: other buckets' rows, and rows
        an earlier fold already put in a base, stay out of the new bases.

        The rewrite hashes into the delta write's 4×-buckets fan (merge
        step 4) with an explicit repartition, not a rebalance: AQE's
        skew split of a rebalance would cut one bucket's key range
        across tasks and break the disjoint rolled files below.  It
        sorts each bucket by key *within* its write task
        (``sortWithinPartitions`` — a local sort, no exchange); when
        :attr:`compact_target_file_rows` is set it rolls output files at
        that row count.  A bucket's base thus becomes key-range-DISJOINT
        files whose footer min/max let :meth:`read_keys` prune to O(1)
        base files per bucket.  Delta files stay unsorted (the hot write
        path never sorts) — at 100 TB the compacted base is ~everything,
        so skipping lives where the bytes are."""
        live = self._live(self._manifest, buckets)
        merged = self._lww(self._scan(files, self.schema, live)).withColumn(
            "_bucket", self._bucket_col()
        )
        merged = merged.repartition(len(buckets) * 4, "_bucket")
        merged = merged.sortWithinPartitions("_bucket", self.key)
        writer = merged.write
        if self.compact_target_file_rows:
            writer = writer.option(
                "maxRecordsPerFile", self.compact_target_file_rows
            )
        writer.partitionBy("_bucket").mode("overwrite").parquet(str(out_dir))
        new_base = {  # the write's directory listing — no Spark job
            d.name.split("=", 1)[1]: sorted(str(p) for p in d.glob("*.parquet"))
            for d in out_dir.glob("_bucket=*")
        }
        stats, _ = self._harvest_file_stats(
            [f for fl in new_base.values() for f in fl]
        )
        return new_base, stats

    def _apply_fold(
        self,
        buckets: list[int],
        new_base: dict[str, list[str]],
        new_stats: dict[str, list],
    ) -> int:
        """Land a fold in the in-memory manifest (persisted by the
        caller's next manifest write): each folded bucket's base becomes
        the fold's output and all its delta sets are dropped.  A dropped
        file's stats go with it unless an unfolded bucket still lists
        the (shared) file.  Returns the number of buckets folded."""
        bases = dict(self._manifest["buckets"])
        deltas = dict(self._manifest.get("deltas", {}))
        file_stats = dict(self._manifest.get("file_stats", {}))
        dropped: set[str] = set()
        for b in map(str, buckets):
            dsets = deltas.pop(b, [])
            dropped.update(bases.get(b, []), (f for ds in dsets for f in ds))
            bases[b] = new_base.get(b, [])
        dropped -= {f for dsets in deltas.values() for ds in dsets for f in ds}
        for f in dropped:
            file_stats.pop(f, None)
        file_stats.update(new_stats)
        self._manifest = {
            **self._manifest,
            "buckets": bases,
            "deltas": deltas,
            "file_stats": file_stats,
        }
        return len(buckets)

    def wait_for_compaction(self) -> int:
        """Folds run inline in :meth:`merge` and :meth:`compact`, so
        none is ever pending: a no-op that returns 0 (buckets landed),
        kept for callers that drain compaction before shutting down."""
        return 0

    def compact(self, buckets: list[int] | None = None) -> dict:
        """Fold deltas into bases (Iceberg ``rewrite_data_files`` analog)
        as a new table version.  ``buckets`` defaults to every bucket
        that currently has deltas."""
        deltas = self._manifest.get("deltas", {})
        targets = (
            sorted(int(b) for b in deltas if deltas[b])
            if buckets is None
            else sorted(set(buckets))
        )
        if not targets:
            return {"compacted_buckets": 0, "version": self.version}
        n = self._compact(targets, self.version + 1)
        self._commit_version()
        return {"compacted_buckets": n, "version": self.version}

    # ----------------------------------------------------- maintenance
    def vacuum(self, *, keep_manifests: int = 10) -> dict:
        """Garbage-collect storage (the Iceberg ``expire_snapshots`` +
        ``remove_orphan_files`` analog).

        Compaction supersedes the folded buckets' old base + delta
        files — without GC, storage grows with Σ(batch writes),
        unbounded over a 10^10-event replay.  Expires all but the
        newest ``keep_manifests`` manifests, then deletes every data
        file referenced by NONE of the *retained* manifests — so time
        travel to any retained version keeps working (round-2 fix:
        the round-1 version kept only the current manifest's files,
        silently breaking retained snapshots).  Paths are compared
        resolved, so opening the table via a relative path / symlink
        spelling cannot orphan live files (round-2 fix).  Single-writer
        discipline: do not run concurrently with a pinned reader."""
        mdir = self.root / "manifests"
        manifests = sorted(mdir.glob("v*.json"))
        expired = manifests[:-keep_manifests] if keep_manifests > 0 else []
        retained = [m for m in manifests if m not in set(expired)]
        referenced: set[str] = set()
        live_refs: set[str] = set()  # bucket-manifest files still needed
        for m in retained:
            doc = json.loads(m.read_text())
            live_refs.update(doc.get("bucket_refs", {}).values())
            referenced.update(
                str(pathlib.Path(f).resolve())
                for f in self._bucket_files(None, self._materialize(mdir, doc))
            )
        removed = 0
        data = self.root / "data"
        for p in sorted(data.rglob("*"), reverse=True):
            if p.is_file() and str(p.resolve()) not in referenced:
                p.unlink()
                removed += 1
            elif p.is_dir():
                try:
                    p.rmdir()  # only empties fall
                except OSError:
                    pass
        for m in expired:
            m.unlink()
        # expire bucket manifests referenced by no retained manifest list
        expired_bm = 0
        for bm in mdir.glob("bm-*.json"):
            if bm.name not in live_refs:
                bm.unlink()
                expired_bm += 1
        return {
            "removed_files": removed,
            "expired_manifests": len(expired),
            "expired_bucket_manifests": expired_bm,
        }


LakeTable = HashLakeTable
