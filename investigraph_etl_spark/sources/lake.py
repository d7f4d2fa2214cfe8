"""LakeTable — Iceberg-style upsert table with a parquet fallback.

SURVEY.md §7.1: no Iceberg/Delta jars exist in this sandbox, so the
engine ships a thin lake abstraction with two backends behind one API
(``merge`` / ``read`` / ``add_columns`` / ``snapshot``):

* :class:`HashLakeTable` (always available) — hash-bucketed parquet
  directories + JSON manifest snapshots + an atomically-swapped
  version pointer.  Functionally an "Iceberg-lite": MVCC reads,
  bucket-pruned MERGE, additive schema evolution, idempotent commits.
* :class:`IcebergLakeTable` (config-gated) — issues real ``MERGE INTO``
  SQL when an Iceberg catalog is on the classpath.  Untestable here;
  the SQL path is kept ready and asserted for shape only.

Merge semantics (the core invariant, SURVEY.md §1.3): the batch is a
set of LWW-reduced change rows ``(key, op, event_sequence, payload…)``;
merging = last-writer-wins over ``target ∪ batch`` on
``(key, _seq)`` with delete-as-tombstone.  Tombstones are retained so
a *late* event older than a delete cannot resurrect a row — the
``WHEN MATCHED AND s.event_sequence > t._seq`` guard from SURVEY.md
§2.9 T5, expressed as a plain max-by reduce.

Scale design (100 TB / 10^10 events) — merge-on-read (round 2; round 1
was copy-on-write, whose per-commit write amplification O(table size /
batch) was the top 100 TB killer flagged in VERDICT.md):
* the table is bucketed by ``xxhash64(key) % num_buckets``; each
  bucket holds a *base* file set plus a list of *delta* file sets;
* a MERGE writes the LWW-reduced batch as bucket-partitioned delta
  files — **per-commit bytes written ∝ batch size**, never the table;
* reads apply LWW over base ∪ deltas on ``(key, max(_seq, _commit))``
  — ``_commit`` (the writing commit's version, stored per row) breaks
  equal-``_seq`` ties in arrival order, exactly as the old COW union's
  ``_pref`` column did;
* :meth:`compact` folds a bucket's deltas back into its base (the
  Iceberg merge-on-read + ``rewrite_data_files`` analog); ``merge``
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
# ``c%06dx``/``c%06da`` (compaction) directory.  \d{6,}: versions are
# zero-padded to six digits but NOT capped at six — past commit 999,999
# f"c{v:06d}" emits 7+ digits and a fixed-width match would miss it.
_COMMIT_DIR = re.compile(r"c(\d{6,})[xa]?(?=/|$)")
# a data file's bucket; group 1 is set for compaction outputs
_FILE_BUCKET = re.compile(r"c\d{6,}(x|a)?/_bucket=(\d+)/")


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


class HashLakeTable:
    """Hash-bucketed parquet table with snapshot manifests.

    Layout::

        <root>/_latest                  # version pointer (atomic rename)
        <root>/manifests/v<NNNNNN>.json # schema, bucket→base/deltas, commits
        <root>/data/c<version>/…        # delta files written by commit v
        <root>/data/c<version>x/…       # compacted bases written at v
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = pathlib.Path(root)
        self._manifest = self._load_manifest()
        # last PERSISTED manifest — _commit_manifest diffs against it so
        # only buckets whose file lists changed get new bucket-manifest
        # files (the Iceberg manifest-reuse analog)
        self._persisted = self._manifest
        # async-compaction state (see _compact): _compact_future is None
        # or (future, consumed) where consumed maps bucket -> number of
        # delta sets the running fold snapshotted (harvest drops exactly
        # that prefix per bucket)
        self._compact_pool = None
        self._compact_future = None
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
        overwrite: bool = False,
    ) -> HashLakeTable:
        rootp = pathlib.Path(root)
        if (rootp / "_latest").exists():
            if not overwrite:
                return cls(spark, root)
            import shutil

            shutil.rmtree(rootp)
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
                bstats = {f: stats[f] for f in bfiles if f in stats}
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
        ``buckets``/``deltas`` maps (legacy inline docs pass through)."""
        if "bucket_refs" not in doc:
            return doc
        buckets: dict[str, list] = {}
        deltas: dict[str, list] = {}
        file_stats: dict[str, list] = {}
        for b, ref in doc["bucket_refs"].items():
            bm = json.loads((mdir / ref).read_text())
            if bm["base"]:
                buckets[b] = bm["base"]
            if bm["deltas"]:
                deltas[b] = bm["deltas"]
            file_stats.update(bm.get("stats", {}))
        return {**doc, "buckets": buckets, "deltas": deltas,
                "file_stats": file_stats}

    def _load_manifest(self) -> dict:
        v = int((self.root / "_latest").read_text())
        mdir = self.root / "manifests"
        return self._materialize(mdir, json.loads((mdir / f"v{v:06d}.json").read_text()))

    def _harvest_file_stats(self, files: list[str]) -> dict[str, list]:
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

        Footer reads are driver-SERIAL time on the commit path (a
        128-file delta write adds ~0.5s single-threaded — a pure
        serial-fraction tax the scaling pair pays at every core
        count), so they run on a small thread pool; pyarrow releases
        the GIL on I/O."""
        import concurrent.futures

        import pyarrow.parquet as pq

        def _one(f: str) -> tuple[str, list] | None:
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
            return None if lo is None else (f, [lo, hi])

        if not files:
            return {}
        with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
            return dict(r for r in pool.map(_one, files) if r is not None)

    @staticmethod
    def _files_for_keys(
        files: list[str], stats: dict[str, list], keys: list
    ) -> list[str]:
        """Drop files whose key range provably excludes every requested
        key (missing stats ⇒ keep).  Sound for LWW reads: a pruned file
        contributes no row for any requested key, so winners per key are
        unchanged."""
        kept = []
        for f in files:
            s = stats.get(f)
            if s is None or any(s[0] <= k <= s[1] for k in keys):
                kept.append(f)
        return kept

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
    def full_schema(self) -> StructType:
        return StructType(list(self.schema.fields) + list(_INTERNAL))

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
        """Base + delta files for the given buckets (None = all)."""
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
        return out

    def _scan(self, files: list[str], payload: StructType) -> DataFrame:
        """Raw file scan (no LWW), stored schema incl. ``_commit``.
        Explicit schema ⇒ files written before a column was added read
        it back as null (additive evolution, SURVEY.md §2.9 T6)."""
        stored = StructType(
            list(payload.fields) + list(_INTERNAL) + [_COMMIT]
        )
        if not files:
            return self.spark.createDataFrame([], stored)
        return self.spark.read.schema(stored).parquet(*files)

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

    @staticmethod
    def _bucket_outputs(out_dir: pathlib.Path) -> dict[str, list[str]]:
        """Bucket → sorted parquet files of a ``partitionBy("_bucket")``
        write (its directory listing — no Spark job)."""
        return {
            bdir.name.split("=", 1)[1]: sorted(str(p) for p in bdir.glob("*.parquet"))
            for bdir in out_dir.glob("_bucket=*")
        }

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
        merged = self._lww(self._scan(self._bucket_files(buckets, manifest), payload))
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

    def read_keys(self, keys: list[str]) -> DataFrame:
        """Point / multi-key lookup with two pruning layers:

        1. **bucket pruning** — scan only the buckets the keys hash
           into (the same ``xxhash64`` expression the merge path
           clusters by, evaluated in ONE single-task job over the key
           literals, bounded by ``len(keys)`` never table size);
        2. **file skipping** — within those buckets, drop every file
           whose manifest ``[min,max]`` key range excludes all
           requested keys (footer stats harvested at write time, see
           :meth:`_harvest_file_stats`).  Compacted bases are
           key-sorted and optionally range-rolled, so after compaction
           a single-key fetch reads O(1) base files of ONE bucket —
           at 100 TB that is megabytes, not the lake.

        Pruning never changes LWW winners: a skipped file contains no
        version of any requested key.  Tombstoned keys return no row,
        exactly like :meth:`read`."""
        cols = [f.name for f in self.schema.fields]
        if not keys:
            return self.read().limit(0)
        key_type = self.schema[self.key].dataType
        # the keys ride the plan as literals cast to the stored key type
        # (the hash depends on it): no Python worker round trip, no shuffle
        kdf = self.spark.range(1, numPartitions=1).select(
            F.explode(
                F.array(*[F.lit(k).cast(key_type) for k in dict.fromkeys(keys)])
            ).alias(self.key)
        )
        bucket = self._bucket_col().cast("int").alias("b")
        buckets = sorted({r["b"] for r in kdf.select(bucket).collect()})
        files = self._files_for_keys(
            self._bucket_files(buckets),
            self._manifest.get("file_stats", {}),
            list(keys),
        )
        return (
            self._lww(self._scan(files, self.schema))
            .filter(~F.col("_deleted"))
            .filter(F.col(self.key).isin(list(keys)))
            .select(*cols)
        )

    @staticmethod
    def _file_commit_version(path: str) -> int:
        """The commit version that WROTE a data file, parsed from its
        directory name (``c%06d`` delta, ``c%06dx``/``c%06da``
        compaction).  Every row in a file has ``_commit`` ≤ this
        version, so files at version ≤ v cannot contain rows committed
        after v — the file-level pruning :meth:`read_changes` uses."""
        m = _COMMIT_DIR.findall(path)
        if not m:
            raise ValueError(f"not a lake data file path: {path}")
        return int(m[-1])

    def _range_delta_files(
        self, man_to: dict, from_version: int, to_version: int
    ) -> list[str] | None:
        """Commit-addressed range file list: each merge commit in
        ``(from, to]`` contributed exactly the files in its own delta
        dir (``c%06d``, named by the manifest lineage), so scanning
        those dirs yields the range rows WITHOUT touching compaction
        outputs — whose row-level ``_commit`` filter would otherwise
        degrade to a narrow full-table scan (compaction writes rows
        unsorted, so parquet row-group stats cannot skip on
        ``_commit``; measured as 2-3× refresh spikes after every fold,
        BENCH.md).  Vacuum's contiguous last-K retention means the
        feed's existing contract (the FROM manifest is retained)
        already keeps every range commit's delta files alive: each is
        referenced by its own, newer, also-retained manifest.

        Returns ``None`` — caller falls back to the manifest file set
        + ``_commit`` row filter — when the lineage window (last 200
        commits) doesn't reach back to ``from_version``, or when a
        dir's files don't match its recorded touched buckets
        (defensive: unexpected vacuum)."""
        lin = man_to.get("lineage", [])
        if not lin or min(e["version"] for e in lin) > from_version + 1:
            return None
        files: list[str] = []
        for e in lin:
            v = e["version"]
            if not (from_version < v <= to_version):
                continue
            got = self._bucket_outputs(self.root / "data" / f"c{v:06d}")
            if {int(b) for b in got} != set(e.get("touched_buckets", [])):
                return None
            files += sorted(f for fl in got.values() for f in fl)
        return files

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
        writing commit is > ``from_version``: per-commit delta dirs, or
        compaction outputs, which keep each row's original ``_commit``)
        and the from-state files of the buckets they touch.  ONE narrow
        aggregate over ``from ∪ range`` — key and the internal columns
        only — yields each key's range winner and from-state winner;
        ONE join fetches the winners' payload from the range files, and
        preimage feeds add one join for the from-state payload.  The
        range side is ∝ changes; the from-state side is ∝ the touched
        buckets' row count, and a net feed reads only the key and the
        internal columns there (metadata-weight), while a preimage feed
        also reads the requested payload columns.  Building the feed
        runs no Spark job when the range is pure delta files (the
        touched buckets read off the ``_bucket=N`` paths).  Requires
        both manifests retained (same retention contract as
        :meth:`vacuum` / time travel).
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
        files = self._range_delta_files(man_to, from_version, to_version)
        if files is None:
            files = [
                f
                for f in self._bucket_files(None, man_to)
                if self._file_commit_version(f) > from_version
            ]
        if not files:
            return empty
        key = self.key
        in_range = (F.col("_commit") > F.lit(from_version)) & (
            F.col("_commit") <= F.lit(to_version)
        )
        # touched buckets, bounded by num_buckets either way.  A pure
        # delta file set is per-commit-per-bucket by construction, so
        # the set reads straight off the ``_bucket=N`` paths with no
        # Spark job.  Compacted files mix a bucket's history, so there
        # a narrow distinct job over the range rows runs instead (a
        # path-derived set would degrade to all buckets after a full
        # compact and void the pruning).
        marks = [_FILE_BUCKET.search(f) for f in files]
        if all(m is not None and m.group(1) is None for m in marks):
            touched = sorted({int(m.group(2)) for m in marks})
        else:
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
        old_files = self._bucket_files(touched, self._manifest_at(from_version))
        # one aggregate over from ∪ range picks both winners per key.  A
        # range file may hold rows with _commit <= from (compaction
        # outputs written after from, fallback path only); each is a
        # copy of the key's from-state winner, so _s is unchanged.
        # _commit splits the two sides, so (_seq, _commit) never ties
        # between _w and _s.
        order = F.struct("_seq", "_commit", "_deleted")
        state = (
            self._scan(old_files + files, pay_to)
            .select(key, "_seq", "_commit", "_deleted")
            .groupBy(key)
            .agg(
                F.max(F.when(in_range, order)).alias("_w"),
                F.max(
                    F.when(F.col("_commit") <= F.lit(from_version), order)
                ).alias("_s"),
            )
        )
        s_live = F.col("_s").isNotNull() & ~F.col("_s._deleted")
        changed = state.filter(
            F.col("_w").isNotNull()
            & (F.col("_s").isNull() | (F.col("_w") > F.col("_s")))
            # a delete of a key that was not live at from_version is a
            # no-op for net-diff consumers
            & ~(F.col("_w._deleted") & ~s_live)
        ).select(key, "_w.*", "_s")
        # the winners' payload, from the range files only; the join
        # strategy is left to Catalyst/AQE, as in _lww
        post = (
            self._scan(files, pay_to)
            .select(*pay_cols, "_seq", "_commit")
            .filter(in_range)
        )
        j = changed.join(post, on=[key, "_seq", "_commit"])
        if not include_preimage:
            change = (
                F.when(~s_live, F.lit("insert"))
                .when(F.col("_deleted"), F.lit("delete"))
                .otherwise(F.lit("update"))
            )
            return j.select(*pay_cols, change.alias("_change_type"))

        # the preimage shape: the from-state winner's payload, from the
        # old files, over the REQUESTED payload columns only
        pre_cols = [c for c in pay_cols if c != key]
        s_rows = self._scan(old_files, pay_to).select(
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
        salt_buckets: int = 0,
        winners_strategy: str = "broadcast",
        auto_compact_deltas: int = 8,
        reduce_batch: bool = True,
        compact_mode: str = "sync",
        schema_policy: str = "evolve",
    ) -> dict:
        """Apply one change batch (raw or pre-reduced — in-batch LWW
        runs here) as a merge-on-read delta commit.

        The batch is LWW-reduced to ≤1 row per key, bucketed, and
        *appended* as delta files — the target is never read or
        rewritten, so per-commit bytes written ∝ batch size (the
        round-1 COW design rewrote every touched bucket; at uniform
        key distribution that was a full-table rewrite per commit).
        The target-vs-batch LWW guard (late events lose, tombstones
        cannot be resurrected) moves to read/compact time: winners are
        picked by ``max(_seq, _commit)`` over base ∪ deltas, where
        ``_commit`` reproduces the old union's arrival-order tiebreak.

        Any touched bucket accumulating ``auto_compact_deltas`` delta
        sets is folded into its base within the same commit (see
        :meth:`compact`) — read amplification stays bounded while
        amortized compaction cost per commit is table/auto_compact.

        The delta write is a bucket rebalance that AQE sizes to the
        batch (one task for a micro-batch, about one per core for a bulk
        replay), normally one delta file per touched bucket.  AQE also
        splits any shuffle partition larger than
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so a very
        large batch may write several delta files for one bucket;
        readers take each delta set as a file list, so that is safe.

        ``reduce_batch=False`` skips the in-batch LWW reduce entirely —
        correctness is unaffected because read/compact-time LWW over
        ``(_seq, _commit)`` subsumes it (``LWW(batch ∪ target) ≡
        LWW(LWW(batch) ∪ target)``); what changes is economics.  The
        reduce is a winners hash-agg + broadcast semi-join that costs
        ~0.8s per micro-batch at local[32] regardless of how few
        duplicates it removes (measured; the traced benchmark run,
        ``perfbench/run.py --trace 1``, reports the same slice as
        ``lake.merge.plan_s``/``write_s``), while unreduced deltas only
        cost bytes ∝ the duplicate fraction.  Policy: skip for
        micro-batches (low in-batch dup ratio — the streaming tailer's
        case), keep for bulk replays whose dup ratio is high
        (events/doc ≫ 1) where the reduce pays for itself in write
        volume.  ``salt_buckets`` salts that reduce, so it needs
        ``reduce_batch=True``; the combination with ``False`` raises.

        ``compact_mode`` — ``"sync"`` folds threshold buckets inline
        (bounded latency spike), ``"async"`` runs the same fold on a
        background thread so it overlaps the next commits' write jobs
        (the Iceberg maintenance-process analog; harvested into the
        manifest at the next commit), ``"off"`` leaves compaction to
        an explicit :meth:`compact` call.

        Exactly-once: Structured Streaming batch ids are monotonic and a
        retried batch re-runs with the same id, so a batch with
        ``batch_id <= last committed`` is a replay → skipped (the
        reference analog is tag-based source skip,
        /root/reference/investigraph/model/context.py:272-279).
        Returns commit stats.
        """
        import time as _time

        if salt_buckets > 0 and not reduce_batch:
            raise ValueError(
                f"salt_buckets={salt_buckets} has no effect with "
                "reduce_batch=False (it salts the in-batch reduce)"
            )
        if batch_id <= self.last_committed(stream_id):
            return {"skipped": True, "version": self.version}
        _t0 = _time.monotonic()
        # fold any finished background compaction into this commit
        self._harvest_compaction(block=False)

        # 1. schema gate + evolution (driver-side, before any job):
        #    additive columns promote, absent columns null-fill,
        #    lossless widenings (int→long, float→double, recursively
        #    through array/map/struct) cast up — anything else raises
        #    HERE with the column named, instead of an executor-side
        #    ANSI cast error (or, ANSI off, silent null corruption)
        #    after shuffle work is already spent.
        #    ``schema_policy="strict"`` additionally rejects ANY drift
        #    (additive or absent) — the locked-schema production mode.
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
        # The key column may promote too: Spark's hash expressions
        # normalize integral types to long, so bucket assignment is
        # unchanged.  (seq/op never appear — they are not table columns.)
        self.promote_columns(
            [(n, batch.schema[n].dataType) for n, _bt, _tt in compat["promote"]]
        )
        pay_cols = [f.name for f in self.schema.fields]

        # 2. change rows → target row shape (+ internal columns)
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

        # 3. in-batch LWW (≤1 row per key) — optional under
        # merge-on-read; see the reduce_batch docstring note.
        from investigraph_etl_spark.operators.lww import lww_dedup

        out_version = self.version + 1
        if reduce_batch:
            reduced = lww_dedup(
                changes,
                self.key,
                "_seq",
                salt_buckets=salt_buckets,
                winners_strategy=winners_strategy,
            )
        else:
            reduced = changes
        reduced = reduced.withColumn("_bucket", self._bucket_col()).withColumn(
            "_commit", F.lit(out_version).cast("long")
        )

        # 4. append delta files clustered by bucket.  The write's own
        # directory listing yields the touched-bucket set — no separate
        # distinct() job.  NO global sort — sorting rows that carry
        # token arrays measurably inverse-scales (BENCH.md).
        # Fan = 4× buckets: hashing 32 bucket values into exactly 32
        # slots leaves ~1/e of them empty and the fullest with 2-3
        # buckets (2-3× task imbalance on the write stage, measured
        # ~+20%); 4× slots spread the same 32 buckets nearly 1:1 while
        # each bucket still lands wholly in ONE hash slot.  A rebalance
        # (not a repartition) lets AQE coalesce adjacent slots to the
        # batch's size: a micro-batch writes in one task instead of
        # paying a fixed ~44 ms of task set-up on each of 4×buckets
        # mostly-empty tasks, a bulk batch in about one task per core
        # (an oversized slot may be split — see the docstring).
        reduced = reduced.hint("rebalance", self.num_buckets * 4, "_bucket")
        out_dir = self.root / "data" / f"c{out_version:06d}"
        _t_plan = _time.monotonic()
        reduced.write.partitionBy("_bucket").mode("overwrite").parquet(str(out_dir))
        _t_write = _time.monotonic()
        new_files = self._bucket_outputs(out_dir)
        touched = sorted(int(b) for b in new_files)
        file_stats = dict(self._manifest.get("file_stats", {}))
        file_stats.update(
            self._harvest_file_stats([f for fl in new_files.values() for f in fl])
        )

        # 5. commit: append deltas, swap pointer
        deltas = {k: list(v) for k, v in self._manifest.get("deltas", {}).items()}
        for b in touched:
            deltas.setdefault(str(b), []).append(new_files[str(b)])
        commits = {**self._manifest["commits"], stream_id: batch_id}
        lineage = self._manifest.get("lineage", [])[-200:] + [
            {"batch_id": batch_id, "stream_id": stream_id, "version": out_version,
             "touched_buckets": touched}
        ]
        self._manifest = {
            **self._manifest,
            "version": out_version,
            "deltas": deltas,
            "commits": commits,
            "lineage": lineage,
            "file_stats": file_stats,
        }

        # 6. bounded read amplification: fold buckets at the delta
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
        compacted = 0
        _t_pre_compact = _time.monotonic()
        if full and compact_mode in ("sync", "async"):
            compacted = self._compact(
                full[:per_commit], out_version, background=compact_mode == "async"
            )
        _t_compact = _time.monotonic()

        self._commit_manifest()
        return {
            "skipped": False,
            "version": out_version,
            "touched_buckets": len(touched),
            "compacted_buckets": compacted,
            # per-commit phase timings (microbatch metrics surface):
            # plan = driver-side prep up to the write action, write =
            # the delta-write Spark job, compact = amortized folding
            "timings": {
                "plan_sec": round(_t_plan - _t0, 3),
                "write_sec": round(_t_write - _t_plan, 3),
                "compact_sec": round(_t_compact - _t_pre_compact, 3),
            },
        }

    # ------------------------------------------------------- compaction
    def _compact(
        self, buckets: list[int], version: int, *, background: bool = False
    ) -> int:
        """Fold ``buckets``' base ∪ deltas into new bases written at
        ``version`` — the one compaction path behind sync merges,
        :meth:`compact` and async merges.  Returns the number of buckets
        folded (with ``background``: scheduled).

        Snapshots the buckets on the committer thread — their files, the
        payload schema, and per bucket the number of delta sets the fold
        consumes — then runs :meth:`_fold` (pure compute) and
        :meth:`_apply_fold` (the only manifest mutation) back to back.
        ``background`` instead submits :meth:`_fold` to a one-slot pool
        so it overlaps the next commits' write jobs (the Iceberg
        maintenance-process analog); a busy pool skips scheduling (the
        buckets stay over threshold and retry next commit), and
        :meth:`_harvest_compaction` applies the result.  Only a fold
        removes files from the manifest and only one runs at a time
        (single writer), so the snapshot stays valid; delta sets
        appended after it survive because the apply drops exactly the
        consumed prefix.

        Crash safety: if the process dies mid-fold the manifest never
        references the new files; :meth:`vacuum` removes the orphans.
        Do not run :meth:`vacuum` while a compaction is inflight (it
        would delete the fold's not-yet-referenced output)."""
        if background and self._compact_future is not None:
            return 0
        # single-compactor rule (also the sync/async mode-switch guard):
        # an inflight fold snapshotted delta prefixes this one would
        # also consume — land it first or its apply drops the wrong sets
        self._harvest_compaction(block=True)
        files = self._bucket_files(buckets)
        if not files:
            return 0
        deltas = self._manifest.get("deltas", {})
        consumed = {str(b): len(deltas.get(str(b), [])) for b in buckets}
        out_dir = self.root / "data" / f"c{version:06d}x"
        snapshot = (files, len(consumed), self.schema, out_dir)
        if not background:
            return self._apply_fold(consumed, *self._fold(*snapshot))
        if self._compact_pool is None:
            import concurrent.futures

            self._compact_pool = concurrent.futures.ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="lake-compact"
            )
        self._compact_future = (
            self._compact_pool.submit(self._fold, *snapshot),
            consumed,
        )
        return len(consumed)

    def _fold(
        self,
        files: list[str],
        n_folded: int,
        payload: StructType,
        out_dir: pathlib.Path,
    ) -> tuple[dict[str, list[str]], dict[str, list]]:
        """LWW-fold the snapshotted ``files`` of ``n_folded`` buckets (read
        with the snapshot's ``payload`` schema) into new per-bucket bases
        under ``out_dir``.  Touches no table state; returns (bucket → new
        base files, file → [min,max] key stats).

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
        merged = self._lww(self._scan(files, payload)).withColumn(
            "_bucket", self._bucket_col()
        )
        merged = merged.repartition(n_folded * 4, "_bucket")
        merged = merged.sortWithinPartitions("_bucket", self.key)
        writer = merged.write
        if self.compact_target_file_rows:
            writer = writer.option(
                "maxRecordsPerFile", self.compact_target_file_rows
            )
        writer.partitionBy("_bucket").mode("overwrite").parquet(str(out_dir))
        new_base = self._bucket_outputs(out_dir)
        return new_base, self._harvest_file_stats(
            [f for fl in new_base.values() for f in fl]
        )

    def _apply_fold(
        self,
        consumed: dict[str, int],
        new_base: dict[str, list[str]],
        new_stats: dict[str, list],
    ) -> int:
        """Land a fold in the in-memory manifest (persisted by the
        caller's next manifest write): each folded bucket's base becomes
        the fold's output, and its first ``consumed[b]`` delta sets —
        the ones the fold read — are dropped with their stats.  Delta
        sets appended after the snapshot stay.  Returns the number of
        buckets folded."""
        bases = dict(self._manifest["buckets"])
        deltas = {k: list(v) for k, v in self._manifest.get("deltas", {}).items()}
        file_stats = dict(self._manifest.get("file_stats", {}))
        for b, n in consumed.items():
            dsets = deltas.pop(b, [])
            for f in bases.get(b, []) + [f for ds in dsets[:n] for f in ds]:
                file_stats.pop(f, None)
            bases[b] = new_base.get(b, [])
            if dsets[n:]:
                deltas[b] = dsets[n:]
        file_stats.update(new_stats)
        self._manifest = {
            **self._manifest,
            "buckets": bases,
            "deltas": deltas,
            "file_stats": file_stats,
        }
        return len(consumed)

    def _harvest_compaction(self, *, block: bool) -> int:
        """Apply a finished background fold (see :meth:`_compact`).
        Returns the number of buckets folded."""
        if self._compact_future is None:
            return 0
        fut, consumed = self._compact_future
        if not block and not fut.done():
            return 0
        result = fut.result()  # re-raises background failures
        self._compact_future = None
        return self._apply_fold(consumed, *result)

    def wait_for_compaction(self) -> int:
        """Block until any inflight background compaction lands, fold
        it in, and persist the manifest as a new version.  Call before
        shutting down a ``compact_mode="async"`` writer."""
        n = self._harvest_compaction(block=True)
        if n:
            self._commit_version()
        return n

    def compact(self, buckets: list[int] | None = None) -> dict:
        """Fold deltas into bases (Iceberg ``rewrite_data_files`` analog)
        as a new table version.  ``buckets`` defaults to every bucket
        that currently has deltas."""
        # land any inflight async fold first — single-compactor rule
        self._harvest_compaction(block=True)
        deltas = self._manifest.get("deltas", {})
        targets = (
            sorted(int(b) for b in deltas if deltas[b])
            if buckets is None
            else list(buckets)
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
        # an inflight async fold's output is not yet referenced by any
        # manifest and would be deleted as an orphan — land it AND
        # persist it (vacuum reads manifests from disk) first
        self.wait_for_compaction()
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


class IcebergLakeTable:
    """Real-Iceberg backend: same API, SQL ``MERGE INTO`` execution.

    Requires ``iceberg-spark-runtime`` on the classpath and a configured
    catalog — not present in this sandbox (SURVEY.md §7.1), so this
    class only validates availability and composes the SQL.  The MERGE
    mirrors SURVEY.md §2.3 J4 with the late-event guard.
    """

    MERGE_SQL = """
        MERGE INTO {table} t
        USING {source} s
        ON t.{key} = s.{key}
        WHEN MATCHED AND s.op = 'delete' AND s.event_sequence > t._seq THEN DELETE
        WHEN MATCHED AND s.event_sequence > t._seq THEN UPDATE SET *
        WHEN NOT MATCHED AND s.op != 'delete' THEN INSERT *
    """

    def __init__(self, spark: SparkSession, table: str, key: str = "doc_id"):
        if not any(
            "iceberg" in str(spark.conf.get(k, "") or "").lower()
            for k in ("spark.sql.extensions", "spark.sql.catalog.spark_catalog")
        ):
            raise RuntimeError(
                "Iceberg runtime not configured; use HashLakeTable instead"
            )
        self.spark, self.table, self.key = spark, table, key

    def merge(self, batch: DataFrame, batch_id: int, **_: object) -> dict:
        batch.createOrReplaceTempView("_merge_src")
        self.spark.sql(
            self.MERGE_SQL.format(table=self.table, source="_merge_src", key=self.key)
        )
        return {"skipped": False, "version": batch_id}


LakeTable = HashLakeTable
