"""Incrementally maintained MinHash-LSH dedup index — ingest-time
near-dup detection as a CHANGE-FEED CONSUMER.

The one-shot ``minhash_lsh_candidates`` (dedup.py) answers "which pairs
in this corpus are near-dups" by recomputing every signature.  At CDC
cadence the right shape is an INDEX: per-doc LSH band hashes persisted
next to the lake and folded forward from the net change feed, so each
refresh costs ∝ changed docs — never the corpus — and any incoming
batch can be probed against the full history before (or after) it
merges.

Composition is the point — every piece is the engine's own machinery:

* the index IS a :class:`~..sources.lake.HashLakeTable` keyed by
  doc_id (payload: ``band_hashes array<long>``), so MVCC reads, delta
  commits, compaction and vacuum apply unchanged;
* maintenance = ``source.read_changes(v0, v1)`` (net feed) mapped to a
  merge batch — inserts/updates upsert the recomputed bands, deletes
  flow through as tombstones, and a doc updated to contentless text
  degrades to null bands (probe-invisible) instead of going stale;
* exactly-once = the index table's own ``last_committed`` pointer with
  the SOURCE lake version as the batch id: replayed or concurrent
  refreshes skip, a skipped range catches up in one feed (the same
  contract as DerivedAggTable, incremental.py).

Probe plan (scale shape): the incoming batch's band rows are
**broadcast**; the index side is scanned in place and hash-probed —
the index NEVER crosses a shuffle, so probe cost is one index scan no
matter how many executors, and at 10^10 docs you bucket the scan by
band-hash ranges the same way the lake buckets by key (noted, not
needed at this scale).  Candidates follow the LSH contract (≥1
agreeing band); verification composes with ``ngram_jaccard_pairs`` or
a numpy verify exactly as the one-shot path does.

Shingle sources: ``mode="text"`` (word n-grams via the shared
``shingle_rows``) for document tables; ``mode="tokens"`` (token-id
n-grams) for the north-rule lake of pre-tokenized sequences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from investigraph_etl_spark.operators.dedup import (
    minhash_signatures_from_shingles,
    shingle_rows,
)
from investigraph_etl_spark.sources.lake import HashLakeTable


class MinHashIndex:
    STREAM = "minhash_index"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        key: str = "doc_id",
        content_col: str = "text",
        mode: str = "text",
        n: int = 3,
        num_hashes: int = 32,
        bands: int = 8,
        seed: int = 42,
        num_buckets: int = 16,
    ):
        if mode not in ("text", "tokens"):
            raise ValueError(f"mode must be 'text' or 'tokens', got {mode!r}")
        if num_hashes % bands:
            raise ValueError("bands must divide num_hashes")
        self.spark = spark
        self.key = key
        self.content_col = content_col
        self.mode = mode
        self.n = n
        self.num_hashes = num_hashes
        self.bands = bands
        self.seed = seed
        schema = StructType(
            [
                StructField(key, StringType(), False),
                StructField("band_hashes", ArrayType(LongType()), True),
            ]
        )
        self.table = HashLakeTable.create(
            spark, root, schema, key=key, num_buckets=num_buckets
        )

    # ------------------------------------------------------- signatures
    def _shingles(self, df: DataFrame) -> DataFrame:
        """``(id, shingle)`` rows; per-doc distinct."""
        if self.mode == "text":
            return shingle_rows(
                df, n=self.n, text_col=self.content_col, id_col=self.key
            ).select(F.col(self.key).alias("id"), "shingle")
        # token n-grams: space-joined id runs (short sequences fall back
        # to one whole-sequence gram, mirroring word_shingles_of)
        grams = F.when(
            F.size("_tk") >= self.n,
            F.expr(
                f"transform(sequence(1, size(_tk) - {self.n} + 1),"
                f" i -> concat_ws(' ', slice(_tk, i, {self.n})))"
            ),
        ).otherwise(F.array(F.concat_ws(" ", F.col("_tk"))))
        return (
            df.select(
                F.col(self.key).alias("id"),
                F.col(self.content_col).alias("_tk"),
            )
            .where(F.size("_tk") > 0)
            .select("id", F.explode(F.array_distinct(grams)).alias("shingle"))
        )

    def band_hashes(self, df: DataFrame) -> DataFrame:
        """``(id, band_hashes array<long>)`` for every doc in ``df``
        with at least one shingle."""
        r = self.num_hashes // self.bands
        sig = minhash_signatures_from_shingles(
            self._shingles(df), num_hashes=self.num_hashes, seed=self.seed
        )
        return sig.select(
            "id",
            F.array(
                *[
                    F.xxhash64(
                        F.slice("signature", b * r + 1, r), F.lit(b)
                    )
                    for b in range(self.bands)
                ]
            ).alias("band_hashes"),
        )

    # ------------------------------------------------------ maintenance
    @property
    def version(self) -> int:
        """SOURCE lake version the index reflects (0 = never
        refreshed; ``last_committed`` is -1 for an unseen stream)."""
        return max(self.table.last_committed(self.STREAM), 0)

    def refresh(self, source: HashLakeTable) -> dict:
        """Fold the source's net changes since the last refresh into
        the index.  Idempotent (replayed versions skip via the index
        table's commit pointer); a multi-commit gap catches up in one
        feed."""
        v0, v1 = self.version, source.version
        if v1 <= v0:
            return {"skipped": True, "version": v0}
        feed = source.read_changes(v0, v1, columns=[self.content_col])
        changed = feed.where(F.col("_change_type") != "delete")
        bands = self.band_hashes(changed)
        # LEFT join from the feed keys: a doc whose new content yields
        # zero shingles still upserts (null bands) — stale bands from
        # its previous content must not survive.  The feed key is
        # aliased first (round-4, ADVICE r3): with key='id' the naive
        # condition F.col(key) == F.col('id') is self-ambiguous.
        upserts = (
            changed.select(F.col(self.key).alias("_mhidx_key"))
            .join(bands, F.col("_mhidx_key") == F.col("id"), "left")
            .select(F.col("_mhidx_key").alias(self.key), "band_hashes")
        )
        deletes = feed.where(F.col("_change_type") == "delete").select(
            self.key, F.lit(None).cast(ArrayType(LongType())).alias("band_hashes")
        )
        batch = (
            upserts.withColumn("op", F.lit("upsert"))
            .unionByName(deletes.withColumn("op", F.lit("delete")))
            .withColumn("event_sequence", F.lit(v1).cast("long"))
        )
        return self.table.merge(batch, v1, stream_id=self.STREAM)

    # ------------------------------------------------------------ probe
    def probe(
        self,
        batch: DataFrame,
        *,
        verify_with: DataFrame | None = None,
        threshold: float = 0.5,
    ) -> DataFrame:
        """LSH candidates between ``batch`` docs and the indexed corpus:
        ``(id_new, id_indexed, n_bands)``.  The batch's band rows
        broadcast; the index scan is probed in place (zero index
        shuffle).  Self-matches (same id) are excluded so a batch may
        be probed after its own merge.

        ``verify_with`` (the indexed docs' content — typically
        ``source_lake.read()``) upgrades candidates to EXACT verified
        pairs with a ``jaccard`` column filtered at ``threshold`` —
        the same precision-1.0 contract as the one-shot
        ``lsh_near_dup_pairs``.  Scale shape: the candidate id sets are
        LSH-small by construction, so both shingle recomputations are
        semi-join-restricted to them (broadcast), never corpus-wide."""
        r_new = self.band_hashes(batch).select(
            F.col("id").alias("id_new"),
            F.posexplode("band_hashes").alias("band_ix", "h"),
        )
        r_idx = self.table.read().select(
            F.col(self.key).alias("id_indexed"),
            F.posexplode("band_hashes").alias("band_ix", "h"),
        )
        cands = (
            r_idx.join(F.broadcast(r_new), ["band_ix", "h"])
            .where(F.col("id_new") != F.col("id_indexed"))
            .groupBy("id_new", "id_indexed")
            .agg(F.count(F.lit(1)).alias("n_bands"))
        )
        if verify_with is None:
            return cands
        sh_new = self._shingles(
            batch.join(
                F.broadcast(
                    cands.select(F.col("id_new").alias(self.key)).distinct()
                ),
                self.key,
                "left_semi",
            )
        ).select(F.col("id").alias("id_new"), "shingle")
        sh_idx = self._shingles(
            verify_with.join(
                F.broadcast(
                    cands.select(F.col("id_indexed").alias(self.key)).distinct()
                ),
                self.key,
                "left_semi",
            )
        ).select(F.col("id").alias("id_indexed"), "shingle")
        n_new = sh_new.groupBy("id_new").agg(F.count(F.lit(1)).alias("_na"))
        n_idx = sh_idx.groupBy("id_indexed").agg(F.count(F.lit(1)).alias("_nb"))
        inter = (
            sh_new.join(sh_idx, "shingle")
            .groupBy("id_new", "id_indexed")
            .agg(F.count(F.lit(1)).alias("_ni"))
        )
        return (
            cands.join(inter, ["id_new", "id_indexed"], "left")
            .join(n_new, "id_new")
            .join(n_idx, "id_indexed")
            .select(
                "id_new",
                "id_indexed",
                "n_bands",
                F.round(
                    F.coalesce(F.col("_ni"), F.lit(0))
                    / (F.col("_na") + F.col("_nb") - F.coalesce(F.col("_ni"), F.lit(0))),
                    6,
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= F.lit(threshold))
        )
