"""Incremental materialized-aggregate maintenance from the lake's
change feed (SURVEY.md §2.4 A3 taken incremental — the Delta CDF
consumer pattern).

A derived table of additive aggregates (counts / sums per group) over
the lake's live state can be kept current WITHOUT rescanning the table:
read the preimage change feed between two snapshots
(``HashLakeTable.read_changes(v, include_preimage=True)``), subtract
every preimage/delete row's contribution, add every
insert/postimage row's, and fold the signed deltas into the old state.
Cost ∝ changes in range + |state|, never table size — at the 10^10-event
design point a per-commit refresh touches thousands of rows where a
recompute scans terabytes.

Group migrations fall out for free: an update whose group column
changed contributes −1 to the old group (preimage row) and +1 to the
new one (postimage row).

Physical shape: ONE hash aggregate over the feed (map-side combine,
fixed-width buffers) + ONE hash aggregate over state ∪ delta — no
joins, no sorts, and null group keys survive because the merge is a
union-then-groupBy, not an equi-join.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_ADD = ("insert", "update_postimage")
_SUB = ("delete", "update_preimage")


def aggregate_state(
    df: DataFrame,
    group_cols: list[str],
    *,
    count_col: str = "n_rows",
    sum_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Bootstrap the derived table from a full snapshot: per group,
    a live-row count plus ``sum_cols`` (alias → source column) sums."""
    sum_cols = sum_cols or {}
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias(count_col),
        *[F.sum(src).alias(dst) for dst, src in sum_cols.items()],
    )


def apply_feed(
    state: DataFrame | None,
    feed: DataFrame,
    group_cols: list[str],
    *,
    count_col: str = "n_rows",
    sum_cols: dict[str, str] | None = None,
) -> DataFrame:
    """Fold a PREIMAGE change feed into an aggregate state produced by
    :func:`aggregate_state` (or ``None`` to build from an empty state).
    Groups whose live-row count reaches zero drop out of the result.

    The feed must carry preimages (``read_changes(...,
    include_preimage=True)``): a net feed's plain 'update' rows are not
    invertible — hitting one raises at execution time rather than
    silently double-counting.
    """
    sum_cols = sum_cols or {}
    sign = (
        F.when(F.col("_change_type").isin(*_ADD), F.lit(1))
        .when(F.col("_change_type").isin(*_SUB), F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("apply_feed needs a preimage feed; got row type "),
                    F.col("_change_type"),
                )
            )
        )
    )
    delta = (
        feed.withColumn("_sign", sign)
        .groupBy(*group_cols)
        .agg(
            F.sum("_sign").alias(count_col),
            *[
                F.sum(F.col(src) * F.col("_sign")).alias(dst)
                for dst, src in sum_cols.items()
            ],
        )
    )
    measures = [count_col, *sum_cols.keys()]
    if state is None:
        merged = delta
    else:
        merged = (
            state.select(*group_cols, *measures)
            .unionByName(delta.select(*group_cols, *measures))
            .groupBy(*group_cols)
            .agg(*[F.sum(m).alias(m) for m in measures])
        )
    return merged.filter(F.col(count_col) > 0)


class DerivedAggTable:
    """A continuously maintained materialized aggregate over a lake —
    the streaming-materialized-view pattern, persisted next to (not
    inside) the lake it derives from.

    The table stores its own ``_latest`` pointer = the LAKE version its
    state reflects.  :meth:`refresh` reads the preimage change feed
    from that version to the lake's current one, folds it in with
    :func:`apply_feed`, writes the new state to a versioned directory,
    and atomically swaps the pointer — so a refresh is a pure function
    of (old state, feed) and the pointer swap is the only commit.

    Consistency falls out of the version pointer, with NO coordination
    with the writer:

    * **skipped commits catch up** — a refresh after k lake commits
      folds the single k-commit feed (the feed composes across
      commits), so maintenance can run every batch, every N batches,
      or from a cron;
    * **crash safe** — dying mid-write leaves the pointer untouched
      (the half-written directory is overwritten by the next attempt);
      dying between the lake's commit and the refresh just widens the
      next feed;
    * **idempotent** — refreshing at an unchanged lake version is a
      no-op, so Structured Streaming's replayed batches cannot
      double-apply.

    Retention contract: the lake must still retain the manifest of
    this table's current version (``vacuum(keep_manifests=...)`` ≥ the
    maximum refresh lag in commits), same rule as time travel.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        group_cols: list[str],
        *,
        count_col: str = "n_rows",
        sum_cols: dict[str, str] | None = None,
        write_partitions: int = 1,
    ):
        self.spark = spark
        self.root = pathlib.Path(root)
        self.group_cols = list(group_cols)
        self.count_col = count_col
        self.sum_cols = dict(sum_cols or {})
        # aggregate states are small by definition (bounded by group
        # cardinality, not table size) — one output file keeps the
        # per-refresh write job at one task instead of
        # shuffle_partitions near-empty ones.  Raise for
        # high-cardinality groups (e.g. per-doc stats).
        self.write_partitions = write_partitions
        self.root.mkdir(parents=True, exist_ok=True)

    @property
    def version(self) -> int:
        """Lake version the current state reflects (0 = empty)."""
        p = self.root / "_latest"
        return int(p.read_text()) if p.exists() else 0

    def state(self) -> DataFrame | None:
        v = self.version
        if v == 0:
            return None
        return self.spark.read.parquet(str(self.root / f"v{v:06d}"))

    def refresh(self, lake) -> dict:
        """Catch the derived table up to ``lake``'s current version."""
        v0, v1 = self.version, lake.version
        if v0 >= v1:
            return {"skipped": True, "version": v0}
        # project the feed to exactly the columns this view aggregates:
        # the from-state (preimage) scan then prunes to those columns —
        # a view over two small columns never reads the token arrays,
        # which is what keeps refresh cost metadata-weight when uniform
        # batches touch every bucket (measured: unprojected refreshes
        # GREW with table size; see BASELINE.md, History)
        feed = lake.read_changes(
            v0,
            v1,
            include_preimage=True,
            columns=[*self.group_cols, *self.sum_cols.values()],
        )
        new = apply_feed(
            self.state(),
            feed,
            self.group_cols,
            count_col=self.count_col,
            sum_cols=self.sum_cols,
        )
        out = self.root / f"v{v1:06d}"
        if self.write_partitions:
            new = new.coalesce(self.write_partitions)
        new.write.mode("overwrite").parquet(str(out))
        tmp = self.root / f"_latest.tmp.{uuid.uuid4().hex}"
        tmp.write_text(str(v1))
        os.replace(tmp, self.root / "_latest")
        # keep the state we just read from (in-flight readers may still
        # map its files); anything older is unreachable — drop it
        for p in self.root.glob("v*"):
            if p.is_dir() and int(p.name[1:]) < v0:
                shutil.rmtree(p, ignore_errors=True)
        return {"skipped": False, "version": v1, "from_version": v0}
