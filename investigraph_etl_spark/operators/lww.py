"""Last-writer-wins dedup per key (SURVEY.md §2.5 W1, §2.4 A1).

Reference semantics: in-task fragment merge keyed by entity id —
"last fragment merges into accumulated state"
(/root/reference/investigraph/model/context.py:407-415).  North-rule
form: reduce each (micro)batch to ≤1 row per ``doc_id``, keeping the
row with the greatest ``event_sequence``.

Physical strategy — measured, not guessed (BASELINE.md, History):

* ``max_by(struct(payload…))`` and ranking windows both force
  **SortAggregate / Sort** because the agg buffer (or sort row)
  carries the variable-length token arrays — at 2M events that plan
  *inversely* scaled with cores (sorting MBs of array payload per
  task, twice).  Lake point lookups (``HashLakeTable.read_keys``) do
  pick winners with ``max_by``: their rows grow with keys × versions,
  not with events, so the sort is cheap and saves the winner join.
* The winning plan is **narrow-winner + semi-join**:
    1. ``winners = groupBy(key).agg(max(seq))`` — fixed-width buffer →
       whole-stage-codegen HashAggregate with map-side partial agg;
       column pruning means this branch never reads the payload.
    2. ``events ⋉ winners on (key, seq)`` — a semi join; with the
       winners broadcast (``winners_strategy``, below) the payload has
       ZERO shuffles and ZERO sorts end-to-end.

``seq`` must be unique per key within ``df`` (changelog contract:
``event_sequence`` is globally unique) or duplicates survive; the
lake's read/fold-time LWW adds the writing commit as an explicit
tiebreak column (``extra_keys=("_commit",)``, sources/lake.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lww_dedup(
    df: DataFrame,
    key: str = "doc_id",
    seq: str = "event_sequence",
    *,
    salt_buckets: int = 0,
    extra_keys: tuple[str, ...] = (),
    winners_strategy: str = "auto_count",
    auto_count_max_keys: int = 2_000_000,
) -> DataFrame:
    """Keep, per ``key``, only the row with the max ``(seq, *extra_keys)``.

    ``salt_buckets > 0`` adds an explicit two-phase reduce for
    pathological single-key skew (north-rule knob): phase 1 reduces
    each (key, salt) slice, phase 2 reduces the ≤``salt_buckets``
    survivors.  Both phases stay narrow (no payload).

    ``winners_strategy`` picks the semi-join physical form:

    * ``"auto_count"`` (default; bulk replay) — one extra *narrow* job
      counts the winner set (key and order columns only), then
      broadcasts it up to ``auto_count_max_keys`` (the payload side
      then has ZERO shuffle and ZERO sort) and past that hints a
      shuffled hash join (one payload shuffle, still no sort).  Left to
      AQE, a winner set past ``autoBroadcastJoinThreshold`` degrades to
      a sort-merge join that SORTS the full payload (measured 10×
      slower with 30× the GC, BASELINE.md History).
    * ``"auto"`` (read/fold-time LWW) — defer to Catalyst/AQE.

    Any other value raises ``ValueError``.
    """
    if winners_strategy not in ("auto", "auto_count"):
        raise ValueError(
            f"winners_strategy={winners_strategy!r}: expected 'auto' or "
            "'auto_count'"
        )
    order_cols = [seq, *extra_keys]
    # scalar max for the single-order-key hot path: max over a STRUCT
    # forces SortAggregate (struct comparisons aren't hash-aggregable),
    # while max over a plain long stays inside whole-stage-codegen
    # HashAggregate with map-side combine — asserted in
    # tests/test_plans.py.  The struct form only runs when a tiebreak
    # column is genuinely needed (lake read-time LWW on (_seq,
    # _commit)), and even then sorts only the narrow key projection.
    if extra_keys:
        pick = F.max(F.struct(*order_cols)).alias("_w")
        unpack = lambda w: w.select(key, "_w.*")  # noqa: E731
    else:
        pick = F.max(F.col(seq)).alias(seq)
        unpack = lambda w: w  # noqa: E731

    narrow = df.select(key, *order_cols)
    if salt_buckets > 0:
        salted = narrow.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(seq)), F.lit(salt_buckets))
        )
        partial = unpack(salted.groupBy(key, "_salt").agg(pick)).select(
            key, *order_cols
        )
        winners = unpack(partial.groupBy(key).agg(pick))
    else:
        winners = unpack(narrow.groupBy(key).agg(pick))

    if winners_strategy == "auto_count":
        if winners.count() <= auto_count_max_keys:
            winners = F.broadcast(winners)
        else:
            winners = winners.hint("shuffle_hash")
    return df.join(winners, on=[key, *order_cols], how="left_semi")
