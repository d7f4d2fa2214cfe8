"""Plan-quality assertions (SURVEY.md §4): the physical plans the
engine's headline queries compile to are part of the contract — a
regression from broadcast to sort-merge, a lost parquet filter
pushdown, or a Sort sneaking under the LWW payload would all pass
value-equality tests while destroying 100 TB behavior.  These tests
pin the plan shape itself."""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def tree(plan: str) -> str:
    """Just the operator tree (formatted mode repeats every operator in
    the details section — counting over the full text double-counts)."""
    return plan.split("\n\n", 1)[0]


def test_filter_and_projection_reach_parquet_scan(spark):
    plan = explain_str(entry.q_filter_project(spark, SF))
    assert "PushedFilters:" in plan
    # the predicate columns must appear in the pushed-filter list
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l][0]
    assert "event_type" in pushed and "value" in pushed
    # column pruning: props (unused, wide) must not be read
    read = [l for l in plan.splitlines() if "ReadSchema:" in l][0]
    assert "props" not in read


def test_q1_aggregation_has_partial_agg_and_pushdown(spark):
    plan = explain_str(entry.q_q1_pricing_summary(spark, SF))
    assert "partial_" in plan  # map-side combine before the shuffle
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l][0]
    assert "l_shipdate" in pushed
    assert tree(plan).count("Exchange") == 1  # exactly one agg shuffle


def test_dim_joins_broadcast_not_sort_merge(spark):
    plan = explain_str(entry.q_revenue_by_nation(spark, SF))
    assert tree(plan).count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_lww_payload_never_sorted(spark):
    """The engine's core primitive: winner agg + broadcast semi-join.
    The payload side must see NO Sort and the semi join must build on
    the (narrow) winner side."""
    from investigraph_etl_spark.operators.lww import lww_dedup

    e = spark.read.parquet(f"{SF}/events.parquet")
    plan = explain_str(
        lww_dedup(e, "user_id", "event_id", winners_strategy="auto_count")
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # scalar-max winner agg: pure HashAggregate, zero sorts anywhere
    assert "Sort" not in tree(plan) and "SortAggregate" not in plan


def test_topk_window_uses_group_limit_pushdown(spark):
    """row_number + rank<=k must compile to WindowGroupLimit (per-
    partition top-k before the shuffle) — without it the full table
    flows into the window sort."""
    plan = explain_str(entry.q_topk_events_per_user(spark, SF))
    assert "WindowGroupLimit" in plan


def test_lake_delta_write_plan_is_sort_free(spark, tmp_path):
    """Merge-on-read commit: the delta write must shuffle once by
    bucket and never sort the token-array payload."""
    from investigraph_etl_spark.changelog import gen_events_pandas
    from investigraph_etl_spark.sources.lake import HashLakeTable
    from investigraph_etl_spark.streaming.tailer import (
        change_schema,
        prepare_batch,
        target_schema,
    )

    lake = HashLakeTable.create(
        spark, str(tmp_path / "lake"), target_schema(), num_buckets=8
    )
    events = spark.createDataFrame(
        gen_events_pandas(0, 500, seed=30, n_docs=50), schema=change_schema()
    )
    lake.merge(prepare_batch(events), 0)
    # inspect the read plan instead (the write already ran): LWW over
    # base ∪ deltas on (_seq, _commit) — the struct-max winner agg MAY
    # SortAggregate, but only over the narrow key projection: no Sort
    # block may ever carry the token-array payload
    plan = explain_str(lake.read_raw())
    assert "SortMergeJoin" not in plan
    for block in plan.split("\n\n"):
        first = block.strip().splitlines()[0] if block.strip() else ""
        if first.startswith("(") and ("Sort" in first):
            assert "tokens" not in block, first


def test_scan_only_text_ops_have_no_exchange(spark):
    """token counts / pii scrub are pure projections — any Exchange is
    a regression.  lang_id deliberately fans out (round-robin) because
    its marker-fold is compute-heavy on few scan splits — assert that
    exchange stays round-robin, never a hash/range shuffle."""
    for q in ("q_token_counts", "q_pii_scrub"):
        plan = explain_str(getattr(entry, q)(spark, SF))
        assert "Exchange" not in plan, q
    lang = explain_str(entry.q_lang_id(spark, SF))
    for line in lang.splitlines():
        if "Arguments:" in line and "Partitioning" in line:
            assert "RoundRobinPartitioning" in line, line


@pytest.fixture(scope="module")
def spark():
    from investigraph_etl_spark.session import get_spark

    return get_spark("plan_tests", master="local[4]", shuffle_partitions=4)


def test_asof_join_single_shuffle_no_join_node(spark):
    """The union-and-carry-forward as-of join must compile to ONE
    window over the unioned sides — no physical join node at all, and
    exactly one Exchange (the per-key window shuffle) above the
    scans."""
    plan = explain_str(entry.q_asof_join(spark, SF))
    t = tree(plan)
    assert "Join" not in t.replace("BroadcastNestedLoopJoin", "JOIN_")  # no join of any kind
    assert "Window" in t
    # union side + agg side shuffles: the carry-forward itself is one
    # exchange; the click-dedup agg adds its own.  What must NOT
    # appear is a per-row range join explosion.
    assert "BroadcastNestedLoop" not in plan


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The bucketized range join's whole point: a hash equi-join on
    (key, bucket), never BroadcastNestedLoopJoin / cartesian."""
    plan = explain_str(entry.q_range_join(spark, SF))
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan
    t = tree(plan)
    assert ("BroadcastHashJoin" in t) or ("ShuffledHashJoin" in t) or (
        "SortMergeJoin" in t
    )


def test_pack_sequences_single_window_shuffle(spark):
    """Packing = one per-shard window (single Exchange on the shard
    column) followed by narrow explode/slice projections — no join,
    no second shuffle."""
    plan = explain_str(entry.q_pack_sequences(spark, SF))
    t = tree(plan)
    assert t.count("Exchange") == 1
    assert "Join" not in t
    assert "Generate" in t  # the sequence+explode span generator


def test_stratified_sample_is_pure_narrow_filter(spark):
    """Hash sampling must stay a scan+filter+project pipeline: zero
    Exchange, zero join, no Python UDF (md5/conv are JVM exprs)."""
    plan = explain_str(entry.q_stratified_sample(spark, SF))
    t = tree(plan)
    assert "Exchange" not in t
    assert "Join" not in t
    assert "Python" not in plan  # no UDF fallback


def test_repetition_signals_zero_shuffle_arrow(spark):
    """Repetition stats (round 5) = one Arrow-batched pandas UDF for
    the per-doc gram counts, entirely narrow: ZERO hash-partition
    Exchanges (the round-2 explode shape moved ~2× every token through
    one), never a join, no aggregate at all — the only allowed exchange
    is the deliberate round-robin fan-out.  The Python stage must be
    ArrowEvalPython (vectorized), never row-at-a-time BatchEvalPython."""
    plan = explain_str(entry.q_repetition_signals(spark, SF))
    t = tree(plan)
    assert "Join" not in t
    hash_ex = [
        l for l in plan.splitlines()
        if "Arguments:" in l and "hashpartitioning" in l
    ]
    assert len(hash_ex) == 0, hash_ex
    assert "SortAggregate" not in t and "HashAggregate" not in t
    assert "ArrowEvalPython" in t and "BatchEvalPython" not in t


# The declared rotation set: long-stable trivial queries, gate-green in
# rounds 1-4, whose oracles are KEPT but whose queries() slots sit past
# the driver's 50-row window to make room for the value-oracled
# approximate ops (VERDICT r4 task 1).  Value coverage for these five
# moves into pytest: test_rotated_queries_still_value_checked below
# runs each against its own DuckDB oracle.
ROTATED_PAST_WINDOW = {
    "union_parties", "wordcount", "groupby_count",
    "filter_project", "events_per_day",
}


def test_queries_ordering_keeps_oracle_keys_in_driver_window():
    """Round-4 regression guard (VERDICT r3 task 2): the driver
    verifies only the FIRST 50 queries() entries.  Round 5 has MORE
    oracle-backed keys (55) than window slots, so the guard becomes:
    every window slot must carry an oracle (no rows-only key may waste
    a slot while an oracle-backed key sits outside), and the only
    oracle keys allowed past the window are the DECLARED rotations."""
    qs = list(entry.queries())
    oracle_keys = set(entry.oracle_sql())
    window = qs[:50]
    rows_only_in_window = [k for k in window if k not in oracle_keys]
    assert not rows_only_in_window, (
        f"rows-only keys occupy driver-window slots while oracle-backed "
        f"keys sit outside: {rows_only_in_window}"
    )
    rotated = oracle_keys - set(window)
    assert rotated <= ROTATED_PAST_WINDOW, (
        f"oracle-checked keys pushed past the driver's 50-row window "
        f"beyond the declared rotation set: {sorted(rotated)}"
    )
    # every oracle key must also have a query (no orphan oracles)
    assert oracle_keys <= set(qs)


def test_rotated_queries_still_value_checked(spark):
    """The five rotated queries left the driver's verification window;
    this test IS their value check now — each runs on Spark at sf0.001
    and must match its own oracle_sql() on DuckDB (same canon/dtype
    comparison the local gate emulation uses, tools/compare.py)."""
    import importlib.util
    import pathlib

    duckdb = pytest.importorskip("duckdb")
    cmp_path = pathlib.Path(__file__).parents[1] / "tools" / "compare.py"
    spec = importlib.util.spec_from_file_location("_compare", cmp_path)
    cmp_mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cmp_mod)

    con = duckdb.connect()
    for t in cmp_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    qs, oracles = entry.queries(), entry.oracle_sql()
    for name in sorted(ROTATED_PAST_WINDOW):
        got = qs[name](spark, SF).toPandas()
        exp = con.execute(oracles[name]).df()
        assert sorted(got.columns) == sorted(exp.columns), name
        assert len(got) == len(exp), (name, len(got), len(exp))
        assert not cmp_mod.dtype_mismatches(got, exp), name
        assert cmp_mod.canon(got) == cmp_mod.canon(exp), name


def test_token_decontaminate_broadcasts_bench_vocab(spark):
    """The benchmark gram vocabulary must reach the corpus as a
    broadcast (the corpus is never shuffled by gram): exactly one
    BroadcastHashJoin, zero SortMergeJoin."""
    plan = explain_str(entry.q_token_decontaminate(spark, SF))
    t = tree(plan)
    assert t.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in t


def test_semantic_dedup_broadcasts_drop_set(spark):
    """SemDeDup's final canonical-keep is a broadcast anti-join of the
    (tiny) drop set — the corpus itself is never shuffled by
    similarity: one BroadcastHashJoin, zero SortMergeJoin."""
    plan = explain_str(entry.q_semantic_dedup(spark, SF))
    t = tree(plan)
    assert t.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in t
