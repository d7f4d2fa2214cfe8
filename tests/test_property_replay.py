"""Property-based replay equivalence (hypothesis).

The reference pins correctness with one committed golden output
(/root/reference/tests/test_pipeline.py:6-16).  This goes further:
for ANY generated changelog (random mix ratios, skew, dirty rows) cut
into ANY batch partition and delivered in ANY batch order, the lake's
final state must equal the single-threaded pandas oracle under
per-row token-array equality — the north-rule invariant quantified
over the input space instead of one fixture.

Spark sessions are expensive per example, so examples are few but
each covers many dimensions at once; seeds make failures replayable.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from investigraph_etl_spark.changelog import gen_events_pandas, oracle_reduce
from investigraph_etl_spark.sources.lake import HashLakeTable
from investigraph_etl_spark.streaming.tailer import (
    change_schema,
    replay_batch,
    target_schema,
)
from tests.conftest import assert_pdf_equal


@st.composite
def replay_cases(draw):
    seed = draw(st.integers(0, 2**16))
    n_events = draw(st.integers(200, 1500))
    n_docs = draw(st.integers(10, 300))
    skew = draw(st.sampled_from([0.0, 0.3, 0.7]))
    dirty = draw(st.sampled_from([0.0, 0.15]))
    n_batches = draw(st.integers(1, 4))
    # a permutation of batch delivery order (late batches carry OLDER
    # events — the LWW guard must hold regardless)
    order_seed = draw(st.integers(0, 2**16))
    salt = draw(st.sampled_from([0, 4]))
    return seed, n_events, n_docs, skew, dirty, n_batches, order_seed, salt


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=replay_cases())
def test_any_changelog_any_batching_matches_oracle(spark, tmp_path_factory, case):
    seed, n_events, n_docs, skew, dirty, n_batches, order_seed, salt = case
    events = gen_events_pandas(
        0, n_events, seed=seed, n_docs=n_docs, skew_frac=skew, dirty_frac=dirty
    )
    import numpy as np

    rng = np.random.default_rng(order_seed)
    cuts = sorted(rng.choice(range(1, len(events)), size=n_batches - 1, replace=False)) if n_batches > 1 else []
    chunks = np.split(np.arange(len(events)), cuts)
    order = rng.permutation(len(chunks))

    lake = HashLakeTable.create(
        spark,
        str(tmp_path_factory.mktemp("prop") / "lake"),
        target_schema(),
        num_buckets=4,
    )
    for bid, ci in enumerate(order):
        chunk = events.iloc[chunks[ci]]
        df = spark.createDataFrame(chunk, schema=change_schema())
        replay_batch(df, lake, batch_id=bid, salt_buckets=salt)
    assert_pdf_equal(lake.read().toPandas(), oracle_reduce(events))
