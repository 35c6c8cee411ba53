"""Cross-engine parity of the data-adaptive blocking-cap formulas.

The dedup family's hot-token cap is computed in Python on the
Spark side (`token_df_cap`) and as a scalar subquery inside the DuckDB
oracle (`TOKEN_DF_CAP_SQL`). Both reduce to GREATEST(64,
CEIL(4*SQRT(n))) — IEEE sqrt is correctly rounded and *4 is an exact
power-of-two scaling, so the two must agree bit-for-bit at ANY corpus
size. This pins that claim over 12 orders of magnitude so a future
formula edit that breaks parity (e.g. a multiplier that isn't a power
of two applied before the sqrt) fails here, not in the gate.
"""

from __future__ import annotations

import math

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

from stream_ingestion_amazon_kinesis_spark.operators.dedup import (
    lsh_bucket_cap,
    token_df_cap,
)

_con = duckdb.connect()


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=10**12))
def test_token_df_cap_matches_oracle_formula(n):
    sql = _con.execute(
        f"SELECT GREATEST(64, CAST(CEIL(4 * SQRT({n})) AS BIGINT))"
    ).fetchone()[0]
    assert token_df_cap(n) == sql


@settings(max_examples=100, deadline=None)
@given(st.integers(min_value=0, max_value=10**12))
def test_lsh_bucket_cap_monotone_and_bounded(n):
    cap = lsh_bucket_cap(n)
    assert cap >= 64
    # k^2/2 pair emission under the cap stays ~2N: cap = ceil(2*sqrt(n))
    # so cap^2 <= 4n + 4*sqrt(n) + 1 (plus the 64 floor for tiny n)
    assert cap * cap <= max(4 * n + 4 * math.isqrt(n) + 1, 64 * 64)


def test_cap_values_at_fixture_sizes():
    # The documented caps at the shipped fixture sizes (and sf1).
    assert token_df_cap(500) == 90
    assert token_df_cap(5000) == 283
    assert token_df_cap(50000) == 895
    assert lsh_bucket_cap(5000) == 142

