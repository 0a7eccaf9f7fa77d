"""Every queries() entry with an oracle must hash-match DuckDB at sf0.001.

This is the same comparison the driver runs at sf0.01 (CORRECTNESS_r{N});
running it per-commit at the smallest sf keeps the gate fast.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tools.verify_oracle import norm_hash

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, swept_frame, oracle_frame):
    sdf = swept_frame(name)
    if name not in ORACLES:
        assert len(sdf) >= 0  # rows-only check (estimator-valued queries)
        return
    odf = oracle_frame(ORACLES[name])
    assert sorted(sdf.columns) == sorted(odf.columns), f"{name}: column mismatch"
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != {len(odf)}"
    assert norm_hash(sdf) == norm_hash(odf), f"{name}: value hash mismatch"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"window_end_s", "item_k", "cnt", "rank"}


def test_every_oracle_has_query():
    assert not set(ORACLES) - set(QUERIES)
