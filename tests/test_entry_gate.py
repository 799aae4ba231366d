"""Full driver-gate mirror: every __spark_entry__ query vs its oracle at
sf0.001; rows-only queries checked for non-failure + determinism."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.oracle_util import assert_matches

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()
_WITH_ORACLE = sorted(set(_QUERIES) & set(_ORACLES))
_ROWS_ONLY = sorted(set(_QUERIES) - set(_ORACLES))


def test_oracle_keys_subset_of_queries():
    assert set(_ORACLES) <= set(_QUERIES)


def test_rows_only_set_is_pinned():
    # deleting an oracle must fail here, not move its query into the
    # rows-only test below, which would stay green
    assert _ROWS_ONLY == ["dedup_groups_lsh", "dedup_minhash_lsh", "geo_tiles_approx"]


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_vs_oracle(spark, sf_tiny, name):
    assert_matches(_QUERIES[name](spark, sf_tiny), sf_tiny, _ORACLES[name], name)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs_and_is_deterministic(spark, sf_tiny, name):
    df1 = _QUERIES[name](spark, sf_tiny)
    n1 = df1.count()
    n2 = _QUERIES[name](spark, sf_tiny).count()
    assert n1 == n2
    assert n1 >= 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
