"""Spark-vs-DuckDB value gate for the raking family at sf0.001.

Every fixed-sweep IPF entry is compared against its unrolled DuckDB
oracle with the same compare ``tools/oracle_check.py`` runs at sf0.01,
so the shared ``ipf.rake_fixed`` kernel and its SQL template stay
bit-identical under pytest, not only under the out-of-band sweep."""

from __future__ import annotations

import pytest

from alternating_least_squares_spark import registry
from tests.conftest import SF_SMALL
from tools import oracle_check

RAKING = (
    "a16_ipf_step",
    "a17_converge",
    "a21_converge_coordinate",
    "a22_rake3",
    "ipf_cost_per_visit_fixed",
)


@pytest.fixture(scope="module")
def duck():
    con = oracle_check.connect(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("name", RAKING)
def test_raking_entry_matches_oracle(spark, duck, name):
    fn = registry.queries()[name]
    status, detail = oracle_check.compare(
        spark, duck, name, fn, registry.oracle_sql()[name], SF_SMALL
    )
    assert status == "ok", detail
