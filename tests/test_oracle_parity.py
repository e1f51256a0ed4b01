"""Driver-style DuckDB-oracle parity for every registered query.

Every query with an oracle must hash-match it. The test run uses sf0.001
for speed; set SPARK_GRAFT_SF_SMALL to point it at another scale. The
sf0.01 gate under three configs is tools/verify_drive.py."""

from __future__ import annotations

import pytest

from flink_realtime_sessionize_sample_spark import plans
from tests.oracle_util import compare_query


@pytest.mark.parametrize("name", sorted(plans.ORACLES))
def test_oracle_parity_small(spark, sf_small, name):
    compare_query(spark, name, sf_small)
