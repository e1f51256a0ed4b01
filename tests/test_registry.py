"""Contract of the query registry behind ``__spark_entry__``.

``plans.QUERIES`` and ``plans.ORACLES`` are the whole driver surface: one
query function per name and one DuckDB oracle per query. Oracle parity
itself is checked by ``tests/test_oracle_parity.py`` (sf0.001) and
``tools/verify_drive.py`` (the full registry at sf0.01 under three
configs).
"""

from __future__ import annotations

from flink_realtime_sessionize_sample_spark import plans


def test_no_duplicate_registrations():
    names = list(plans.QUERIES)
    assert len(names) == len(set(names))


def test_every_query_callable_and_oracle_paired():
    # Both directions: no oracle without a query, no query without an oracle.
    assert all(callable(fn) for fn in plans.QUERIES.values())
    assert set(plans.QUERIES) == set(plans.ORACLES)
