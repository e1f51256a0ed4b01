"""Plan shape of the batch sessionizer (``operators/sessionize.py``).

The kernel is a scalar-iterator ``pandas_udf`` over ``(key, unix_micros(ts))``
evaluated after ``repartition(key)`` + ``sortWithinPartitions``. These pin what
that shape promises: one Python stage that sees two columns, an in-partition
sort that no optimizer rule removes, and filters that stay above the kernel.
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import functions as F

from flink_realtime_sessionize_sample_spark.operators.sessionize import (
    sessionize,
    user_total_durations,
)


def _events(spark):
    rows = [
        (e, e % 5, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=120 * e), f"pad{e}")
        for e in range(60)
    ]
    return spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, pad string")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_one_python_stage_over_key_and_micros(spark):
    p = _plan(sessionize(_events(spark)))
    assert p.count("ArrowEvalPython") == 1, p
    assert "MapInPandas" not in p, p
    calls = re.findall(r"ArrowEvalPython \[\w+\(([^\]]*)\)#\d+\]", p)
    assert len(calls) == 1, p
    args = re.sub(r"#\d+L?", "", calls[0])
    assert args == "user_id, unix_micros(ts)", p


def test_order_insensitive_consumer_keeps_the_sort(spark):
    p = _plan(user_total_durations(sessionize(_events(spark))))
    lines = p.splitlines()
    kernel = next(i for i, line in enumerate(lines) if "ArrowEvalPython" in line)
    below = "\n".join(lines[kernel + 1:])
    assert "Sort [user_id" in below and "ts#" in below, p
    assert "Exchange hashpartitioning(user_id" in below, p


def test_filter_on_ts_stays_above_the_kernel(spark):
    cut = dt.datetime(2024, 1, 1, 1)
    df = _events(spark)
    out = sessionize(df).filter(F.col("ts") >= F.lit(cut))
    lines = _plan(out).splitlines()
    kernel = next(i for i, line in enumerate(lines) if "ArrowEvalPython" in line)
    filters = [i for i, line in enumerate(lines) if "Filter" in line]
    assert filters and all(i < kernel for i in filters), "\n".join(lines)
    # Each user's one 2 h session opened before the cut, so every kept row
    # continues it; a filter below the kernel would reopen them at the cut.
    full = {r.event_id: (r.session_id, r.duration) for r in sessionize(df).collect()}
    got = {r.event_id: (r.session_id, r.duration) for r in out.collect()}
    assert got and got == {e: v for e, v in full.items() if e in got}
    assert all(d >= 3600 - 600 for _, d in got.values())
