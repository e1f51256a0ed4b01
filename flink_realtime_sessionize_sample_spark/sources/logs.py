"""Access-log line parsing — the reference's P1/P2/P3 operators, Spark-first.

Reference contract (``processes/Parse.scala:10-17``): split each line on a
single space; silently DROP lines that don't have exactly 15 fields; keep
field 0 as the verbatim timestamp string, parse it to epoch instants, and
keep field 2 as the client address (the session key). The joda pattern is
``yyyy-MM-dd'T'HH:mm:ss.SSSZZ`` (``Parse.scala:8``).

Spark-first formulation: the ``Option``/``flatMap`` becomes a filter plus a
projection, all JVM-side built-ins inside whole-stage codegen. The filter
splits each line once, with a limit of 16: 15 elements means exactly 15
fields, a 16th means more (everything past the 15th space stays one string).
The projection cuts fields 0 and 2 out with ``substring_index`` and builds
no array. Catalyst does not prune the elements of a ``split`` array, and a
``split`` read by both the filter and the projection is built by each.

``fake_ts_shift`` is the reference's ``--debug`` replay shift
(``Parse.scala:19-21``, applied at ``RealtimeSessionize.scala:124-128``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# joda "yyyy-MM-dd'T'HH:mm:ss.SSSZZ" ≙ Spark's ISO-offset pattern; the test
# lines carry 6 fractional digits, which Spark parses with SSSSSS.
TIMESTAMP_PATTERN = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS[XXX][X]"
N_FIELDS = 15


def parse_access_logs(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """``DataFrame[value: string]`` → ``DataFrame[timestamp, ts, ip]``.

    Mirrors ``Parse.parse`` (``Parse.scala:10-17``): malformed lines (field
    count != 15) are dropped, well-formed lines project to the 3-column
    ``Parsed`` schema (``schema/Parsed.scala:3``) with ``ts`` as a proper
    TimestampType (the reference keeps epoch millis in a Long; a timestamp
    column is the Spark-native equivalent and converts losslessly).
    """
    v = F.col(value_col)
    field0 = F.substring_index(v, " ", 1)
    return lines.filter(F.size(F.split(v, " ", N_FIELDS + 1)) == N_FIELDS).select(
        field0.alias("timestamp"),
        F.to_timestamp(field0).alias("ts"),
        F.substring_index(F.substring_index(v, " ", 3), " ", -1).alias("ip"),
    )


def fake_ts_shift(df: DataFrame, offset_seconds: Column | float, ts_col: str = "ts") -> DataFrame:
    """Debug replay shift: add a constant offset to event time.

    ≙ ``Parse.fakeTs`` (``Parse.scala:19-21``) which adds ``now() − baseline``
    so historical logs replay as if live.
    """
    off = offset_seconds if isinstance(offset_seconds, Column) else F.lit(offset_seconds)
    return df.withColumn(ts_col, F.timestamp_seconds(F.unix_micros(F.col(ts_col)) / 1e6 + off))


def synthesize_access_log_lines(events: DataFrame, malformed_every: int = 50) -> DataFrame:
    """Render the ``events`` table as 15-field access-log lines.

    The driver's test data has no raw-log table, so queries that exercise the
    parse path first render events into the reference's wire format (ELB-ish:
    ISO timestamp in field 0, ``client:port`` in field 2, 15 space-separated
    fields total) and then parse them back. Every ``malformed_every``-th line
    is rendered with 14 fields to exercise the malformed-row drop
    (``Parse.scala:12-13``).

    Deterministic: no randomness, line content is a pure function of the row.
    """
    iso_ts = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
        F.lit("."),
        F.lpad((F.unix_micros("ts") % 1000000).cast("string"), 6, "0"),
        F.lit("Z"),
    )
    client = F.concat(F.lit("10.0."), (F.col("user_id") % 250).cast("string"), F.lit("."), (F.col("user_id") % 97).cast("string"), F.lit(":"), (40000 + F.col("event_id") % 20000).cast("string"))
    filler = [F.lit(f"f{i}") for i in range(12)]  # fields 3..14
    good = F.concat_ws(" ", iso_ts, F.lit("elb-1"), client, *filler)
    bad = F.concat_ws(" ", iso_ts, F.lit("elb-1"), client, *filler[:-1])  # 14 fields
    return events.select(
        F.when(F.col("event_id") % malformed_every == 0, bad).otherwise(good).alias("value")
    )
