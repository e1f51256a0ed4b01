"""Bounded replay: the one place that starts a stream and waits for it.

A streaming-twin query replays a bounded input under
``trigger(availableNow=True)`` and is checked against a batch oracle over
the same input. Each such query states only its source, its transform and
its sink; this module owns starting, waiting and cleanup:

- ``scratch_dir`` gives a temp dir (replay source, checkpoint) that is
  removed when the ``with`` block exits, on success or error;
- ``run_available_now`` starts a writer and ``await_stream`` waits on a
  started query. ``awaitTermination`` returns False on timeout without
  raising, so a hang (say, processing-time timers under availableNow)
  would look like success with partial rows: the wait stops the query and
  raises ``RuntimeError`` instead;
- ``drain_to_memory`` runs a memory sink, resolves its table and drops the
  temp view before it returns; the returned DataFrame keeps the sink's
  rows alive on its own;
- ``replay_split_stream`` appends each micro-batch to a managed warehouse
  table, which the next call with the same ``sink_table`` replaces;
- the pipeline JSON round trip (``plans/sessionize_queries.py``) keeps its
  sink output dir until the process exits, because the DataFrame it
  returns reads those files lazily.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from flink_realtime_sessionize_sample_spark.operators.incremental import (
    _drop_stale_table,
)

REPLAY_TIMEOUT_SEC = 600


@contextmanager
def scratch_dir(prefix: str) -> Iterator[str]:
    """A fresh temp dir, removed when the block exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def await_stream(query: StreamingQuery, what: str) -> StreamingQuery:
    """Wait for a started bounded query; on timeout stop it and raise."""
    if not query.awaitTermination(REPLAY_TIMEOUT_SEC):
        query.stop()
        raise RuntimeError(f"{what}: bounded replay did not terminate")
    return query


def run_available_now(writer: DataStreamWriter, what: str) -> StreamingQuery:
    """Start ``writer`` under availableNow and wait for it to drain."""
    return await_stream(writer.trigger(availableNow=True).start(), what)


def drain_to_memory(stream: DataFrame, what: str) -> DataFrame:
    """Run ``stream`` into a memory sink; return its rows as a DataFrame."""
    spark = stream.sparkSession
    name = f"{what}_{uuid.uuid4().hex[:8]}"
    try:
        run_available_now(
            stream.writeStream.format("memory").queryName(name).outputMode("append"),
            what,
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def replay_split_stream(
    spark: SparkSession,
    held: DataFrame,
    schema: str,
    batch_fn: Callable[[DataFrame], DataFrame],
    sink_table: str,
    split_col: str = "doc_id",
) -> DataFrame:
    """Replay ``held`` (the caller's ``doc_id % 2 == 1`` half) as a
    deterministic 2-micro-batch file stream; each micro-batch runs
    ``batch_fn`` and appends to the managed table ``sink_table``; returns
    the table as a DataFrame.

    The oracle for each twin is the batch SQL over the same half, so the
    split (``split_col % 4`` in {1, 3} → two files → two micro-batches
    under ``maxFilesPerTrigger=1``) must stay deterministic."""
    _drop_stale_table(spark, sink_table)
    with scratch_dir(f"{sink_table}_src_") as src:
        # coalesce(1): under maxFilesPerTrigger=1 the micro-batch count
        # equals the data-file count, so each half must land in exactly
        # one part file or the "2 micro-batches" contract would vary with
        # write parallelism. Cheap here: the replay source is a
        # test-scale half-table by construction, never a corpus.
        held.filter(F.col(split_col) % 4 == 1).coalesce(1).write.parquet(f"{src}/a")
        held.filter(F.col(split_col) % 4 == 3).coalesce(1).write.parquet(f"{src}/b")

        def _writer(batch_df: DataFrame, _batch_id: int) -> None:
            batch_fn(batch_df).write.mode("append").format("parquet").saveAsTable(
                sink_table
            )

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        run_available_now(stream.writeStream.foreachBatch(_writer), sink_table)
    return spark.table(sink_table)
