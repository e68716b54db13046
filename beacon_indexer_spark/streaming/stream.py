"""Structured Streaming transform: raw lake → structured lake, continuously.

The Spark-native expression of the reference's ``transform --continuous``
(``src/services/transformer.py:152-233``): instead of polling a progress
ledger, the raw table directory *is* the stream — new parquet files landing
in ``raw_*`` are discovered by the file source, and ``foreachBatch`` applies
the same transform and ``write_tables`` used by the batch pipeline, with the
checkpoint directory supplying exactly-once bookkeeping (replacing the
``transformer_progress`` ledger's claim semantics, SURVEY §2.12).

Late/duplicate handling stays structural: each micro-batch is appended,
duplicates collapse at read time via latest-wins — identical to the batch
path, so a table can be fed by both interchangeably.

Scale notes: ``maxFilesPerTrigger`` bounds micro-batch size; the per-batch
dedup shuffles only the batch, not the table. For full-table FINAL
semantics downstream, readers still apply ``read_latest``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from beacon_indexer_spark.plans.pipeline import transform_tables, write_tables
from beacon_indexer_spark.schemas.raw import RAW_TABLES
from beacon_indexer_spark.sources.storage import ParquetLake, ParquetSink


def stream_transform(
    lake: ParquetLake,
    raw_table: str,
    checkpoint_dir: str,
    tables: list[str] | None = None,
    max_files_per_trigger: int = 64,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start a streaming transform of ``raw_table`` into its structured
    tables. ``trigger`` defaults to ``availableNow`` (drain-and-stop, the
    testable/catch-up mode); pass ``{"processingTime": "6 seconds"}`` for
    the reference's realtime cadence.
    """
    schema = RAW_TABLES[raw_table]
    raw_stream = (
        lake.spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # the lake writes date=... hive partitions; recurse past them
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(lake.path(raw_table))
    )

    sink = ParquetSink(lake)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        write_tables(sink, transform_tables(batch_df, raw_table, lake.schedule, tables=tables))

    writer = raw_stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(**trigger)
    return writer.start()
