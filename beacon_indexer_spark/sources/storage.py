"""Parquet lake: the engine's primary store.

Layout matches the reference's own Parquet backend
(``src/services/parquet_storage.py:30-43,91-109`` in /root/reference):
``{base}/{table}/date=YYYY-MM-DD/part-*.parquet`` — hive-style daily
partitions derived from ``slot_timestamp``, every row stamped with
``inserted_at``. Non-slot config tables (``genesis``/``specs``) are
unpartitioned single-row tables.

Semantics (reference ReplacingMergeTree, SURVEY §1.3):
- **append-only**: every write appends; duplicate keys across writes are
  expected (re-fetch, re-transform, re-org).
- **latest-wins on read**: ``read_latest`` applies the ``latest()`` dedup on
  the table's declared key/version — the FINAL-read analogue.
- **repair = partition overwrite**: ``write(mode="overwrite")`` replaces
  only the affected daily partitions (dynamic partitionOverwriteMode),
  standing in for the reference's ``ALTER TABLE ... DELETE`` + mutation
  throttle (``src/services/maintenance.py:207-275``) with a plain
  idempotent write.
- **compaction**: ``compact`` rewrites a table's partitions keeping only the
  latest version per key — the background-merge analogue, run explicitly.

Scale notes: daily partitions keep each overwrite bounded (~7k slots/day);
writes sort within partitions by slot so parquet row-group min/max stats
make slot-range predicates prune at the row-group level, which is what the
reference's ``ORDER BY (slot, ...)`` sparse index buys it.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beacon_indexer_spark.config import ForkSchedule
from beacon_indexer_spark.functions.core import latest, slot_timestamp
from beacon_indexer_spark.schemas.raw import RAW_KEY, RAW_TABLES, RAW_VERSION
from beacon_indexer_spark.schemas.structured import STRUCTURED_TABLES

_UNPARTITIONED = {"genesis", "specs", "raw_genesis", "raw_specs", "time_helpers"}


def _stored_schema(declared: T.StructType) -> T.StructType:
    """A raw table's schema as ``ParquetLake.write`` stores it: the declared
    columns, then the stamps ``_prepare`` adds. A table with a ``slot``
    gains ``slot_timestamp``, ``inserted_at`` and the ``date`` partition,
    which a read lists last; the one-row config tables gain
    ``inserted_at``."""
    ts = T.TimestampType()
    if "slot" not in declared.names:
        return T.StructType([*declared, T.StructField("inserted_at", ts)])
    return T.StructType([
        *declared,
        T.StructField("slot_timestamp", ts),
        T.StructField("inserted_at", ts),
        T.StructField("date", T.DateType()),
    ])


# passed to every raw read, so a read infers no schema with a Spark job
_RAW_STORED = {t: _stored_schema(s) for t, s in RAW_TABLES.items()}


def _swap_in(path: str, tmp: str, write) -> None:
    """The compaction swap: ``write()`` fills the temp directory ``tmp``,
    which then replaces ``path``. Never overwrite a path while reading it:
    a mid-write cache eviction or executor loss would recompute lineage
    from files the overwrite is concurrently deleting."""
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    write()
    old = path + "__pre_compact"
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)


class ParquetSink:
    """Structured-table writer into the Parquet lake (default backend).

    ``write`` must execute ``df``: ``plans.pipeline.write_tables`` counts
    rows with an ``Observation`` on the frame, and ``Observation.get``
    blocks until the frame has run. ``write_tables`` calls ``write`` from
    pool threads, several tables at once; each table has its own
    directory, so concurrent writes never touch the same files."""

    def __init__(self, lake: "ParquetLake"):
        self.lake = lake

    def write(self, table: str, df: DataFrame, mode: str = "append") -> None:
        self.lake.write(table, df, mode=mode)


class ClickHouseSink:
    """Structured-table writer into ClickHouse via JDBC. Always appends —
    ClickHouse's ReplacingMergeTree is the upsert (repair overwrites become
    version-winning inserts, reference SURVEY §1.3), so ``mode`` is
    accepted for interface parity and ignored. Like every sink, ``write``
    must execute ``df`` (``write_tables`` blocks on its ``Observation``),
    and is called from ``write_tables``' pool threads, several tables at
    once: the ``MAX_CONCURRENT_WRITES`` insert bound holds per table."""

    def __init__(self, url: str, **kw):
        self.url = url
        self.kw = kw

    def write(self, table: str, df: DataFrame, mode: str = "append") -> None:
        from beacon_indexer_spark.sources.clickhouse import write_clickhouse

        write_clickhouse(df, table, self.url, **self.kw)


def make_sink(kind: str, lake: "ParquetLake", clickhouse_url: str | None = None, **kw):
    """Storage-backend selection (reference
    ``src/services/storage_factory.py:4-13``): 'parquet' | 'clickhouse'."""
    if kind == "parquet":
        return ParquetSink(lake)
    if kind == "clickhouse":
        if not clickhouse_url:
            raise ValueError("clickhouse sink requires --clickhouse-url")
        return ClickHouseSink(clickhouse_url, **kw)
    raise ValueError(f"unknown sink {kind!r} (expected parquet|clickhouse)")


def table_key_version(table: str) -> tuple[list[str], str]:
    """Dedup key + latest-wins version column for any table in the lake."""
    if table in STRUCTURED_TABLES:
        spec = STRUCTURED_TABLES[table]
        return list(spec.keys), spec.version
    if table in RAW_TABLES:
        return list(RAW_KEY if table not in _UNPARTITIONED else ("payload_hash",)), RAW_VERSION
    raise KeyError(f"unknown table {table!r}")


class ParquetLake:
    def __init__(self, spark: SparkSession, base_dir: str, schedule: ForkSchedule):
        self.spark = spark
        self.base_dir = base_dir
        self.schedule = schedule

    def path(self, table: str) -> str:
        return os.path.join(self.base_dir, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    def drop(self, table: str) -> bool:
        """Remove a table directory entirely. Returns True if it existed.

        Used by report-style writers (e.g. ``curate``) to clear stale
        outputs from a previous run that the current run did not request,
        so downstream readers can't pair a fresh manifest with an old
        report table."""
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        shutil.rmtree(p)
        return True

    # -- write ------------------------------------------------------------

    def _prepare(self, df: DataFrame) -> DataFrame:
        """Stamp the storage columns the reference's writer adds
        (parquet_storage.py:75-109): slot_timestamp (if absent), date
        partition, inserted_at."""
        if "slot" in df.columns and "slot_timestamp" not in df.columns:
            df = df.withColumn(
                "slot_timestamp",
                slot_timestamp(
                    "slot", self.schedule.genesis_time, self.schedule.seconds_per_slot
                ),
            )
        if "slot_timestamp" in df.columns:
            df = df.withColumn("date", F.to_date("slot_timestamp"))
        # stamp only when absent: a frame that CARRIES its stamp (compact
        # rewrite, replayed batch) keeps it — restamping would make
        # storage maintenance look like fresh data to watermark-based
        # consumers (refresh_rollup) and force spurious full rebuilds
        if "inserted_at" in df.columns:
            return df
        return df.withColumn(
            "inserted_at", F.lit(datetime.now(timezone.utc)).cast("timestamp")
        )

    def write(self, table: str, df: DataFrame, mode: str = "append") -> None:
        df = self._prepare(df)
        writer = df.write.mode(mode)
        if "date" in df.columns and table not in _UNPARTITIONED:
            # sortWithinPartitions(slot): row-group stats → slot-range pruning
            sort_keys = [c for c in ("slot",) if c in df.columns]
            if sort_keys:
                df = df.sortWithinPartitions(*sort_keys)
                writer = df.write.mode(mode)
            writer = writer.partitionBy("date")
        writer.parquet(self.path(table))
        # a partitioned write of 0 rows leaves a schema-less directory (only
        # _SUCCESS) that breaks subsequent reads. Checked AFTER the write —
        # a pre-write isEmpty() would execute part of the input job (e.g.
        # the HTTP fetch stage) twice.
        target = self.path(table)
        has_data = any(
            f.endswith(".parquet")
            for _, _, files in os.walk(target)
            for f in files
        )
        if not has_data:
            shutil.rmtree(target, ignore_errors=True)

    # -- read -------------------------------------------------------------

    def read(self, table: str) -> DataFrame:
        """Raw append-only read — duplicates (re-orgs, re-transforms)
        included. Most callers want :meth:`read_latest`. A raw table is
        read with the schema its writes store; other tables' schemas are
        inferred from their files."""
        reader = self.spark.read
        if table in _RAW_STORED:
            reader = reader.schema(_RAW_STORED[table])
        return reader.parquet(self.path(table))

    def read_latest(self, table: str, slot_range: tuple[int, int] | None = None) -> DataFrame:
        """FINAL-semantics read: latest version per table key, optional
        slot-range pushdown applied *before* the dedup shuffle."""
        df = self.read(table)
        if slot_range is not None and "slot" in df.columns:
            lo, hi = slot_range
            df = df.filter((F.col("slot") >= lo) & (F.col("slot") <= hi))
        keys, version = table_key_version(table)
        return latest(df, keys, version)

    # -- maintenance ------------------------------------------------------

    def compact(self, table: str) -> None:
        """Rewrite the table keeping only the latest version per key — the
        ReplacingMergeTree background-merge analogue, run explicitly.
        Writes to a temp sibling lake and swaps the table in (``_swap_in``)."""
        tmp = ParquetLake(self.spark, self.base_dir + "__compact_tmp", self.schedule)
        # keep inserted_at: compaction is physical maintenance, not new
        # data — preserving stamps keeps it invisible to watermark readers
        deduped = self.read_latest(table).drop("date")
        _swap_in(self.path(table), tmp.path(table),
                 lambda: tmp.write(table, deduped, mode="overwrite"))

    def refresh_rollup(
        self,
        source_table: str,
        rollup_table: str,
        agg_fn,
        dates: list | None = None,
    ) -> dict:
        """Incrementally maintain a derived daily aggregate: recompute ONLY
        the date partitions whose source data changed since the rollup was
        last built, and dynamically overwrite exactly those partitions —
        the C9 partition-overwrite repair path applied to materialized
        rollups, so a 10-year rollup over a 100 TB fact table refreshes in
        O(changed days), never a full rebuild.

        Change detection compares the source's per-date
        ``max(inserted_at)`` against the ``source_watermark`` column the
        rollup itself carries (stamped from the SOURCE rows each refresh
        — never from the rollup's own write time, which would silently
        skip a source append that lands, or carries an earlier clock
        stamp, while a refresh is mid-flight). New source versions bump
        the watermark, so re-orgs and re-transforms re-trigger their
        day. The watermark frames are one row per day — the only driver
        materialization, bounded like the control-plane manifests; the
        source-side watermark scan reads one timestamp column per
        refresh (columnar scan, map-side combined — swap in a writer-
        maintained manifest if even that is too hot).

        ``agg_fn``: callable mapping the latest-version rows of the
        affected days to the rollup frame; its output MUST carry the
        ``date`` column (the partition key being overwritten). The
        written rollup gains a ``source_watermark`` column.
        """
        raw_src = self.read(source_table)
        src_w = raw_src.groupBy("date").agg(
            F.max("inserted_at").alias("source_watermark")
        )
        if dates is None:
            if self.exists(rollup_table):
                roll_w = self.read(rollup_table).groupBy("date").agg(
                    F.max("source_watermark").alias("__rw")
                )
                changed = src_w.join(roll_w, "date", "left").filter(
                    F.col("__rw").isNull()
                    | (F.col("source_watermark") > F.col("__rw"))
                )
            else:
                changed = src_w
            dates = [r["date"] for r in changed.select("date").collect()]
        if not dates:
            return {"refreshed_dates": []}
        keys, version = table_key_version(source_table)
        affected = latest(raw_src.filter(F.col("date").isin(list(dates))), keys, version)
        out = agg_fn(affected)
        if "date" not in out.columns:
            raise ValueError("rollup agg_fn output must keep the 'date' column")
        out = out.join(F.broadcast(src_w), "date", "left")
        self.write(rollup_table, out, mode="overwrite")
        return {"refreshed_dates": sorted(str(d) for d in dates)}

    def table_stats(self, table: str) -> dict:
        """count / min(slot) / max(slot) health check (reference A1,
        ``src/services/loader.py:349-374``)."""
        df = self.read(table)
        if "slot" not in df.columns:
            return {"table": table, "rows": df.count(), "min_slot": None, "max_slot": None}
        row = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("slot").alias("min_slot"),
            F.max("slot").alias("max_slot"),
        ).collect()[0]
        return {"table": table, "rows": row["rows"],
                "min_slot": row["min_slot"], "max_slot": row["max_slot"]}
