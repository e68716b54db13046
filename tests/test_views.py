"""SQL view surface + batch/stream sessionization consistency."""

from __future__ import annotations

import datetime as dt

from beacon_indexer_spark.config import GNOSIS
from beacon_indexer_spark.plans.views import DOCUMENTED_SQL, register_views
from beacon_indexer_spark.schemas.raw import raw_envelope
from beacon_indexer_spark.sources.storage import ParquetLake
from beacon_indexer_spark.plans.pipeline import BeaconPipeline
from tests import fixtures as FX

SLOT0 = 27_000_000


def test_register_views_and_documented_sql(spark, tmp_path):
    lake = ParquetLake(spark, str(tmp_path / "lake"), GNOSIS)
    rows = [FX.raw_row(SLOT0 + i, FX.block_payload(SLOT0 + i, proposer=i % 3))
            for i in range(6)]
    # plus a re-org duplicate that the FINAL view must collapse at transform
    rows.append(FX.raw_row(SLOT0, FX.block_payload(SLOT0, proposer=99),
                           retrieved_at=FX.T0 + dt.timedelta(hours=1)))
    # and an exact duplicate re-fetch, which the transform's dedup collapses
    rows.append(FX.raw_row(SLOT0 + 2, FX.block_payload(SLOT0 + 2, proposer=2)))
    lake.write("raw_blocks", spark.createDataFrame(rows, schema=raw_envelope()))
    counts = BeaconPipeline(lake, tables={"raw_blocks": ["blocks"]}).transform_range(
        "raw_blocks", SLOT0, SLOT0 + 5
    )
    assert counts == {"blocks": 6}

    views = register_views(lake)
    assert {"raw_blocks", "raw_blocks_raw", "blocks", "blocks_raw"} <= set(views)

    # history view keeps every raw version; FINAL view collapses
    assert spark.sql("SELECT COUNT(*) c FROM raw_blocks_raw").first()["c"] == 8
    # the transform wrote one row per slot: the structured history matches
    assert spark.sql("SELECT COUNT(*) c FROM blocks_raw").first()["c"] == 6
    assert spark.sql("SELECT COUNT(*) c FROM blocks").first()["c"] == 6

    top = spark.sql(DOCUMENTED_SQL["top_proposers"]).collect()
    # proposer 99 won the re-org for SLOT0; 0 proposed slot 3 only
    counts = {r["proposer_index"]: r["blocks_proposed"] for r in top}
    assert counts[99] == 1 and sum(counts.values()) == 6

    ft = spark.sql(DOCUMENTED_SQL["fork_transitions"]).collect()
    assert ft[0]["first_slot"] == SLOT0 and ft[0]["total_blocks"] == 6

    recent = spark.sql(DOCUMENTED_SQL["recent_blocks"]).collect()
    assert recent[0]["slot"] == SLOT0 + 5


def test_batch_and_stream_sessionize_agree(spark, tmp_path):
    """The batch sessionize query and the stateful streaming sessionizer
    produce the same closed sessions for the same events."""
    import pandas as pd
    from pyspark.sql import functions as F
    from beacon_indexer_spark.streaming.stateful import sessionize_stream

    T0 = dt.datetime(2024, 6, 1, 12, 0, 0)
    events = []
    eid = 0
    for user in (1, 2, 3):
        t = T0
        for sess in range(user):  # user N has N sessions
            for k in range(3):
                events.append((eid, user, t)); eid += 1
                t += dt.timedelta(minutes=5)
            t += dt.timedelta(minutes=60)  # close the session
    src = str(tmp_path / "events")
    spark.createDataFrame(events, "event_id long, user_id long, ts timestamp") \
        .coalesce(1).write.parquet(src)

    # batch: lag/running-sum sessionization (same 1800s gap)
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(prev.isNull() | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800), 1).otherwise(0)
    batch = (
        spark.read.parquet(src)
        .withColumn("sid", F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"), F.max("ts").alias("session_end"),
             F.count(F.lit(1)).alias("n_events"))
    )

    # stream: one availableNow pass + a far-future closing event per user
    late = [(9000 + u, u, T0 + dt.timedelta(days=2)) for u in (1, 2, 3)]
    spark.createDataFrame(late, "event_id long, user_id long, ts timestamp") \
        .coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("event_id long, user_id long, ts timestamp").parquet(src)
    q = (
        sessionize_stream(stream, gap_s=1800)
        .writeStream.format("parquet").option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    streamed = spark.read.schema(
        "user_id long, session_start timestamp, session_end timestamp, n_events long"
    ).parquet(str(tmp_path / "out"))

    def norm(df):
        return sorted(
            (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            for r in df.collect()
        )

    # compare on the original sessions (exclude the closing markers)
    b = norm(batch.filter(F.col("n_events") == 3).select(
        "user_id", "session_start", "session_end", "n_events"))
    s = norm(streamed.filter(F.col("n_events") == 3))
    assert b == s and len(b) == 6  # users 1+2+3 sessions
