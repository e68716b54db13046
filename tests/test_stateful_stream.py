"""Stateful streaming sessionization: state carries across micro-batches."""

from __future__ import annotations

import datetime as dt
import os

from beacon_indexer_spark.streaming.stateful import dedup_stream, sessionize_stream

T0 = dt.datetime(2024, 6, 1, 12, 0, 0)


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _run_stream(spark, src, ckpt, out_dir):
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (
        sessionize_stream(stream, gap_s=1800)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.schema(
        "user_id long, session_start timestamp, session_end timestamp, n_events long"
    ).parquet(out_dir)


def test_dedup_stream_drops_redeliveries_across_batches(spark, tmp_path):
    src = str(tmp_path / "raw")
    ckpt = str(tmp_path / "dckpt")
    out = str(tmp_path / "deduped")

    def run():
        stream = spark.readStream.schema("slot long, ts timestamp").parquet(src)
        q = (
            dedup_stream(stream, ["slot"], "ts", watermark="30 minutes")
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.schema("slot long, ts timestamp").parquet(out)

    def write(rows):
        spark.createDataFrame(rows, "slot long, ts timestamp").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: slot 10 delivered twice in-batch, slot 11 once
    write([(10, T0), (10, T0 + dt.timedelta(seconds=5)), (11, T0)])
    got1 = sorted(r["slot"] for r in run().collect())
    assert got1 == [10, 11]

    # batch 2: slot 10 re-delivered within the watermark (dropped via
    # checkpointed state), slot 12 new
    write([(10, T0 + dt.timedelta(minutes=5)), (12, T0 + dt.timedelta(minutes=5))])
    got2 = sorted(r["slot"] for r in run().collect())
    assert got2 == [10, 11, 12]


def test_sessionize_stream_across_batches(spark, tmp_path):
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sessions")

    # batch 1: user 1 has two sessions separated by a >30min gap, the second
    # still open; user 2 has one open session
    _write_events(spark, src, [
        (1, T0),
        (1, T0 + dt.timedelta(minutes=5)),
        (1, T0 + dt.timedelta(minutes=90)),   # gap > 30min → new session
        (2, T0),
    ])
    b1_rows = [r.asDict() for r in _run_stream(spark, src, ckpt, out).collect()]
    rows = {(r["user_id"], r["n_events"]) for r in b1_rows}
    # only the CLOSED session is emitted; open ones stay in state
    assert rows == {(1, 2)}

    # batch 2: a post-gap event for each user closes their open sessions
    _write_events(spark, src, [
        (1, T0 + dt.timedelta(minutes=200)),
        (2, T0 + dt.timedelta(minutes=200)),
    ])
    all_rows = [r.asDict() for r in _run_stream(spark, src, ckpt, out).collect()]
    b1_set = {repr(sorted(r.items())) for r in b1_rows}
    new_rows = [r for r in all_rows if repr(sorted(r.items())) not in b1_set]
    closed = sorted((r["user_id"], r["n_events"]) for r in new_rows)
    # user 1's open session (1 event at +90min) and user 2's (1 event at T0)
    assert closed == [(1, 1), (2, 1)]
    start = [r for r in new_rows if r["user_id"] == 2][0]
    assert start["session_start"].replace(tzinfo=None) == T0
    assert os.path.isdir(ckpt)


def test_hopping_window_stream_matches_batch(spark, tmp_path):
    """The batch `events_hopping_windows` operator IS the Structured
    Streaming window operator: the same F.window(10 min, 5 min) aggregate
    run as a multi-micro-batch stream (maxFilesPerTrigger=1, complete
    mode) must produce exactly the batch result over the same input."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "hraw")
    rows1 = [(u, T0 + dt.timedelta(seconds=s)) for u in (1, 2) for s in (0, 240, 660)]
    rows2 = [(u, T0 + dt.timedelta(seconds=s)) for u in (2, 3) for s in (300, 900)]
    _write_events(spark, src, rows1)
    _write_events(spark, src, rows2)

    def agg(df):
        return df.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w")).agg(
            F.count(F.lit(1)).alias("n_events")
        ).select(F.col("w.start").alias("ws"), "n_events")

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        agg(stream)
        .writeStream.format("memory")
        .queryName("hopq")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["ws"], r["n_events"])
        for r in spark.sql("SELECT * FROM hopq").collect()
    }
    want = {
        (r["ws"], r["n_events"])
        for r in agg(spark.read.parquet(src)).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_constraint_gate_per_batch(spark, tmp_path):
    """Data-quality gating composes with Structured Streaming: run
    `check_constraints` inside foreachBatch and append one report row per
    rule per micro-batch — the streaming ingest gate (reject/alert on a
    failing batch before promoting it). Two micro-batches, one clean and
    one violating, must each carry their own verdicts."""
    from pyspark.sql import functions as F

    from beacon_indexer_spark.operators.profile import check_constraints

    src = str(tmp_path / "qraw")
    rows_clean = [(1, T0), (2, T0 + dt.timedelta(seconds=5))]
    rows_bad = [(None, T0 + dt.timedelta(seconds=10)), (4, T0 + dt.timedelta(seconds=15))]
    _write_events(spark, src, rows_clean)
    _write_events(spark, src, rows_bad)

    reports = []

    def gate(batch_df, batch_id):
        rep = check_constraints(
            batch_df, [("user_not_null", F.col("user_id").isNotNull())]
        ).collect()
        reports.append((batch_id, {r["rule"]: r for r in rep}))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(gate).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert len(reports) == 2
    by_violations = sorted(
        rep["user_not_null"]["n_violations"] for _, rep in reports
    )
    assert by_violations == [0, 1]  # one clean batch, one violating batch
    for _, rep in reports:
        assert rep["user_not_null"]["n_rows"] == 2


def test_streaming_incremental_dedup_against_growing_index(spark, tmp_path):
    """The incremental-ingest dedup op composes with Structured
    Streaming: each micro-batch bands its docs (`minhash_band_keys`),
    checks them against the ACCUMULATED corpus band-key index, then
    appends its own keys to the index — the streaming corpus-ingest
    loop. A doc in batch 2 duplicating a batch-1 doc must be flagged
    with the original's id; fresh docs must pass."""
    import os
    import time

    from beacon_indexer_spark.operators.dedup import (
        incremental_duplicates,
        minhash_band_keys,
    )

    src = str(tmp_path / "docs_raw")
    idx = str(tmp_path / "band_index")
    base = "alpha beta gamma delta epsilon zeta eta theta common words here"
    batch1 = [(1, base + " one"), (2, "totally different text body entirely unrelated")]
    # doc 11 near-duplicates doc 1; doc 12 is fresh
    batch2 = [(11, base + " one"), (12, "yet another unique document nothing shared")]
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(batch1, "doc_id long, text string").write.mode(
        "append"
    ).parquet(src)
    batch1_files = {
        os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
    }
    spark.createDataFrame(batch2, "doc_id long, text string").write.mode(
        "append"
    ).parquet(src)
    # FileStreamSource orders by modification time — pin batch-2 files
    # strictly later so the two writes can't tie on coarse mtimes
    later = time.time() + 5
    for f in os.listdir(src):
        p = os.path.join(src, f)
        if f.endswith(".parquet") and p not in batch1_files:
            os.utime(p, (later, later))

    verdicts = {}

    def ingest(batch_df, batch_id):
        keys = minhash_band_keys(batch_df, "doc_id", "text").localCheckpoint()
        if os.path.isdir(idx) and any(
            f.endswith(".parquet") for f in os.listdir(idx)
        ):
            corpus = spark.read.parquet(idx)
            m = {
                r["doc_id"]: r["dup_of"]
                for r in incremental_duplicates(corpus, keys, "doc_id").collect()
            }
        else:
            m = {}
        for r in batch_df.select("doc_id").collect():
            verdicts[r["doc_id"]] = m.get(r["doc_id"])
        keys.write.mode("append").parquet(idx)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert len(verdicts) == 4
    assert verdicts[1] is None and verdicts[2] is None  # first batch: empty index
    assert verdicts[11] == 1  # exact near-dup of doc 1 → flagged with its id
    assert verdicts[12] is None  # fresh doc passes


def test_streaming_embedding_incremental_dedup(spark, tmp_path):
    """The EMBEDDING incremental-dedup op composes with Structured
    Streaming the same way as the text one: each micro-batch bands its
    vectors (`embedding_band_keys`), checks them against the ACCUMULATED
    corpus band-key index with an exact-cosine verify against the stored
    vectors, then appends its own keys + vectors to the stores. A batch-2
    vector colinear with a batch-1 vector must be flagged with the
    original's id; an orthogonal one must pass."""
    import os
    import time

    from beacon_indexer_spark.operators.similarity import (
        embedding_band_keys,
        embedding_incremental_duplicates,
    )

    src = str(tmp_path / "vecs_raw")
    idx = str(tmp_path / "band_index")
    store = str(tmp_path / "vec_store")
    schema = "vec_id long, embedding array<double>"
    batch1 = [(1, [1.0, 0.2, 0.1, 0.05]), (2, [-1.0, 0.9, -0.8, 0.7])]
    # vec 11 is colinear with vec 1 (cosine 1.0); vec 12 is far from both
    batch2 = [(11, [2.0, 0.4, 0.2, 0.1]), (12, [0.05, -1.0, 0.9, -0.85])]
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    batch1_files = {
        os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
    }
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    later = time.time() + 5
    for f in os.listdir(src):
        p = os.path.join(src, f)
        if f.endswith(".parquet") and p not in batch1_files:
            os.utime(p, (later, later))

    verdicts = {}

    def ingest(batch_df, batch_id):
        keys = embedding_band_keys(
            batch_df, dim=4, n_bits=8, bands=4
        ).localCheckpoint()
        if os.path.isdir(idx) and any(
            f.endswith(".parquet") for f in os.listdir(idx)
        ):
            m = {
                r["vec_id"]: r["dup_of"]
                for r in embedding_incremental_duplicates(
                    spark.read.parquet(store),
                    batch_df,
                    dim=4,
                    threshold=0.95,
                    n_bits=8,
                    bands=4,
                    corpus_keys=spark.read.parquet(idx),
                ).collect()
            }
        else:
            m = {}
        for r in batch_df.select("vec_id").collect():
            verdicts[r["vec_id"]] = m.get(r["vec_id"])
        keys.write.mode("append").parquet(idx)
        batch_df.write.mode("append").parquet(store)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert len(verdicts) == 4
    assert verdicts[1] is None and verdicts[2] is None  # empty index
    assert verdicts[11] == 1  # colinear with vec 1 → flagged
    assert verdicts[12] is None  # far vector passes


def test_psi_reference_runs_at_probe_bounded_depth(spark):
    """The reference's equidepth edges come off `hist_quantiles`, whose
    prefix sum runs at the depth the probed key range needs: 13 jobs on
    this 400-row reference, where the static 64-bit depth ran 30."""
    from beacon_indexer_spark.measure import measure
    from beacon_indexer_spark.streaming.drift import psi_reference

    ref = spark.createDataFrame(
        [(i, 10 + (i % 20)) for i in range(400)], "id long, w long"
    )
    m = measure(spark, lambda: psi_reference(ref, "w"), "psi_ref", collect=True)
    assert sorted(tuple(r) for r in m.rows) == [
        (b, 9 + 2 * b, 40) for b in range(1, 11)
    ]
    assert m.jobs <= 15, m.jobs


def test_batch_psi_empty_batch_reads_empty(spark):
    """A zero-row micro-batch must read verdict 'empty', never 'shifted':
    Laplace smoothing turns an empty histogram into a uniform
    distribution whose PSI vs any non-uniform reference is large, so
    without the gate a quiet ingest period would raise false drift
    alarms. Also exercises the fixed-`bins` fast path (no per-batch
    reference.count() action)."""
    from beacon_indexer_spark.streaming.drift import batch_psi, psi_reference

    ref = spark.createDataFrame(
        [(i, 10 + (i % 20)) for i in range(400)], "id long, w long"
    )
    reference = psi_reference(ref, "w").localCheckpoint()
    empty = spark.createDataFrame([], "id long, w long")
    row = batch_psi(empty, reference, "w", bins=10).collect()[0]
    assert row["n_rows"] == 0
    assert row["verdict"] == "empty"
    # non-empty path unchanged with explicit bins
    same = spark.createDataFrame(
        [(i, 10 + (i % 20)) for i in range(100)], "id long, w long"
    )
    row2 = batch_psi(same, reference, "w", bins=10).collect()[0]
    assert row2["n_rows"] == 100 and row2["verdict"] == "stable"


def test_streaming_psi_drift_monitor(spark, tmp_path):
    """PSI drift monitoring composes with Structured Streaming: the
    reference deciles are built once, then each micro-batch is scored
    in foreachBatch and appends a monitor row. A batch drawn from the
    reference distribution reads 'stable'; a shifted batch must cross
    the 0.25 PSI fence and read 'shifted'."""
    import os
    import time

    from beacon_indexer_spark.streaming.drift import batch_psi, psi_reference

    ref_vals = [(i, 10 + (i % 20)) for i in range(400)]
    ref = spark.createDataFrame(ref_vals, "id long, w long")
    reference = psi_reference(ref, "w").localCheckpoint()
    assert reference.count() == 10

    src = str(tmp_path / "incoming")
    os.makedirs(src, exist_ok=True)
    batch1 = [(1000 + i, 10 + (i % 20)) for i in range(100)]   # same dist
    batch2 = [(2000 + i, 300 + (i % 5)) for i in range(100)]   # shifted
    spark.createDataFrame(batch1, "id long, w long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    first_files = {
        os.path.join(src, f) for f in os.listdir(src) if f.endswith(".parquet")
    }
    spark.createDataFrame(batch2, "id long, w long").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    later = time.time() + 5
    for f in os.listdir(src):
        p = os.path.join(src, f)
        if f.endswith(".parquet") and p not in first_files:
            os.utime(p, (later, later))

    monitor = str(tmp_path / "monitor")

    def score(batch_df, batch_id):
        from pyspark.sql import functions as F

        row = batch_psi(batch_df, reference, "w").withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        row.write.mode("append").parquet(monitor)

    stream = (
        spark.readStream.schema("id long, w long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(score).trigger(availableNow=True).start()
    q.awaitTermination(120)

    rows = sorted(
        spark.read.parquet(monitor).collect(), key=lambda r: r["batch_id"]
    )
    assert len(rows) == 2
    assert rows[0]["n_rows"] == 100 and rows[0]["verdict"] == "stable"
    assert rows[1]["n_rows"] == 100 and rows[1]["verdict"] == "shifted"
    assert rows[1]["psi"] > 0.25 > rows[0]["psi"]


def test_holt_stream_matches_batch_fold(spark, tmp_path):
    """The stateful streaming Holt smoother, fed the same hourly counts
    split across three micro-batches, must land on EXACTLY the level
    and trend of the batch events_hourly_holt_forecast fold (same
    quantized recursion, state carried by the state store)."""
    import os
    import time
    from datetime import datetime, timedelta

    from beacon_indexer_spark.plans.queries import QUERIES
    from beacon_indexer_spark.streaming.stateful import holt_stream

    t0 = datetime(2024, 6, 1, 0, 30)
    counts = [4, 6, 5, 9, 7, 12, 8, 15, 11, 9, 14, 10]
    ev_rows, eid = [], 0
    for h, n in enumerate(counts):
        for _ in range(n):
            eid += 1
            ev_rows.append((eid, t0 + timedelta(hours=h), 1, "view"))
    _write = str(tmp_path / "events_tbl")
    spark.createDataFrame(
        ev_rows,
        "event_id long, ts timestamp, user_id long, event_type string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    [batch] = QUERIES["events_hourly_holt_forecast"](
        spark, str(tmp_path)
    ).collect()

    src = str(tmp_path / "buckets")
    os.makedirs(src, exist_ok=True)
    prev: set = set()
    stamp = time.time()
    for chunk_i, lo in enumerate(range(0, 12, 4)):
        rows = [("hourly", h, float(counts[h])) for h in range(lo, lo + 4)]
        spark.createDataFrame(
            rows, "series string, bucket long, value double"
        ).coalesce(1).write.mode("append").parquet(src)
        stamp += 5
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if f.endswith(".parquet") and p not in prev:
                os.utime(p, (stamp, stamp))
                prev.add(p)

    out = str(tmp_path / "holt_out")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("series string, bucket long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        holt_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    rows = sorted(spark.read.parquet(out).collect(), key=lambda r: r["n_seen"])
    assert [r["n_seen"] for r in rows] == [4, 8, 12]
    final = rows[-1]
    assert round(final["level"], 6) == batch["level"]
    assert round(final["trend"], 6) == batch["trend"]
    assert round(final["forecast_1"], 6) == batch["forecast_1h"]


def test_streaming_heavy_hitters_exact_parity(spark, tmp_path):
    """Frequency monitor (streaming/frequency.py): capacity >= distinct
    keys means the Misra-Gries merge never decrements (d stays 0), so the
    accumulated summary must equal the batch-exact groupBy count table
    byte-for-byte — the no-eviction parity regime."""
    import time

    from beacon_indexer_spark.streaming.frequency import mg_merge

    src = str(tmp_path / "hh_raw")
    state = str(tmp_path / "hh_state")
    os.makedirs(src, exist_ok=True)
    batches = [
        [("a",), ("b",), ("a",), ("c",)],
        [("a",), ("d",), ("b",), ("a",)],
        [("e",), ("a",), ("b",), ("c",)],
    ]
    seen = set()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "k string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        later = time.time() + 5 * (i + 1)
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if f.endswith(".parquet") and p not in seen:
                seen.add(p)
                os.utime(p, (later, later))

    def ingest(batch_df, batch_id):
        prior = None
        if os.path.isdir(state) and any(
            f.endswith(".parquet") for f in os.listdir(state)
        ):
            prior = spark.read.parquet(state)
        new = mg_merge(prior, batch_df, "k", capacity=16).localCheckpoint()
        new.write.mode("overwrite").parquet(state)

    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = {
        r["key"]: (r["cnt"], r["err"], r["d_total"])
        for r in spark.read.parquet(state).collect()
    }
    flat = [k for rows in batches for (k,) in rows]
    exact = {k: flat.count(k) for k in set(flat)}
    assert got == {k: (n, 0, 0) for k, n in exact.items()}


def test_streaming_heavy_hitters_bounded_regime(spark, tmp_path):
    """Small capacity forces evictions: the summary must stay within
    capacity, every surviving estimate must satisfy the deterministic
    MG sandwich (cnt <= true <= cnt + err <= cnt + d_total), every key
    with true count > d_total must be PRESENT, and the top-1 heavy
    hitter must match the batch-exact answer."""
    import time

    from beacon_indexer_spark.streaming.frequency import heavy_hitters, mg_merge

    src = str(tmp_path / "hh2_raw")
    state = str(tmp_path / "hh2_state")
    os.makedirs(src, exist_ok=True)
    # skewed stream: key h0 dominates, long tail of singletons
    batches = []
    for b in range(3):
        rows = [("h0",)] * 6 + [("h1",)] * 3
        rows += [(f"t{b}_{i}",) for i in range(8)]
        batches.append(rows)
    seen = set()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "k string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        later = time.time() + 5 * (i + 1)
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if f.endswith(".parquet") and p not in seen:
                seen.add(p)
                os.utime(p, (later, later))

    def ingest(batch_df, batch_id):
        prior = None
        if os.path.isdir(state) and any(
            f.endswith(".parquet") for f in os.listdir(state)
        ):
            prior = spark.read.parquet(state)
        new = mg_merge(prior, batch_df, "k", capacity=4).localCheckpoint()
        new.write.mode("overwrite").parquet(state)

    stream = (
        spark.readStream.schema("k string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination(120)

    summary = spark.read.parquet(state)
    rows = summary.collect()
    assert 0 < len(rows) <= 4
    flat = [k for brows in batches for (k,) in brows]
    exact = {k: flat.count(k) for k in set(flat)}
    d_total = rows[0]["d_total"]
    assert d_total > 0  # evictions actually happened in this regime
    for r in rows:
        true = exact[r["key"]]
        assert r["cnt"] <= true <= r["cnt"] + r["err"], (r, true)
        assert r["err"] <= d_total
    guaranteed = {k for k, n in exact.items() if n > d_total}
    present = {r["key"] for r in rows}
    assert guaranteed <= present, (guaranteed, present)
    top = heavy_hitters(summary, k=1).collect()[0]
    assert top["key"] == "h0"
    assert top["cnt_low"] <= exact["h0"] <= top["cnt_high"]


def _stream_batches(spark, src, batches, schema):
    import time

    os.makedirs(src, exist_ok=True)
    seen = set()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        later = time.time() + 5 * (i + 1)
        for f in os.listdir(src):
            p = os.path.join(src, f)
            if f.endswith(".parquet") and p not in seen:
                seen.add(p)
                os.utime(p, (later, later))


def test_streaming_hll_merge_is_lossless(spark, tmp_path):
    """HLL registers merge by per-register MAX — a LOSSLESS merge, so the
    estimate accumulated over micro-batches must be byte-identical to a
    one-shot batch build over the union (not merely close)."""
    from beacon_indexer_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_registers,
    )

    src = str(tmp_path / "hll_raw")
    state = str(tmp_path / "hll_regs")
    batches = [
        [(i,) for i in range(0, 40)],
        [(i,) for i in range(25, 70)],  # overlap — dedup is the point
        [(i,) for i in range(60, 100)],
    ]
    _stream_batches(spark, src, batches, "k long")

    def ingest(batch_df, batch_id):
        prior = None
        if os.path.isdir(state) and any(
            f.endswith(".parquet") for f in os.listdir(state)
        ):
            prior = spark.read.parquet(state)
        new = hll_merge(prior, hll_registers(batch_df, "k")).localCheckpoint()
        new.write.mode("overwrite").parquet(state)

    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination(120)

    streamed = hll_estimate(spark.read.parquet(state)).collect()[0]
    whole = spark.createDataFrame([(i,) for i in range(100)], "k long")
    oneshot = hll_estimate(hll_registers(whole, "k")).collect()[0]
    assert streamed["hll_estimate"] == oneshot["hll_estimate"]
    assert streamed["n_zero_registers"] == oneshot["n_zero_registers"]
    # sanity: the estimate is in the right ballpark for 100 distinct
    assert 50 <= streamed["hll_estimate"] <= 200


def test_streaming_countmin_merge_is_lossless(spark, tmp_path):
    """Count-min cells merge by per-cell SUM — the accumulated sketch
    must answer point queries identically to a one-shot build, and every
    estimate must sit >= the true count (upper bias)."""
    from beacon_indexer_spark.operators.sketches import (
        cm_cells,
        cm_merge,
        cm_query,
    )

    src = str(tmp_path / "cm_raw")
    state = str(tmp_path / "cm_cells")
    batches = [
        [(i % 7,) for i in range(40)],
        [(i % 11,) for i in range(50)],
        [(i % 5,) for i in range(30)],
    ]
    _stream_batches(spark, src, batches, "k long")

    def ingest(batch_df, batch_id):
        prior = None
        if os.path.isdir(state) and any(
            f.endswith(".parquet") for f in os.listdir(state)
        ):
            prior = spark.read.parquet(state)
        new = cm_merge(prior, cm_cells(batch_df, "k")).localCheckpoint()
        new.write.mode("overwrite").parquet(state)

    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination(120)

    flat = [k for rows in batches for (k,) in rows]
    whole = spark.createDataFrame([(k,) for k in flat], "k long")
    keys = whole.select("k").distinct()
    sketch = spark.read.parquet(state)
    streamed = {
        r["key"]: r["cm_estimate"]
        for r in cm_query(sketch, keys, "k").collect()
    }
    oneshot = {
        r["key"]: r["cm_estimate"]
        for r in cm_query(cm_cells(whole, "k"), keys, "k").collect()
    }
    assert streamed == oneshot
    exact = {str(k): flat.count(k) for k in set(flat)}
    for k, est in streamed.items():
        assert est >= exact[k], (k, est, exact[k])


def test_streaming_bottomk_merge_is_lossless(spark, tmp_path):
    """Bottom-k priority samples merge losslessly (the k smallest of a
    union are the k smallest of the merged bottom-k's), so the sample —
    and any quantile estimated from it — accumulated over micro-batches
    must equal the one-shot batch sample exactly."""
    from beacon_indexer_spark.operators.sketches import (
        bottomk_merge,
        bottomk_sample,
    )

    src = str(tmp_path / "bk_raw")
    state = str(tmp_path / "bk_sample")
    batches = [
        [(i, float(i % 37)) for i in range(0, 120)],
        [(i, float(i % 37)) for i in range(100, 240)],  # ids 100-119 redelivered
        [(i, float(i % 37)) for i in range(240, 360)],
    ]
    _stream_batches(spark, src, batches, "event_id long, value double")

    def ingest(batch_df, batch_id):
        prior = None
        if os.path.isdir(state) and any(
            f.endswith(".parquet") for f in os.listdir(state)
        ):
            prior = spark.read.parquet(state)
        new = bottomk_merge(
            prior, bottomk_sample(batch_df, "value", "event_id", k=64), k=64
        ).localCheckpoint()
        new.write.mode("overwrite").parquet(state)

    stream = (
        spark.readStream.schema("event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination(120)

    streamed = sorted(
        (r["pri"], r["value"]) for r in spark.read.parquet(state).collect()
    )
    whole = spark.createDataFrame(
        [(i, v) for rows in batches for (i, v) in rows],
        "event_id long, value double",
    ).dropDuplicates(["event_id"])
    oneshot = sorted(
        (r["pri"], r["value"])
        for r in bottomk_sample(whole, "value", "event_id", k=64).collect()
    )
    assert len(streamed) == 64
    assert streamed == oneshot


def test_streaming_quantile_drift_monitor(spark, tmp_path):
    """Quantile-drift monitor: reference deciles from a bottom-k sample,
    every micro-batch scored by worst relative decile shift inside
    foreachBatch. A same-distribution batch reads 'stable'; a
    location-shifted batch (values ×3) reads 'shifted'; an empty batch
    reads 'empty' (quiet periods are not drift)."""
    from beacon_indexer_spark.streaming.drift import (
        batch_quantile_drift,
        quantile_reference,
    )

    ref_rows = [(i, float(10 + (i * 7) % 50)) for i in range(400)]
    ref = spark.createDataFrame(ref_rows, "event_id long, value double")
    reference = quantile_reference(ref, "value", "event_id").localCheckpoint()

    same = spark.createDataFrame(
        [(1000 + i, float(10 + (i * 7) % 50)) for i in range(200)],
        "event_id long, value double",
    )
    shifted = spark.createDataFrame(
        [(2000 + i, float(3 * (10 + (i * 7) % 50))) for i in range(200)],
        "event_id long, value double",
    )
    empty = spark.createDataFrame([], "event_id long, value double")

    r_same = batch_quantile_drift(same, reference, "value", "event_id").collect()[0]
    r_shift = batch_quantile_drift(shifted, reference, "value", "event_id").collect()[0]
    r_empty = batch_quantile_drift(empty, reference, "value", "event_id").collect()[0]
    assert r_same["verdict"] == "stable", r_same
    assert r_shift["verdict"] == "shifted", r_shift
    assert r_empty["verdict"] == "empty", r_empty

    # end-to-end through a real stream: one monitor row per micro-batch
    import time

    src = str(tmp_path / "qd_raw")
    _stream_batches(
        spark, src,
        [[(3000 + i, float(10 + (i * 7) % 50)) for i in range(150)],
         [(4000 + i, float(3 * (10 + (i * 7) % 50))) for i in range(150)]],
        "event_id long, value double",
    )
    verdicts = []

    def score(batch_df, batch_id):
        row = batch_quantile_drift(
            batch_df, reference, "value", "event_id"
        ).collect()[0]
        verdicts.append(row["verdict"])

    stream = (
        spark.readStream.schema("event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(score).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert verdicts == ["stable", "shifted"]


def test_streaming_ann_recall_monitor(spark, tmp_path):
    """Round-10 ANN index-freshness monitor: IVF centroids are fitted
    ONCE on the stored corpus; each micro-batch of new vectors is scored
    in foreachBatch (recall@k of the probe-limited search vs the
    batch-exact top-k). Parity contract: every streamed monitor row must
    equal the batch-mode `ann_recall_monitor` on the same rows — the
    drift.py fit-once/score-per-batch pattern applied to retrieval."""
    import math
    import os
    import time

    from beacon_indexer_spark.operators.similarity import ivf_centroids
    from beacon_indexer_spark.streaming.drift import ann_recall_monitor

    def vec(seed, scale=1.0):
        return [math.sin(seed * (i + 1)) * scale for i in range(16)]

    # corpus: 4 tight clusters of 15 vectors each
    corpus_rows = []
    vid = 0
    for c in range(4):
        base = vec(10.0 + c)
        for j in range(15):
            corpus_rows.append(
                (vid, [x + 0.001 * math.sin(97.0 * (vid + i)) for i, x in enumerate(base)])
            )
            vid += 1
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<double>"
    ).localCheckpoint()
    cents = ivf_centroids(corpus, k=4)

    # batch 1: near-copies of cluster members (index fresh -> high recall)
    b1 = [
        (1000 + i, [x * 1.0005 for x in corpus_rows[i * 4][1]])
        for i in range(10)
    ]
    # batch 2: unrelated directions (drifted ingest)
    b2 = [(2000 + i, vec(500.0 + 7.3 * i)) for i in range(10)]

    src = str(tmp_path / "vec_in")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(b1, "vec_id long, embedding array<double>").coalesce(
        1
    ).write.mode("append").parquet(src)
    first = {os.path.join(src, f) for f in os.listdir(src)}
    spark.createDataFrame(b2, "vec_id long, embedding array<double>").coalesce(
        1
    ).write.mode("append").parquet(src)
    later = time.time() + 5
    for f in os.listdir(src):
        p = os.path.join(src, f)
        if f.endswith(".parquet") and p not in first:
            os.utime(p, (later, later))

    monitor = str(tmp_path / "ann_monitor")

    def score(batch_df, batch_id):
        from pyspark.sql import functions as F

        row = ann_recall_monitor(
            corpus, cents, batch_df, k=5, nprobe=2
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        row.write.mode("append").parquet(monitor)

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(score).trigger(availableNow=True).start()
    q.awaitTermination(120)

    rows = sorted(
        spark.read.parquet(monitor).collect(), key=lambda r: r["batch_id"]
    )
    assert len(rows) == 2

    # parity: streamed rows == batch-mode monitor on identical frames
    for streamed, batch_rows in zip(rows, (b1, b2)):
        bdf = spark.createDataFrame(
            batch_rows, "vec_id long, embedding array<double>"
        )
        expect = ann_recall_monitor(corpus, cents, bdf, k=5, nprobe=2).collect()[0]
        assert streamed["n_queries"] == expect["n_queries"] == 10
        assert streamed["mean_recall"] == expect["mean_recall"]
        assert streamed["verdict"] == expect["verdict"]

    # fresh batch must read healthier than the drifted one
    assert rows[0]["mean_recall"] >= rows[1]["mean_recall"]
    assert rows[0]["verdict"] == "healthy"


def test_ann_recall_monitor_empty_batch_reads_empty(spark):
    import math

    from beacon_indexer_spark.operators.similarity import ivf_centroids
    from beacon_indexer_spark.streaming.drift import ann_recall_monitor

    corpus = spark.createDataFrame(
        [(i, [math.sin(3.0 * i * (j + 1)) for j in range(8)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    cents = ivf_centroids(corpus, k=4)
    empty = corpus.filter("vec_id < 0")
    row = ann_recall_monitor(corpus, cents, empty, k=5, nprobe=2).collect()[0]
    assert row["n_queries"] == 0
    assert row["mean_recall"] == 0.0
    assert row["verdict"] == "empty"


def test_streaming_substring_incremental_ingest(spark, tmp_path):
    """The EXACT-SUBSTRING incremental path composes with Structured
    Streaming like the shingle and embedding trios: each micro-batch's
    k-gram positions equi-join the ACCUMULATED distinct-gram index,
    flagged spans are appended, and the batch's own distinct grams grow
    the index — per-batch cost O(batch), the stored corpus is never
    re-paired. Cross-batch parity: a batch's streamed spans must equal
    the one-shot `cross_corpus_contamination_spans` of that batch
    against the union of all PRIOR batches."""
    from beacon_indexer_spark.operators.dedup import (
        _merge_marked_spans,
        cross_corpus_contamination_spans,
        token_kgram_positions,
    )

    k = 4
    src = str(tmp_path / "docs_raw")
    idx = str(tmp_path / "gram_index")
    schema = "doc_id long, text string"
    passage = "alpha beta gamma delta epsilon zeta"
    other = "one two three four five six seven"
    batches = [
        # batch 1: seeds the index, nothing stored yet -> no spans
        [(1, passage + " tail words here"), (2, other)],
        # batch 2: doc 11 repeats batch-1's passage; doc 12 is fresh
        [(11, "lead in " + passage + " trailing"), (12, "totally new unique body text")],
        # batch 3: doc 21 repeats a BATCH-2 passage (proves the index grew)
        [(21, "totally new unique body text again")],
    ]
    _stream_batches(spark, src, batches, schema)

    spans_by_batch: dict[int, list] = {}
    seen_docs: list[int] = []

    def ingest(batch_df, batch_id):
        grams = token_kgram_positions(batch_df, "doc_id", "text", k)
        grams = grams.localCheckpoint()
        if os.path.isdir(idx) and any(
            f.endswith(".parquet") for f in os.listdir(idx)
        ):
            stored = spark.read.parquet(idx)
            marked = grams.join(stored, "gram").select("doc_id", "pos")
            spans = _merge_marked_spans(marked, k).collect()
        else:
            spans = []
        ids = sorted(r["doc_id"] for r in batch_df.select("doc_id").collect())
        spans_by_batch[min(ids)] = sorted(
            (r.doc_id, r.span_start, r.span_end, r.n_tokens) for r in spans
        )
        seen_docs.extend(ids)
        grams.select("gram").distinct().write.mode("append").parquet(idx)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert sorted(seen_docs) == [1, 2, 11, 12, 21]
    assert spans_by_batch[1] == []  # empty index admits batch 1 verbatim

    # parity: each later batch's streamed spans == one-shot decontamination
    # of that batch against the union of all prior batches
    all_rows = {b[0][0]: b for b in batches}
    docs_of = lambda rows: spark.createDataFrame(rows, schema)
    for first_id, prior in ((11, batches[0]), (21, batches[0] + batches[1])):
        expect = sorted(
            (r.doc_id, r.span_start, r.span_end, r.n_tokens)
            for r in cross_corpus_contamination_spans(
                docs_of(all_rows[first_id]), docs_of(prior), "doc_id", "text", k=k
            ).collect()
        )
        assert spans_by_batch[first_id] == expect, first_id

    # and the duplicated passages were actually caught
    assert any(d == 11 for d, *_ in spans_by_batch[11])
    assert any(d == 21 for d, *_ in spans_by_batch[21])
