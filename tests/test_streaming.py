"""Structured Streaming tests (W1–W8) — deterministic via availableNow
triggers, memory sinks, and modification-time-ordered inbox files
(SURVEY.md §5 item 4). The inbox feeding replicates
``scripts/simulate_stream.py`` batches, now with an actual consumer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_data_pipeline_spark import dq, streaming

SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def write_inbox(tmp_path, batches):
    """batches: list of list of (event_id, ts_str, user_id, value)."""
    import os

    inbox = str(tmp_path / "inbox")
    os.makedirs(inbox, exist_ok=True)
    for i, rows in enumerate(batches):
        p = os.path.join(inbox, f"batch_{i}.csv")
        with open(p, "w") as f:
            f.write("event_id,ts,user_id,value\n")
            for r in rows:
                f.write(",".join(str(x) for x in r) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    return inbox


def test_file_stream_tumbling_counts_match_batch(spark, tmp_path):
    """W1+W3: stream the inbox, window it, compare against the batch twin
    on the very same files."""
    batches = [
        [(i, f"2024-01-01 10:{m:02d}:00", i % 3, 1.0) for i, m in enumerate(range(0, 10))],
        [(100 + i, f"2024-01-01 10:{m:02d}:00", i % 3, 2.0) for i, m in enumerate(range(10, 20))],
    ]
    inbox = write_inbox(tmp_path, batches)
    stream = streaming.read_file_stream(spark, inbox, SCHEMA)
    counts = streaming.tumbling_counts(stream, "ts", "5 minutes")
    q = streaming.memory_sink(counts, "tumbling_t", output_mode="complete")
    q.processAllAvailable()
    q.stop()
    got = {
        (r.w.start.isoformat(), r.n_events)
        for r in spark.table("tumbling_t").collect()
    }
    batch_df = spark.read.schema(SCHEMA).option("header", "true").csv(inbox)
    want = {
        (r.w.start.isoformat(), r.n_events)
        for r in streaming.tumbling_counts(batch_df, "ts", "5 minutes").collect()
    }
    assert got == want and len(want) == 4


def test_watermark_finalizes_windows_and_drops_too_late_rows(spark, tmp_path):
    """W2: once the watermark passes a window's end, the window is emitted
    exactly once (append mode) and later rows for it are DROPPED — the
    hard watermark guarantee (rows merely behind the watermark but ahead
    of state eviction may still be admitted; that side is best-effort)."""
    batches = [
        [(1, "2024-01-01 10:00:00", 1, 1.0),
         (2, "2024-01-01 10:01:00", 1, 1.0),
         (3, "2024-01-01 10:04:00", 1, 1.0)],
        # advances the watermark past 10:05 -> [10:00, 10:05) finalizes
        [(4, "2024-01-01 10:20:00", 1, 1.0)],
        # advances it past 10:25 -> [10:20, 10:25) finalizes too
        [(5, "2024-01-01 10:40:00", 1, 1.0)],
        # too late: [10:00) was finalized batches ago -> must be dropped;
        # append mode can never emit a duplicate window key
        [(6, "2024-01-01 10:01:30", 1, 1.0)],
    ]
    inbox = write_inbox(tmp_path, batches)
    stream = streaming.read_file_stream(spark, inbox, SCHEMA, max_files_per_trigger=1)
    counts = streaming.tumbling_counts(stream, "ts", "5 minutes", watermark="10 minutes")
    q = streaming.memory_sink(counts, "late_t", output_mode="append")
    q.processAllAvailable()
    q.stop()
    rows = spark.table("late_t").collect()
    got = {(r.w.start.isoformat(), r.n_events) for r in rows}
    # closed windows emitted once with on-time counts; the too-late row
    # neither re-emits [10:00) nor appears anywhere; 10:40 stays open
    assert got == {("2024-01-01T10:00:00", 3), ("2024-01-01T10:20:00", 1)}
    assert len(rows) == 2


def test_stream_dedup_within_watermark(spark, tmp_path):
    """W5: duplicate event_ids across micro-batches inside the watermark
    horizon are suppressed."""
    batches = [
        [(1, "2024-01-01 10:00:00", 1, 1.0), (2, "2024-01-01 10:01:00", 1, 1.0)],
        [(1, "2024-01-01 10:00:30", 1, 1.0),  # dup of event 1
         (3, "2024-01-01 10:02:00", 2, 1.0)],
    ]
    inbox = write_inbox(tmp_path, batches)
    stream = streaming.read_file_stream(spark, inbox, SCHEMA, max_files_per_trigger=1)
    deduped = streaming.stream_dedup(stream, ["event_id"], "ts")
    q = streaming.memory_sink(deduped, "dedup_t", output_mode="append")
    q.processAllAvailable()
    q.stop()
    ids = sorted(r.event_id for r in spark.table("dedup_t").collect())
    assert ids == [1, 2, 3]


def test_stateful_running_count(spark, tmp_path):
    """W6: applyInPandasWithState accumulates per-key state across
    micro-batches."""
    batches = [
        [(1, "2024-01-01 10:00:00", 1, 1.0), (2, "2024-01-01 10:01:00", 2, 1.0)],
        [(3, "2024-01-01 10:02:00", 1, 1.0), (4, "2024-01-01 10:03:00", 1, 1.0)],
    ]
    inbox = write_inbox(tmp_path, batches)
    stream = streaming.read_file_stream(
        spark,
        inbox,
        SCHEMA,
        max_files_per_trigger=1,
    ).withColumn("user_id", F.col("user_id").cast("string"))
    counted = streaming.running_count_per_key(stream, ["user_id"], "ts")
    q = streaming.memory_sink(counted, "state_t", output_mode="update")
    q.processAllAvailable()
    q.stop()
    rows = spark.table("state_t").collect()
    final = {}
    for r in rows:  # last update per key wins; max() == final running count
        final[r.user_id] = max(final.get(r.user_id, 0), r.n_events)
    assert final == {"1": 3, "2": 1}


def test_dq_gated_stream_routes_clean_and_quarantine(spark, tmp_path):
    """W7+W8: per-micro-batch DQ gate appends clean rows to silver and
    violations to quarantine, under a checkpoint."""
    batches = [
        [(1, "2024-01-01 10:00:00", 1, 10.0), (2, "2024-01-01 10:01:00", 1, -5.0)],
        [(3, "2024-01-01 10:02:00", 2, 7.0), (4, "2024-01-01 10:03:00", 2, -1.0),
         (5, "2024-01-01 10:04:00", 3, 3.0)],
    ]
    inbox = write_inbox(tmp_path, batches)
    stream = streaming.read_file_stream(spark, inbox, SCHEMA, max_files_per_trigger=1)
    rules = [dq.Rule("neg_value", F.col("value") < 0)]
    silver = str(tmp_path / "silver")
    quarantine = str(tmp_path / "quarantine")
    q = streaming.dq_gated_stream(
        stream, rules, silver, quarantine, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert spark.read.parquet(silver).count() == 3
    bad = spark.read.parquet(quarantine)
    assert bad.count() == 2
    assert {r.event_id for r in bad.collect()} == {2, 4}


def test_dq_route_batch_scans_source_once(spark, tmp_path):
    """Round-3 verdict finding: the clean+quarantine writes used to
    re-evaluate the micro-batch plan once EACH, re-reading the source per
    sink. A per-row accumulator upstream of the gate counts actual source
    materializations: with the persist in dq_route_batch, both sink writes
    must consume ONE pass over the 1000 input rows, not two."""
    acc = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    src = spark.range(0, 1000, 1, 4).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7 - 1).cast("double").alias("value"),
    )
    counted = src.mapInPandas(count_rows, schema="event_id long, value double")
    rules = [dq.Rule("neg_value", F.col("value") < 0)]
    silver = str(tmp_path / "silver")
    quarantine = str(tmp_path / "quarantine")
    streaming.dq_route_batch(counted, 0, rules, silver, quarantine)
    n_clean = spark.read.parquet(silver).count()
    n_bad = spark.read.parquet(quarantine).count()
    assert n_clean + n_bad == 1000 and n_bad > 0
    assert acc.value == 1000, (
        f"source rows evaluated {acc.value} times for 1000 input rows — "
        "the micro-batch was scanned more than once across the two sinks"
    )


def test_curated_stream_redacts_pii_in_silver(spark, tmp_path):
    """Curation as a PIPELINE stage: planted PII in clean rows must land
    REDACTED in silver, while quarantined rows keep their raw text for
    triage and the DQ routing itself is unchanged."""
    text_ok = "call me at 555-867-5309 or mail bob@example.com today"
    text_bad = "ping 10.0.0.1 and phone 555-123-4567 please"
    schema = (
        "event_id long, ts timestamp, user_id long, value double, text string"
    )
    batches = [
        [(1, "2024-01-01 10:00:00", 1, 10.0, text_ok),
         (2, "2024-01-01 10:01:00", 1, -5.0, text_bad)],
        [(3, "2024-01-01 10:02:00", 2, 7.0, text_bad)],
    ]
    inbox = write_inbox(tmp_path, batches)
    stream = streaming.read_file_stream(
        spark, inbox, schema, max_files_per_trigger=1
    )
    rules = [dq.Rule("neg_value", F.col("value") < 0)]
    silver = str(tmp_path / "silver")
    quarantine = str(tmp_path / "quarantine")
    q = streaming.dq_gated_stream(
        stream,
        rules,
        silver,
        quarantine,
        checkpoint=str(tmp_path / "ckpt"),
        curate=streaming.curation_stage(text_col="text"),
    )
    assert q.awaitTermination(120)
    got_silver = {r.event_id: r.text for r in spark.read.parquet(silver).collect()}
    got_bad = {r.event_id: r.text for r in spark.read.parquet(quarantine).collect()}
    assert got_silver == {
        1: "call me at [PHONE] or mail [EMAIL] today",
        3: "ping [IP] and phone [PHONE] please",
    }
    # quarantine keeps the raw text (curation runs on the clean side only)
    assert got_bad == {2: text_bad}


def test_curation_stage_quality_gate_filters_low_band(spark):
    """The quality/language gates of curation_stage drop degenerate rows
    before redaction; band thresholds match text.quality_band."""
    rich = " ".join(f"the quick w{i} fox and lemur {i}" for i in range(12))
    rows = [(1, rich), (2, "tiny low text"), (3, rich + " extra tokens here")]
    df = spark.createDataFrame(rows, "event_id long, text string")
    stage = streaming.curation_stage(
        text_col="text", min_bands=("medium", "high"), require_en=True
    )
    kept = sorted(r.event_id for r in stage(df).collect())
    assert kept == [1, 3]


def test_curation_stage_strip_boiler_cleans_not_drops(spark):
    """strip_boiler=True REWRITES batch-repeated spans out of the text
    instead of dropping documents: every row survives, the shared header
    is gone, per-doc content remains, and PII redaction still runs
    AFTER the strip (on the rewritten text)."""
    hdr = "subscribe to our newsletter today unsubscribe anytime"
    rows = [
        (i, f"{hdr} story{i}a story{i}b story{i}c story{i}d") for i in range(3)
    ]
    rows.append((5, "no shared header here mail bob@example.com ok"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stage = streaming.curation_stage(text_col="text", strip_boiler=True)
    got = {r.doc_id: r.text for r in stage(df).collect()}
    assert set(got) == {0, 1, 2, 5}  # cleaned, never dropped
    for i in range(3):
        assert got[i] == f"story{i}a story{i}b story{i}c story{i}d"
    assert got[5] == "no shared header here mail [EMAIL] ok"


@pytest.mark.slow
def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream inner join with event-time bounds produces exactly the
    pairs its batch twin produces on the same files."""
    clicks = [
        [(1, "2024-01-01 10:00:00", 1, 0.0), (2, "2024-01-01 10:08:00", 1, 0.0),
         (3, "2024-01-01 10:30:00", 2, 0.0)],
    ]
    purchases = [
        [(101, "2024-01-01 09:55:00", 1, 50.0),   # within 10min of click 1+2? 1 yes, 2 (13min) no
         (102, "2024-01-01 10:29:00", 2, 70.0),   # within 10min of click 3
         (103, "2024-01-01 11:00:00", 2, 90.0)],  # after click 3 -> no match
    ]
    c_inbox = write_inbox(tmp_path / "c", clicks)
    p_inbox = write_inbox(tmp_path / "p", purchases)

    def prep(cdf, pdf_):
        c = cdf.select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("user_id").alias("cuser"),
        )
        p = pdf_.select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("puser"),
            F.col("value").alias("amount"),
        )
        return streaming.interval_join_stream(
            c, p, "cuser", "puser", "click_ts", "purchase_ts", "10 minutes"
        ).select("click_id", "purchase_id", "amount")

    got_stream = prep(
        streaming.read_file_stream(spark, c_inbox, SCHEMA),
        streaming.read_file_stream(spark, p_inbox, SCHEMA),
    )
    q = streaming.memory_sink(got_stream, "ssj_t", output_mode="append")
    q.processAllAvailable()
    q.stop()
    got = {(r.click_id, r.purchase_id) for r in spark.table("ssj_t").collect()}

    read = lambda p: spark.read.schema(SCHEMA).option("header", "true").csv(p)
    want = {
        (r.click_id, r.purchase_id)
        for r in prep(read(c_inbox), read(p_inbox)).collect()
    }
    assert got == want == {(1, 101), (3, 102)}


def test_checkpointed_sink_restart_is_exactly_once(spark, tmp_path):
    """W8: an availableNow run, a new inbox file, then a RESTART from the
    same checkpoint — already-committed batches must not be re-delivered
    and the new file must be; output rows stay unique."""
    inbox = write_inbox(tmp_path, [
        [(1, "2024-01-01 10:00:00", 1, 1.0)],
        [(2, "2024-01-01 10:01:00", 1, 1.0)],
    ])
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = streaming.read_file_stream(spark, inbox, SCHEMA)
        q = streaming.parquet_sink(stream, out, ckpt)
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 2
    # third file arrives while no query is running
    import os
    p = os.path.join(inbox, "batch_2.csv")
    with open(p, "w") as f:
        f.write("event_id,ts,user_id,value\n3,2024-01-01 10:02:00,2,1.0\n")
    os.utime(p, (1_700_000_002, 1_700_000_002))
    run_once()
    rows = spark.read.parquet(out).collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3]  # no re-delivery


def test_session_window_stream_runs(spark, tmp_path):
    """W4: session windows over a stream — gap-merged counts preserve the
    event total."""
    batches = [
        [(1, "2024-01-01 10:00:00", 1, 1.0), (2, "2024-01-01 10:02:00", 1, 1.0),
         (3, "2024-01-01 11:00:00", 1, 1.0), (4, "2024-01-01 10:00:00", 2, 1.0)],
    ]
    inbox = write_inbox(tmp_path, batches)
    stream = streaming.read_file_stream(spark, inbox, SCHEMA)
    sessions = streaming.session_aggregate(
        stream, "ts", "5 minutes", ["user_id"]
    )
    q = streaming.memory_sink(sessions, "session_t", output_mode="complete")
    q.processAllAvailable()
    q.stop()
    rows = spark.table("session_t").collect()
    total = sum(r.n_events for r in rows)
    assert total == 4
    # user 1 has two sessions (10:00 block, 11:00 block), user 2 one
    per_user = {}
    for r in rows:
        per_user[r.user_id] = per_user.get(r.user_id, 0) + 1
    assert per_user == {1: 2, 2: 1}


def test_rate_source_feeds_windowed_counts(spark, tmp_path):
    """The built-in rate source drives the tumbling-window operator; a
    short bounded run must produce windowed counts with the right schema."""
    stream = streaming.read_rate_stream(spark, rows_per_second=500)
    counted = streaming.tumbling_counts(
        stream, "timestamp", window="1 seconds", watermark="0 seconds"
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("rate_counts")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time as _t

        # poll — processAllAvailable() can block forever on an unbounded
        # source that keeps producing
        deadline = _t.time() + 60
        while _t.time() < deadline:
            q.awaitTermination(2)
            if spark.sql("SELECT * FROM rate_counts").count() > 0:
                break
        rows = spark.sql("SELECT * FROM rate_counts").collect()
        assert rows, "rate source produced no windows in 60s"
        assert {"w", "n_events"} <= set(rows[0].asDict().keys())
        assert all(r.n_events > 0 for r in rows)
    finally:
        q.stop()


def test_rate_source_feeds_sliding_windows(spark, tmp_path):
    """W3 slide path under a live unbounded source: 2s windows sliding every
    1s mean each event lands in TWO windows — once enough batches land, some
    window starts must be 1s apart (not only multiples of the 2s width)."""
    stream = streaming.read_rate_stream(spark, rows_per_second=500)
    counted = streaming.tumbling_counts(
        stream,
        "timestamp",
        window="2 seconds",
        watermark="0 seconds",
        slide="1 seconds",
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("rate_sliding")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time as _t

        deadline = _t.time() + 60
        while _t.time() < deadline:
            q.awaitTermination(2)
            if spark.sql("SELECT * FROM rate_sliding").count() >= 3:
                break
        rows = spark.sql("SELECT * FROM rate_sliding").collect()
        assert len(rows) >= 3, "sliding windows did not accumulate in 60s"
        starts = sorted({r.w.start for r in rows})
        gaps = {
            int((b - a).total_seconds()) for a, b in zip(starts, starts[1:])
        }
        assert 1 in gaps, f"no 1s-offset window starts (gaps={gaps})"
        assert all(r.n_events > 0 for r in rows)
    finally:
        q.stop()


def test_continuous_rollup_matches_batch_and_replay_is_idempotent(
    spark, tmp_path
):
    """Incremental materialized aggregate: streaming the inbox through
    continuous_rollup must produce the same per-window count/sum/min/max
    as a one-shot batch aggregation of the same files, and replaying a
    micro-batch (foreachBatch's at-least-once failure mode) must leave the
    merged view unchanged."""
    batches = [
        [(i, f"2024-01-01 10:{m:02d}:00", i % 3, float(m)) for i, m in enumerate(range(0, 10))],
        [(100 + i, f"2024-01-01 10:{m:02d}:00", i % 3, float(m)) for i, m in enumerate(range(5, 15))],
    ]
    inbox = write_inbox(tmp_path, batches)
    out = str(tmp_path / "rollup")
    stream = streaming.read_file_stream(spark, inbox, SCHEMA)
    q = streaming.continuous_rollup(
        stream, "ts", "5 minutes", "value", out,
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)

    def canon(df):
        return {
            (
                r.window_start.isoformat(),
                r.n_events,
                round(r.sum_value, 6),
                r.min_value,
                r.max_value,
            )
            for r in df.collect()
        }

    got = canon(streaming.rollup_view(spark, out))
    batch_df = spark.read.schema(SCHEMA).option("header", "true").csv(inbox)
    want = canon(
        batch_df.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events",
            "sum_value", "min_value", "max_value",
        )
    )
    assert got == want and len(got) > 0

    # replay batch 0 through the same writer — the batch_id=0 partition is
    # overwritten in place, so the merged view must not change
    writer = streaming.rollup_batch_writer(out, "ts", "5 minutes", "value")
    replay = spark.createDataFrame(
        [r for r in batches[0]], "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    writer(replay, 0)
    assert canon(streaming.rollup_view(spark, out)) == got


def test_dedup_ingest_stream_cross_batch_exactly_once(spark, tmp_path):
    """Streaming corpus-dedup ingest: duplicates across micro-batches are
    dropped against the persisted fingerprint index; replaying a batch —
    including the poison case where its OWN fingerprints already sit in
    the index (crash after index write, before checkpoint commit) —
    reproduces the identical silver partition instead of emptying it."""
    import os

    inbox = str(tmp_path / "ddi_inbox")
    os.makedirs(inbox)
    # b0: two unique docs; b1: one dup of b0 + one fresh + in-batch dup;
    # b2: dup of b1's fresh doc only
    with open(os.path.join(inbox, "b0.csv"), "w") as f:
        f.write("doc_id,text\n1,alpha alpha\n2,beta beta\n")
    with open(os.path.join(inbox, "b1.csv"), "w") as f:
        f.write("doc_id,text\n3,alpha alpha\n4,gamma gamma\n5,gamma gamma\n")
    with open(os.path.join(inbox, "b2.csv"), "w") as f:
        f.write("doc_id,text\n6,gamma gamma\n")
    # the file source orders batches by MODIFICATION TIME; the three
    # writes above can share an mtime tick — pin a strict order
    for i, name in enumerate(["b0.csv", "b1.csv", "b2.csv"]):
        t = 1_700_000_000 + i * 10
        os.utime(os.path.join(inbox, name), (t, t))
    src = (
        spark.readStream.format("csv")
        .option("header", "true")
        .schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .load(inbox)
    )
    index = str(tmp_path / "ddi_index")
    silver = str(tmp_path / "ddi_silver")
    sq = streaming.dedup_ingest_stream(
        src, index, silver, str(tmp_path / "ddi_ck"),
        content_col="text", id_col="doc_id",
    )
    assert sq.awaitTermination(120)

    def silver_state():
        return {
            (r.doc_id, r.text, r.batch_id)
            for r in spark.read.parquet(silver).collect()
        }

    got = silver_state()
    # unique texts only, first-seen batch wins, lowest id within batch
    assert {(d, t) for (d, t, _) in got} == {
        (1, "alpha alpha"), (2, "beta beta"), (4, "gamma gamma"),
    }
    assert spark.read.parquet(index).count() == 3

    # replay the batch that carried doc 4 — its fps are ALREADY in the
    # index (exactly the crash-between-writes window). The own-partition
    # exclusion must recompute the same fresh set, not an empty one.
    batch_of_4 = next(b for (d, _, b) in got if d == 4)
    replay = spark.createDataFrame(
        [(3, "alpha alpha"), (4, "gamma gamma"), (5, "gamma gamma")],
        "doc_id long, text string",
    )
    streaming.dedup_ingest_batch(
        replay, batch_of_4, index, silver,
        content_col="text", id_col="doc_id",
    )
    assert silver_state() == got
    assert spark.read.parquet(index).count() == 3


def test_dedup_ingest_with_curation_dedups_on_original_content(spark, tmp_path):
    """Ingest + curation composition: PII is redacted in silver, but the
    index fingerprints the ORIGINAL text — a raw twin of an
    already-redacted doc arriving later is still recognized as a dup."""
    import os

    inbox = str(tmp_path / "dc_inbox")
    os.makedirs(inbox)
    with open(os.path.join(inbox, "b0.csv"), "w") as f:
        f.write('doc_id,text\n1,mail bob@example.com now\n')
    with open(os.path.join(inbox, "b1.csv"), "w") as f:
        f.write('doc_id,text\n2,mail bob@example.com now\n')
    for i, name in enumerate(["b0.csv", "b1.csv"]):
        t = 1_700_000_000 + i * 10
        os.utime(os.path.join(inbox, name), (t, t))
    silver = str(tmp_path / "dc_silver")
    sq = streaming.dedup_ingest_stream(
        (
            spark.readStream.format("csv")
            .option("header", "true")
            .schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .load(inbox)
        ),
        str(tmp_path / "dc_index"),
        silver,
        str(tmp_path / "dc_ck"),
        content_col="text",
        id_col="doc_id",
        curate=streaming.curation_stage(text_col="text"),
    )
    assert sq.awaitTermination(120)
    rows = spark.read.parquet(silver).collect()
    # doc 2 (raw twin of the now-redacted doc 1) deduped; doc 1 redacted
    assert [(r.doc_id, r.text) for r in rows] == [(1, "mail [EMAIL] now")]


@pytest.mark.slow
def test_neardup_ingest_stream_cross_batch_exactly_once(spark, tmp_path):
    """Streaming near-dup ingest: later batches' NEAR-duplicates (high
    Jaccard, not exact equality) are dropped against the persisted
    signature index; short docs pass through; replaying a batch whose
    signatures already sit in the index reproduces the same silver
    partition (own-partition exclusion)."""
    import os

    base_a = " ".join(f"alpha{i}" for i in range(30))
    near_a = base_a.replace("alpha7", "CHANGED")  # jaccard ~0.87
    base_b = " ".join(f"beta{i}" for i in range(30))
    base_c = " ".join(f"gamma{i}" for i in range(30))
    near_c = base_c.replace("gamma3", "EDITED")

    inbox = str(tmp_path / "ndi_inbox")
    os.makedirs(inbox)
    with open(os.path.join(inbox, "b0.csv"), "w") as f:
        f.write("doc_id,text\n")
        f.write(f"1,{base_a}\n2,{base_b}\n")
    with open(os.path.join(inbox, "b1.csv"), "w") as f:
        f.write("doc_id,text\n")
        f.write(f"3,{near_a}\n4,{base_c}\n6,hi\n")
    with open(os.path.join(inbox, "b2.csv"), "w") as f:
        f.write("doc_id,text\n")
        f.write(f"5,{near_c}\n")
    for i, name in enumerate(["b0.csv", "b1.csv", "b2.csv"]):
        t = 1_700_000_000 + i * 10
        os.utime(os.path.join(inbox, name), (t, t))

    index = str(tmp_path / "ndi_index")
    silver = str(tmp_path / "ndi_silver")
    sq = streaming.neardup_ingest_stream(
        (
            spark.readStream.format("csv")
            .option("header", "true")
            .schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .load(inbox)
        ),
        index,
        silver,
        str(tmp_path / "ndi_ck"),
        id_col="doc_id",
        text_col="text",
    )
    assert sq.awaitTermination(180)

    def silver_ids():
        return {
            (r.doc_id, r.batch_id)
            for r in spark.read.parquet(silver).collect()
        }

    got = silver_ids()
    # near-dups 3 and 5 dropped; short doc 6 passes through
    assert {d for (d, _) in got} == {1, 2, 4, 6}

    # replay the batch carrying docs 3/4/6 — its signatures are already
    # indexed (crash-between-writes window); result must be identical
    batch_of_4 = next(b for (d, b) in got if d == 4)
    replay = spark.createDataFrame(
        [(3, near_a), (4, base_c), (6, "hi")], "doc_id long, text string"
    )
    streaming.neardup_ingest_batch(
        replay, batch_of_4, index, silver, id_col="doc_id", text_col="text"
    )
    assert silver_ids() == got


def test_rollup_distinct_sketch_merges_exactly(spark, tmp_path):
    """Incremental approx count-distinct: per-batch HLL sketch partials
    union to EXACTLY the estimate a one-shot sketch over all events
    gives (union-of-partials == sketch-of-union — the property that
    makes distinct countable across micro-batches at all), replaying a
    batch changes nothing, and compaction keeps the sketch mergeable
    (view identical before/after, post-compaction merges still work)."""
    # users overlap across batches: exact per-batch distinct counts could
    # NOT be summed (u0..u9 appear in both) — the sketch must dedup them
    batches = [
        [(i, f"2024-01-01 10:{m:02d}:00", i % 10, float(m))
         for i, m in enumerate(range(0, 10))],
        [(100 + i, f"2024-01-01 10:{m:02d}:00", i % 15, float(m))
         for i, m in enumerate(range(0, 10))],
    ]
    inbox = write_inbox(tmp_path, batches)
    out = str(tmp_path / "rollup_hll")
    stream = streaming.read_file_stream(spark, inbox, SCHEMA)
    q = streaming.continuous_rollup(
        stream, "ts", "5 minutes", "value", out,
        checkpoint=str(tmp_path / "ckpt_hll"), distinct_col="user_id",
    )
    assert q.awaitTermination(120)

    def canon(df):
        return {
            (r.window_start.isoformat(), r.n_events, r.approx_distinct)
            for r in df.collect()
        }

    got = canon(streaming.rollup_view(spark, out))
    batch_df = spark.read.schema(SCHEMA).option("header", "true").csv(inbox)
    want = canon(
        batch_df.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            ).alias("approx_distinct"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "approx_distinct",
        )
    )
    assert got == want and len(got) > 0
    # at this cardinality the estimate is exact — the merged metric is
    # the true overlapping-user distinct count, not a per-batch sum
    truth = {
        (r.window_start.isoformat(), r.n)
        for r in batch_df.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(F.countDistinct("user_id").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
        .collect()
    }
    assert {(w, d) for (w, _, d) in got} == truth

    # replay batch 0: partial overwritten in place, view unchanged
    writer = streaming.rollup_batch_writer(
        out, "ts", "5 minutes", "value", distinct_col="user_id"
    )
    replay = spark.createDataFrame(
        batches[0], "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    writer(replay, 0)
    assert canon(streaming.rollup_view(spark, out)) == got

    # compaction keeps the SKETCH (not the estimate): view identical,
    # and a post-compaction batch still merges
    streaming.compact_rollup(spark, out)
    assert canon(streaming.rollup_view(spark, out)) == got
    extra = spark.createDataFrame(
        [(300, "2024-01-01 10:01:00", 99, 1.0)],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    writer(extra, 7)
    after = canon(streaming.rollup_view(spark, out))
    w0 = "2024-01-01T10:00:00"
    d_before = next(d for (w, _, d) in got if w.startswith(w0))
    d_after = next(d for (w, _, d) in after if w.startswith(w0))
    assert d_after == d_before + 1  # new user visible post-compaction


def test_compact_rollup_preserves_view_and_bounds_partitions(spark, tmp_path):
    """compact_rollup folds all batch_id partials into batch_id=-1: the
    merged view is identical before/after, partition count drops to 1,
    compacting twice ≡ once, and post-compaction batches keep merging."""
    batches = [
        [(i, f"2024-01-01 10:{m:02d}:00", i % 3, float(m))
         for i, m in enumerate(range(0, 8))],
        [(100 + i, f"2024-01-01 10:{m:02d}:00", i % 3, float(m))
         for i, m in enumerate(range(4, 12))],
        [(200 + i, f"2024-01-01 10:{m:02d}:00", i % 3, float(m))
         for i, m in enumerate(range(9, 14))],
    ]
    inbox = write_inbox(tmp_path, batches)
    out = str(tmp_path / "rollup")
    stream = streaming.read_file_stream(spark, inbox, SCHEMA)
    q = streaming.continuous_rollup(
        stream, "ts", "5 minutes", "value", out,
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert q.awaitTermination(120)

    def canon(df):
        return {
            (
                r.window_start.isoformat(),
                r.n_events,
                round(r.sum_value, 6),
                r.min_value,
                r.max_value,
            )
            for r in df.collect()
        }

    want = canon(streaming.rollup_view(spark, out))
    assert streaming.rollup_partition_count(out) == 3

    m1 = streaming.compact_rollup(spark, out)
    assert m1["partitions_before"] == 3 and m1["partitions_after"] == 1
    assert streaming.rollup_partition_count(out) == 1
    assert canon(streaming.rollup_view(spark, out)) == want

    # idempotent: compacting an already-compacted rollup changes nothing
    m2 = streaming.compact_rollup(spark, out)
    assert m2["partitions_after"] == 1
    assert canon(streaming.rollup_view(spark, out)) == want

    # a post-compaction micro-batch merges with batch_id=-1 like any partial
    writer = streaming.rollup_batch_writer(out, "ts", "5 minutes", "value")
    extra = spark.createDataFrame(
        [(900, "2024-01-01 10:00:30", 1, 100.0)],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    writer(extra, 99)
    assert streaming.rollup_partition_count(out) == 2
    after = canon(streaming.rollup_view(spark, out))
    first = next(
        t for t in after if t[0] == "2024-01-01T10:00:00"
    )
    base = next(t for t in want if t[0] == "2024-01-01T10:00:00")
    assert first[1] == base[1] + 1  # one more event in the first window
    assert first[4] == 100.0  # new max propagated through the merge


def test_json_deadletter_stream_routes_malformed_lines(spark, tmp_path):
    """Schema-drift hardening: valid JSON lines flatten into silver (a
    drifted line with an unknown field still parses; a missing field
    lands NULL), while unparseable lines are quarantined with the raw
    text preserved for replay — and the stream never crashes."""
    import os

    inbox = str(tmp_path / "jinbox")
    os.makedirs(inbox)
    lines = [
        '{"event_id": 1, "user_id": 10, "value": 1.5}',
        '{"event_id": 2, "user_id": 20, "value": 2.5, "new_field": "drift"}',
        '{"event_id": 3, "user_id": 30}',
        'this is not json at all',
        '{"event_id": 5, "user_id":',
    ]
    with open(os.path.join(inbox, "batch_0.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")

    schema = "event_id long, user_id long, value double"
    stream = streaming.read_json_lines_stream(
        spark, inbox, schema, max_files_per_trigger=1
    )
    silver = str(tmp_path / "jsilver")
    dead = str(tmp_path / "jdead")
    q = streaming.dq_gated_stream(
        stream,
        [streaming.json_malformed_rule()],
        silver,
        dead,
        checkpoint=str(tmp_path / "jckpt"),
        curate=streaming.flatten_parsed(),
    )
    q.awaitTermination(120)

    good = {r.event_id: (r.user_id, r.value) for r in spark.read.parquet(silver).collect()}
    assert good == {1: (10, 1.5), 2: (20, 2.5), 3: (30, None)}
    bad = spark.read.parquet(dead)
    assert bad.count() == 2
    raws = {r.raw_json for r in bad.collect()}
    assert raws == {"this is not json at all", '{"event_id": 5, "user_id":'}


def test_upsert_stream_converges_to_latest_per_key(spark, tmp_path):
    """CDC merge sink: streamed correction batches converge the target to
    latest-version-per-key; replaying the same inbox from a fresh
    checkpoint leaves the table unchanged (merge idempotence stands in
    for batch_id bookkeeping)."""
    import os

    inbox = str(tmp_path / "cdc_inbox")
    os.makedirs(inbox)
    batch_rows = [
        [(1, "2024-01-01", 10.0, 1), (2, "2024-01-02", 20.0, 1)],
        [(1, "2024-01-01", 11.0, 2), (3, "2024-01-02", 30.0, 1)],
    ]
    for i, rows in enumerate(batch_rows):
        p = os.path.join(inbox, f"b{i}.csv")
        with open(p, "w") as f:
            f.write("id,d,v,ver\n")
            for r in rows:
                f.write(",".join(str(x) for x in r) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    schema = "id long, d string, v double, ver long"
    tgt = str(tmp_path / "cdc_target")

    def run(ckpt):
        stream = streaming.read_file_stream(
            spark, inbox, schema, max_files_per_trigger=1
        )
        q = streaming.upsert_stream(
            stream, tgt, keys=["id"], order_by=["ver"],
            partition_col="d", checkpoint=ckpt,
        )
        q.awaitTermination(120)

    def table():
        # hive layout re-infers the partition col (as date) and appends
        # it; normalize order + type for comparison
        return {
            (r.id, str(r.d), r.v, r.ver)
            for r in spark.read.parquet(tgt)
            .select("id", "d", "v", "ver")
            .collect()
        }

    run(str(tmp_path / "ck1"))
    expected = {(1, "2024-01-01", 11.0, 2), (2, "2024-01-02", 20.0, 1),
                (3, "2024-01-02", 30.0, 1)}
    assert table() == expected

    # full replay from a fresh checkpoint: merge is a no-op
    run(str(tmp_path / "ck2"))
    assert table() == expected


def test_metrics_logger_records_batch_progress(spark, tmp_path):
    """Observability: every micro-batch of a gated run appends a JSON
    progress line (batch id, input rows, durations) to the artifact."""
    import json
    import time

    batches = [
        [(1, "2024-01-01 10:00:00", 1, 10.0)],
        [(2, "2024-01-01 10:01:00", 1, -5.0), (3, "2024-01-01 10:02:00", 2, 1.0)],
    ]
    inbox = write_inbox(tmp_path, batches)
    metrics_path = str(tmp_path / "stream_metrics.jsonl")
    listener = streaming.attach_metrics_logger(spark, metrics_path)
    try:
        q = streaming.dq_gated_stream(
            streaming.read_file_stream(spark, inbox, SCHEMA, max_files_per_trigger=1),
            [dq.Rule("neg_value", F.col("value") < 0)],
            str(tmp_path / "ms"),
            str(tmp_path / "mq"),
            checkpoint=str(tmp_path / "mc"),
        )
        q.awaitTermination(120)
        # listener bus is async — give it a beat to drain
        deadline = time.time() + 20
        recs = []
        while time.time() < deadline:
            try:
                with open(metrics_path) as f:
                    recs = [json.loads(line) for line in f if line.strip()]
            except FileNotFoundError:
                recs = []
            if sum(r["num_input_rows"] for r in recs) >= 3:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    assert sum(r["num_input_rows"] for r in recs) == 3
    assert all("duration_ms" in r and r["query_id"] for r in recs)


def test_json_stream_does_not_mutate_caller_schema(spark, tmp_path):
    """StructType.add mutates in place — the dead-letter reader must copy
    before appending its corrupt-record field, or the caller's schema
    object silently grows a column per call."""
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    inbox = str(tmp_path / "sinbox")
    os.makedirs(inbox)
    with open(os.path.join(inbox, "a.jsonl"), "w") as f:
        f.write('{"event_id": 1}\n')
    schema = StructType([StructField("event_id", LongType())])
    streaming.read_json_lines_stream(spark, inbox, schema)
    streaming.read_json_lines_stream(spark, inbox, schema)
    assert [f.name for f in schema.fields] == ["event_id"]


def test_scd2_stream_accretes_history_and_replays_clean(spark, tmp_path):
    """Streaming SCD2 sink: change batches streaming through a file
    source accrete interval history (close + insert per change, repeats
    ignored); replaying the same inbox from a fresh checkpoint leaves
    the dimension unchanged (rebuild idempotence stands in for batch_id
    bookkeeping). A later batch carrying an OLDER effective time splices
    mid-chain instead of corrupting the head."""
    import os

    inbox = str(tmp_path / "scd2_inbox")
    os.makedirs(inbox)
    batch_rows = [
        [("c1", "bronze", "2024-01-01T00:00:00"),
         ("c2", "silver", "2024-01-01T00:00:00")],
        [("c1", "gold", "2024-01-09T00:00:00"),
         ("c2", "silver", "2024-01-09T00:00:00")],  # repeat -> no-op
        [("c1", "silver", "2024-01-05T00:00:00")],  # late: splices 1..9
    ]
    for i, rows in enumerate(batch_rows):
        p = os.path.join(inbox, f"b{i}.csv")
        with open(p, "w") as f:
            f.write("cust_id,tier,seen_at\n")
            for r in rows:
                f.write(",".join(r) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    schema = "cust_id string, tier string, seen_at timestamp"
    tgt = str(tmp_path / "scd2_dim")

    def run(ckpt):
        stream = streaming.read_file_stream(
            spark, inbox, schema, max_files_per_trigger=1
        )
        q = streaming.scd2_stream(
            stream, tgt, keys=["cust_id"], effective_col="seen_at",
            checkpoint=ckpt, n_buckets=4,
        )
        q.awaitTermination(120)

    def table():
        from realtime_data_pipeline_spark import medallion

        return sorted(
            (r.cust_id, r.tier, str(r["__valid_from"]), str(r["__valid_to"]),
             r["__is_current"])
            for r in medallion.scd2_read(spark, tgt).collect()
        )

    run(str(tmp_path / "ck1"))
    first = table()
    assert first == sorted([
        ("c1", "bronze", "2024-01-01 00:00:00", "2024-01-05 00:00:00", False),
        ("c1", "silver", "2024-01-05 00:00:00", "2024-01-09 00:00:00", False),
        ("c1", "gold", "2024-01-09 00:00:00", "None", True),
        ("c2", "silver", "2024-01-01 00:00:00", "None", True),
    ])
    # full redelivery from a fresh checkpoint: table unchanged
    run(str(tmp_path / "ck2"))
    assert table() == first


def test_temporal_enrich_stream_attributes_facts_point_in_time(
    spark, tmp_path
):
    """The consumer half of the SCD2 chain: facts streaming through the
    enrich sink pick up the dimension attribute in force at their OWN
    event time (late facts get historical values, unknown keys get
    NULL), and a dimension segment merged BETWEEN runs is visible to the
    next run's facts — the dimension is re-resolved per trigger."""
    import os

    from realtime_data_pipeline_spark import medallion

    dim = str(tmp_path / "dim")
    d = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "cust_id string, tier string, seen_at string"
    ).withColumn("seen_at", F.col("seen_at").cast("timestamp"))
    medallion.scd2_merge(
        spark,
        dim,
        d(
            [
                ("c1", "bronze", "2024-01-01 00:00:00"),
                ("c1", "gold", "2024-01-10 00:00:00"),
                ("c2", "silver", "2024-01-01 00:00:00"),
            ]
        ),
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=4,
    )

    inbox = str(tmp_path / "facts")
    os.makedirs(inbox)

    def fact_file(name, rows, mtime):
        p = os.path.join(inbox, name)
        with open(p, "w") as f:
            f.write("cust_id,amount,ts\n")
            for r in rows:
                f.write(",".join(map(str, r)) + "\n")
        os.utime(p, (mtime, mtime))

    fact_file(
        "f0.csv",
        [
            ("c1", 10.0, "2024-01-05T00:00:00"),  # inside bronze segment
            ("c1", 20.0, "2024-01-15T00:00:00"),  # inside gold segment
            ("c2", 30.0, "2024-01-02T00:00:00"),  # silver
            ("c9", 40.0, "2024-01-02T00:00:00"),  # unknown key -> NULL
        ],
        1_700_000_000,
    )
    out = str(tmp_path / "enriched")
    ckpt = str(tmp_path / "ck")
    schema = "cust_id string, amount double, ts timestamp"

    def run():
        q = streaming.temporal_enrich_stream(
            streaming.read_file_stream(
                spark, inbox, schema, max_files_per_trigger=1
            ),
            dim,
            keys=["cust_id"],
            ts_col="ts",
            out_path=out,
            checkpoint=ckpt,
        )
        q.awaitTermination(120)

    run()
    got = sorted(
        (r.cust_id, r.amount, r.tier) for r in spark.read.parquet(out).collect()
    )
    assert got == [
        ("c1", 10.0, "bronze"),
        ("c1", 20.0, "gold"),
        ("c2", 30.0, "silver"),
        ("c9", 40.0, None),
    ]

    # dimension accretes between runs; a new fact older than the new
    # segment still lands in the OLD one (point-in-time, not current)
    medallion.scd2_merge(
        spark,
        dim,
        d([("c2", "gold", "2024-02-01 00:00:00")]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    fact_file(
        "f1.csv",
        [
            ("c2", 50.0, "2024-02-02T00:00:00"),  # new gold segment
            ("c2", 60.0, "2024-01-20T00:00:00"),  # still silver
        ],
        1_700_000_100,
    )
    run()
    got = sorted(
        (r.cust_id, r.amount, r.tier) for r in spark.read.parquet(out).collect()
    )
    assert ("c2", 50.0, "gold") in got and ("c2", 60.0, "silver") in got
    assert len(got) == 6  # checkpoint continuity: f0 not re-processed


def test_ema_per_key_matches_sequential_fold(spark, tmp_path):
    """Stateful EMA: streaming the events in two time-ordered
    micro-batches converges each key to the same decayed sum as a single
    sequential fold over the full history — state carries (ema, last_ts)
    across batches."""
    import math

    batches = [
        [(1, "2024-01-01 10:00:00", 1, 4.0),
         (2, "2024-01-01 10:30:00", 1, 2.0),
         (3, "2024-01-01 10:15:00", 2, 8.0)],
        [(4, "2024-01-01 11:30:00", 1, 6.0),
         (5, "2024-01-01 12:15:00", 2, 1.0)],
    ]
    inbox = write_inbox(tmp_path, batches)
    # bigint key used AS-IS: the output schema derives key types from the
    # input (a hardcoded string schema would die at the Arrow boundary)
    stream = streaming.read_file_stream(
        spark, inbox, SCHEMA, max_files_per_trigger=1
    )
    ema = streaming.ema_per_key(
        stream, ["user_id"], "ts", "value", halflife="1 hour"
    )
    q = streaming.memory_sink(ema, "ema_t", output_mode="update")
    q.processAllAvailable()
    q.stop()

    final = {}
    for r in spark.table("ema_t").collect():  # rows arrive in batch order
        final[r.user_id] = r.ema  # last update per key wins

    lam = math.log(2.0) / 3600.0
    def fold(events):
        ema, last = 0.0, None
        for ts, v in sorted(events):
            if last is not None:
                ema *= math.exp(-lam * (ts - last))
            ema += v
            last = ts
        return ema

    want = {
        1: fold([(0.0, 4.0), (1800.0, 2.0), (5400.0, 6.0)]),
        2: fold([(900.0, 8.0), (8100.0, 1.0)]),
    }
    for k, v in want.items():
        assert abs(final[k] - v) < 1e-9, (k, final[k], v)


def test_ema_per_key_is_arrival_order_invariant(spark, tmp_path):
    """A cross-batch straggler joins pre-decayed by its own lag and does
    NOT regress the frontier: streaming (on-time batch, then straggler
    batch, then on-time batch) equals the sequential fold over the
    time-sorted events."""
    import math

    batches = [
        [(1, "2024-01-01 10:00:00", 1, 4.0),
         (2, "2024-01-01 11:00:00", 1, 2.0)],
        [(3, "2024-01-01 10:30:00", 1, 8.0)],   # straggler behind 11:00
        [(4, "2024-01-01 12:00:00", 1, 6.0)],   # must decay 1h, not 1.5h
    ]
    inbox = write_inbox(tmp_path, batches)
    stream = streaming.read_file_stream(
        spark, inbox, SCHEMA, max_files_per_trigger=1
    )
    ema = streaming.ema_per_key(
        stream, ["user_id"], "ts", "value", halflife="1 hour"
    )
    q = streaming.memory_sink(ema, "ema_ooo_t", output_mode="update")
    q.processAllAvailable()
    q.stop()
    final = {r.user_id: r.ema for r in spark.table("ema_ooo_t").collect()}

    lam = math.log(2.0) / 3600.0
    ema_v, last = 0.0, None
    for t, v in [(0.0, 4.0), (1800.0, 8.0), (3600.0, 2.0), (7200.0, 6.0)]:
        if last is not None:
            ema_v *= math.exp(-lam * (t - last))
        ema_v += v
        last = t
    assert abs(final[1] - ema_v) < 1e-9


def test_ingest_null_content_passes_through(spark, tmp_path):
    """NULL-content docs must reach silver exactly once per doc (not
    collapse to one survivor, not vanish, not re-admit forever) in both
    the exact and near-dup ingest paths."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, None), (4, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    silver = str(tmp_path / "s1")
    idx = str(tmp_path / "i1")
    streaming.dedup_ingest_batch(docs, 0, idx, silver, "text", "doc_id")
    got = sorted(r.doc_id for r in spark.read.parquet(silver).collect())
    assert got == [1, 2, 3]  # 4 is an exact dup of 1; both NULLs survive

    silver2 = str(tmp_path / "s2")
    idx2 = str(tmp_path / "i2")
    streaming.neardup_ingest_batch(
        docs, 0, idx2, silver2, "doc_id", "text"
    )
    got2 = sorted(r.doc_id for r in spark.read.parquet(silver2).collect())
    assert got2 == [1, 2, 3]


def test_running_stats_per_key_v2_state_accumulates_across_batches(
    spark, tmp_path
):
    """Arbitrary stateful API v2 (transformWithStateInPandas): per-key
    running count/sum/min/max carried in a typed ValueState across two
    micro-batches — the final emitted row per key equals the batch
    aggregate over the full history (the v2 twin of the
    applyInPandasWithState operators). Skips where the v2 protocol's
    protobuf dependency is absent (this container) — there the operator
    must instead fail loudly AT DEFINITION with install guidance, which
    the except branch asserts."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="protobuf"):
            streaming.running_stats_per_key(
                spark.readStream.format("rate").load(), "value", "value"
            )
        pytest.skip("protobuf not installed: v2 state protocol unavailable")
    batches = [
        [(1, "2024-01-01 10:00:00", 1, 4.0),
         (2, "2024-01-01 10:30:00", 1, 2.0),
         (3, "2024-01-01 10:15:00", 2, 8.0)],
        [(4, "2024-01-01 11:30:00", 1, 6.0),
         (5, "2024-01-01 12:15:00", 2, 1.0)],
    ]
    inbox = write_inbox(tmp_path, batches)
    stream = streaming.read_file_stream(
        spark, inbox, SCHEMA, max_files_per_trigger=1
    )
    stats = streaming.running_stats_per_key(stream, "user_id", "value")
    q = streaming.memory_sink(stats, "tws_t", output_mode="update")
    q.processAllAvailable()
    q.stop()

    final = {}
    for r in spark.table("tws_t").collect():  # batch order; last wins
        final[r.user_id] = (r.n, r.total, r.mn, r.mx)
    assert final[1] == (3, 12.0, 2.0, 6.0)
    assert final[2] == (2, 9.0, 1.0, 8.0)


@pytest.mark.slow
@pytest.mark.parametrize("layout", ["bucket", "flat", "manifest"])
def test_semdedup_ingest_stream_cross_batch_exactly_once(
    spark, tmp_path, layout
):
    """Streaming SEMANTIC dedup ingest (the third streaming ingest
    sibling): cross-batch near-identical embeddings are dropped against
    the persisted kept-vector index; NULL embeddings pass through
    unindexed; replaying a batch whose OWN vectors already sit in the
    index (crash after index write, before checkpoint commit) reproduces
    the identical silver partition instead of emptying it. Round-15:
    the SAME contract must hold under both index layouts — the default
    ``bucket=M/batch_id=N`` and the ``flat`` batch_id-only layout that
    trades dir-pruned probes for a one-dir-per-batch commit (verdict
    r14 item #2) — and the layout-detecting compactor must fold either
    without changing the probe's answers."""
    import os

    inbox = str(tmp_path / "sdi_inbox")
    os.makedirs(inbox)
    schema = "vec_id long, embedding array<double>"
    # b0: two distinct directions + an in-batch near-dup of id 1
    b0 = spark.createDataFrame(
        [
            (1, [1.0, 1.0, 0.0, 0.0]),
            (2, [0.99, 1.01, 0.0, 0.0]),   # in-batch dup of 1
            (3, [1.0, 0.0, 0.0, 0.0]),     # cos to 1 ≈ 0.707 < 0.9
        ],
        schema,
    )
    # b1: a corpus dup of indexed id 1, a novel direction, a NULL vector
    b1 = spark.createDataFrame(
        [
            (10, [1.01, 0.99, 0.0, 0.0]),  # corpus dup of 1
            (11, [0.0, 1.0, 0.0, 0.0]),    # novel
            (12, None),                    # NULL -> pass-through
        ],
        schema,
    )
    import glob
    import shutil

    for i, (name, frame) in enumerate([("b0", b0), ("b1", b1)]):
        stage = str(tmp_path / f"sdi_stage_{name}")
        frame.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(inbox, f"{name}.parquet")
        shutil.copy(part, dst)
        # pin strict file-source ordering (mtime ties are real)
        t = 1_700_000_000 + i * 10
        os.utime(dst, (t, t))

    index = str(tmp_path / "sdi_index")
    silver = str(tmp_path / "sdi_silver")
    sq = streaming.semdedup_ingest_stream(
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(inbox)
        ),
        index, silver, str(tmp_path / "sdi_ck"),
        id_col="vec_id", vec_col="embedding", threshold=0.9, n_bits=2,
        index_layout=layout,
    )
    assert sq.awaitTermination(120)
    top = {e.split("=")[0] for e in os.listdir(index) if "=" in e}
    assert top == {
        "flat": {"batch_id"},
        "bucket": {"bucket"},
        "manifest": {"gen"},
    }[layout]

    def silver_ids():
        return {
            (r["vec_id"], r["batch_id"])
            for r in spark.read.parquet(silver).collect()
        }

    got = silver_ids()
    assert {v for v, _ in got} == {1, 3, 11, 12}
    # index holds kept VECTORS only (NULL row unindexed)
    idx_rows = spark.read.parquet(index)
    assert {r["vec_id"] for r in idx_rows.collect()} == {1, 3, 11}
    assert set(idx_rows.columns) >= {"vec_id", "vec", "norm", "bucket", "batch_id"}

    # poison replay: b1's survivors are ALREADY indexed — own-partition
    # exclusion must recompute the same fresh set, not an empty one
    batch_of_11 = next(b for v, b in got if v == 11)
    streaming.semdedup_ingest_batch(
        b1, batch_of_11, index, silver,
        id_col="vec_id", vec_col="embedding", threshold=0.9, n_bits=2,
        index_layout=layout,
    )
    assert silver_ids() == got
    assert {r["vec_id"] for r in spark.read.parquet(index).collect()} == {1, 3, 11}

    # layout is for life: ingesting with ANOTHER layout into this
    # index must fail loudly, not interleave conflicting hive dirs
    other = "bucket" if layout in ("flat", "manifest") else "flat"
    with pytest.raises(ValueError, match="laid out as"):
        streaming.semdedup_ingest_batch(
            b1, 50, index, silver,
            id_col="vec_id", vec_col="embedding", threshold=0.9,
            n_bits=2, index_layout=other,
        )

    # layout-detecting compaction folds either layout; a post-compaction
    # batch still dedups against the folded corpus
    stats = streaming.compact_semdedup_index(spark, index)
    assert stats["batch_partitions_after"] == 1 and stats["rows"] == 3
    b2 = spark.createDataFrame(
        [(20, [1.0, 1.02, 0.0, 0.0]), (21, [0.0, 0.0, 1.0, 0.0])], schema
    )
    streaming.semdedup_ingest_batch(
        b2, 99, index, silver,
        id_col="vec_id", vec_col="embedding", threshold=0.9, n_bits=2,
        index_layout=layout,
    )
    assert {v for v, _ in silver_ids()} == {1, 3, 11, 12, 21}
    assert {
        r["vec_id"] for r in spark.read.parquet(index).collect()
    } == {1, 3, 11, 21}


@pytest.mark.parametrize("layout", ["bucket", "flat"])
def test_semdedup_empty_first_batch_does_not_pin_layout(
    spark, tmp_path, layout
):
    """ADVICE r15: a first batch whose fresh set is EMPTY (here:
    all-NULL embeddings, which pass through to silver unindexed) writes
    an index dir holding only _SUCCESS — no partition subdirs. The
    layout guard used to classify that as 'flat', so every later batch
    under the default bucket layout raised 'laid out as flat' forever —
    a permanent streaming crash loop. A no-partition-dirs index must be
    layout-INDETERMINATE: the next batch (either layout) ingests
    cleanly and pins the layout, and compaction on the empty dir is a
    clean no-op."""
    import os

    schema = "vec_id long, embedding array<double>"
    index = str(tmp_path / "e_index")
    silver = str(tmp_path / "e_silver")
    b0 = spark.createDataFrame([(1, None), (2, None)], schema)
    streaming.semdedup_ingest_batch(
        b0, 0, index, silver,
        id_col="vec_id", vec_col="embedding", threshold=0.9, n_bits=2,
        index_layout=layout,
    )
    # empty fresh set: dir exists, no hive partition dirs
    assert os.path.isdir(index)
    assert not any(
        "=" in e
        for e in os.listdir(index)
        if os.path.isdir(os.path.join(index, e))
    )
    # NULL rows still landed in silver
    assert {
        r["vec_id"] for r in spark.read.parquet(silver).collect()
    } == {1, 2}
    # compaction on the indeterminate dir: clean no-op, not a crash
    stats = streaming.compact_semdedup_index(spark, index)
    assert stats["rows"] == 0
    # the next REAL batch must not hit the layout guard
    b1 = spark.createDataFrame(
        [(10, [1.0, 1.0, 0.0, 0.0]), (11, [0.0, 1.0, 0.0, 0.0])], schema
    )
    streaming.semdedup_ingest_batch(
        b1, 1, index, silver,
        id_col="vec_id", vec_col="embedding", threshold=0.9, n_bits=2,
        index_layout=layout,
    )
    top = {e.split("=")[0] for e in os.listdir(index) if "=" in e}
    assert top == ({"batch_id"} if layout == "flat" else {"bucket"})
    assert {
        r["vec_id"] for r in spark.read.parquet(index).collect()
    } == {10, 11}
    # and NOW the layout is pinned: the other layout fails loudly
    other = "bucket" if layout == "flat" else "flat"
    with pytest.raises(ValueError, match="laid out as"):
        streaming.semdedup_ingest_batch(
            b1, 2, index, silver,
            id_col="vec_id", vec_col="embedding", threshold=0.9,
            n_bits=2, index_layout=other,
        )


@pytest.mark.slow
def test_rollup_histogram_quantiles_merge_exactly(spark, tmp_path):
    """Incremental approx quantiles: per-batch fixed-bin histogram map
    partials sum to EXACTLY the one-shot histogram over all events
    (counts add — merge-of-partials == histogram-of-union), so the
    view's per-window quantile estimates equal sketches'
    histogram_build + histogram_quantile over the union; replaying a
    batch changes nothing, and compaction keeps the map mergeable
    (view identical before/after; a post-compaction batch shifts the
    window's p50)."""
    from realtime_data_pipeline_spark import sketches

    # values 0..9 and 100..109 across two batches, same 5-min window
    # bucket structure as the HLL test
    batches = [
        [(i, f"2024-01-01 10:{m:02d}:00", i % 10, float(m))
         for i, m in enumerate(range(0, 10))],
        [(100 + i, f"2024-01-01 10:{m:02d}:00", i % 15, float(m) + 100.0)
         for i, m in enumerate(range(0, 10))],
    ]
    inbox = write_inbox(tmp_path, batches)
    out = str(tmp_path / "rollup_hist")
    geo = (0.0, 200.0, 100)
    stream = streaming.read_file_stream(spark, inbox, SCHEMA)
    q = streaming.continuous_rollup(
        stream, "ts", "5 minutes", "value", out,
        checkpoint=str(tmp_path / "ckpt_hist"), histogram=geo,
    )
    assert q.awaitTermination(120)

    def canon(df):
        return {
            (
                r.window_start.isoformat(),
                r.n_events,
                round(r.approx_p50, 6) if r.approx_p50 is not None else None,
                round(r.approx_p95, 6) if r.approx_p95 is not None else None,
            )
            for r in df.collect()
        }

    got = canon(streaming.rollup_view(spark, out))
    assert len(got) > 0

    # per-window ground truth via the sketches module over the UNION
    batch_df = (
        spark.read.schema(SCHEMA).option("header", "true").csv(inbox)
        .withColumn("w", F.window("ts", "5 minutes"))
    )
    for win_iso, n_ev, p50, p95 in got:
        wdf = batch_df.filter(
            F.col("w.start") == F.lit(win_iso.replace("T", " "))
        )
        hist = sketches.histogram_build(wdf, "value", *geo[:2], bins=geo[2])
        est = {
            r["q"]: round(r["estimate"], 6)
            for r in sketches.histogram_quantile(hist, [0.5, 0.95]).collect()
        }
        assert p50 == est[0.5] and p95 == est[0.95], win_iso
        # one-bin-width error bound vs the exact ORDER STATISTIC (the
        # histogram's quantile convention — SQL percentile() interpolates
        # BETWEEN order stats, a different definition that diverges
        # arbitrarily at bimodal splits, so it is not the reference)
        import math

        vals = sorted(r["value"] for r in wdf.select("value").collect())
        order_stat = vals[max(0, math.ceil(0.5 * len(vals)) - 1)]
        assert abs(p50 - order_stat) <= (geo[1] - geo[0]) / geo[2]

    # replay batch 0 in place: view unchanged
    writer = streaming.rollup_batch_writer(
        out, "ts", "5 minutes", "value", histogram=geo
    )
    replay = spark.createDataFrame(
        batches[0], "event_id long, ts string, user_id long, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    writer(replay, 0)
    assert canon(streaming.rollup_view(spark, out)) == got

    # compaction keeps the MAP (not the estimates): view identical, and a
    # post-compaction batch still merges and moves the quantile
    streaming.compact_rollup(spark, out)
    assert canon(streaming.rollup_view(spark, out)) == got
    extra = spark.createDataFrame(
        [(300 + i, "2024-01-01 10:01:00", 7, 150.0) for i in range(40)],
        "event_id long, ts string, user_id long, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    writer(extra, 7)
    after = canon(streaming.rollup_view(spark, out))
    w0 = "2024-01-01T10:00:00"
    p50_before = next(p for (w, _, p, _) in got if w.startswith(w0))
    p50_after = next(p for (w, _, p, _) in after if w.startswith(w0))
    assert p50_after > p50_before  # heavy 150.0 batch pulls p50 up


@pytest.mark.slow
def test_compact_semdedup_index_preserves_dedup_and_replay_safety(
    spark, tmp_path
):
    """compact_semdedup_index folds every bucket's batch partitions into
    batch_id=-1: the index row set is unchanged, a replay of a FOLDED
    batch is a no-op (its vectors read as prior corpus via the
    own-partition exclusion — zero fresh rows, dynamic overwrite
    replaces nothing), and a genuinely new batch still dedups against
    the compacted index and keeps merging."""
    schema = "vec_id long, embedding array<double>"
    idx = str(tmp_path / "csi_index")
    silver = str(tmp_path / "csi_silver")
    b0 = spark.createDataFrame(
        [(1, [1.0, 1.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])], schema
    )
    b1 = spark.createDataFrame([(3, [0.0, 1.0, 0.0, 0.0])], schema)
    streaming.semdedup_ingest_batch(
        b0, 0, idx, silver, "vec_id", "embedding", threshold=0.9, n_bits=2
    )
    streaming.semdedup_ingest_batch(
        b1, 1, idx, silver, "vec_id", "embedding", threshold=0.9, n_bits=2
    )

    def idx_ids():
        return {r["vec_id"] for r in spark.read.parquet(idx).collect()}

    def silver_ids():
        return {
            (r["vec_id"], r["batch_id"])
            for r in spark.read.parquet(silver).collect()
        }

    ids0, sil0 = idx_ids(), silver_ids()
    m = streaming.compact_semdedup_index(spark, idx)
    assert m["batch_partitions_after"] <= m["batch_partitions_before"]
    assert idx_ids() == ids0
    # every bucket now holds exactly one batch partition (-1)
    import os

    for b in os.listdir(idx):
        if b.startswith("bucket="):
            subs = [
                d for d in os.listdir(os.path.join(idx, b))
                if d.startswith("batch_id=")
            ]
            assert subs == ["batch_id=-1"]

    # replay a folded batch: no-op on index AND silver
    streaming.semdedup_ingest_batch(
        b1, 1, idx, silver, "vec_id", "embedding", threshold=0.9, n_bits=2
    )
    assert idx_ids() == ids0 and silver_ids() == sil0

    # a new batch: near-dup of folded id 1 dropped, novel vector indexed
    b2 = spark.createDataFrame(
        [(10, [1.01, 0.99, 0.0, 0.0]), (11, [-1.0, 0.0, 0.0, 0.0])],
        schema,
    )
    streaming.semdedup_ingest_batch(
        b2, 2, idx, silver, "vec_id", "embedding", threshold=0.9, n_bits=2
    )
    assert idx_ids() == ids0 | {11}
    assert {v for v, _ in silver_ids()} == {1, 2, 3, 11}
    # compacting twice composes
    streaming.compact_semdedup_index(spark, idx)
    assert idx_ids() == ids0 | {11}


def test_semdedup_compaction_crash_window_is_repaired_and_locked(
    spark, tmp_path
):
    """Round-8 ADVICE regression: a crash between compact_semdedup_index's
    two renames used to leave NO index at index_path (it sat at
    __compact_old), and a stream batch running in that window saw the
    index as absent and skipped corpus dedup — silently admitting
    duplicates. Now (a) the swap and the ingest probe share
    medallion._merge_lock so the window is unobservable, and (b)
    _recover_semdedup_swap repairs a crashed swap — roll FORWARD when
    the compacted tmp is complete (_SUCCESS), roll BACK otherwise —
    before the next ingest batch probes."""
    import os
    import shutil

    import pytest

    from realtime_data_pipeline_spark import medallion

    schema = "vec_id long, embedding array<double>"
    idx = str(tmp_path / "crash_idx")
    silver = str(tmp_path / "crash_silver")
    b0 = spark.createDataFrame(
        [(1, [1.0, 1.0, 0.0, 0.0]), (2, [-1.0, 0.0, 0.0, 0.0])], schema
    )
    streaming.semdedup_ingest_batch(
        b0, 0, idx, silver, "vec_id", "embedding", threshold=0.9, n_bits=2
    )

    def idx_ids():
        return {r["vec_id"] for r in spark.read.parquet(idx).collect()}

    ids0 = idx_ids()

    # simulate a crash BETWEEN the two renames: tmp complete, index gone
    tmp, old = idx + "__compact_tmp", idx + "__compact_old"
    shutil.copytree(idx, tmp)  # compacted-enough stand-in
    # compact's plain overwrite write emits _SUCCESS (the ingest path's
    # dynamic overwrite does not) — stamp it as that writer would
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.replace(idx, old)
    assert not os.path.exists(idx)

    # an ingest batch in the crash window must NOT skip corpus dedup:
    # recovery rolls the swap forward, so the near-dup of id 1 drops
    dup = spark.createDataFrame([(10, [1.01, 0.99, 0.0, 0.0])], schema)
    streaming.semdedup_ingest_batch(
        dup, 1, idx, silver, "vec_id", "embedding", threshold=0.9, n_bits=2
    )
    assert idx_ids() == ids0  # 10 was a corpus dup — not admitted
    assert not os.path.exists(tmp) and not os.path.exists(old)

    # crash with an INCOMPLETE tmp (no _SUCCESS): recovery rolls back
    shutil.copytree(idx, tmp)
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.remove(os.path.join(tmp, "_SUCCESS"))
    os.replace(idx, old)
    streaming._recover_semdedup_swap(idx)
    assert idx_ids() == ids0 and not os.path.exists(tmp)

    # a LIVE concurrent compaction makes the batch fail loudly instead
    # of proceeding unprotected
    with medallion._merge_lock(idx, op="semdedup-compact"):
        with pytest.raises(medallion.ConcurrentMergeError, match="in flight"):
            streaming.semdedup_ingest_batch(
                dup, 2, idx, silver, "vec_id", "embedding",
                threshold=0.9, n_bits=2,
            )

    # and compaction still composes end-to-end under its lock
    m = streaming.compact_semdedup_index(spark, idx)
    assert m["batch_partitions_after"] <= m["batch_partitions_before"]
    assert idx_ids() == ids0


@pytest.mark.slow
def test_stream_stream_outer_interval_join_emits_unmatched(
    spark, tmp_path
):
    """Watermarked stream-stream LEFT OUTER interval join: matched pairs
    emit like the inner join; an unmatched left row is released with
    right-side NULLs only after the watermark passes its last possible
    match time (driven here by a far-future flush batch). The row SET
    equals the batch twin's on the same files; full_outer additionally
    releases the unmatched right rows; an unsupported join type refuses
    loudly."""
    import pytest

    clicks = [
        [(1, "2024-01-01 10:00:00", 1, 0.0),
         (2, "2024-01-01 10:08:00", 1, 0.0),
         (3, "2024-01-01 10:30:00", 2, 0.0)],
        # flush: advances the clicks watermark far past every join window
        [(99, "2024-01-02 00:00:00", 9, 0.0)],
    ]
    purchases = [
        [(101, "2024-01-01 09:55:00", 1, 50.0),
         (102, "2024-01-01 10:29:00", 2, 70.0),
         (103, "2024-01-01 11:00:00", 2, 90.0)],
        [(199, "2024-01-02 00:00:00", 9, 0.0)],
    ]
    c_inbox = write_inbox(tmp_path / "c", clicks)
    p_inbox = write_inbox(tmp_path / "p", purchases)

    def prep(cdf, pdf_, how):
        c = cdf.select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("user_id").alias("cuser"),
        )
        p = pdf_.select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("puser"),
        )
        return streaming.interval_join_stream(
            c, p, "cuser", "puser", "click_ts", "purchase_ts",
            "10 minutes", how=how,
        ).select("click_id", "purchase_id")

    read = lambda path: (
        spark.read.schema(SCHEMA).option("header", "true").csv(path)
    )

    for how, extra in (
        ("left_outer", set()),
        ("full_outer", {(None, 103)}),
    ):
        got_stream = prep(
            streaming.read_file_stream(spark, c_inbox, SCHEMA),
            streaming.read_file_stream(spark, p_inbox, SCHEMA),
            how,
        )
        name = f"ssoj_{how}"
        q = streaming.memory_sink(got_stream, name, output_mode="append")
        q.processAllAvailable()
        q.stop()
        got = {
            (r.click_id, r.purchase_id)
            for r in spark.table(name).collect()
        }
        want = {
            (r.click_id, r.purchase_id)
            for r in prep(read(c_inbox), read(p_inbox), how).collect()
        }
        assert got == want
        # click 2 (no purchase within 10min) surfaces with a NULL right
        assert {(1, 101), (3, 102), (2, None), (99, 199)} <= got, how
        assert extra <= got, how

    with pytest.raises(ValueError, match="join types"):
        streaming.interval_join_stream(
            read(c_inbox), read(p_inbox), "user_id", "user_id",
            "ts", "ts", how="cross",
        )


@pytest.mark.slow
def test_stream_stream_left_semi_interval_join(spark, tmp_path):
    """how='left_semi' on the watermarked stream-stream interval join:
    each left row with at least one in-window partner emits ONCE, with
    only the left schema; set equals the batch twin."""
    clicks = [
        [(1, "2024-01-01 10:00:00", 1, 0.0),
         (2, "2024-01-01 10:08:00", 1, 0.0),
         (3, "2024-01-01 10:30:00", 2, 0.0)],
        [(99, "2024-01-02 00:00:00", 9, 0.0)],
    ]
    purchases = [
        [(101, "2024-01-01 09:55:00", 1, 50.0),
         (102, "2024-01-01 10:29:00", 2, 70.0),
         (104, "2024-01-01 10:25:00", 2, 80.0)],  # 3 matches TWICE
        [(199, "2024-01-02 00:00:00", 9, 0.0)],
    ]
    c_inbox = write_inbox(tmp_path / "c", clicks)
    p_inbox = write_inbox(tmp_path / "p", purchases)

    def prep(cdf, pdf_):
        c = cdf.select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("user_id").alias("cuser"),
        )
        p = pdf_.select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("puser"),
        )
        return streaming.interval_join_stream(
            c, p, "cuser", "puser", "click_ts", "purchase_ts",
            "10 minutes", how="left_semi",
        )

    got_stream = prep(
        streaming.read_file_stream(spark, c_inbox, SCHEMA),
        streaming.read_file_stream(spark, p_inbox, SCHEMA),
    )
    assert got_stream.columns == ["click_id", "click_ts", "cuser"]
    q = streaming.memory_sink(got_stream, "sslsj", output_mode="append")
    q.processAllAvailable()
    q.stop()
    got = [r.click_id for r in spark.table("sslsj").collect()]
    assert sorted(got) == [1, 3, 99]  # 3 emitted once despite 2 partners

    read = lambda path: (
        spark.read.schema(SCHEMA).option("header", "true").csv(path)
    )
    want = sorted(
        r.click_id for r in prep(read(c_inbox), read(p_inbox)).collect()
    )
    assert sorted(got) == want


def test_compact_dedup_index_bounds_partitions_replay_safe(
    spark, tmp_path
):
    """compact_dedup_index folds the exact-fingerprint index's batch
    partitions into batch_id=-1: the fingerprint set is unchanged, a
    replay of a FOLDED batch is a no-op, a later duplicate still drops
    against the compacted index, and a crash between the swap renames is
    repaired by the next ingest batch (which also must not skip corpus
    dedup in that window)."""
    import os
    import shutil

    schema = "doc_id long, body string"
    idx = str(tmp_path / "cdi_index")
    silver = str(tmp_path / "cdi_silver")

    def ingest(rows, bid):
        streaming.dedup_ingest_batch(
            spark.createDataFrame(rows, schema), bid, idx, silver,
            "body", "doc_id",
        )

    ingest([(1, "alpha"), (2, "beta")], 0)
    ingest([(3, "gamma")], 1)

    def fps():
        return {r["fp"] for r in spark.read.parquet(idx).collect()}

    def silver_ids():
        return {
            (r.doc_id, r.batch_id)
            for r in spark.read.parquet(silver).collect()
        }

    f0, s0 = fps(), silver_ids()
    m = streaming.compact_dedup_index(spark, idx)
    assert m["batch_partitions_before"] == 2
    assert m["batch_partitions_after"] == 1
    assert fps() == f0
    assert [
        d for d in os.listdir(idx) if d.startswith("batch_id=")
    ] == ["batch_id=-1"]

    # replay of a folded batch: no-op on both sinks
    ingest([(3, "gamma")], 1)
    assert fps() == f0 and silver_ids() == s0

    # duplicate of folded content drops; novel content lands
    ingest([(10, "alpha"), (11, "delta")], 2)
    assert {v for v, _ in silver_ids()} == {1, 2, 3, 11}

    # crash window between the two renames: next ingest repairs (rolls
    # forward the complete tmp) and still dedups against the corpus
    tmp, old = idx + "__compact_tmp", idx + "__compact_old"
    shutil.copytree(idx, tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.replace(idx, old)
    ingest([(20, "beta")], 3)  # dup of folded content
    assert {v for v, _ in silver_ids()} == {1, 2, 3, 11}  # 20 dropped
    assert not os.path.exists(tmp) and not os.path.exists(old)
    # compaction composes after recovery
    streaming.compact_dedup_index(spark, idx)
    assert fps() == {r["fp"] for r in spark.read.parquet(idx).collect()}


@pytest.mark.slow
def test_compact_neardup_index_folds_sigs_tree(spark, tmp_path):
    """compact_neardup_index folds the single sigs/ tree into
    batch_id=-1 under the merge lock: the signature set is unchanged, a
    later near-duplicate still drops against the compacted index, a
    novel doc keeps merging, and a bands/ tree left by the older
    two-tree layout is ignored (bands are derived from sig at probe
    time)."""
    import os
    import shutil

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the watchful cat naps in the warm afternoon sun nearby"
    )
    schema = "doc_id long, body string"
    idx = str(tmp_path / "cni_index")
    silver = str(tmp_path / "cni_silver")

    def ingest(rows, bid):
        streaming.neardup_ingest_batch(
            spark.createDataFrame(rows, schema), bid, idx, silver,
            "doc_id", "body",
        )

    ingest([(1, base), (2, "completely different words entirely "
                           "unrelated to anything prior here today")], 0)
    ingest([(3, "yet another third document with its own fresh "
                "vocabulary and no overlap at all anywhere")], 1)
    assert sorted(os.listdir(idx)) == ["sigs"]
    # an older index's bands/ subtree: left alone, never read
    legacy = os.path.join(idx, "bands", "batch_id=0")
    shutil.copytree(os.path.join(idx, "sigs", "batch_id=0"), legacy)

    def sig_ids():
        return {
            r["doc_id"] for r in spark.read.parquet(idx + "/sigs").collect()
        }

    ids0 = sig_ids()
    m = streaming.compact_neardup_index(spark, idx)
    assert m["batch_partitions_before"] == 2  # 2 batches x 1 tree
    assert m["batch_partitions_after"] == 1
    assert m["rows"] == len(ids0) == 3
    assert [
        d
        for d in os.listdir(os.path.join(idx, "sigs"))
        if d.startswith("batch_id=")
    ] == ["batch_id=-1"]
    assert os.listdir(os.path.join(idx, "bands")) == ["batch_id=0"]
    assert sig_ids() == ids0

    # near-dup of folded doc 1 drops; novel doc lands
    ingest([(10, base + " extra"), (11, "novel closing phrase with "
            "distinct tokens nothing shares by design whatsoever")], 2)
    assert sig_ids() == ids0 | {11}
    sdocs = {r.doc_id for r in spark.read.parquet(silver).collect()}
    assert sdocs == {1, 2, 3, 11}


def test_compact_absent_index_is_clean_noop(spark, tmp_path):
    """Round-9 ADVICE regression: `maintain --compact-stream-index` on
    an index path that no ingest batch has created yet must return zero
    counts (like compact_neardup_index always did) instead of dying with
    a raw Spark PATH_NOT_FOUND AnalysisException."""
    for fn in (
        streaming.compact_dedup_index,
        streaming.compact_semdedup_index,
        streaming.compact_neardup_index,
        streaming.compact_fuzzy_index,
    ):
        m = fn(spark, str(tmp_path / "never_created"))
        assert m["batch_partitions_before"] == 0
        assert m["batch_partitions_after"] == 0
        assert m["rows"] == 0


@pytest.mark.slow
def test_sliding_distinct_users_stream_matches_batch(spark, tmp_path):
    """W3+: chained windowed aggregations compute an EXACT sliding
    distinct (DAU/WAU shape). Streamed with availableNow + append, only
    watermark-finalized windows emit; the batch twin on the same files
    must agree on exactly those windows."""
    # 3 users over 4 days; user 2 active on two days of the same window
    rows = [
        (1, "2024-01-01 08:00:00", 0, 1.0),
        (2, "2024-01-01 09:00:00", 1, 1.0),
        (3, "2024-01-02 10:00:00", 1, 1.0),  # dup presence of user 1
        (4, "2024-01-02 11:00:00", 2, 1.0),
        (5, "2024-01-03 12:00:00", 0, 1.0),
        (6, "2024-01-04 13:00:00", 2, 1.0),
        # sentinel far ahead so the watermark passes the windows above
        (7, "2024-01-20 00:00:00", 0, 1.0),
    ]
    inbox = write_inbox(tmp_path, [rows[:4], rows[4:]])
    stream = streaming.read_file_stream(spark, inbox, SCHEMA)
    got_q = streaming.sliding_distinct_users(
        stream, "ts", "user_id", window="2 days", slide="1 day",
        watermark="0 seconds",
    )
    q = streaming.memory_sink(got_q, "dauwau_t", output_mode="append")
    q.processAllAvailable()
    q.stop()
    got = {
        (r.w.start.isoformat(), r.n_distinct)
        for r in spark.table("dauwau_t").collect()
    }
    batch_df = spark.read.schema(SCHEMA).option("header", "true").csv(inbox)
    want_all = {
        (r.w.start.isoformat(), r.n_distinct)
        for r in streaming.sliding_distinct_users(
            batch_df, "ts", "user_id", window="2 days", slide="1 day"
        ).collect()
    }
    # append emits only finalized windows: got is the batch result minus
    # windows still open past the final watermark (the sentinel's own)
    assert got <= want_all
    finalized = {w for w in want_all if w[0] < "2024-01-19"}
    assert got >= finalized
    # spot values: window [01-01, 01-03) saw users {0,1,2};
    # [01-03, 01-05) saw {0,2}
    by_start = dict(want_all)
    assert by_start["2024-01-01T00:00:00"] == 3
    assert by_start["2024-01-03T00:00:00"] == 2


def test_sliding_distinct_users_approx_bounds_error(spark, tmp_path):
    """The HLL++ scale-path twin: streams with ONE windowed aggregation
    (sketch state, not per-key rows) and lands within rsd-bounds of the
    exact chained spelling on the same files."""
    rows = [
        (i, f"2024-01-0{1 + i % 3} 0{i % 9}:00:00", i % 40, 1.0)
        for i in range(120)
    ] + [(999, "2024-01-20 00:00:00", 0, 1.0)]
    inbox = write_inbox(tmp_path, [rows[:60], rows[60:]])
    stream = streaming.read_file_stream(spark, inbox, SCHEMA)
    q = streaming.memory_sink(
        streaming.sliding_distinct_users_approx(
            stream, "ts", "user_id", window="2 days", slide="1 day",
            watermark="0 seconds",
        ),
        "dauwau_approx_t",
        output_mode="append",
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r.w.start.isoformat(): r.n_distinct_approx
        for r in spark.table("dauwau_approx_t").collect()
    }
    assert got, "no finalized windows emitted"
    batch_df = spark.read.schema(SCHEMA).option("header", "true").csv(inbox)
    want = {
        r.w.start.isoformat(): r.n_distinct
        for r in streaming.sliding_distinct_users(
            batch_df, "ts", "user_id", window="2 days", slide="1 day"
        ).collect()
    }
    for start, approx in got.items():
        exact = want[start]
        assert abs(approx - exact) <= max(2, 0.1 * exact), (start, approx, exact)


def test_erasure_stream_applies_requests_and_replays_clean(spark, tmp_path):
    """Streaming GDPR sink: erasure requests streaming through a file
    source delete their keys from the versioned zone (one file-pruned
    commit per non-empty trigger); replaying the same inbox from a fresh
    checkpoint publishes NOTHING (the operator's own idempotency stands
    in for batch_id bookkeeping)."""
    import os

    from realtime_data_pipeline_spark import versioned

    zone = str(tmp_path / "erase_zone")
    versioned.commit_version(
        spark.range(100).toDF("user_id").coalesce(1), zone,
        bloom_cols=["user_id"],
    )
    inbox = str(tmp_path / "req_inbox")
    os.makedirs(inbox)
    for i, keys in enumerate([[7, 11], [55]]):
        p = os.path.join(inbox, f"b{i}.csv")
        with open(p, "w") as f:
            f.write("user_id\n")
            for k in keys:
                f.write(f"{k}\n")
        os.utime(p, (1_700_000_000 + i,) * 2)

    def run(ckpt):
        stream = streaming.read_file_stream(
            spark, inbox, "user_id long", max_files_per_trigger=1
        )
        q = streaming.erasure_stream(
            stream, zone, "user_id", checkpoint=str(tmp_path / ckpt)
        )
        q.awaitTermination(120)

    run("ck1")
    got = {r["user_id"] for r in versioned.read_version(spark, zone).collect()}
    assert got == set(range(100)) - {7, 11, 55}
    n_versions = len(versioned.versions(zone))
    assert n_versions == 3  # genesis + one commit per non-empty batch

    # full replay from a fresh checkpoint: keys already gone -> no commits
    run("ck2")
    assert len(versioned.versions(zone)) == n_versions
    got = {r["user_id"] for r in versioned.read_version(spark, zone).collect()}
    assert got == set(range(100)) - {7, 11, 55}
