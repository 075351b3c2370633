"""Structured Streaming layer (W1–W8) — the real pipeline the reference
only simulated.

The reference's ``scripts/simulate_stream.py`` slices bronze into CSV
files dropped in an inbox dir (``:6,26-33``) with NO consumer. Here the
inbox is consumed by the Structured Streaming **file source** (W1), flows
through event-time operators (W2–W6), and lands via a micro-batch DQ gate
(W7) into checkpointed exactly-once sinks (W8).

Scale/ops posture:
* explicit schema on every stream source (file sources require it; also
  pins the contract the batch path infers);
* ``maxFilesPerTrigger`` bounds per-batch work; ``availableNow`` gives
  deterministic catch-up runs that still respect those bounds;
* every stateful op is bounded by a watermark — no unbounded state; state
  store scales horizontally with shuffle partitions;
* ``foreachBatch`` reuses the BATCH DQ engine per micro-batch — one rule
  scan per batch, clean/quarantine routed to separate parquet roots. The
  checkpoint makes re-processing idempotent at the batch level.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from realtime_data_pipeline_spark import dq

# Independent per-batch sink writes run from a pool of this many driver
# threads (guide §2.6 back-fill; r16). 2 = overlap the pair of sinks;
# 1 = serialize them — the gate for saturated clusters where two
# concurrent jobs only fight for slots (measured both regimes in
# OPTIMIZATION_r17.md; override per deployment or per probe run).
SINK_POOL_WORKERS = int(os.environ.get("RDP_SINK_POOL_WORKERS", "2"))


def _write_batch_partitions(
    batch_id: int, sinks: tuple[tuple[DataFrame, str], ...]
) -> None:
    """Write each ``(frame, path)`` sink under its own ``batch_id=N``
    hive partition with dynamic overwrite, so a replayed micro-batch
    replaces exactly its own partitions (foreachBatch is at-least-once).
    The writes are independent jobs and run from a
    ``SINK_POOL_WORKERS``-thread pool (guide §2.6): one sink's tasks
    back-fill executors freed by another's tail instead of waiting for
    its last task + commit. The pool threads inherit the caller's Spark
    local properties, so the writes run under the caller's job group
    (a streaming query's, or a probe's) like the rest of the batch."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    @inheritable_thread_target(sinks[0][0].sparkSession)
    def _sink(sink: tuple[DataFrame, str]) -> None:
        df, path = sink
        (
            df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    with ThreadPoolExecutor(max_workers=SINK_POOL_WORKERS) as pool:
        # list() drains the iterator so the first sink's exception
        # propagates and the others still complete or fail loudly
        list(pool.map(_sink, sinks))


def read_file_stream(
    spark: SparkSession,
    inbox: str,
    schema: StructType | str,
    fmt: str = "csv",
    max_files_per_trigger: int = 1,
    header: bool = True,
) -> DataFrame:
    """W1: micro-batch file-source ingest — the consumer
    ``scripts/simulate_stream.py`` never had."""
    reader = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if fmt == "csv":
        reader = reader.option("header", str(header).lower())
    return reader.format(fmt).load(inbox)


def read_json_lines_stream(
    spark: SparkSession,
    inbox: str,
    schema: StructType | str,
    max_files_per_trigger: int = 1,
    raw_col: str = "raw_json",
) -> DataFrame:
    """W1 hardening: schema-drift-tolerant JSON-lines ingest. Reads the
    inbox as TEXT and parses with ``from_json``, so a malformed line
    surfaces as a NULL ``__parsed`` struct with the raw line preserved —
    it can be routed to a dead-letter sink and replayed after a schema
    fix, instead of poisoning the stream.

    Why not the JSON file source + ``_corrupt_record``: Spark disallows
    filtering on the internal corrupt-record column without caching
    (SPARK-21610), which a streaming micro-batch can't do from user code.
    text + ``from_json`` has identical PERMISSIVE semantics with no such
    restriction, stays one scan, and the parse is a pure projection. The
    corrupt-record field is declared INSIDE the parsed struct, because a
    *partially* valid line (truncated object, wrong quote) yields an
    all-NULL struct, not a NULL struct — only the corrupt field flags
    every malformed shape reliably. Drifted-but-valid lines degrade
    gracefully: unknown fields are ignored, missing fields come out NULL.

    Compose with :func:`json_malformed_rule` + :func:`flatten_parsed`
    through :func:`dq_gated_stream` for a full dead-letter pipeline.
    """
    if isinstance(schema, str):
        full_schema = f"{schema}, {_CORRUPT_FIELD} string"
    else:
        from pyspark.sql.types import StringType

        # StructType.add mutates in place — copy so the CALLER's schema
        # object doesn't silently grow a corrupt-record field
        full_schema = StructType(list(schema.fields)).add(
            _CORRUPT_FIELD, StringType()
        )
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(inbox)
    )
    return raw.select(
        F.col("value").alias(raw_col),
        F.from_json(
            F.col("value"),
            full_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT_FIELD},
        ).alias("__parsed"),
    )


_CORRUPT_FIELD = "__corrupt"


def json_malformed_rule() -> dq.Rule:
    """DQ rule marking unparseable JSON lines (NULL struct for garbage,
    populated corrupt field for partially-valid JSON) as violations —
    :func:`dq_gated_stream` then quarantines the raw line."""
    return dq.Rule(
        "malformed_json",
        F.col("__parsed").isNull()
        | F.col(f"__parsed.{_CORRUPT_FIELD}").isNotNull(),
        description="line failed from_json parse against the contract schema",
    )


def flatten_parsed() -> Callable[[DataFrame], DataFrame]:
    """Curate hook flattening ``__parsed`` into top-level columns for the
    silver sink (clean rows only — the quarantine side keeps the raw
    line + struct for triage/replay). Drops the corrupt-record field:
    clean rows have it NULL by construction."""

    def stage(df: DataFrame) -> DataFrame:
        return df.select("__parsed.*").drop(_CORRUPT_FIELD)

    return stage


def read_rate_stream(
    spark: SparkSession, rows_per_second: int = 1000, num_partitions: int | None = None
) -> DataFrame:
    """W1 companion: the built-in rate source — (timestamp, value) rows at
    a fixed rate. The standard synthetic load generator for soak/throughput
    tests of the streaming operators; schema matches what the windowed and
    stateful ops expect after a rename."""
    reader = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    )
    if num_partitions:
        reader = reader.option("numPartitions", num_partitions)
    return reader.load()


def with_watermark(df: DataFrame, ts_col: str, delay: str = "10 minutes") -> DataFrame:
    """W2: bound state + late-data admission by event time."""
    return df.withWatermark(ts_col, delay)


def tumbling_counts(
    df: DataFrame,
    ts_col: str,
    window: str = "5 minutes",
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
    slide: str | None = None,
) -> DataFrame:
    """W3: tumbling (or sliding, when ``slide`` is set) windowed counts.
    Works identically on batch DataFrames (no watermark applied there) —
    the batch twin is what the DuckDB oracle checks."""
    if df.isStreaming:
        df = with_watermark(df, ts_col, watermark)
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return df.groupBy(win.alias("w"), *(keys or [])).agg(
        F.count(F.lit(1)).alias("n_events")
    )


def session_aggregate(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: list[str],
    watermark: str = "10 minutes",
) -> DataFrame:
    """W4: session windows (gap-merged); batch-compatible."""
    if df.isStreaming:
        df = with_watermark(df, ts_col, watermark)
    return df.groupBy(F.session_window(ts_col, gap).alias("s"), *keys).agg(
        F.count(F.lit(1)).alias("n_events")
    )


def stream_dedup(
    df: DataFrame, keys: list[str], ts_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """W5: streaming exact dedup with bounded state — duplicates arriving
    within the watermark horizon are dropped; state older than the horizon
    is evicted (the batch twin is X1 ``exact_dedup``)."""
    return with_watermark(df, ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def sliding_distinct_users(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "7 days",
    slide: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """W3+: EXACT sliding-window distinct count over a stream (the
    DAU/WAU shape; batch twin `queries.timeseries.events_dau_wau`) —
    the operator Structured Streaming refuses to spell directly
    (``COUNT(DISTINCT)`` is not a streaming aggregate) and engines
    that allow it execute as a per-emit set rebuild.

    Spelling: CHAINED time-window aggregations, the Spark-3.5+
    multiple-stateful-operator path. Stage 1 groups by
    ``(window(ts), key)`` — its state holds one counter per (window,
    key) pair, and the emitted row per pair IS the distinct-presence
    bit. Stage 2 groups the finalized stage-1 rows by the window
    struct itself (event-time semantics carry through the window
    column) and counts rows = distinct keys. Both stages are
    incremental hash aggregates with watermark-bounded state; nothing
    ever rebuilds a set. Works identically on a batch DataFrame (no
    watermark), which is what the parity test compares against.

    Append-mode consequence: a window's count emits once, when the
    watermark passes its end — the streaming output is the FINALIZED
    windows only (the batch twin on the same data agrees on exactly
    those windows)."""
    if df.isStreaming:
        df = with_watermark(df, ts_col, watermark)
    per_key = df.groupBy(
        F.window(ts_col, window, slide).alias("w"), F.col(key_col)
    ).agg(F.count(F.lit(1)).alias("__n"))
    return per_key.groupBy("w").agg(
        F.count(F.lit(1)).alias("n_distinct")
    )


def sliding_distinct_users_approx(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "7 days",
    slide: str = "1 day",
    watermark: str = "1 day",
    rsd: float = 0.02,
) -> DataFrame:
    """Scale-path twin of :func:`sliding_distinct_users` for UNBOUNDED
    key cardinality: `approx_count_distinct` (HLL++) IS a legal
    streaming aggregate, so one windowed aggregation suffices and state
    per window is a fixed-size sketch (~kilobytes at rsd=0.02) instead
    of one row per distinct key. Use when keys don't fit stage-1 state
    (billions of users at 100 TB); the exact chained spelling remains
    the default where they do. Approximate by nature — rows-only, no
    SQL oracle; the test bounds its error against the exact twin."""
    if df.isStreaming:
        df = with_watermark(df, ts_col, watermark)
    return df.groupBy(F.window(ts_col, window, slide).alias("w")).agg(
        F.approx_count_distinct(key_col, rsd).alias("n_distinct_approx")
    )


def running_count_per_key(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
    expire_after_ms: int | None = None,
):
    """W6: custom stateful per-key logic via ``applyInPandasWithState`` —
    running event count + last-seen timestamp per key, emitted every
    micro-batch. The state dict is O(1) per key.

    ``expire_after_ms`` bounds TOTAL state: each key's state carries an
    event-time timeout at ``last_ts + expire_after_ms``; once the
    watermark passes it, the state entry is REMOVED (the key restarts
    from zero if it reappears). Without it the running count is exact
    forever but state grows with key cardinality — at 100 TB of
    unbounded keys, set it (the soak test proves eviction under both
    state-store providers). Timeout timestamps are clamped above the
    current watermark, as Spark requires.

    Spark 4's successor API (``transformWithStateInPandas`` +
    ``StatefulProcessor``) is the forward path for multi-state-variable /
    timer-driven operators, but its Python state server speaks protobuf
    and ``google.protobuf`` is not importable in this environment
    (verified: the query terminates with ImportError inside the state
    server), so this engine standardizes on ``applyInPandasWithState``,
    which covers every declared W6 use."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        ", ".join(f"{k} string" for k in keys)
        + ", n_events bigint, last_ts timestamp"
    )
    state_schema = "n bigint, last_ts timestamp"

    def update(key, pdfs, state: GroupState):
        if expire_after_ms is not None and state.hasTimedOut:
            state.remove()
            return
        n = 0
        last = None
        if state.exists:
            n, last = state.get
        for pdf in pdfs:
            n += len(pdf)
            batch_max = pdf[ts_col].max()
            last = batch_max if last is None else max(last, batch_max)
        state.update((n, last))
        if expire_after_ms is not None:
            last_ms = int(pd.Timestamp(last).value // 1_000_000)
            state.setTimeoutTimestamp(
                max(last_ms + expire_after_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(
            [[*key, n, last]], columns=[*keys, "n_events", "last_ts"]
        )

    return (
        with_watermark(df, ts_col, watermark)
        .groupBy(*keys)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout
                if expire_after_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def ema_per_key(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    halflife: str = "1 hour",
    watermark: str = "10 minutes",
):
    """Per-key exponentially-decayed running average via
    ``applyInPandasWithState`` — the TRUE sequential EMA the batch layer
    deliberately refuses to spell (``queries/mlfeat.py``): its
    window-function closed form needs exp(+λt) prefix products that
    overflow at real time spans. Stateful streaming is the right engine
    shape: state is O(1) per key — (ema, last_ts) — and each observation
    folds in as

        ema = v + exp(-λ·Δt) · ema_prev          (decayed SUM), with
        λ = ln2 / halflife, Δt = ts - last_ts

    computed over the batch's rows in event-time order (micro-batch
    grouping hands ALL of a key's rows to one call); a straggler behind
    the state's frontier joins pre-decayed by its own lag, so the fold
    is Σ v·exp(−λ(frontier − t)) EXACTLY and the result is invariant to
    arrival order across micro-batches. Decay factors are always
    exp(≤0) — no overflow at any time span, the same
    no-positive-exponent rule as the batch recency feature. Emits the
    per-key EMA once per micro-batch (update mode)."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    lam = math.log(2.0) / pd.Timedelta(halflife).total_seconds()
    # key columns keep their INPUT types (a hardcoded string schema would
    # reject bigint keys at the Arrow boundary on the first micro-batch)
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema
        if f.name in keys
    )
    out_schema = key_fields + ", ema double, last_ts timestamp"
    state_schema = "ema double, last_ts timestamp"

    def update(key, pdfs, state: GroupState):
        # fold rule: the state is the decayed sum AT the frontier time
        # `last`. An on-time event advances the frontier (state decays
        # forward, value joins at full weight); a cross-batch STRAGGLER
        # behind the frontier joins pre-decayed by its own lag and must
        # NOT regress `last` (that would over-decay the next on-time
        # event by the straggler's full lag). Both arms implement
        # Σ v·exp(−λ(frontier − t)) exactly, so the result is invariant
        # to arrival order (tested with an out-of-order batch).
        ema, last = (state.get if state.exists else (0.0, None))
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        for ts, v in zip(rows[ts_col], rows[value_col]):
            if last is None or ts >= last:
                if last is not None:
                    dt = (pd.Timestamp(ts) - pd.Timestamp(last)).total_seconds()
                    ema *= math.exp(-lam * dt)
                ema += float(v)
                last = ts
            else:
                lag = (pd.Timestamp(last) - pd.Timestamp(ts)).total_seconds()
                ema += float(v) * math.exp(-lam * lag)
        state.update((float(ema), last))
        yield pd.DataFrame(
            [[*key, float(ema), last]], columns=[*keys, "ema", "last_ts"]
        )

    return (
        with_watermark(df, ts_col, watermark)
        .groupBy(*keys)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_stats_per_key(
    stream: DataFrame,
    key_col: str,
    value_col: str,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Per-key running (count, sum, min, max) via Spark 4's arbitrary
    stateful API **v2** (`transformWithStateInPandas`) — the successor
    surface to `applyInPandasWithState` (which `stateful_counts` /
    `ema_per_key` cover): typed state VARIABLES fetched from a handle
    instead of one opaque state tuple, with per-variable TTL replacing
    hand-rolled timeout bookkeeping.

    Emits the updated stats row for every key seen in a trigger
    (Update mode). State is ONE 4-field row per key — O(live keys)
    total; ``ttl_ms`` bounds even that by expiring idle keys' state at
    the state-variable level (requires the processing-time mode, set
    automatically). Runs on the RocksDB provider with changelog
    checkpointing like every stateful operator here (`session.py`).

    Works only on streaming frames (the v2 operator has no batch
    fallback); its batch twin is a plain groupBy aggregate — the
    equivalence a test pins across a two-batch stream.

    ENVIRONMENT BOUNDARY: the v2 operator's state-server protocol needs
    ``protobuf`` (a pyspark extra this container does not ship). The
    check below fails at DEFINITION with this explanation instead of
    the query crashing at start with an opaque
    ``StreamingPythonRunnerInitializationFailure``; on a cluster with
    ``pyspark[connect]``/protobuf installed the operator just works —
    the implementation is complete, only the dependency is absent here
    (same boundary class as the JPEG/video codecs in multimodal.py)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "running_stats_per_key uses Spark's transformWithStateInPandas,"
            " whose Python state-server protocol requires the 'protobuf'"
            " package — not installed in this environment. Install"
            " protobuf (pip install protobuf) to enable the arbitrary"
            " stateful API v2; applyInPandasWithState operators"
            " (stateful_counts / ema_per_key) cover the same ground"
            " without it."
        ) from e
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    key_type = dict(
        (f.name, f.dataType.simpleString()) for f in stream.schema.fields
    )[key_col]
    out_schema = (
        f"{key_col} {key_type}, n bigint, total double, "
        "mn double, mx double"
    )
    state_schema = "n bigint, total double, mn double, mx double"

    class _RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", state_schema, ttl_ms
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total, mn, mx = 0, 0.0, None, None
            if self._stats.exists():
                n, total, mn, mx = self._stats.get()
            for pdf in rows:
                v = pdf[value_col].dropna()
                if len(v):
                    n += int(len(v))
                    total += float(v.sum())
                    lo, hi = float(v.min()), float(v.max())
                    mn = lo if mn is None else min(mn, lo)
                    mx = hi if mx is None else max(mx, hi)
            self._stats.update((n, total, mn, mx))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n": [n],
                    "total": [total],
                    "mn": [mn],
                    "mx": [mx],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=_RunningStats(),
        outputStructType=out_schema,
        outputMode="Update",
        # TTL is defined against a clock; the operator requires the
        # processing-time mode whenever any state variable carries one
        timeMode="ProcessingTime" if ttl_ms else "None",
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join bounded by an event-time interval
    (``left_ts - max_delay <= right_ts <= left_ts``) — the streaming
    counterpart of the batch as-of/interval join (J5). Both watermarks plus
    the time-bound condition let Spark evict join state: right rows older
    than ``watermark + max_delay`` below the left watermark can never match
    again and are dropped. Column names must be disjoint apart from the
    keys (rename upstream). Works identically on batch frames (watermarks
    skipped) — that twin is what tests compare against.

    ``how`` extends the inner default to the watermarked OUTER family
    (``left_outer`` / ``right_outer`` / ``full_outer``) and ``left_semi``
    — the same state-eviction bound makes the null-padded rows emittable:
    an unmatched left row is released (padded with right-side NULLs) once
    the watermark has passed the last event time that could still match
    it, i.e. on a LATER trigger, never within the row's own micro-batch.
    Batch twins are exact: the same join type over the same files (with
    watermarks skipped) yields the same row set — only the streaming
    emission TIME differs, which is the contract tests pin by driving a
    final watermark-advancing batch through the source.

    Sizing note (measured, round 10): a stream-stream join materializes
    FOUR state-store instances per shuffle partition, so set
    ``spark.sql.shuffle.partitions`` from STREAM volume before starting
    the query — at ~100k events/batch, 8 partitions ran 2.6× faster
    than the batch default of 32 (identical output); a high-volume
    stream raises it with volume. The conf is read once at query
    start."""
    allowed = {
        "inner", "left_outer", "right_outer", "full_outer", "left_semi"
    }
    if how not in allowed:
        raise ValueError(
            f"interval_join_stream: how={how!r} — supported stream-stream "
            f"join types: {sorted(allowed)}"
        )
    if left.isStreaming:
        left = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        right = right.withWatermark(right_ts, watermark)
    cond = (
        (left[left_key] == right[right_key])
        & (right[right_ts] <= left[left_ts])
        & (right[right_ts] >= left[left_ts] - F.expr(f"INTERVAL {max_delay}"))
    )
    return left.join(right, cond, how)


def curation_stage(
    text_col: str = "text",
    redact: bool = True,
    min_bands: tuple[str, ...] | None = None,
    require_en: bool = False,
    strip_boiler: bool = False,
    boiler_min_df: int = 3,
    id_col: str = "doc_id",
    quality_model: dict | None = None,
    quality_min_score: float = 0.5,
    quality_feat_seed: int = 41,
) -> Callable[[DataFrame], DataFrame]:
    """Composable per-batch curation transform for the medallion stream:
    PII redaction plus quality/language gates, all pure JVM column
    expressions (zero shuffle, whole-stage codegen) so the stage adds a
    projection + filter to the micro-batch plan, never a second scan.

    ``strip_boiler=True`` additionally REWRITES each batch's documents
    with batch-repeated 5-gram spans removed
    (:func:`text.strip_boilerplate` — cleaning, not just dropping).
    This is the one optional step that is NOT shuffle-free: detection
    needs within-batch doc-frequency, so it adds two hash-key shuffles
    of 8-byte gram hashes per micro-batch (never of text). Repetition
    across batches is invisible to it by design — batch-local df is the
    streaming analog of the batch query's corpus df; run the batch
    profile + cull over the accumulated silver zone for corpus-level
    boilerplate. Runs after the gates (a doc's quality is judged on its
    original text) and before redaction (placeholders would form fake
    repeated grams).

    Returns a ``DataFrame -> DataFrame`` callable to pass as
    :func:`dq_gated_stream`'s ``curate=`` hook — curation runs on the
    CLEAN side only (quarantined rows keep their raw text for triage).
    Filters run BEFORE redaction so quality/lang signals see the original
    text (redaction placeholders would perturb token stats)."""
    from realtime_data_pipeline_spark import text as _text

    def stage(df: DataFrame) -> DataFrame:
        out = df
        col = F.col(text_col)
        if min_bands:
            out = out.filter(_text.quality_band(col).isin(*min_bands))
        if require_en:
            out = out.filter(_text.lang_id_en_vote(col) == "en")
        if quality_model is not None:
            # trained gate (classifier.logreg_train model dict, loaded
            # once outside the stream): map-only Arrow scoring per
            # micro-batch, no shuffle — train once, score forever, the
            # streaming sibling of `assemble --quality-model`
            from realtime_data_pipeline_spark import classifier as _clf

            feats = _clf.hash_features(
                col,
                n_buckets=quality_model["dim"],
                seed=quality_feat_seed,
            )
            out = (
                _clf.logreg_score(
                    out.withColumn("__qx", feats), quality_model, "__qx",
                    out_col="__qscore",
                )
                .filter(F.col("__qscore") >= quality_min_score)
                .drop("__qx", "__qscore")
            )
        if strip_boiler:
            out = _text.strip_boilerplate(
                out, id_col=id_col, text_col=text_col, min_df=boiler_min_df
            )
        if redact:
            out = out.withColumn(text_col, _text.redact_pii(F.col(text_col)))
        return out

    return stage


def dq_route_batch(
    batch_df: DataFrame,
    batch_id: int,
    rules: list[dq.Rule],
    silver_path: str,
    quarantine_path: str,
    curate: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Route ONE micro-batch through the DQ gate: clean rows (optionally
    run through a ``curate`` transform, e.g. :func:`curation_stage`) land
    in silver, violations in quarantine — each under its own ``batch_id=N``
    hive partition with dynamic overwrite, so a replayed batch replaces its
    own partition (foreachBatch is at-least-once).

    The batch is persisted around the two writes — the standard
    foreachBatch multi-sink idiom. Without it each ``.write`` action
    re-evaluates the micro-batch plan and re-reads it from the source, so
    every batch is scanned once per sink (2× ingest I/O at 100 TB/day —
    round-3 verdict finding). With the persist, the first write
    materializes the cache and the second reads it; ``unpersist`` bounds
    executor memory to one in-flight batch.
    tests/test_streaming.py proves the single scan with a per-row
    accumulator upstream of the gate.

    The two sink writes are INDEPENDENT jobs and run from a 2-thread
    pool (optimization guide §2.6): the quarantine write's tasks
    back-fill executors freed by the silver write's tail instead of
    waiting for its last task + commit. The single-scan guarantee
    survives concurrency — cached-partition computation is serialized
    per block by the BlockManager, so whichever write touches a
    partition first computes it and the other blocks on the cache."""
    batch_df.persist()
    try:
        clean, bad = dq.split_clean_violations(batch_df, rules)
        if curate is not None:
            clean = curate(clean)

        _write_batch_partitions(
            batch_id, ((clean, silver_path), (bad, quarantine_path))
        )
    finally:
        batch_df.unpersist()


def dedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    silver_path: str,
    content_col: str,
    id_col: str,
    curate: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Route ONE micro-batch through corpus dedup: in-batch fingerprint
    dedup, then anti-join against the persisted index EXCLUDING this
    batch's own index partition, then write fresh rows + fresh
    fingerprints each under ``batch_id=N`` dynamic-overwrite partitions.

    The own-partition exclusion is what makes at-least-once replay
    EXACTLY-ONCE here — the subtlety an append-only index (the batch
    `incremental_fingerprint_dedup`) cannot give a stream: if a crash
    lands between the index append and the checkpoint commit, a replayed
    batch would find its own fingerprints in the index, emit ZERO fresh
    rows, and dynamic-overwrite its silver partition with nothing — data
    loss. Excluding ``batch_id=N`` from the freshness check makes the
    replay recompute the identical fresh set and overwrite BOTH
    partitions deterministically (regression-tested with a forced
    replay). Cost shape: the anti-join moves 32-char digests only.

    The index probe and the index write run under
    :func:`medallion._merge_lock` — the lock :func:`compact_dedup_index`
    holds for its rename swap — so a batch can never observe the
    compactor's between-renames window where the index is briefly absent
    (it would have admitted every duplicate as fresh); a compaction that
    crashed in that window is repaired first via
    :func:`_recover_index_swap`."""
    from realtime_data_pipeline_spark import dedup as _dedup
    from realtime_data_pipeline_spark.medallion import _merge_lock

    spark = batch_df.sparkSession
    # NULL content has no fingerprint: md5(NULL) is NULL, so the
    # keep-latest window would collapse every NULL-content doc in the
    # batch to ONE survivor and the anti-join (NULL never equals NULL)
    # would re-admit it forever — such rows bypass dedup entirely and
    # pass straight to silver, unindexed
    batch_df = batch_df.persist()
    # try/finally: a failed micro-batch write must not leak cached blocks
    # across foreachBatch retries in a long-running stream (same pattern
    # as dq_gate_stream's batch function)
    try:
        null_content = batch_df.filter(F.col(content_col).isNull())
        staged = batch_df.filter(
            F.col(content_col).isNotNull()
        ).withColumn(
            "__fp", _dedup.content_fingerprint(F.col(content_col))
        )
        batch_unique = _dedup.keep_latest(
            staged, ["__fp"], [F.col(id_col).asc()]
        )
        with _merge_lock(index_path, op="dedup-ingest"):
            _recover_index_swap(index_path)
            if os.path.exists(index_path):
                idx = spark.read.parquet(index_path).filter(
                    F.col("batch_id") != batch_id
                )
                fresh = batch_unique.join(
                    idx.select(F.col("fp").alias("__fp")), "__fp", "left_anti"
                )
            else:
                fresh = batch_unique
            # one materialization feeds both writes (and survives the silver
            # overwrite that would otherwise race the index read)
            fresh = fresh.localCheckpoint(eager=True)
            out = fresh.drop("__fp").unionByName(null_content)
            if curate is not None:
                # curation (PII redaction, quality gates) runs AFTER the
                # fingerprint was taken: the index remembers the ORIGINAL
                # content, so a redacted doc's raw twin arriving later is
                # still a duplicate — and curation stays a projection on
                # fresh rows
                out = curate(out)

            # the silver and index writes are independent jobs over the
            # already-checkpointed fresh set
            _write_batch_partitions(
                batch_id,
                (
                    (out, silver_path),
                    (fresh.select(F.col("__fp").alias("fp")), index_path),
                ),
            )
    finally:
        batch_df.unpersist()


def dedup_ingest_stream(
    df: DataFrame,
    index_path: str,
    silver_path: str,
    checkpoint: str,
    content_col: str,
    id_col: str,
    available_now: bool = True,
    curate: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """Streaming corpus-dedup ingest: every micro-batch is deduplicated
    against EVERYTHING ingested before it (cross-batch, via the persisted
    fingerprint index) and only fresh documents land in silver — the
    training-data ingest front door, as a stream. ``curate`` optionally
    runs on the fresh rows (e.g. :func:`curation_stage` for in-stream PII
    redaction) after fingerprinting, so dedup still sees original
    content. Exactly-once under foreachBatch replay by batch-scoped
    partitions on BOTH sinks (see :func:`dedup_ingest_batch`)."""

    def route(batch_df: DataFrame, batch_id: int) -> None:
        dedup_ingest_batch(
            batch_df, batch_id, index_path, silver_path, content_col, id_col,
            curate=curate,
        )

    writer = (
        df.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def neardup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    silver_path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 64,
    n_bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> None:
    """Route ONE micro-batch through NEAR-dup dedup against the persisted
    MinHash index, with the batch kernel shared with
    :func:`neardup.incremental_neardup_minhash`: signatures computed once
    (:func:`neardup.minhash_batch`), in-batch and index candidates
    verified and resolved in one action (:func:`neardup.neardup_losers`),
    then fresh docs and their signatures written under ``batch_id=N``
    dynamic-overwrite partitions of silver and of the index's single
    ``sigs/`` tree (band keys are derived from ``sig`` at probe time,
    never stored). Same exactly-once discipline as
    :func:`dedup_ingest_batch`: the index probe EXCLUDES the batch's own
    partition, so a replay after a crash between the index write and the
    checkpoint commit recomputes the identical fresh set instead of
    near-dup-matching itself into an empty one. Docs too short to
    shingle, and NULL text, pass through fresh and unindexed (they can
    never match).

    The index probe and writes run under :func:`medallion._merge_lock`
    — the lock :func:`compact_neardup_index` holds for its rename swap —
    so a batch can never observe a compaction's between-renames window
    where ``sigs/`` is briefly absent (it would have admitted every
    near-dup as fresh); a crashed swap is repaired first via
    :func:`_recover_index_swap`. The signature pass runs before the
    lock is taken."""
    from realtime_data_pipeline_spark import neardup as _nd
    from realtime_data_pipeline_spark.medallion import _merge_lock

    sigd = _nd.minhash_batch(batch_df, id_col, text_col, n=n, k=k, seed=seed)
    sig_dir = f"{index_path}/sigs"
    with _merge_lock(index_path, op="neardup-ingest"):
        _recover_index_swap(sig_dir)
        idx = None
        if os.path.exists(sig_dir):
            # exclude own batch partition: replay safety (see docstring)
            idx = (
                batch_df.sparkSession.read.schema(
                    f"{_nd.INDEX_SIGS_SCHEMA}, batch_id long"
                )
                .parquet(sig_dir)
                .filter(F.col("batch_id") != batch_id)
            )
        in_batch, index_dups = _nd.neardup_losers(
            sigd, idx, id_col, k=k, n_bands=n_bands, threshold=threshold
        )
        docs, sigs = _nd.neardup_fresh(sigd, in_batch | index_dups, id_col)
        _write_batch_partitions(
            batch_id, ((docs, silver_path), (sigs, sig_dir))
        )


def neardup_ingest_stream(
    df: DataFrame,
    index_path: str,
    silver_path: str,
    checkpoint: str,
    id_col: str,
    text_col: str,
    available_now: bool = True,
    **lsh_params,
) -> StreamingQuery:
    """Streaming NEAR-dup ingest: each micro-batch is near-deduplicated
    (MinHash-LSH + exact-Jaccard verify) against every prior batch via
    the persisted signature index — only novel documents land in silver.
    The cross-batch cost is (one batch signature pass + one band probe
    of the stored signatures), never a corpus self-join; exactly-once
    via batch-scoped partitions on both sinks
    (:func:`neardup_ingest_batch`)."""

    def route(batch_df: DataFrame, batch_id: int) -> None:
        neardup_ingest_batch(
            batch_df, batch_id, index_path, silver_path, id_col, text_col,
            **lsh_params,
        )

    writer = (
        df.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def fuzzy_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    silver_path: str,
    id_col: str,
    key_col: str,
    max_dist: int = 1,
) -> None:
    """Route ONE micro-batch through FUZZY entity resolution against the
    persisted deletion-variant index: in-batch fuzzy dedup
    (:func:`fuzzy.fuzzy_self_pairs`, smaller id wins), then a
    variant-hash probe + exact-Levenshtein verify against all PRIOR
    batches' entities, then write fresh rows + their variant hashes +
    their keys under ``batch_id=N`` dynamic-overwrite partitions. The
    record-linkage front door as a stream: a re-registration whose name
    differs by ≤ ``max_dist`` edits from an already-ingested entity is
    dropped as a duplicate.

    Index layout is two subtrees: ``vars/`` (vh, id) — the blocking
    structure, 8-byte hashes only — and ``keys/`` (id, key) — the verify
    strings, one row per entity
    (never per variant). Candidate = index variant-hash ∩ batch
    variant-hash (complete for d ≤ 2 by the symmetric-delete pigeonhole
    argument, `fuzzy.py`); verify joins the ≤candidate-bounded key
    strings back and keeps only pairs with exact
    ``levenshtein ≤ max_dist``. NULL keys can never match — they pass
    through fresh and unindexed.

    Same exactly-once discipline as the sibling ingests: the probe
    EXCLUDES the batch's own partitions, so a replay after a crash
    between the index write and the checkpoint commit recomputes the
    identical fresh set; probe + writes hold the medallion merge lock
    shared with :func:`compact_fuzzy_index`, with crashed compaction
    swaps repaired first."""
    from realtime_data_pipeline_spark import dedup as _dedup
    from realtime_data_pipeline_spark import fuzzy as _fz
    from realtime_data_pipeline_spark.medallion import _merge_lock

    spark = batch_df.sparkSession
    batch_df = batch_df.persist()
    try:
        null_keys = batch_df.filter(F.col(key_col).isNull())
        eligible = batch_df.filter(F.col(key_col).isNotNull())

        in_batch_pairs = _fz.fuzzy_self_pairs(
            eligible, id_col, key_col, max_dist=max_dist
        )
        batch_kept = _dedup.drop_neardups(eligible, in_batch_pairs, id_col)
        new_vars = _fz._exploded_variants(
            batch_kept, id_col, key_col, max_dist
        ).localCheckpoint(eager=True)

        var_dir = f"{index_path}/vars"
        key_dir = f"{index_path}/keys"
        with _merge_lock(index_path, op="fuzzy-ingest"):
            _recover_index_swap(var_dir)
            _recover_index_swap(key_dir)
            if os.path.exists(var_dir):
                idx_vars = spark.read.parquet(var_dir).filter(
                    F.col("batch_id") != batch_id
                )
                idx_keys = spark.read.parquet(key_dir).filter(
                    F.col("batch_id") != batch_id
                )
                cand = (
                    idx_vars.join(
                        F.broadcast(
                            new_vars.select(
                                F.col(id_col).alias("new_id"), "__vh"
                            )
                        ),
                        "__vh",
                    )
                    .select(F.col(id_col).alias("old_id"), "new_id")
                    .distinct()
                )
                dup_new = (
                    idx_keys.select(
                        F.col(id_col).alias("old_id"),
                        F.col(key_col).alias("__key_old"),
                    )
                    .join(F.broadcast(cand), "old_id")
                    .join(
                        F.broadcast(
                            batch_kept.select(
                                F.col(id_col).alias("new_id"),
                                F.col(key_col).alias("__key_new"),
                            )
                        ),
                        "new_id",
                    )
                    .filter(
                        F.levenshtein(
                            F.col("__key_old"), F.col("__key_new")
                        )
                        <= max_dist
                    )
                    .select(F.col("new_id").alias(id_col))
                    .distinct()
                )
                fresh = batch_kept.join(dup_new, id_col, "left_anti")
            else:
                fresh = batch_kept
            fresh = fresh.localCheckpoint(eager=True)
            fresh_ids = fresh.select(id_col)

            def _bwrite(df: DataFrame, path: str) -> None:
                (
                    df.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(path)
                )

            _bwrite(fresh.unionByName(null_keys), silver_path)
            _bwrite(
                new_vars.join(F.broadcast(fresh_ids), id_col).select(
                    id_col, "__vh"
                ),
                var_dir,
            )
            _bwrite(fresh.select(id_col, key_col), key_dir)
    finally:
        batch_df.unpersist()


def fuzzy_ingest_stream(
    df: DataFrame,
    index_path: str,
    silver_path: str,
    checkpoint: str,
    id_col: str,
    key_col: str,
    max_dist: int = 1,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming fuzzy entity-resolution ingest: each micro-batch is
    matched (symmetric-delete blocking + exact Levenshtein verify)
    against every prior batch via the persisted variant index — only
    novel entities land in silver. Cross-batch cost is (batch variants ×
    index probe), never a corpus self-join; exactly-once via
    batch-scoped partitions on all three sinks
    (:func:`fuzzy_ingest_batch`)."""

    def route(batch_df: DataFrame, batch_id: int) -> None:
        fuzzy_ingest_batch(
            batch_df, batch_id, index_path, silver_path, id_col, key_col,
            max_dist=max_dist,
        )

    writer = (
        df.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# Per-stage wall clock of the LAST semdedup ingest batches, keyed
# stage -> cumulative seconds (+ "batches" count) since the last
# clear() — the decomposition bench.py records so the steady-state
# marginal names its dominant term instead of guessing (r13 verdict
# #6; same pattern as cli.LAST_ASSEMBLE_STAGES). Updated per batch by
# semdedup_ingest_batch; callers clear() before a run they want
# isolated. Diagnostic only — never read by the operator itself.
LAST_SEMDEDUP_STAGES: dict[str, float] = {}


def _sem_stage(stage: str, dt: float) -> None:
    LAST_SEMDEDUP_STAGES[stage] = round(
        LAST_SEMDEDUP_STAGES.get(stage, 0.0) + dt, 3
    )


def semdedup_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    silver_path: str,
    id_col: str,
    vec_col: str,
    threshold: float = 0.35,
    n_bits: int = 8,
    centroids=None,
    index_layout: str = "bucket",
) -> None:
    """Route ONE micro-batch through SEMANTIC (embedding-space) dedup
    against the persisted kept-vector index — the third member of the
    streaming ingest trio (exact :func:`dedup_ingest_batch`, near-dup
    :func:`neardup_ingest_batch`, semantic here; SemDeDup shape,
    arXiv:2303.09540). In-batch dominance dedup (smaller id wins, the
    one-shot rule), then a within-bucket cosine probe of all PRIOR
    batches' kept vectors, then fresh rows + fresh vectors land under
    dynamic-overwrite partitions.

    Same exactly-once discipline as the siblings: the probe EXCLUDES the
    batch's own partitions, so a crash between the index write and the
    checkpoint commit replays into the identical fresh set instead of
    dup-matching itself into an empty one. The index is laid out
    ``bucket=M/batch_id=N`` — bucket FIRST, so the probe reads only the
    batch's bucket directories (one multi-path basePath read, the
    flat-at-10× spelling measured in BENCH_scale_r08.json) and the
    replay exclusion rides the ``batch_id`` partition column underneath.
    NULL-embedding rows can match nothing and pass through to silver
    unindexed. ``centroids=`` swaps in the trained quantizer — the
    documented default for τ < 0.5 (LSH_RECALL.json).

    ``index_layout`` (round-15, verdict r14 item #2 — the measured
    answer to the index_write floor the r14 stage decomposition named):
    ``"bucket"`` (default) lays the index out ``bucket=M/batch_id=N``
    — the probe dir-prunes to the batch's buckets, but every batch's
    dynamic-overwrite commit walks ~2^n_bits partition directories
    (~23 ms/dir: the constant-per-batch floor that dominated the
    multibatch leg at bench batch sizes). ``"flat"`` partitions by
    ``batch_id`` ONLY (bucket becomes a plain column, files clustered
    on it via repartition+sortWithinPartitions so parquet min/max
    stats still prune row groups): the commit touches ONE directory
    per batch, trading dir-pruned probes for a footer-read of the
    whole index — the right trade while the index is small or batches
    are frequent; at a large index the bucket layout's probe pruning
    wins back. Crossover MEASURED (round-16, perturbed-copy indexes,
    BENCH_semdedup_layout_r16.json): with bench-shaped batches
    (~500 rows covering ~86% of 256 buckets) the flat/bucket ratio
    climbs monotonically with compacted-index size — 0.32x at 2k
    kept vectors, 0.79x at 20k, 0.92x at 60k, 1.25x at 200k — so
    bucket first wins at roughly 1-2*10^5 kept vectors (~100 MB at
    d=64) and the gap keeps widening with the index. Narrow batches
    (~50 rows, ~18% bucket coverage) only reach parity at 200k
    (0.98x): row-group clustering lets flat skip almost as well as
    dirs when little of the index is relevant. Rule: default to
    "flat" below ~10^5 kept vectors or for high-frequency small
    batches; switch to "bucket" (compact + rebuild) once the
    compacted index passes ~10^5-10^6 vectors. Earlier bench-scale
    numbers in BENCH_semdedup_layout_r15.json / BASELINE.md
    round-15 notes. Exactly-once semantics are identical
    (own-``batch_id``-partition overwrite + replay exclusion ride the
    batch_id partition column in both layouts), and
    :func:`compact_semdedup_index` detects the layout and folds
    either.

    The corpus probe and the index write run under
    :func:`medallion._merge_lock` on the index path — the lock
    :func:`compact_semdedup_index` holds for its rename swap — so a
    batch can never observe the compactor's between-renames window where
    the index is briefly absent (which would silently skip corpus dedup
    and admit duplicates); a compaction that crashed in that window is
    repaired first via :func:`_recover_semdedup_swap`. A LIVE concurrent
    compaction fails the batch loudly (``ConcurrentMergeError`` → the
    stream retries the batch) instead of corrupting it."""
    from realtime_data_pipeline_spark import manifest_layout as _ml
    from realtime_data_pipeline_spark import similarity as _sim
    from realtime_data_pipeline_spark.medallion import (
        _hive_partition_dirs,
        _merge_lock,
    )

    if index_layout not in ("bucket", "flat", "manifest"):
        raise ValueError(
            "index_layout must be 'bucket', 'flat' or 'manifest', "
            f"got {index_layout!r}"
        )
    spark = batch_df.sparkSession
    batch_df = batch_df.persist()
    try:
        null_vec = batch_df.filter(F.col(vec_col).isNull())
        staged = _sim._staged_vectors(
            batch_df.filter(F.col(vec_col).isNotNull()),
            vec_col, n_bits, centroids,
        )
        slim = staged.select(
            F.col(id_col).alias("__id"), "__bucket", "__vec", "__norm"
        )
        _t = time.perf_counter()
        # lazy persist, not an eager checkpoint: the id set is consumed
        # twice (both anti-joins) but always inside ONE downstream
        # action (the bucket collect / fresh checkpoint), where the
        # cache fills on first touch — the separate materializing job
        # this stage used to run was pure scheduling overhead. Stage
        # attribution note: in_batch_pairs now reads ~0 and its work
        # lands in index_probe's span (documented, OPTIMIZATION_r16.md).
        in_batch_dropped = (
            _sim._similar_pairs(slim, slim, threshold)
            .filter(F.col("__id_a") < F.col("__id_b"))
            .select(F.col("__id_b").alias(id_col))
            .distinct()
            .persist()
        )
        _sem_stage("in_batch_pairs", time.perf_counter() - _t)
        batch_kept = staged.join(in_batch_dropped, id_col, "left_anti")
        kept_slim = slim.join(
            in_batch_dropped.select(F.col(id_col).alias("__id")),
            "__id",
            "left_anti",
        )
        # LOCK-HOLD NOTE (ADVICE r16): in_batch_dropped is a LAZY persist,
        # so the O(batch²) in-batch pair computation first materializes
        # INSIDE this critical section (during the bucket collect / fresh
        # checkpoint). That is deliberate: foreachBatch delivers batches
        # serially, so the streaming path is single-writer and the extra
        # lock hold blocks nobody, while forcing the cache pre-lock would
        # reinstate the separate materializing job r16 removed. Deployments
        # with CONCURRENT ad-hoc writers or a hot compactor loop should
        # force the cache before taking the lock (a count() on
        # in_batch_dropped here) and eat the extra job.
        with _merge_lock(index_path, op="semdedup-ingest"):
            _t = time.perf_counter()
            _recover_semdedup_swap(index_path)
            if os.path.exists(index_path):
                # layout guard: writing flat batch_id= dirs into a
                # bucket-partitioned index (or vice versa) would leave
                # conflicting hive partition columns at the top level —
                # unreadable, and silently so only at the NEXT probe.
                # Fail loudly at the mismatch instead.
                subdirs = [
                    e
                    for e in os.listdir(index_path)
                    if os.path.isdir(os.path.join(index_path, e))
                ]
                has_bucket = any(e.startswith("bucket=") for e in subdirs)
                has_batch = any(e.startswith("batch_id=") for e in subdirs)
                # only enforce when the layout is DETERMINATE: a first
                # batch whose fresh set was empty writes only _SUCCESS
                # (no partition dirs), which must not pin the index to
                # either layout — treating it as flat made every later
                # bucket-layout batch raise forever (ADVICE r15). A
                # manifest index is determinate the moment its pointer
                # file exists (even with zero keys).
                if _ml.is_manifest_table(index_path):
                    existing_layout = "manifest"
                elif has_batch and not has_bucket:
                    existing_layout = "flat"
                elif has_bucket or has_batch:
                    existing_layout = "bucket"
                else:
                    existing_layout = None
                if (
                    existing_layout is not None
                    and existing_layout != index_layout
                ):
                    raise ValueError(
                        f"semdedup index at {index_path} is laid out as "
                        f"{existing_layout} but "
                        f"index_layout={index_layout!r} was requested; "
                        f"an index keeps its layout for life — compact "
                        f"and rebuild to change it"
                    )
                buckets = [
                    r["__bucket"]
                    for r in kept_slim.select("__bucket")
                    .distinct()
                    .collect()
                ]
                index = None
                if existing_layout is None:
                    # dir exists but holds no data (the empty-first-
                    # batch case above): nothing to probe, and a bare
                    # read would die on schema inference
                    pass
                elif existing_layout == "manifest":
                    # bucket -> gen pointers + row-group pruning: the
                    # probe reads only the gens holding the batch's
                    # buckets, never the whole index tree
                    index = _ml.pruned_read(
                        spark, index_path, "bucket", buckets
                    )
                elif existing_layout == "flat":
                    # one batch_id dir per batch: no bucket dirs to
                    # prune — the bucket predicate prunes ROW GROUPS
                    # via the write-side clustering instead
                    index = spark.read.parquet(index_path).filter(
                        F.col("bucket").isin(buckets)
                    )
                else:
                    dirs = _hive_partition_dirs(
                        index_path, "bucket", buckets
                    )
                    if dirs is not None:
                        existing = [
                            d for _, d in dirs if os.path.isdir(d)
                        ]
                        if existing:
                            index = (
                                spark.read.option(
                                    "basePath", index_path
                                ).parquet(*existing)
                            )
                    else:  # unprovable hive names (impossible for ints)
                        index = spark.read.parquet(index_path).filter(
                            F.col("bucket").isin(buckets)
                        )
                if index is not None:
                    index = index.filter(
                        F.col("batch_id") != batch_id  # replay exclusion
                    ).select(
                        F.col(id_col).alias("__id"),
                        F.col("bucket").alias("__bucket"),
                        F.col("vec").alias("__vec"),
                        F.col("norm").alias("__norm"),
                    )
                    corpus_dups = (
                        _sim._similar_pairs(
                            index, F.broadcast(kept_slim), threshold
                        )
                        .select(F.col("__id_b").alias(id_col))
                        .distinct()
                    )
                    batch_kept = batch_kept.join(
                        corpus_dups, id_col, "left_anti"
                    )
            fresh = batch_kept.localCheckpoint(eager=True)
            in_batch_dropped.unpersist()  # fresh is checkpointed
            _sem_stage("index_probe", time.perf_counter() - _t)

            def _bwrite(
                df: DataFrame, path: str, parts: list[str]
            ) -> None:
                (
                    df.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(*parts)
                    .parquet(path)
                )

            idx_rows = fresh.select(
                F.col(id_col),
                F.col("__vec").alias("vec"),
                F.col("__norm").alias("norm"),
                F.col("__bucket").alias("bucket"),
            )

            def _silver_sink() -> None:
                _t = time.perf_counter()
                _bwrite(
                    fresh.drop("__vec", "__bucket", "__norm").unionByName(
                        null_vec
                    ),
                    silver_path,
                    ["batch_id"],
                )
                _sem_stage("silver_write", time.perf_counter() - _t)

            def _index_sink() -> None:
                _t = time.perf_counter()
                if index_layout == "manifest":
                    # ONE gen-dir commit + one pointer swap per batch.
                    # Exactly-once under foreachBatch replay: the
                    # previous attempt's gen (tracked in the manifest's
                    # own batch_id -> gen map, so it can never be stale
                    # relative to the pointers) is RETRACTED in the
                    # same atomic swap that publishes the redo — the
                    # manifest analog of the hive layouts' own-
                    # batch_id-partition overwrite.
                    import shutil

                    from pyspark.sql import Observation

                    bmap = dict(
                        _ml.read_extra(index_path).get("batch_gens", {})
                    )
                    old_gen = bmap.get(str(batch_id))
                    obs = Observation()
                    gen = _ml.write_gen(
                        idx_rows.withColumn("batch_id", F.lit(batch_id))
                        .observe(
                            obs, F.collect_set("bucket").alias("bkts")
                        )
                        .repartition(4, F.col("bucket")),
                        index_path,
                        "bucket",
                    )
                    bmap[str(batch_id)] = gen
                    _ml.publish(
                        index_path,
                        sorted(obs.get["bkts"]),
                        gen,
                        mode="append",
                        retract=None if old_gen is None else [old_gen],
                        extra={"batch_gens": bmap},
                    )
                    if old_gen is not None:  # dereferenced by the swap
                        shutil.rmtree(
                            _ml.gen_dir(index_path, old_gen),
                            ignore_errors=True,
                        )
                elif index_layout == "flat":
                    # ONE partition dir per batch: the commit floor is a
                    # single directory, not 2^n_bits. A few bucket-hashed
                    # files, each sorted on bucket, keep parquet min/max
                    # stats tight so the probe's bucket filter prunes row
                    # groups instead of directories.
                    _bwrite(
                        idx_rows.repartition(4, F.col("bucket"))
                        .sortWithinPartitions("bucket"),
                        index_path,
                        ["batch_id"],
                    )
                else:
                    # repartition ON the bucket key before the
                    # partitioned write (the same discipline as
                    # build_ivf_index's cell write and this index's own
                    # compactor): a multi-partition batch would
                    # otherwise write a file into every bucket dir PER
                    # input partition. Measured honesty (r12): at sf0.1
                    # this trims little — the dominant cost of this
                    # write is the ~256 partition DIRECTORIES' own
                    # dynamic-overwrite commit protocol (~6s, ~23ms/dir,
                    # constant in batch size: the leg's floor,
                    # amortizing once each dir holds real data) — but it
                    # bounds file count to one per bucket at any batch
                    # size.
                    _bwrite(
                        idx_rows.repartition("bucket"),
                        index_path,
                        ["bucket", "batch_id"],
                    )
                _sem_stage("index_write", time.perf_counter() - _t)

            # independent sink jobs over the checkpointed fresh set —
            # 2-thread pool (guide §2.6) so the big index-dir commit
            # overlaps the silver write instead of queueing behind it.
            # Stage spans now OVERLAP (each records its own write's
            # wall); their sum upper-bounds the sink phase's wall.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=SINK_POOL_WORKERS) as pool:
                list(pool.map(lambda f: f(), (_silver_sink, _index_sink)))
            _sem_stage("batches", 1.0)
    finally:
        batch_df.unpersist()


def semdedup_ingest_stream(
    df: DataFrame,
    index_path: str,
    silver_path: str,
    checkpoint: str,
    id_col: str,
    vec_col: str,
    available_now: bool = True,
    threshold: float = 0.35,
    n_bits: int = 8,
    centroids=None,
    index_layout: str = "bucket",
) -> StreamingQuery:
    """Streaming SEMANTIC dedup ingest: each micro-batch of embedded rows
    is deduplicated in embedding space against every prior batch via the
    persisted kept-vector index — only semantically novel rows land in
    silver. Cross-batch cost is (in-batch bucketed pairs + bucket-pruned
    index probe with the batch broadcast), never a corpus self-join;
    exactly-once via batch-scoped partitions on both sinks
    (:func:`semdedup_ingest_batch`). Greedy-kept chain semantics across
    batches, like the batch incremental (drift measured in
    LSH_RECALL.json#semdedup_incremental_drift)."""

    def route(batch_df: DataFrame, batch_id: int) -> None:
        semdedup_ingest_batch(
            batch_df, batch_id, index_path, silver_path, id_col, vec_col,
            threshold=threshold, n_bits=n_bits, centroids=centroids,
            index_layout=index_layout,
        )

    writer = (
        df.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _recover_index_swap(index_path: str) -> None:
    """Finish (or undo) a compaction swap that crashed between its two
    renames (shared by all three streaming ingest indexes — exact
    fingerprint, MinHash near-dup, semantic). The swap is index→old then
    tmp→index; a crash in the gap leaves NO directory at ``index_path``
    — and a stream batch that ran in that window would see the index as
    absent and skip corpus dedup entirely, silently admitting
    duplicates. Called under :func:`medallion._merge_lock` by both the
    compactors and the ingest-batch probes, so the index a batch probes
    is always a complete snapshot: roll FORWARD when the compacted tmp
    is complete (Spark's ``_SUCCESS`` marker), roll BACK to the old
    layout otherwise, and clear dead leftovers once ``index_path``
    exists."""
    import shutil

    index_path = os.path.normpath(index_path)
    tmp = f"{index_path}__compact_tmp"
    old = f"{index_path}__compact_old"
    if os.path.exists(index_path):
        # normal state, or crash before the first rename / after the
        # second: any leftover staging dirs are dead weight
        for p in (tmp, old):
            if os.path.exists(p):
                shutil.rmtree(p)
        return
    if os.path.exists(old):
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.replace(tmp, index_path)  # roll forward
            shutil.rmtree(old)
        else:
            os.replace(old, index_path)  # roll back
            if os.path.exists(tmp):
                shutil.rmtree(tmp)


# the semdedup-specific name the round-9 swap work introduced; kept as an
# alias now that the recovery is shared by all three ingest indexes
_recover_semdedup_swap = _recover_index_swap


def _count_batch_dirs(root: str) -> int:
    """``batch_id=N`` partition-dir count under ``root``, descending one
    level into any hive-style parent dirs (``bucket=M/...``) — the
    quantity the index compactors bound."""
    if not os.path.isdir(root):
        return 0
    n = 0
    for b in os.listdir(root):
        bp = os.path.join(root, b)
        if not os.path.isdir(bp):
            continue
        if b.startswith("batch_id="):
            n += 1
        elif "=" in b:
            n += sum(
                1
                for d in os.listdir(bp)
                if d.startswith("batch_id=")
                and os.path.isdir(os.path.join(bp, d))
            )
    return n


def _fold_batch_partitions(
    spark: SparkSession,
    data_dir: str,
    partition_cols: list[str],
    cluster_cols: list[str] | None = None,
) -> int:
    """Fold every ``batch_id=N`` partition under ``data_dir`` into a
    single ``batch_id=-1`` (rows are immutable facts — a pure relayout,
    no merge algebra), written through a temp dir and swapped in with
    two renames. The caller holds :func:`medallion._merge_lock` and has
    run :func:`_recover_index_swap`. ``cluster_cols``: when the layout
    has no non-batch PARTITION columns (the flat layouts), re-cluster
    the folded files on these plain columns so parquet min/max stats
    keep pruning row groups after compaction. Returns the folded row
    count."""
    import shutil

    data_dir = os.path.normpath(data_dir)
    folded = (
        spark.read.parquet(data_dir)
        .drop("batch_id")
        .withColumn("batch_id", F.lit(-1))
    )
    non_batch = [c for c in partition_cols if c != "batch_id"]
    if non_batch:
        folded = folded.repartition(*non_batch)
    elif cluster_cols:
        folded = folded.repartition(
            4, *[F.col(c) for c in cluster_cols]
        ).sortWithinPartitions(*cluster_cols)
    tmp = f"{data_dir}__compact_tmp"
    folded.write.mode("overwrite").partitionBy(*partition_cols).parquet(tmp)
    rows = spark.read.parquet(tmp).count()
    old = f"{data_dir}__compact_old"
    os.replace(data_dir, old)
    os.replace(tmp, data_dir)
    shutil.rmtree(old)
    return rows


def compact_semdedup_index(spark: SparkSession, index_path: str) -> dict:
    """Maintenance for the streaming semantic-dedup index
    (:func:`semdedup_ingest_batch`'s ``bucket=M/batch_id=N`` layout): fold
    every bucket's per-batch partitions into a single ``batch_id=-1``
    partition. The probe lists the ``batch_id`` children of each touched
    bucket dir, so after 10⁴ batches each bucket carries 10⁴ subdirs;
    compaction bounds that to 1 (+1 per post-compaction batch) — the same
    merge-on-read growth :func:`compact_rollup` bounds for rollups.

    The swap runs under :func:`medallion._merge_lock` on the index path
    — the same lock :func:`semdedup_ingest_batch` takes around its probe
    — so a stream batch can never observe the between-renames window
    where ``index_path`` is briefly absent (it would have skipped corpus
    dedup and admitted duplicates); and a crash inside the window is
    repaired by :func:`_recover_index_swap` (roll forward when the
    compacted tmp carries ``_SUCCESS``, roll back otherwise) before the
    next compaction or ingest batch touches the index. Run during a
    quiet window AFTER the stream's checkpoint has committed the folded
    batches; even a hypothetical replay of a folded batch stays safe —
    its vectors now sit in ``batch_id=-1``, which the own-partition-
    EXCLUDING probe treats as prior corpus, so the replay computes zero
    fresh rows and its dynamic overwrites replace nothing.

    Returns before/after per-bucket batch-partition counts and rows."""
    from realtime_data_pipeline_spark.medallion import _merge_lock

    index_path = os.path.normpath(index_path)
    with _merge_lock(index_path, op="semdedup-compact"):
        _recover_index_swap(index_path)
        if not os.path.isdir(index_path):
            # index never created (no ingest batch yet) — a clean no-op,
            # mirroring compact_neardup_index's per-subtree guard, so the
            # CLI maintain path reports zero counts instead of a JVM
            # PATH_NOT_FOUND traceback.
            return {
                "batch_partitions_before": 0,
                "batch_partitions_after": 0,
                "rows": 0,
            }
        from realtime_data_pipeline_spark import manifest_layout as _ml

        if _ml.is_manifest_table(index_path):
            # manifest layout: fold every live gen into one, with
            # batch_id reset to -1 (folded rows must read as PRIOR
            # corpus under the probe's own-batch exclusion — keeping
            # original batch_ids would hide a folded batch's rows from
            # its own replay, which would then re-append them) and the
            # batch_id -> gen map cleared in the same swap.
            import shutil

            from pyspark.sql import Observation

            man = _ml.read_manifest(index_path) or {}
            gens_before = sorted({g for v in man.values() for g in v})
            if not gens_before:
                return {
                    "batch_partitions_before": 0,
                    "batch_partitions_after": 0,
                    "rows": 0,
                }
            obs = Observation()
            gen = _ml.write_gen(
                _ml.pruned_read(spark, index_path, "bucket")
                .withColumn("batch_id", F.lit(-1))
                .observe(obs, F.count(F.lit(1)).alias("rows"))
                .repartition(4, F.col("bucket")),
                index_path,
                "bucket",
            )
            _ml.publish(
                index_path,
                man.keys(),
                gen,
                mode="replace",
                extra={"batch_gens": {}},
            )
            for e in os.listdir(index_path):  # old gens + crash orphans
                if e.startswith("gen=") and e != f"gen={gen}":
                    shutil.rmtree(
                        os.path.join(index_path, e), ignore_errors=True
                    )
            return {
                "batch_partitions_before": len(gens_before),
                "batch_partitions_after": 1,
                "rows": int(obs.get["rows"]),
            }
        before = _count_batch_dirs(index_path)
        # layout detection (round-15): a flat index
        # (``index_layout="flat"``, batch_id= dirs at the top level)
        # folds on batch_id alone, re-clustering files on the plain
        # bucket column; the default bucket layout folds per bucket dir
        subdirs = [
            e
            for e in os.listdir(index_path)
            if os.path.isdir(os.path.join(index_path, e))
        ]
        if not any(
            e.startswith("bucket=") or e.startswith("batch_id=")
            for e in subdirs
        ):
            # dir exists but holds no partition dirs (first batch had an
            # empty fresh set → only _SUCCESS): layout indeterminate,
            # nothing to fold (ADVICE r15 — same stance as the ingest
            # guard)
            return {
                "batch_partitions_before": before,
                "batch_partitions_after": before,
                "rows": 0,
            }
        flat = not any(e.startswith("bucket=") for e in subdirs)
        if flat:
            rows = _fold_batch_partitions(
                spark, index_path, ["batch_id"], cluster_cols=["bucket"]
            )
        else:
            rows = _fold_batch_partitions(
                spark, index_path, ["bucket", "batch_id"]
            )
        return {
            "batch_partitions_before": before,
            "batch_partitions_after": _count_batch_dirs(index_path),
            "rows": rows,
        }


def compact_dedup_index(spark: SparkSession, index_path: str) -> dict:
    """Maintenance for the streaming exact-dedup fingerprint index
    (:func:`dedup_ingest_batch`'s flat ``batch_id=N`` layout): fold all
    per-batch partitions into ``batch_id=-1``, bounding the probe's
    partition listing after 10⁴ batches exactly like
    :func:`compact_semdedup_index` does for the semantic index. Same
    lock (shared with the ingest probe), same crash-repaired rename
    swap, same replay-safety argument: folded fingerprints read as
    prior corpus under the own-partition exclusion, so a hypothetical
    folded-batch replay computes zero fresh rows and overwrites
    nothing."""
    from realtime_data_pipeline_spark.medallion import _merge_lock

    index_path = os.path.normpath(index_path)
    with _merge_lock(index_path, op="dedup-compact"):
        _recover_index_swap(index_path)
        if not os.path.isdir(index_path):
            # same clean no-op as compact_semdedup_index: absent index
            # (no ingest batch yet) returns zero counts, no JVM error.
            return {
                "batch_partitions_before": 0,
                "batch_partitions_after": 0,
                "rows": 0,
            }
        before = _count_batch_dirs(index_path)
        rows = _fold_batch_partitions(spark, index_path, ["batch_id"])
        return {
            "batch_partitions_before": before,
            "batch_partitions_after": _count_batch_dirs(index_path),
            "rows": rows,
        }


def compact_neardup_index(spark: SparkSession, index_path: str) -> dict:
    """Maintenance for the streaming near-dup MinHash index
    (:func:`neardup_ingest_batch`'s single ``sigs/`` tree,
    ``batch_id=N``-partitioned): fold its per-batch partitions into
    ``batch_id=-1`` under the merge lock, crash-repaired like the
    siblings (:func:`_recover_index_swap`). Band keys are derived from
    ``sig`` at probe time, so there is nothing else to fold; a
    ``bands/`` tree left by an older index layout is ignored. Replay
    safety as the siblings: folded rows read as prior corpus under the
    own-partition exclusion. A not-yet-created index is a clean
    zero-count no-op."""
    from realtime_data_pipeline_spark.medallion import _merge_lock

    index_path = os.path.normpath(index_path)
    sig_dir = os.path.join(index_path, "sigs")
    with _merge_lock(index_path, op="neardup-compact"):
        _recover_index_swap(sig_dir)
        if not os.path.isdir(sig_dir):
            return {
                "batch_partitions_before": 0,
                "batch_partitions_after": 0,
                "rows": 0,
            }
        before = _count_batch_dirs(sig_dir)
        rows = _fold_batch_partitions(spark, sig_dir, ["batch_id"])
        return {
            "batch_partitions_before": before,
            "batch_partitions_after": _count_batch_dirs(sig_dir),
            "rows": rows,
        }


def compact_fuzzy_index(spark: SparkSession, index_path: str) -> dict:
    """Maintenance for the streaming fuzzy entity-resolution index
    (:func:`fuzzy_ingest_batch`'s ``vars/`` + ``keys/`` subtrees, each
    ``batch_id=N``-partitioned): fold both subtrees' per-batch
    partitions into ``batch_id=-1`` under ONE lock hold — the
    discipline of :func:`compact_neardup_index`, per subtree
    (crash-repaired rename swaps; folded rows read as prior corpus under
    the own-partition exclusion, so a folded-batch replay computes zero
    fresh rows and overwrites nothing). A not-yet-created index is a
    clean zero-count no-op."""
    from realtime_data_pipeline_spark.medallion import _merge_lock

    index_path = os.path.normpath(index_path)
    var_dir = os.path.join(index_path, "vars")
    key_dir = os.path.join(index_path, "keys")
    with _merge_lock(index_path, op="fuzzy-compact"):
        out = {"rows": 0}
        before = after = 0
        for d in (var_dir, key_dir):
            _recover_index_swap(d)
            if not os.path.isdir(d):
                continue  # index half never written (e.g. all-NULL keys)
            before += _count_batch_dirs(d)
            out["rows"] += _fold_batch_partitions(spark, d, ["batch_id"])
            after += _count_batch_dirs(d)
        out["batch_partitions_before"] = before
        out["batch_partitions_after"] = after
        return out


def dq_gated_stream(
    df: DataFrame,
    rules: list[dq.Rule],
    silver_path: str,
    quarantine_path: str,
    checkpoint: str,
    available_now: bool = True,
    curate: Callable[[DataFrame], DataFrame] | None = None,
) -> StreamingQuery:
    """W7+W8: per-micro-batch DQ gate → clean/quarantine parquet sinks,
    checkpointed. Reuses the batch single-pass DQ split, so rule cost is
    one scan of each micro-batch — and the batch itself is scanned from
    the source exactly ONCE per trigger (persisted around the two sink
    writes; see :func:`dq_route_batch`).

    ``curate`` optionally runs a clean-side transform per batch (PII
    redaction / quality gates — :func:`curation_stage`), making curation a
    pipeline capability, not only a batch query.

    foreachBatch is at-least-once: a crash between the sink write and the
    checkpoint commit re-executes the batch on restart. The write is made
    idempotent by landing every batch in its own ``batch_id=N`` hive
    partition with DYNAMIC partition overwrite — a replayed batch replaces
    its own partition instead of appending duplicates."""

    def route(batch_df: DataFrame, batch_id: int) -> None:
        dq_route_batch(
            batch_df, batch_id, rules, silver_path, quarantine_path, curate
        )

    writer = (
        df.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class MetricsLogger:
    """Streaming observability: a ``StreamingQueryListener`` appending one
    JSON line per micro-batch progress event to ``out_path`` — batch id,
    input rows, processed rows/sec, batch duration, per-operator state
    rows. The artifact complements the DQ report (what was routed) with
    HOW the stream is keeping up; a flat-file twin of what Spark's UI
    shows, greppable and shippable to any metrics pipeline.

    Listener callbacks run on the driver's listener bus OFF the query
    thread — file appends here never back-pressure the stream. Register
    via :func:`attach_metrics_logger`; detach with
    ``spark.streams.removeListener(logger)``."""

    def __init__(self, out_path: str):
        from pyspark.sql.streaming import StreamingQueryListener

        out = out_path

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                import json as _json

                p = event.progress
                rec = {
                    "query_id": str(p.id),
                    "batch_id": p.batchId,
                    "timestamp": p.timestamp,
                    "num_input_rows": p.numInputRows,
                    "processed_rows_per_second": p.processedRowsPerSecond,
                    "duration_ms": dict(p.durationMs or {}),
                    "state_rows": [
                        so.numRowsTotal for so in (p.stateOperators or [])
                    ],
                }
                with open(out, "a") as f:
                    f.write(_json.dumps(rec) + "\n")

            def onQueryTerminated(self, event):  # noqa: N802
                pass

            def onQueryIdle(self, event):  # noqa: N802
                pass

        self._listener = _L()

    @property
    def listener(self):
        return self._listener


def attach_metrics_logger(spark: SparkSession, out_path: str):
    """Register a :class:`MetricsLogger` on the session's stream bus;
    returns the listener handle for ``spark.streams.removeListener``."""
    ml = MetricsLogger(out_path)
    spark.streams.addListener(ml.listener)
    return ml.listener


def upsert_stream(
    df: DataFrame,
    target_path: str,
    keys: list[str],
    order_by: list[str],
    partition_col: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """CDC-style streaming upsert sink: every micro-batch is MERGED into
    the keyed target via :func:`medallion.merge_upsert` instead of
    appended — the table converges to latest-version-per-key as updates
    stream in (the merge-sink pattern Delta users reach for, format-free).

    Idempotence comes from merge semantics, not partition bookkeeping: a
    replayed batch re-applies the same (key, version) rows, updates win
    order_by ties, and the table is unchanged — so foreachBatch's
    at-least-once redelivery is safe without ``batch_id`` partitions.
    Each trigger touches only the partitions the batch names (the
    merge's pruning contract), so a steady trickle of late corrections
    never rewrites the table."""
    from realtime_data_pipeline_spark import medallion

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        medallion.merge_upsert(
            batch_df.sparkSession,
            target_path,
            batch_df,
            keys=keys,
            order_by=order_by,
            partition_col=partition_col,
        )

    writer = (
        df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def erasure_stream(
    requests: DataFrame,
    zone_root: str,
    key_col: str,
    checkpoint: str,
    available_now: bool = True,
    max_retries: int = 5,
) -> StreamingQuery:
    """Streaming GDPR sink: each micro-batch of erasure REQUESTS (rows
    carrying ``key_col`` values to forget) is applied to the versioned
    zone via :func:`versioned.delete_keys` — right-to-be-forgotten at
    stream speed, each trigger one file-pruned erasure commit.

    Idempotence is the operator's own (pinned in tests): a replayed
    batch finds its keys already gone — the rebuilt blooms prune to zero
    candidates or the rewrite finds zero rows — and publishes NOTHING,
    so foreachBatch's at-least-once redelivery needs no batch_id
    bookkeeping. A concurrent append racing an erasure raises
    ``ConcurrentCommitError`` inside delete_keys (the CAS guard);
    the batch retries against the new latest a bounded number of times —
    erasure must re-scan commits it has not seen, never skip them.
    Request keys are collected per batch (bounded: an erasure batch is
    a compliance queue, not a data stream)."""
    from realtime_data_pipeline_spark import versioned

    def erase_batch(batch_df: DataFrame, batch_id: int) -> None:
        vals = [
            r[key_col]
            for r in batch_df.select(key_col).distinct().collect()
            if r[key_col] is not None
        ]
        if not vals:
            return
        # delete_keys owns the optimistic re-read/re-prune retry loop
        versioned.delete_keys(
            batch_df.sparkSession,
            zone_root,
            key_col,
            vals,
            max_retries=max_retries,
        )

    writer = (
        requests.writeStream.foreachBatch(erase_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def scd2_stream(
    df: DataFrame,
    target_path: str,
    keys: list[str],
    effective_col: str,
    checkpoint: str,
    tracked: list[str] | None = None,
    n_buckets: int = 256,
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming SCD2 sink: every micro-batch of observations is merged
    into the historized dimension via :func:`medallion.scd2_merge` — the
    table accretes interval history as changes stream in, instead of
    :func:`upsert_stream`'s keep-latest overwrite.

    Idempotence comes from the merge's rebuild semantics: chains are
    reconstructed from (stored segments ∪ batch), so a replayed batch
    reconstructs the identical chains and foreachBatch's at-least-once
    redelivery is safe without ``batch_id`` bookkeeping. Each trigger
    prunes to and rewrites only the key-hash buckets the batch touches —
    a steady change trickle never rewrites the dimension. Out-of-order
    delivery across micro-batches is ABSORBED, not dropped: a late
    observation splices into its historical position (batch-split
    invariance is property-tested on the batch API)."""
    from realtime_data_pipeline_spark import medallion

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        medallion.scd2_merge(
            batch_df.sparkSession,
            target_path,
            batch_df,
            keys=keys,
            effective_col=effective_col,
            tracked=tracked,
            n_buckets=n_buckets,
        )

    writer = (
        df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def temporal_enrich_stream(
    df: DataFrame,
    dim_path: str,
    keys: list[str],
    ts_col: str,
    out_path: str,
    checkpoint: str,
    how: str = "left",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming point-in-time enrichment — the consumer half of the
    SCD2 story: :func:`scd2_stream` accretes the dimension from a
    change feed; THIS attributes an in-flight fact stream the dimension
    values in force at each fact's OWN event time
    (:func:`medallion.scd2_temporal_join` per micro-batch), so late
    facts pick up historical attributes and never leak today's. The
    dimension is re-resolved AT EVERY TRIGGER, so segments merged
    between triggers are visible to the next batch.

    Scale shape: the dimension read prunes to the batch's key-hash
    buckets — the same ``pmod(xxhash64(keys), n_buckets)`` partition
    filter :func:`medallion.scd2_merge` writes through (n_buckets from
    the table's pinned sidecar), so one trigger scans
    |batch-keys|/n_buckets of the history, and the join is one shuffle
    of the (bounded) batch against that slice. Sink appends are
    at-least-once under foreachBatch replay (same contract as every
    non-transactional sink here); route through the versioned-zone
    writer for exactly-once."""
    from realtime_data_pipeline_spark import medallion

    def enrich(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        n_buckets = medallion._scd2_read_meta(dim_path)["n_buckets"]
        bucket = F.pmod(
            F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)
        ).cast("int")
        batch_df = batch_df.persist()
        try:
            affected = sorted(
                r[0]
                for r in batch_df.select(bucket.alias("b"))
                .distinct()
                .collect()
            )
            # layout-dispatched pruned read: manifest tables resolve
            # bucket -> gen pointers (no partition-tree listing at
            # all), hive tables keep the isin partition filter
            dim = medallion.scd2_read(spark, dim_path, buckets=affected)
            if dim is None:  # no stored history for these buckets yet
                dim = medallion.scd2_read(spark, dim_path).limit(0)
            medallion.scd2_temporal_join(
                batch_df, dim, keys, ts_col, how=how
            ).write.mode("append").parquet(out_path)
        finally:
            batch_df.unpersist()

    writer = df.writeStream.foreachBatch(enrich).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def rollup_batch_writer(
    out_path: str,
    ts_col: str,
    window_duration: str,
    value_col: str,
    distinct_col: str | None = None,
    lg_k: int = 12,
    histogram: tuple[float, float, int] | None = None,
) -> Callable[[DataFrame, int], None]:
    """The per-micro-batch step of :func:`continuous_rollup`, exposed so
    tests can drive it directly (including replaying a batch_id to prove
    idempotence).

    ``distinct_col`` adds an incrementally-maintained APPROX COUNT
    DISTINCT to the rollup: each batch's partial carries an HLL sketch
    (``hll_sketch_agg``, Apache DataSketches binary — a few KB at
    ``lg_k=12``, ~2-3% rsd) and the view merges with ``hll_union_agg``.
    Sketches are the only distinct-count partial that is MERGEABLE —
    exact per-batch distinct counts cannot be combined across batches
    (the same user in two batches would double-count), so without
    sketches a distinct metric would force re-scanning raw events. HLL
    union is exact over sketches: union-of-partials == sketch-of-union,
    bit-for-bit estimate equality (tested), so replay/compaction algebra
    is unchanged.

    ``histogram=(lo, hi, bins)`` adds incrementally-maintained APPROX
    QUANTILES: each batch's partial carries a per-window fixed-bin
    histogram as a ``map<bin, n>`` column (``sketches.histogram_build``'s
    binning — out-of-range clamps to edge bins, NULLs dropped) with the
    geometry stamped beside it. Bin counts ADD, so the merge is exact
    (merge-of-partials == histogram-of-union) and replay/compaction
    algebra is unchanged — the mergeable quantile partial
    ``percentile_approx`` never exposes, wired into the stream. The view
    finalizes the merged map to per-window quantile estimates (error ≤
    one bin width, same math as ``sketches.histogram_quantile``)."""
    if histogram is not None:
        h_lo, h_hi, h_bins = histogram
        if h_hi <= h_lo:
            raise ValueError(
                f"histogram requires lo < hi, got [{h_lo}, {h_hi})"
            )
        if h_bins < 1:
            raise ValueError(f"histogram requires bins >= 1, got {h_bins}")

    def write_partials(batch_df: DataFrame, batch_id: int) -> None:
        if histogram is not None:
            # the histogram needs a second aggregation pass (per-window
            # per-bin, then per-window map) — persist so the micro-batch
            # source is scanned once, not once per aggregation
            batch_df = batch_df.persist()
        win = F.window(ts_col, window_duration).alias("w")
        aggs = [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("double")).alias("sum_value"),
            F.min(F.col(value_col).cast("double")).alias("min_value"),
            F.max(F.col(value_col).cast("double")).alias("max_value"),
        ]
        cols = ["n_events", "sum_value", "min_value", "max_value"]
        if distinct_col:
            aggs.append(
                F.hll_sketch_agg(distinct_col, F.lit(lg_k)).alias(
                    "distinct_sketch"
                )
            )
            cols.append("distinct_sketch")
        partials = (
            batch_df.groupBy(win)
            .agg(*aggs)
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                *cols,
            )
        )
        if histogram is not None:
            w_width = (h_hi - h_lo) / h_bins
            bin_ = F.least(
                F.greatest(
                    F.floor(
                        (F.col(value_col).cast("double") - F.lit(h_lo))
                        / F.lit(w_width)
                    ).cast("int"),
                    F.lit(0),
                ),
                F.lit(h_bins - 1),
            )
            hist = (
                batch_df.filter(F.col(value_col).isNotNull())
                .groupBy(win, bin_.alias("__bin"))
                .agg(F.count(F.lit(1)).alias("__n"))
                .groupBy(
                    F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                )
                .agg(
                    F.map_from_entries(
                        F.array_sort(
                            F.collect_list(F.struct("__bin", "__n"))
                        )
                    ).alias("hist_bins")
                )
            )
            partials = (
                partials.join(hist, ["window_start", "window_end"], "left")
                .withColumn(
                    "hist_bins",
                    F.coalesce(
                        F.col("hist_bins"),
                        F.map_from_entries(
                            F.array().cast("array<struct<k:int,v:bigint>>")
                        ),
                    ),
                )
                .withColumn("hist_lo", F.lit(float(h_lo)))
                .withColumn("hist_hi", F.lit(float(h_hi)))
                .withColumn("hist_nbins", F.lit(int(h_bins)))
            )
        try:
            (
                partials.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_path)
            )
        finally:
            if histogram is not None:
                batch_df.unpersist()

    return write_partials


def continuous_rollup(
    df: DataFrame,
    ts_col: str,
    window_duration: str,
    value_col: str,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
    distinct_col: str | None = None,
    histogram: tuple[float, float, int] | None = None,
) -> StreamingQuery:
    """Incremental materialized aggregate (continuous rollup): maintain a
    per-time-window summary table that stays current as micro-batches
    arrive — the hypertable/continuous-aggregate pattern on plain parquet.

    Design (the one that is exactly-once WITHOUT an ACID table format):
    each micro-batch writes per-window PARTIAL aggregates (count/sum/min/
    max — all mergeable) into its own ``batch_id=N`` partition with dynamic
    overwrite, so a replayed batch replaces its own partials instead of
    double-counting. :func:`rollup_view` merges partials on read. A
    read-modify-write merge into final rows would NOT be replay-safe here:
    re-running a batch after a partial failure would re-add its deltas.

    Scale shape: only window-grained partial rows cross from compute to
    storage per batch (bounded by windows-per-batch, independent of event
    volume); the raw events never land in the rollup at all. Periodic
    compaction = :func:`compact_rollup`, which re-aggregates all partials
    into a single ``batch_id=-1`` partition during a quiet window (same
    merge expressions as the view) so the merge-on-read stays bounded.
    """
    writer = (
        df.writeStream.foreachBatch(
            rollup_batch_writer(
                out_path, ts_col, window_duration, value_col,
                distinct_col=distinct_col, histogram=histogram,
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _hist_quantile_from_entries(entries, lo, hi, nbins, q):
    """Per-row quantile estimate from a sorted ``array<struct<bin, n>>``
    histogram — the same math as ``sketches.histogram_quantile`` (landing
    bin = first whose cumulative count reaches rank q·total; linear
    interpolation inside it, clamped), spelled as one ``aggregate`` HOF
    over the ≤bins-entry array so the rollup view computes per-window
    quantiles with zero extra shuffle. ``lo``/``hi``/``nbins`` are
    Columns (the stamped geometry); ``q`` is a Python float. NULL when
    the window saw no non-null values."""
    w = (hi - lo) / nbins.cast("double")
    total = F.aggregate(
        entries, F.lit(0).cast("long"), lambda a, x: a + x["__n"]
    )
    rank = F.lit(float(q)) * total.cast("double")
    init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(None).cast("double").alias("est"),
    )

    def step(acc, x):
        cum2 = acc["cum"] + x["__n"]
        frac = (rank - acc["cum"].cast("double")) / F.greatest(
            x["__n"].cast("double"), F.lit(1.0)
        )
        fr = F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
        est = F.when(acc["est"].isNotNull(), acc["est"]).otherwise(
            F.when(
                cum2.cast("double") >= rank,
                lo + (x["__bin"].cast("double") + fr) * w,
            )
        )
        return F.struct(cum2.alias("cum"), est.alias("est"))

    return F.aggregate(entries, init, step, lambda acc: acc["est"])


def _merge_rollup_partials(
    partials: DataFrame,
    keep_sketch: bool,
    quantiles: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """The ONE set of merge expressions shared by :func:`rollup_view` and
    :func:`compact_rollup` (they must agree or compaction would change
    the view). ``keep_sketch=True`` keeps the merged HLL as a SKETCH and
    the merged histogram as a MAP so the result stays mergeable
    (compaction path); ``False`` finalizes them to ``approx_distinct`` /
    ``approx_p{Q}`` estimates (reader path).

    Histogram merge: bin counts add, so summing exploded map entries per
    (window, bin) is EXACT — merge-of-partials == histogram-of-union.
    Geometry columns ride the grouping key: partials written with
    different (lo, hi, bins) would surface as duplicate window rows —
    visible, never silently mixed (same discipline as
    ``sketches.histogram_merge``)."""
    aggs = [
        F.sum("n_events").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    ]
    if "distinct_sketch" in partials.columns:
        merged = F.hll_union_agg("distinct_sketch")
        aggs.append(
            merged.alias("distinct_sketch")
            if keep_sketch
            else F.hll_sketch_estimate(merged).alias("approx_distinct")
        )
    out = partials.groupBy("window_start", "window_end").agg(*aggs)
    if "hist_bins" not in partials.columns:
        return out
    keys = ["window_start", "window_end"]
    geo = ["hist_lo", "hist_hi", "hist_nbins"]
    entries = (
        partials.select(*keys, *geo, F.explode("hist_bins").alias("__bin", "__n"))
        .groupBy(*keys, *geo, "__bin")
        .agg(F.sum("__n").alias("__n"))
        .groupBy(*keys, *geo)
        .agg(
            F.array_sort(F.collect_list(F.struct("__bin", "__n"))).alias(
                "__entries"
            )
        )
    )
    if keep_sketch:
        merged_hist = entries.select(
            *keys,
            F.map_from_entries("__entries").alias("hist_bins"),
            *geo,
        )
        return out.join(merged_hist, keys, "left").withColumn(
            "hist_bins",
            F.coalesce(
                F.col("hist_bins"),
                F.map_from_entries(
                    F.array().cast("array<struct<k:int,v:bigint>>")
                ),
            ),
        )
    # reader path: finalize to quantile estimate columns. The geometry is
    # constant per rollup config, so reading it from the row keeps the
    # expressions pure-column (no driver action); hypothetical mixed
    # geometries yield per-geometry rows via the join key above.
    qcols = [
        _hist_quantile_from_entries(
            F.col("__entries"),
            F.col("hist_lo"),
            F.col("hist_hi"),
            F.col("hist_nbins"),
            q,
        ).alias(f"approx_p{int(round(q * 100))}")
        for q in quantiles
    ]
    finalized = entries.select(*keys, *qcols)
    return out.join(finalized, keys, "left")


def rollup_view(
    spark: SparkSession,
    out_path: str,
    quantiles: tuple[float, ...] = (0.5, 0.95),
) -> DataFrame:
    """Merge-on-read over :func:`continuous_rollup` partials: one small
    groupBy on window bounds (partials are already window-grained, so this
    aggregates a table ~windows × batches rows, not events). If the
    rollup carries distinct sketches, the view exposes the finalized
    ``approx_distinct`` estimate per window; if it carries histogram
    partials, per-window ``approx_p{Q}`` quantile estimates for each
    requested ``quantiles`` entry (error ≤ one bin width)."""
    partials = spark.read.parquet(out_path)
    return _merge_rollup_partials(
        partials, keep_sketch=False, quantiles=quantiles
    )


def rollup_partition_count(out_path: str) -> int:
    """Number of ``batch_id=N`` partition directories currently under a
    rollup root — the quantity :func:`compact_rollup` bounds."""
    import os

    return sum(
        1
        for d in os.listdir(out_path)
        if d.startswith("batch_id=")
        and os.path.isdir(os.path.join(out_path, d))
    )


def compact_rollup(spark: SparkSession, out_path: str) -> dict:
    """Maintenance for :func:`continuous_rollup`: fold every ``batch_id=N``
    partial partition into a single ``batch_id=-1`` partition, using the
    SAME merge expressions as :func:`rollup_view` — so the view's result is
    identical before and after, but merge-on-read now scans one partition
    instead of one per historical micro-batch (after 10⁴ batches the
    un-compacted view would list 10⁴ partition dirs).

    Count/sum/min/max partials are re-mergeable, so compaction composes:
    running it twice ≡ once (idempotent), and new post-compaction batches
    merge with the ``batch_id=-1`` partition exactly like any other partial.

    Safety: run during a quiet window, AFTER the stream's checkpoint has
    committed the batches being folded — availableNow + checkpoint
    guarantees committed batches never replay, so a folded batch can't
    re-appear as a fresh ``batch_id=N`` and double-count. The rewrite goes
    through a temp dir and a rename-based swap (same discipline as
    ``medallion.compact``): the new root is fully written before the old
    one moves aside, so a crash leaves either the old or the new complete
    dataset. At 100 TB you'd run this against an ACID table format instead;
    the partial/merge algebra is unchanged.

    Returns before/after partition-dir counts and the compacted row count.
    """
    import os
    import shutil

    out_path = os.path.normpath(out_path)
    before = rollup_partition_count(out_path)
    # keep_sketch: the folded partition must stay MERGEABLE with future
    # batch partials — finalizing the HLL to an estimate here would make
    # the next compaction/view unable to union it
    compacted = _merge_rollup_partials(
        spark.read.parquet(out_path), keep_sketch=True
    ).withColumn("batch_id", F.lit(-1))
    tmp = f"{out_path}__compact_tmp"
    compacted.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
    rows = spark.read.parquet(tmp).count()
    old = f"{out_path}__compact_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.replace(out_path, old)
    os.replace(tmp, out_path)
    shutil.rmtree(old)
    return {
        "partitions_before": before,
        "partitions_after": rollup_partition_count(out_path),
        "rows": rows,
    }


def parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
    partition_by: str | None = None,
) -> StreamingQuery:
    """W8: exactly-once file sink — parquet + checkpoint (the file sink's
    output log makes replays idempotent)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def memory_sink(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Deterministic test sink (SURVEY §5 item 4)."""
    writer = (
        df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def slice_to_inbox(
    df: DataFrame,
    inbox: str,
    n_batches: int,
    order_col: str,
) -> list[str]:
    """Test helper replicating ``scripts/simulate_stream.py:21-33`` with a
    DETERMINISTIC slicer (row_number over ``order_col``, not the
    reference's unordered limit/tail). Writes n_batches CSV files named so
    file-source ordering matches slice order. Driver-side by design — it
    exists to feed the streaming tests, not to run at scale."""
    import os

    from pyspark.sql import Window

    os.makedirs(inbox, exist_ok=True)
    w = Window.orderBy(order_col)
    rows = df.withColumn("__rn", F.row_number().over(w)).collect()
    per = max(1, len(rows) // n_batches)
    paths = []
    cols = [c for c in df.columns]
    for i in range(n_batches):
        chunk = rows[i * per: (i + 1) * per] if i < n_batches - 1 else rows[
            (n_batches - 1) * per:
        ]
        path = os.path.join(inbox, f"batch_{i}.csv")
        with open(path, "w") as f:
            f.write(",".join(cols) + "\n")
            for r in chunk:
                f.write(
                    ",".join("" if r[c] is None else str(r[c]) for c in cols)
                    + "\n"
                )
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
    return paths


def read_state_metadata(spark: SparkSession, checkpoint: str) -> DataFrame:
    """Stateful-operator inventory of a streaming checkpoint (Spark 4
    ``state-metadata`` source): one row per operator with its name, state
    store, partition count, and the batch-id range whose state is still
    on disk. The ops entry point for 'what is this checkpoint holding?' —
    no JVM internals, no checkpoint spelunking."""
    return spark.read.format("state-metadata").load(checkpoint)


def read_state(
    spark: SparkSession,
    checkpoint: str,
    operator_id: int = 0,
    batch_id: int | None = None,
    store_name: str | None = None,
) -> DataFrame:
    """The state rows themselves as a DataFrame (Spark 4 ``statestore``
    source): ``key`` struct, ``value`` struct, ``partition_id``. Reads
    the CHECKPOINT, not the running query — safe offline debugging of
    live state: find the hot keys bloating a window aggregation, verify
    watermark eviction actually dropped a session, diff state between
    two batch ids. ``batch_id`` defaults to the latest committed batch;
    ``store_name`` selects a store for operators with several (e.g.
    stream-stream join sides)."""
    reader = spark.read.format("statestore").option(
        "operatorId", str(operator_id)
    )
    if batch_id is not None:
        reader = reader.option("batchId", str(batch_id))
    if store_name is not None:
        reader = reader.option("storeName", store_name)
    return reader.load(checkpoint)
