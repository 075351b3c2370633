"""The benchmark's three workloads.

Each workload generates its inputs from the seed, warms up on the code
paths it measures, measures for the run's seconds, and then checks
every output against a reference computation (DuckDB over the generated
inputs, or the generator's manifest). The program is reached only through
its public functions: ``session``, ``medallion``, ``dq``, ``ops`` and
``streaming``.
"""

from __future__ import annotations

import datetime
import math
import os
import statistics
import threading
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import gen
from realtime_data_pipeline_spark import dq, medallion, ops, streaming

# warm_jobs and warm_doc_files: in a fresh JVM the first job takes about
# three times as long as the fourth, and the ones between get faster in
# turn (classes load, the JIT compiles); the warm-up runs enough of them
# that the measured operations are past the steep part
SIZES = {
    "full": {
        "taxi_rows": 200_000, "warm_jobs": 3,
        "tick_rows": 500, "warm_ticks": 12,
        "docs_per_file": 200, "warm_doc_files": 3,
    },
    "tiny": {
        "taxi_rows": 6_000, "warm_jobs": 1,
        "tick_rows": 50, "warm_ticks": 1,
        "docs_per_file": 40, "warm_doc_files": 2,
    },
}

# stream_gate's open-loop rate, one tick file per TICK_S: about half the
# drain throughput measured at the commit that defined the benchmark
TICK_S = 0.8
# drain files per second measured at that commit: sizes the backlog so
# the drain phase takes about DRAIN_SHARE of the run
DRAIN_FILES_PER_S = 2.5
DRAIN_SHARE = 0.35
# batch_daily spends this share of the run in its write phase
WRITE_SHARE = 0.7
NEAR_RECALL_FLOOR = 0.9
WAIT_S = 45.0


def taxi_rules() -> list[dq.Rule]:
    """The reference's four taxi rules (each predicate marks violations)."""
    return [
        dq.Rule("neg_or_null_fare",
                (F.col("fare_amount") < 0) | F.col("fare_amount").isNull()),
        dq.Rule("dropoff_before_pickup",
                F.col("tpep_dropoff_datetime") < F.col("tpep_pickup_datetime")),
        dq.Rule("long_trip", F.col("trip_distance") > 200),
        dq.Rule("bad_passenger_count",
                F.col("passenger_count").isNull()
                | (F.col("passenger_count") < 1)
                | (F.col("passenger_count") > 6)),
    ]


# the same rules for the DuckDB reference
VIOLATION_SQL = " OR ".join(
    f"coalesce({p}, false)" for p in (
        "fare_amount < 0 OR fare_amount IS NULL",
        "tpep_dropoff_datetime < tpep_pickup_datetime",
        "trip_distance > 200",
        "passenger_count IS NULL OR passenger_count < 1 OR passenger_count > 6",
    )
)


def parquet_glob(root: str) -> str:
    return os.path.join(root, "**", "*.parquet")


def count_files(root: str) -> int:
    """Parquet files under ``root``."""
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(root) for f in files
    )


class Workload:
    """Operation and check accounting shared by the workloads."""

    name = ""

    def __init__(self, seed: int, seconds: float, size: str = "full"):
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[size]
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def samples(self) -> dict:
        """Raw per-operation samples (not per-row ones), kept in the
        result file."""
        return {k: v for k, v in vars(self).items()
                if isinstance(v, list) and 0 < len(v) <= 1000
                and all(isinstance(x, (int, float)) for x in v)}

    def _fail(self, n: int, msg: str) -> None:
        self.failed += n
        if len(self.messages) < 50:
            self.messages.append(msg)

    def op(self, what: str, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # the run goes on and reports the failure
            self._fail(1, f"{what}: {type(e).__name__}: {e}")
            return None

    def expect(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self._fail(1, msg)

    def expect_count(self, attempted: int, failed: int, msg: str) -> None:
        """A check over ``attempted`` items of which ``failed`` are wrong
        (lost, duplicated or misrouted rows; kept copies)."""
        self.attempted += attempted
        if failed:
            self._fail(failed, f"{msg}: {failed} of {attempted}")


class ProgressLog(StreamingQueryListener):
    """Streaming progress events, kept in memory."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        ts = datetime.datetime.strptime(
            p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ"
        ).replace(tzinfo=datetime.timezone.utc).timestamp()
        dur = {k: v / 1000.0 for k, v in dict(p.durationMs or {}).items()}
        with self._lock:
            self.events.append({
                "query": str(p.id), "batch": p.batchId,
                "rows": p.numInputRows, "start": ts, "dur": dur,
                "commit": ts + dur.get("triggerExecution", 0.0),
            })

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def of(self, query_ids) -> list[dict]:
        with self._lock:
            return [e for e in self.events if e["query"] in query_ids]

    def committed_rows(self, query_id: str) -> int:
        return sum(e["rows"] for e in self.of({query_id}))


def _wait_rows(log: ProgressLog, query, target: int) -> None:
    deadline = time.time() + WAIT_S
    qid = str(query.id)
    while log.committed_rows(qid) < target:
        if not query.isActive:
            raise RuntimeError(f"stream stopped: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(
                f"{log.committed_rows(qid)} of {target} rows committed"
            )
        time.sleep(0.01)


def _settle(log: ProgressLog, query) -> None:
    """Wait until the listener has seen the query's last progress event
    (events reach the listener asynchronously)."""
    last = query.lastProgress
    if last is None:
        return
    batch = last["batchId"] if isinstance(last, dict) else last.batchId
    deadline = time.time() + 10.0
    while not any(e["batch"] >= batch for e in log.of({str(query.id)})):
        if time.time() > deadline:
            raise TimeoutError(f"no progress event for batch {batch}")
        time.sleep(0.01)


def _drop(stage: str, inbox: str, name: str, body: str) -> None:
    """Write a file under a staging name, then rename it into the inbox."""
    tmp = os.path.join(stage, name)
    with open(tmp, "w") as f:
        f.write(body)
    os.rename(tmp, os.path.join(inbox, name))


def _median_or_zero(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _another(done: list[float], end: float, least: int = 1) -> bool:
    """Whether a timed loop starts one more operation: until it has
    ``least`` of them, then while the next one (as long as the median so
    far) would end nearer ``end`` than stopping now would."""
    return len(done) < least or (
        time.perf_counter() + statistics.median(done) / 2 < end)


def _trigger_medians(events: list[dict]) -> dict:
    """Per-trigger phase times (medians over micro-batches with data)."""

    def med(key):
        return _median_or_zero([e["dur"].get(key, 0.0) for e in events])

    return {
        "streaming.trigger_s": med("triggerExecution"),
        "streaming.add_batch_s": med("addBatch"),
        "streaming.overhead_s": _median_or_zero(
            [e["dur"].get("triggerExecution", 0.0) - e["dur"].get("addBatch", 0.0)
             for e in events]),
        "streaming.latest_offset_s": med("latestOffset"),
        "streaming.query_planning_s": med("queryPlanning"),
        "streaming.wal_commit_s": med("walCommit"),
        "streaming.commit_offsets_s": med("commitOffsets"),
    }


# --------------------------------------------------------------------------


class BatchDaily(Workload):
    """Closed loop, one client: raw -> bronze -> DQ-gated silver, then a
    fixed list of consumer reads over the silver zone."""

    name = "batch_daily"

    def generate(self, inputs: str) -> dict:
        return {"month": gen.write_taxi_month(
            os.path.join(inputs, "month"), self.seed, self.size["taxi_rows"])}

    def read_plan(self) -> list[tuple[str, object]]:
        """The consumer reads: the seed picks the days; the order of the
        kinds is fixed, so every seed warms the same way."""
        rng = np.random.default_rng([self.seed, 4])
        days = [f"2024-01-{int(d) + 1:02d}"
                for d in rng.choice(gen.MONTH_DAYS, 6, replace=False)]
        return [("day", days[0]), ("day", days[1]), ("groupby", "payment_type"),
                ("day", days[2]), ("day", days[3]), ("topk", 3),
                ("day", days[4]), ("day", days[5])]

    def _read(self, spark, silver: str, kind: str, arg):
        df = medallion.read_zone(spark, silver)
        if kind == "day":
            rows = df.filter(F.col("pickup_date") == F.lit(arg).cast("date")).agg(
                F.count(F.lit(1)), F.sum("fare_amount"), F.sum("trip_distance")
            ).collect()
        elif kind == "groupby":
            rows = df.groupBy(arg).agg(
                F.count(F.lit(1)), F.sum("total_amount")).collect()
        else:
            rows = ops.topk_per_group(
                df, ["pulocationid"],
                [F.col("fare_amount").desc(), F.col("trip_id").asc()], arg,
            ).select("pulocationid", "trip_id").collect()
        return sorted(tuple(r) for r in rows)

    def _job(self, ctx, zones, raw: str, rules):
        """raw -> bronze -> silver; returns (seconds, bronze, report)."""
        t0 = time.perf_counter()
        with ctx.tracer.span("medallion.run_bronze"):
            b = self.op("run_bronze", medallion.run_bronze, ctx.spark, raw,
                        zones.bronze, "tpep_pickup_datetime",
                        [c.lower() for c in gen.TAXI_COLUMNS],
                        date_col="pickup_date")
        with ctx.tracer.span("medallion.run_silver"):
            rep = self.op("run_silver", medallion.run_silver, ctx.spark,
                          zones.bronze, zones.silver, zones.quarantine, rules,
                          warn_only=True, partition_by="pickup_date")
        return time.perf_counter() - t0, b, rep

    def _timed_read(self, ctx, silver: str, kind: str, arg):
        t = time.perf_counter()
        with ctx.tracer.span("medallion.read", kind=kind):
            res = self.op("read", self._read, ctx.spark, silver, kind, arg)
        return time.perf_counter() - t, res

    def warm_up(self, ctx) -> None:
        self.plan = self.read_plan()
        zones = medallion.Zones(os.path.join(ctx.work, "warm"))
        self.warm_job_s = [
            self._job(ctx, zones, os.path.join(ctx.inputs, "month", "raw"),
                      taxi_rules())[0]
            for _ in range(self.size["warm_jobs"])]
        # one read of each kind compiles every query shape the run uses
        for kind, arg in {kind: (kind, arg) for kind, arg in self.plan}.values():
            self._timed_read(ctx, zones.silver, kind, arg)

    def measure(self, ctx) -> None:
        """Write phase (at least three jobs) for WRITE_SHARE of the run,
        then whole passes over the read list (at least two) for the rest,
        so every run's read sample has the same mix of kinds."""
        self.job_s, self.read_s, self.results, self.reports = [], [], [], []
        self.zones = medallion.Zones(os.path.join(ctx.work, "lake"))
        raw = os.path.join(ctx.inputs, "month", "raw")
        rules = taxi_rules()
        t0 = time.perf_counter()
        while _another(self.job_s, t0 + WRITE_SHARE * self.seconds, 3):
            dt, b, rep = self._job(ctx, self.zones, raw, rules)
            self.job_s.append(dt)
            self.reports.append((b, rep))
        passes: list[float] = []
        while _another(passes, t0 + self.seconds, 2):
            t = time.perf_counter()
            for kind, arg in self.plan:
                dt, res = self._timed_read(ctx, self.zones.silver, kind, arg)
                self.read_s.append(dt)
                self.results.append((kind, arg, res))
            passes.append(time.perf_counter() - t)

    def check(self, ctx) -> None:
        m = ctx.manifest["month"]
        rows, planted = m["rows"], m["violations"]
        n_bad = sum(len(v) for v in planted.values())
        for b, rep in self.reports:
            if b is None or rep is None:
                continue  # already counted as a failed operation
            self.expect(b["rows"] == rows, f"bronze rows {b['rows']} != raw {rows}")
            self.expect(rep.total_rows == rows,
                        f"silver gate saw {rep.total_rows} of {rows} rows")
            for rule, ids in planted.items():
                got = rep.results[rule]["violations"]
                self.expect(got == len(ids),
                            f"{rule}: {got} violations, planted {len(ids)}")
        con = duckdb.connect()
        silver = con.execute(
            f"SELECT count(*) FROM read_parquet('{parquet_glob(self.zones.silver)}')"
        ).fetchone()[0]
        quarantined = {r[0] for r in con.execute(
            "SELECT trip_id FROM read_parquet("
            f"'{parquet_glob(self.zones.quarantine)}')").fetchall()}
        planted_ids = {i for ids in planted.values() for i in ids}
        self.expect(silver + len(quarantined) == rows,
                    f"silver {silver} + quarantine {len(quarantined)} != {rows}")
        self.expect(quarantined == planted_ids,
                    f"quarantine differs from planted ids in "
                    f"{len(quarantined ^ planted_ids)} rows")
        self.expect(silver == rows - n_bad, f"silver {silver} != {rows - n_bad}")
        self.quarantine_ratio = len(quarantined) / rows
        con.execute(
            "CREATE VIEW clean AS SELECT *, CAST(tpep_pickup_datetime AS DATE) "
            "AS pickup_date FROM read_parquet("
            f"'{os.path.join(ctx.inputs, 'month', 'raw', '*.parquet')}') "
            f"WHERE NOT ({VIOLATION_SQL})"
        )
        refs = {(k, a): self._reference(con, k, a) for k, a in self.plan}
        for kind, arg, res in self.results:
            if res is not None:
                self.expect(_same(res, refs[(kind, arg)]),
                            f"read {kind}({arg}) differs from the reference")
        con.close()

    @staticmethod
    def _reference(con, kind: str, arg):
        if kind == "day":
            q = ("SELECT count(*), sum(fare_amount), sum(trip_distance) "
                 f"FROM clean WHERE pickup_date = DATE '{arg}'")
        elif kind == "groupby":
            q = (f"SELECT {arg}, count(*), sum(total_amount) FROM clean "
                 f"GROUP BY {arg}")
        else:
            q = ("SELECT PULocationID, trip_id FROM (SELECT PULocationID, "
                 "trip_id, row_number() OVER (PARTITION BY PULocationID "
                 "ORDER BY fare_amount DESC, trip_id) AS rn FROM clean) "
                 f"WHERE rn <= {arg}")
        return sorted(tuple(r) for r in con.execute(q).fetchall())

    def end_to_end(self) -> dict:
        rows_per_s = self.size["taxi_rows"] / statistics.median(self.job_s)
        return {
            "batch_rows_per_s": (rows_per_s, "rows/s"),
            "_throughput": rows_per_s,
            "_latency": self.read_s,
            "_latency_name": "read",
        }

    def per_layer(self, tracer, per_span) -> dict:
        def med(name, key=None):
            spans = tracer.by_name(name)
            if key is None:
                return _median_or_zero([s["end"] - s["start"] for s in spans])
            return _median_or_zero([per_span.get(s["id"], {}).get(key, 0)
                                    for s in spans])

        z = self.zones
        return {
            "medallion.run_bronze.busy_s": med("medallion.run_bronze"),
            "medallion.run_bronze.files_out": count_files(z.bronze),
            "medallion.run_bronze.partitions_out": sum(
                d.startswith("pickup_date=") for d in os.listdir(z.bronze)),
            "medallion.run_silver.busy_s": med("medallion.run_silver"),
            "medallion.run_silver.tasks": med("medallion.run_silver", "tasks"),
            "medallion.run_silver.files_out": count_files(z.silver)
            + count_files(z.quarantine),
            "medallion.read.busy_s": med("medallion.read"),
            "medallion.read.files_scanned": med("medallion.read", "files_scanned"),
            "medallion.read.bytes_scanned": med("medallion.read", "bytes_scanned"),
            "dq.quarantine_ratio": self.quarantine_ratio,
        }


def _same(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(
                        a, b, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif a != b:
                return False
    return True


# --------------------------------------------------------------------------


class StreamGate(Workload):
    """A backlog dropped at once into the inbox of a DQ-gated file stream
    and drained, then an open loop of one headered CSV tick file per
    TICK_S."""

    name = "stream_gate"

    def groups(self) -> dict[str, int]:
        live = max(3, math.ceil(self.seconds * (1 - DRAIN_SHARE) / TICK_S))
        backlog = max(2, round(self.seconds * DRAIN_SHARE * DRAIN_FILES_PER_S))
        return {"warmup": self.size["warm_ticks"], "live": live,
                "backlog": backlog}

    def generate(self, inputs: str) -> dict:
        return gen.write_stream_ticks(
            inputs, self.seed, self.groups(), self.size["tick_rows"])

    def _templates(self, ctx, group: str) -> list[tuple[str, list[str]]]:
        d = os.path.join(ctx.inputs, "ticks", group)
        out = []
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name)) as f:
                # the file source never re-reads a path it has seen, so
                # names stay unique across groups
                out.append((f"{group}-{name}", f.read().splitlines()))
        return out

    @staticmethod
    def _body(lines: list[str], created_at: float) -> str:
        suffix = f",{created_at:.6f}\n"
        return gen.STREAM_HEADER + "\n" + "".join(ln + suffix for ln in lines)

    def _start(self, ctx, root: str):
        for d in ("inbox", "stage"):
            os.makedirs(os.path.join(root, d), exist_ok=True)
        src = streaming.read_file_stream(
            ctx.spark, os.path.join(root, "inbox"), gen.STREAM_SCHEMA, fmt="csv")
        return streaming.dq_gated_stream(
            src, taxi_rules(), os.path.join(root, "silver"),
            os.path.join(root, "quarantine"), os.path.join(root, "checkpoint"),
            available_now=False,
        )

    def warm_up(self, ctx) -> None:
        root = os.path.join(ctx.work, "warm")
        log = ProgressLog()
        ctx.spark.streams.addListener(log)
        q = self._start(ctx, root)
        try:
            # dropped at once: drained back to back, one file per trigger
            rows = 0
            for name, lines in self._templates(ctx, "warmup"):
                _drop(os.path.join(root, "stage"), os.path.join(root, "inbox"),
                      name, self._body(lines, time.time()))
                rows += len(lines)
            _wait_rows(log, q, rows)
        finally:
            q.stop()
            ctx.spark.streams.removeListener(log)

    def measure(self, ctx) -> None:
        root = os.path.join(ctx.work, "stream")
        self.root = root
        stage, inbox = os.path.join(root, "stage"), os.path.join(root, "inbox")
        live = self._templates(ctx, "live")
        backlog = self._templates(ctx, "backlog")
        self.log = ProgressLog()
        ctx.spark.streams.addListener(self.log)
        q = self._start(ctx, root)
        self.query_id = str(q.id)
        self.late_s, self.backlog_files = [], []
        rpf = self.size["tick_rows"]
        try:
            # catch-up first: the backlog is dropped at once and timed
            # until its last micro-batch commits
            with ctx.tracer.span("stream.drain"):
                self.drain_start = time.time()
                for name, lines in backlog:
                    _drop(stage, inbox, name, self._body(lines, self.drain_start))
                self.op("drain phase", _wait_rows, self.log, q,
                        len(backlog) * rpf)
            # then the open loop: one thread, due times fixed up front
            base = self.log.committed_rows(self.query_id)
            t0 = time.time() + 0.5

            def run_live():
                for i, (name, lines) in enumerate(live):
                    due = t0 + i * TICK_S
                    time.sleep(max(0.0, due - time.time()))
                    committed = self.log.committed_rows(self.query_id) - base
                    self.backlog_files.append((i * rpf - committed) / rpf)
                    with ctx.tracer.span("loadgen.tick", file=name):
                        _drop(stage, inbox, name, self._body(lines, due))
                    self.late_s.append(time.time() - due)

            gen_thread = threading.Thread(target=run_live, name="loadgen")
            with ctx.tracer.span("stream.live"):
                gen_thread.start()
                gen_thread.join()
                self.op("live phase", _wait_rows, self.log, q,
                        base + len(live) * rpf)
        finally:
            q.stop()
            ctx.spark.streams.removeListener(self.log)
        self.n_live_rows = len(live) * rpf
        self.n_backlog_rows = len(backlog) * rpf

    def check(self, ctx) -> None:
        groups = ctx.manifest["groups"]
        first = groups["live"]["first_id"]
        total = groups["live"]["rows"] + groups["backlog"]["rows"]
        con = duckdb.connect()
        out = {}
        for zone in ("silver", "quarantine"):
            path = os.path.join(self.root, zone)
            out[zone] = con.execute(
                "SELECT trip_id, created_at, batch_id FROM read_parquet("
                f"'{parquet_glob(path)}', hive_partitioning = true)"
            ).fetchall() if count_files(path) else []
        con.close()
        ids = [r[0] for rows in out.values() for r in rows]
        distinct = set(ids)
        expected = set(range(first, first + total))
        self.expect_count(total, len(expected - distinct), "rows lost")
        self.expect_count(len(ids), len(ids) - len(distinct), "rows duplicated")
        self.expect(distinct <= expected, "rows outside the generated ids")
        planted = set(groups["live"]["violating_ids"]) | set(
            groups["backlog"]["violating_ids"])
        quarantined = {r[0] for r in out["quarantine"]}
        self.expect_count(len(planted), len(planted ^ quarantined),
                          "rows misrouted between silver and quarantine")
        self.quarantine_ratio = len(quarantined) / max(1, len(ids))

        batches = {e["batch"]: e for e in self.log.of({self.query_id})
                   if e["rows"] > 0}
        live_end = first + self.n_live_rows
        self.latency_s, self.lag_s = [], []
        drain_commit = []
        for trip_id, created, batch in (r for rows in out.values() for r in rows):
            ev = batches.get(batch)
            if ev is None:
                continue
            if trip_id < live_end:
                self.latency_s.append(ev["commit"] - created)
                self.lag_s.append(ev["start"] - created)
            else:
                drain_commit.append(ev["commit"])
        self.expect(len(self.latency_s) == self.n_live_rows,
                    "live rows without a committed batch")
        self.expect(bool(drain_commit), "no drained batch committed")
        self.drain_rows_per_s = (
            self.n_backlog_rows / (max(drain_commit) - self.drain_start)
            if drain_commit else float("nan"))

    def end_to_end(self) -> dict:
        return {
            "stream_drain_rows_per_s": (self.drain_rows_per_s, "rows/s"),
            "_throughput": self.drain_rows_per_s,
            "_latency": self.latency_s,
            "_latency_name": "stream_latency",
        }

    def per_layer(self, tracer, per_span) -> dict:
        evs = self.log.of({self.query_id})
        data = [e for e in evs if e["rows"] > 0]
        return {
            **_trigger_medians(data),
            "streaming.dq_route_batch.busy_s": _median_or_zero(
                [s["end"] - s["start"] for s in tracer.by_name("streaming.dq_route_batch")]),
            "streaming.backlog_files.max": max(self.backlog_files, default=0.0),
            "streaming.input_lag_s.max": max(self.lag_s, default=0.0),
            "streaming.empty_batch_ratio": (len(evs) - len(data)) / max(1, len(evs)),
            "loadgen.late_s.p99": (
                sorted(self.late_s)[min(len(self.late_s) - 1,
                                        int(0.99 * len(self.late_s)))]
                if self.late_s else 0.0),
            "dq.quarantine_ratio": self.quarantine_ratio,
        }


# --------------------------------------------------------------------------


class CorpusDedup(Workload):
    """Closed loop of availableNow catch-up runs (the CLI ``ingest
    --near`` shape) against a signature index that grows every batch.
    The warm-up ingests the first files into the same index, so every
    measured batch probes a non-empty index."""

    name = "corpus_dedup"

    def pool_files(self) -> int:
        # about twice what the seed commit gets through in the run
        return self.size["warm_doc_files"] + max(4, int(self.seconds / 2) + 2)

    def generate(self, inputs: str) -> dict:
        return gen.write_corpus(inputs, self.seed, {
            "run": (self.pool_files(), self.size["docs_per_file"])})

    def _round(self, ctx, files: list[str], log=None):
        for name in files:
            with open(os.path.join(ctx.inputs, "docs", "run", name)) as f:
                _drop(self.p["stage"], self.p["inbox"], name, f.read())
        src = streaming.read_file_stream(
            ctx.spark, self.p["inbox"], "doc_id LONG, text STRING", fmt="csv")
        q = streaming.neardup_ingest_stream(
            src, self.p["index"], self.p["silver"], self.p["checkpoint"],
            id_col="doc_id", text_col="text", available_now=True)
        try:
            if not q.awaitTermination(WAIT_S):
                raise TimeoutError("catch-up run did not finish")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            if log is not None:
                _settle(log, q)
        finally:
            q.stop()
        return str(q.id)

    def warm_up(self, ctx) -> None:
        root = os.path.join(ctx.work, "corpus")
        self.p = {k: os.path.join(root, k)
                  for k in ("inbox", "stage", "index", "silver", "checkpoint")}
        for k in ("inbox", "stage"):
            os.makedirs(self.p[k], exist_ok=True)
        self.pool = sorted(os.listdir(os.path.join(ctx.inputs, "docs", "run")))
        n = self.size["warm_doc_files"]
        # one catch-up run per file, as measured: the first builds the
        # index, the rest probe it
        self.warm_round_s = []
        for name in self.pool[:n]:
            t = time.perf_counter()
            self._round(ctx, [name])
            self.warm_round_s.append(time.perf_counter() - t)
        self.pool, self.fed = self.pool[n:], n

    def measure(self, ctx) -> None:
        self.log = ProgressLog()
        ctx.spark.streams.addListener(self.log)
        self.round_s, self.query_ids = [], set()
        deadline = time.perf_counter() + self.seconds
        try:
            while self.pool and _another(self.round_s, deadline):
                # one file per catch-up run: each run is one micro-batch
                name = self.pool.pop(0)
                t = time.perf_counter()
                with ctx.tracer.span("corpus.round"):
                    qid = self.op("catch-up run", self._round, ctx, [name],
                                  self.log)
                self.round_s.append(time.perf_counter() - t)
                self.fed += 1
                if qid:
                    self.query_ids.add(qid)
        finally:
            ctx.spark.streams.removeListener(self.log)

    def check(self, ctx) -> None:
        g = ctx.manifest["groups"]["run"]
        n_docs = self.fed * g["docs_per_file"]
        con = duckdb.connect()
        kept = [r[0] for r in con.execute(
            "SELECT doc_id FROM read_parquet("
            f"'{parquet_glob(self.p['silver'])}')").fetchall()]
        con.close()
        kept_set = set(kept)
        # ids run contiguously in file order, so the fed docs are a range
        fed = range(g["first_id"], g["first_id"] + n_docs)
        exact = [int(i) for i in g["exact"] if int(i) in fed]
        near = [int(i) for i in g["near"] if int(i) in fed]
        distinct = [i for i in g["distinct"] if i in fed]
        self.expect_count(len(kept), len(kept) - len(kept_set), "docs kept twice")
        self.expect(kept_set <= set(fed), "kept docs that were never fed")
        self.expect_count(len(exact), sum(i in kept_set for i in exact),
                          "exact copies kept")
        self.expect_count(len(distinct), sum(i not in kept_set for i in distinct),
                          "distinct docs dropped")
        self.near_recall = (
            sum(i not in kept_set for i in near) / len(near) if near else 1.0)
        self.expect(self.near_recall >= NEAR_RECALL_FLOOR,
                    f"near-copy recall {self.near_recall:.3f} < {NEAR_RECALL_FLOOR}")
        self.kept_ratio = len(kept_set) / max(1, n_docs)
        self.batch_s = [e["dur"].get("triggerExecution", 0.0)
                        for e in self.log.of(self.query_ids) if e["rows"] > 0]
        self.expect(len(self.batch_s) == len(self.round_s),
                    f"{len(self.batch_s)} micro-batches for "
                    f"{len(self.round_s)} files")

    def end_to_end(self) -> dict:
        docs_per_s = self.size["docs_per_file"] / statistics.median(self.round_s)
        return {
            "corpus_docs_per_s": (docs_per_s, "docs/s"),
            "_throughput": docs_per_s,
            "_latency": self.batch_s,
            "_latency_name": "corpus_batch",
        }

    def per_layer(self, tracer, per_span) -> dict:
        # the measured batches are the last ones; the warm-up's come first
        busy = [s["end"] - s["start"] for s in tracer.by_name(
            "streaming.neardup_ingest_batch")][-len(self.round_s):]
        sigs = os.path.join(self.p["index"], "sigs")
        files = [os.path.join(d, f) for d, _, fs in os.walk(sigs) for f in fs
                 if f.endswith(".parquet")]
        return {
            **_trigger_medians([e for e in self.log.of(self.query_ids)
                                if e["rows"] > 0]),
            "streaming.neardup_ingest_batch.busy_s.p50": _median_or_zero(busy),
            "streaming.neardup_ingest_batch.busy_s.first": busy[0] if busy else 0.0,
            "streaming.neardup_ingest_batch.busy_s.last": busy[-1] if busy else 0.0,
            "neardup.index_rows": sum(pq.ParquetFile(f).metadata.num_rows
                                      for f in files),
            "neardup.index_files": count_files(self.p["index"]),
            "neardup.index_bytes": sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(self.p["index"]) for f in fs
                if f.endswith(".parquet")),
            "dedup.kept_ratio": self.kept_ratio,
            "dedup.near_recall": self.near_recall,
        }


WORKLOADS = {w.name: w for w in (BatchDaily, StreamGate, CorpusDedup)}
