"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_daily --seed 1 --seconds 24 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The lines before it name every metric with its unit and
sample count. Results, spans and the traced report are kept under
``.perfbench_out/``; the per-run scratch directory is removed.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_rows_per_s": "rows/s",
    "latency_p50_s": "s",
}
# input generation runs this many times per run; setup_s takes the median
# and the digests must agree (the same seed gives the same bytes)
GENERATIONS = 3

PER_LAYER_UNITS = {
    "process.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "medallion.run_bronze.busy_s": "s",
    "medallion.run_bronze.files_out": "count",
    "medallion.run_bronze.partitions_out": "count",
    "medallion.run_silver.busy_s": "s",
    "medallion.run_silver.tasks": "count",
    "medallion.run_silver.files_out": "count",
    "medallion.read.busy_s": "s",
    "medallion.read.files_scanned": "count",
    "medallion.read.bytes_scanned": "bytes",
    "dq.quarantine_ratio": "ratio",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.dq_route_batch.busy_s": "s",
    "streaming.backlog_files.max": "count",
    "streaming.input_lag_s.max": "s",
    "streaming.empty_batch_ratio": "ratio",
    "loadgen.late_s.p99": "s",
    "streaming.neardup_ingest_batch.busy_s.p50": "s",
    "streaming.neardup_ingest_batch.busy_s.first": "s",
    "streaming.neardup_ingest_batch.busy_s.last": "s",
    "neardup.index_rows": "count",
    "neardup.index_files": "count",
    "neardup.index_bytes": "bytes",
    "dedup.kept_ratio": "ratio",
    "dedup.near_recall": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.tasks": "count",
    "spark.stage_skew_max": "ratio",
    "spark.cpu_busy_ratio": "ratio",
}


@dataclass
class Ctx:
    """What a workload needs from the run."""

    spark: object
    work: str
    inputs: str
    manifest: dict
    cores: int
    tracer: object


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no MemTotal in /proc/meminfo")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return steal, sum(fields[:8])


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def driver_gb() -> int:
    """JVM heap: 2 GiB, or a quarter of RAM when that is less."""
    return max(1, min(2, int(ram_mb() / 1024 / 4)))


def pin_environment(work: str, cores: int) -> None:
    """Everything the session reads from the environment, fixed per run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb()}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.pop("PYSPARK_DRIVER_PYTHON", None)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the whole heap from the start: a heap that grows while the run
        # measures makes each job a little faster than the one before
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{driver_gb()}g",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def run(args, cores: int, work: str, run_id: str) -> dict:
    # imported only after pin_environment: the session module reads the
    # environment at import time
    import gen
    import spans
    import stats
    import workloads
    from pyspark import SparkContext
    from realtime_data_pipeline_spark import session, streaming

    wl = workloads.WORKLOADS[args.workload](args.seed, args.seconds, args.size)
    tracer = spans.Tracer(bool(args.trace), run_id)
    restore = []
    if args.trace:
        # every micro-batch gets a span
        restore = [tracer.wrap(streaming, "dq_route_batch"),
                   tracer.wrap(streaming, "neardup_ingest_batch")]
    conf = spark_conf(work, bool(args.trace))
    steal0 = cpu_ticks()
    spark = None
    try:
        parts = {}
        with tracer.span("setup"):
            t = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = session.get_spark(
                    app_name=f"perfbench-{args.workload}",
                    master=f"local[{cores}]", extra_conf=conf)
            parts["session_s"] = time.perf_counter() - t
            tracer.spark = spark
            gen_s, digests = [], []
            for i in range(GENERATIONS):
                inputs = os.path.join(work, f"inputs-{i}")
                t = time.perf_counter()
                with tracer.span("generate"):
                    manifest = wl.generate(inputs)
                    gen.write_manifest(inputs, manifest)
                gen_s.append(time.perf_counter() - t)
                digests.append(gen.tree_digest(inputs))
            parts["generate_s"] = statistics.median(gen_s)
            ctx = Ctx(spark, os.path.join(work, "run"), inputs, manifest,
                      cores, tracer)
            t = time.perf_counter()
            with tracer.span("warm_up"):
                wl.warm_up(ctx)
            parts["warm_up_s"] = time.perf_counter() - t
        setup_s = sum(parts.values())
        wl.expect(len(set(digests)) == 1,
                  "one seed generated different inputs")
        t_measure = time.time()
        with tracer.span("measure"):
            wl.measure(ctx)
        measure_wall = time.time() - t_measure
        wl.check(ctx)
        e2e = wl.end_to_end()
        jvm = getattr(SparkContext._gateway, "proc", None)
        peak_rss = vm_hwm_mb("self") + (vm_hwm_mb(jvm.pid) if jvm else 0.0)
    finally:
        for undo in restore:
            undo()
        tracer.spark = None
        stop_jvm(spark)
    steal1 = cpu_ticks()

    lat = stats.summarize(e2e["_latency"]) if e2e["_latency"] else None
    res = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "cores": cores,
        "nproc": nproc(),
        "ram_mb": round(ram_mb(), 1),
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "named": {k: v for k, v in e2e.items() if not k.startswith("_")},
        "latency_name": e2e["_latency_name"], "latency": lat,
        "samples": wl.samples(),
        "attempted": wl.attempted, "failed": wl.failed,
        "messages": wl.messages,
        "setup_parts": parts,
        "end_to_end": {
            "setup_s": setup_s,
            "throughput_rows_per_s": e2e["_throughput"],
            "latency_p50_s": lat["p50"] if lat else float("nan"),
        },
        "peak_rss_mb": peak_rss,
    }
    if args.trace:
        log = spans.read_event_logs(os.path.join(work, "eventlog"))
        per_span = spans.attach_stage_metrics(tracer.spans, log)
        per_layer = wl.per_layer(tracer, per_span)
        res["per_layer"] = layer_metrics(
            tracer, per_span, per_layer, measure_wall, cores, peak_rss, spans)
        res["report"] = spans.report_lines(tracer.spans, per_span)
        res["spans"] = tracer.spans
    return res


def layer_metrics(tracer, per_span, own, measure_wall, cores, peak_rss,
                  spans) -> dict:
    """Every per-layer metric; a layer the workload does not drive is 0."""
    measure = tracer.by_name("measure")[0]
    inside = spans.descendants(tracer.spans, measure["id"])
    tot = {k: 0 for k in ("run_ms", "cpu_ns", "gc_ms", "shuffle_read",
                          "shuffle_write", "spill", "input", "output", "tasks")}
    skew = [0.0]
    for sid, m in per_span.items():
        if sid in inside:
            for k in tot:
                tot[k] += m[k]
            skew.extend(m["skew"])
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    out.update(own)
    out.update({
        "process.peak_rss_mb": peak_rss,
        "session.get_spark_s": spans.durations(
            tracer.by_name("session.get_spark"))[0],
        "spark.executor_run_s": tot["run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.jvm_gc_s": tot["gc_ms"] / 1e3,
        "spark.shuffle_read_bytes": tot["shuffle_read"],
        "spark.shuffle_write_bytes": tot["shuffle_write"],
        "spark.spill_bytes": tot["spill"],
        "spark.input_bytes": tot["input"],
        "spark.output_bytes": tot["output"],
        "spark.tasks": tot["tasks"],
        "spark.stage_skew_max": max(skew),
        "spark.cpu_busy_ratio": tot["cpu_ns"] / 1e9 / (measure_wall * cores),
    })
    unknown = set(out) - set(PER_LAYER_UNITS)
    if unknown:
        raise KeyError(f"per-layer metrics without a unit: {sorted(unknown)}")
    return out


def _num(x: float) -> float:
    return x if isinstance(x, (int, float)) and math.isfinite(x) else 0.0


def overhead_lines(res: dict) -> list[str]:
    """Tracing overhead: this traced run against the latest untraced run
    of the same workload kept in OUT_DIR."""
    base = None
    for path in sorted(
            glob.glob(os.path.join(OUT_DIR, f"{res['workload']}-s*-t0.json")),
            key=os.path.getmtime):
        with open(path) as f:
            cand = json.load(f)
        if all(cand.get(k) == res[k] for k in ("size", "cores", "seconds")):
            base, base_name = cand, os.path.basename(path)
    if base is None:
        return ["tracing overhead: no untraced run of this workload to compare"]
    out = [f"tracing overhead vs {base_name} "
           "(traced - untraced, share of untraced):"]
    for name, unit in END_TO_END_UNITS.items():
        t, u = res["end_to_end"][name], base["end_to_end"][name]
        share = (t - u) / u if u else float("nan")
        out.append(f"  {name} traced {t:.6g} untraced {u:.6g} {unit} "
                   f"({share:+.1%})")
    return out


def human_lines(res: dict) -> list[str]:
    lines = [
        f"workload {res['workload']} seed {res['seed']} seconds "
        f"{res['seconds']} trace {res['trace']} cores {res['cores']} nproc "
        f"{res['nproc']} ram_mb {res['ram_mb']} steal {res['steal_share']:.2%}",
        f"setup_s {res['end_to_end']['setup_s']:.6g} s (" + ", ".join(
            f"{k} {v:.3g}" for k, v in res["setup_parts"].items())
        + f"; generate_s is the median of {GENERATIONS})",
    ]
    for name, (value, unit) in res["named"].items():
        lines.append(f"{name} {value:.6g} {unit}")
    lat, lname = res["latency"], res["latency_name"]
    if lat:
        lines.append(f"{lname}_p50_s {lat['p50']:.6g} s (n={lat['n']})")
        lines.append(f"{lname}_p90_s {lat['p90']:.6g} s (n={lat['n']})")
        if lat["tail_p"] is not None:
            lines.append(
                f"{lname}_tail_s {lat['tail']:.6g} s at p{lat['tail_p']:g}, "
                f"the highest percentile with >=10 of n={lat['n']} beyond it")
    lines.append(f"peak_rss_mb {res['peak_rss_mb']:.6g} MB (driver + JVM)")
    lines.append(
        f"ops_failed_ratio {res['failed'] / max(1, res['attempted']):.6g} "
        f"ratio ({res['failed']} of {res['attempted']})")
    lines.extend(f"FAILED: {m}" for m in res["messages"])
    return lines


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("batch_daily", "stream_gate", "corpus_dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=0,
                   help="Spark local cores (default: nproc); 1 gives the "
                   "single-core baseline")
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input sizes; tiny is for the benchmark's own tests")
    args = p.parse_args(argv)
    cores = args.cores or nproc()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(WORK_DIR, run_id)
    os.makedirs(work)
    pin_environment(work, cores)
    sys.path.insert(0, ROOT)
    try:
        res = run(args, cores, work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass  # another run still holds its scratch directory there

    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-s{args.seed}")
    if args.cores:
        stem += f"-c{cores}"
    if args.size != "full":
        stem += f"-{args.size}"
    lines = human_lines(res)
    if args.trace:
        lines += overhead_lines(res)
        with open(stem + "-spans.json", "w") as f:
            json.dump(res.pop("spans"), f)
        with open(stem + "-report.txt", "w") as f:
            f.write("\n".join(lines + [""] + res["report"] + [""] + [
                f"{k} {v:.6g} {PER_LAYER_UNITS[k]}"
                for k, v in res["per_layer"].items()]) + "\n")
        metrics = {k: {"value": _num(v), "unit": PER_LAYER_UNITS[k]}
                   for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": _num(res["end_to_end"][k]), "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    with open(f"{stem}-t{args.trace}.json", "w") as f:
        json.dump(res, f, default=str)
    print("\n".join(lines))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": max(1, res["attempted"]),
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
