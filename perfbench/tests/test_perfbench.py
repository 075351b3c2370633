"""The benchmark's own tests, at tiny scale.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start Spark once per workload (about half a minute
each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

END_TO_END = {"setup_s", "throughput_rows_per_s", "latency_p50_s"}


# ------------------------------------------------------------------ stats


@pytest.mark.parametrize("n,expected", [
    (5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_supported_tail_keeps_ten_samples_beyond(n, expected):
    assert stats.supported_tail(n) == expected
    if expected is not None:
        assert round(n * (100 - expected) / 100, 6) >= stats.MIN_BEYOND


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    xs = rng.exponential(size=137).tolist()
    for p in (0, 10, 50, 90, 99, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_summarize_reports_count_and_tail():
    s = stats.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5
    assert s["tail_p"] == 90.0 and s["tail"] == pytest.approx(90.1)


# --------------------------------------------------------------- generator


def _generate_all(root: str, seed: int) -> dict:
    return {
        "month": gen.write_taxi_month(os.path.join(root, "m"), seed, 3_000),
        "ticks": gen.write_stream_ticks(
            os.path.join(root, "s"), seed, {"live": 3, "backlog": 2}, 40),
        "docs": gen.write_corpus(
            os.path.join(root, "c"), seed, {"run": (4, 30)}),
    }


def test_generator_is_deterministic(tmp_path):
    a = _generate_all(str(tmp_path / "a"), 7)
    b = _generate_all(str(tmp_path / "b"), 7)
    c = _generate_all(str(tmp_path / "c"), 8)
    assert a == b
    assert gen.tree_digest(str(tmp_path / "a")) == gen.tree_digest(
        str(tmp_path / "b"))
    assert gen.tree_digest(str(tmp_path / "a")) != gen.tree_digest(
        str(tmp_path / "c"))


def test_planted_taxi_violations_are_disjoint_and_counted(tmp_path):
    import pyarrow.parquet as pq

    m = gen.write_taxi_month(str(tmp_path), 3, 5_000)
    ids = [i for v in m["violations"].values() for i in v]
    assert len(ids) == len(set(ids)) == 4 * round(5_000 * 0.004)
    t = pq.read_table(str(tmp_path / "raw")).to_pandas().set_index("trip_id")
    bad = t.loc[m["violations"]["dropoff_before_pickup"]]
    assert (bad.tpep_dropoff_datetime < bad.tpep_pickup_datetime).all()
    assert (t.loc[m["violations"]["long_trip"]].trip_distance > 200).all()
    clean = t.drop(index=ids)
    assert (clean.fare_amount >= 0).all() and clean.fare_amount.notna().all()
    assert clean.passenger_count.between(1, 6).all()


def test_corpus_copies_follow_their_originals(tmp_path):
    m = gen.write_corpus(str(tmp_path), 5, {"run": (5, 40)})["groups"]["run"]
    texts = {}
    for name in sorted(os.listdir(tmp_path / "docs" / "run")):
        lines = (tmp_path / "docs" / "run" / name).read_text().splitlines()[1:]
        for line in lines:
            doc_id, text = line.split(",", 1)
            texts[int(doc_id)] = text
    for copy, src in m["exact"].items():
        assert texts[int(copy)] == texts[src] and src < int(copy)
    for near, (src, j) in m["near"].items():
        assert 0.65 <= j <= 0.95
        assert gen.jaccard(texts[src], texts[int(near)]) == pytest.approx(j, abs=1e-4)


# ------------------------------------------------------------------- spans


def test_self_time_subtracts_covered_child_intervals():
    s = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # runs past 0
        {"id": 4, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(2.5)
    assert st[4] == pytest.approx(0.5)


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(False, "r")
    with t.span("x"):
        pass
    assert t.spans == []


# --------------------------------------------------------------- end to end


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "2", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


@pytest.mark.parametrize("workload", ["batch_daily", "stream_gate",
                                      "corpus_dedup"])
def test_workload_end_to_end_passes_its_checks(workload):
    res, text = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0, text
    assert res["attempted"] > 0
    assert set(res["metrics"]) == END_TO_END
    assert all(m["value"] > 0 for m in res["metrics"].values()), res
    assert "ops_failed_ratio 0 " in text


def test_traced_run_writes_spans_and_every_layer_metric():
    res, text = _run("corpus_dedup", 1)
    assert res["correct"], text
    sys.path.insert(0, BENCH)
    import run

    assert set(res["metrics"]) == set(run.PER_LAYER_UNITS)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["streaming.neardup_ingest_batch.busy_s.p50"] > 0
    assert m["neardup.index_rows"] > 0 and m["spark.tasks"] > 0
    assert m["dedup.near_recall"] >= 0.9
    with open(os.path.join(ROOT, ".perfbench_out",
                           "corpus_dedup-s3-tiny-spans.json")) as f:
        recorded = json.load(f)
    names = {s["name"] for s in recorded}
    assert {"session.get_spark", "warm_up", "measure",
            "streaming.neardup_ingest_batch"} <= names
    assert "tracing overhead" in text
