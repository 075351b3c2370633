"""Seeded input generator: one process, one thread.

Everything the program under test reads is written here from the
workload seed, together with a manifest of the facts planted in it
(violations per rule, row ids, duplicate groups, near-copy Jaccards).
The same seed gives byte-identical files; :func:`tree_digest` proves it.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MONTH_START = np.datetime64("2024-01-01T00:00:00", "us")
MONTH_DAYS = 31
# out-of-month pickup dates, as real monthly trip files carry a few
STRAY_DATES = (
    "2002-12-31", "2009-01-01", "2023-12-30", "2023-12-31",
    "2024-02-01", "2024-02-02",
)
RULES = (
    "neg_or_null_fare", "dropoff_before_pickup", "long_trip",
    "bad_passenger_count",
)
# raw (TLC-style) column names; bronze lower-cases them
TAXI_COLUMNS = (
    "trip_id", "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "PULocationID", "DOLocationID",
    "payment_type", "fare_amount", "total_amount",
)
N_ZONES = 265
US = 1_000_000


def taxi_trips(
    rng: np.random.Generator,
    n: int,
    first_id: int,
    violation_share: float,
    stray_share: float,
) -> tuple[pa.Table, dict[str, list[int]]]:
    """``n`` yellow-taxi-shaped trips with ids ``first_id..first_id+n-1``.

    ``violation_share`` of the rows break exactly one DQ rule each (the
    same share per rule, disjoint row sets); every other row passes all
    four. Returns the table and the violating trip ids per rule."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    pickup = MONTH_START.astype(np.int64) + rng.integers(
        0, MONTH_DAYS * 86400 * US, n
    )
    stray = rng.random(n) < stray_share
    stray_days = np.array(
        [np.datetime64(d, "us").astype(np.int64) for d in STRAY_DATES]
    )
    pickup[stray] = stray_days[rng.integers(0, len(STRAY_DATES), stray.sum())] + (
        rng.integers(0, 86400 * US, stray.sum())
    )
    dropoff = pickup + rng.integers(60, 5400, n) * US
    passengers = rng.integers(1, 7, n).astype(np.float64)
    distance = np.minimum(rng.gamma(2.0, 1.6, n), 150.0).round(2)
    fare = (2.5 + distance * 2.5 + rng.gamma(2.0, 1.5, n)).round(2)
    total = (fare + rng.gamma(1.5, 2.0, n)).round(2)

    per_rule = int(round(n * violation_share))
    chosen = rng.permutation(n)[: per_rule * len(RULES)]
    planted: dict[str, list[int]] = {}
    for i, rule in enumerate(RULES):
        rows = np.sort(chosen[i * per_rule: (i + 1) * per_rule])
        planted[rule] = ids[rows].tolist()
        half = rows[: len(rows) // 2]
        if rule == "neg_or_null_fare":
            fare[half] = -fare[half]
            fare[rows[len(rows) // 2:]] = np.nan
        elif rule == "dropoff_before_pickup":
            dropoff[rows] = pickup[rows] - rng.integers(1, 600, len(rows)) * US
        elif rule == "long_trip":
            distance[rows] = rng.uniform(200.5, 900.0, len(rows)).round(2)
        else:
            passengers[rows] = rng.choice([0.0, 9.0, np.nan], len(rows))

    table = pa.table(
        {
            "trip_id": ids,
            "VendorID": rng.integers(1, 3, n).astype(np.int32),
            "tpep_pickup_datetime": pa.array(pickup, pa.timestamp("us")),
            "tpep_dropoff_datetime": pa.array(dropoff, pa.timestamp("us")),
            "passenger_count": pa.array(
                passengers, pa.float64(), mask=np.isnan(passengers)
            ).cast(pa.int64()),
            "trip_distance": distance,
            "PULocationID": rng.integers(1, N_ZONES + 1, n).astype(np.int32),
            "DOLocationID": rng.integers(1, N_ZONES + 1, n).astype(np.int32),
            "payment_type": rng.integers(1, 5, n).astype(np.int32),
            "fare_amount": pa.array(fare, pa.float64(), mask=np.isnan(fare)),
            "total_amount": total,
        }
    )
    return table, planted


def write_taxi_month(
    out_dir: str, seed: int, rows: int, files: int = 4
) -> dict:
    """batch_daily input: one month of trips in ``files`` parquet files
    under ``out_dir/raw``. Returns the manifest."""
    rng = np.random.default_rng([seed, 1])
    table, planted = taxi_trips(rng, rows, 0, 0.004, 0.002)
    raw = os.path.join(out_dir, "raw")
    os.makedirs(raw, exist_ok=True)
    step = -(-rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(raw, f"trips-{i:02d}.parquet"),
        )
    return {"rows": rows, "violations": planted}


def csv_lines(table: pa.Table) -> list[str]:
    """Render trips as CSV lines (no header, no trailing ``created_at``;
    the load generator appends that when the file is due)."""
    cols = []
    for name in TAXI_COLUMNS:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            vals = np.datetime_as_string(
                col.to_numpy().astype("datetime64[s]"), unit="s"
            ).tolist()
        else:
            vals = ["" if v is None else str(v) for v in col.to_pylist()]
        cols.append(vals)
    return [",".join(row) for row in zip(*cols)]


STREAM_HEADER = ",".join([*(c.lower() for c in TAXI_COLUMNS), "created_at"])
STREAM_SCHEMA = (
    "trip_id LONG, vendorid INT, tpep_pickup_datetime TIMESTAMP, "
    "tpep_dropoff_datetime TIMESTAMP, passenger_count LONG, "
    "trip_distance DOUBLE, pulocationid INT, dolocationid INT, "
    "payment_type INT, fare_amount DOUBLE, total_amount DOUBLE, "
    "created_at DOUBLE"
)


def write_stream_ticks(
    out_dir: str, seed: int, groups: dict[str, int], rows_per_file: int
) -> dict:
    """stream_gate input: ``groups[name]`` tick-file templates per group
    (e.g. ``warmup``, ``live``, ``backlog``) under ``out_dir/ticks/<name>``,
    one CSV body per file. Trip ids are unique across all groups."""
    rng = np.random.default_rng([seed, 2])
    manifest: dict = {"rows_per_file": rows_per_file, "groups": {}}
    next_id = 0
    for name, n_files in groups.items():
        d = os.path.join(out_dir, "ticks", name)
        os.makedirs(d, exist_ok=True)
        violating: list[int] = []
        for i in range(n_files):
            table, planted = taxi_trips(rng, rows_per_file, next_id, 0.01, 0.0)
            next_id += rows_per_file
            for ids in planted.values():
                violating.extend(ids)
            with open(os.path.join(d, f"tick-{i:05d}.csv"), "w") as f:
                f.write("\n".join(csv_lines(table)) + "\n")
        manifest["groups"][name] = {
            "files": n_files,
            "first_id": next_id - n_files * rows_per_file,
            "rows": n_files * rows_per_file,
            "violating_ids": sorted(violating),
        }
    return manifest


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
            "do", "fe", "gu", "hi", "ja", "be", "co", "xu", "we", "yo"]
    words: set[str] = set()
    while len(words) < size:
        k = int(rng.integers(1, 5))
        words.add("".join(syll[j] for j in rng.integers(0, len(syll), k)))
    return sorted(words)


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams: the sets the near-dup verify compares."""
    toks = text.split()
    return {" ".join(toks[i: i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def write_corpus(
    out_dir: str,
    seed: int,
    groups: dict[str, tuple[int, int]],
    copy_share: float = 0.1,
    near_share: float = 0.1,
    near_jaccard: tuple[float, float] = (0.65, 0.95),
) -> dict:
    """corpus_dedup input: ``groups[name] = (files, docs_per_file)`` CSV
    document files (``doc_id,text``) under ``out_dir/docs/<name>``. Text is drawn from a Zipf vocabulary.
    After a group's first file, ``copy_share`` of each file are exact
    copies and ``near_share`` near-copies (shingle Jaccard drawn within
    ``near_jaccard``) of originals in EARLIER files of the same group, so
    the original always arrives first."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocabulary(rng, 12_000)
    manifest: dict = {"groups": {}}
    next_id = 0

    def draw_doc() -> str:
        n = int(rng.integers(40, 120))
        idx = np.minimum(rng.zipf(1.25, n) - 1, len(vocab) - 1)
        return " ".join(vocab[i] for i in idx)

    def near_copy(text: str) -> tuple[str, float]:
        lo, hi = near_jaccard
        toks = text.split()
        while True:
            out = list(toks)
            for p in rng.choice(len(out), int(rng.integers(1, 6)), replace=False):
                out[p] = vocab[int(rng.integers(0, len(vocab)))]
            cand = " ".join(out)
            j = jaccard(text, cand)
            if lo <= j <= hi:
                return cand, j

    for name, (n_files, docs_per_file) in groups.items():
        d = os.path.join(out_dir, "docs", name)
        os.makedirs(d, exist_ok=True)
        originals: list[tuple[int, str]] = []
        g = {"files": n_files, "docs_per_file": docs_per_file,
             "first_id": next_id, "docs": 0, "distinct": [], "exact": {},
             "near": {}}
        for i in range(n_files):
            n_copy = int(docs_per_file * copy_share) if originals else 0
            n_near = int(docs_per_file * near_share) if originals else 0
            rows: list[tuple[int, str]] = []
            fresh: list[tuple[int, str]] = []
            for _ in range(docs_per_file - n_copy - n_near):
                fresh.append((next_id, draw_doc()))
                g["distinct"].append(next_id)
                next_id += 1
            for _ in range(n_copy):
                src_id, text = originals[int(rng.integers(0, len(originals)))]
                rows.append((next_id, text))
                g["exact"][str(next_id)] = src_id
                next_id += 1
            for _ in range(n_near):
                src_id, text = originals[int(rng.integers(0, len(originals)))]
                cand, j = near_copy(text)
                rows.append((next_id, cand))
                g["near"][str(next_id)] = [src_id, round(j, 4)]
                next_id += 1
            rows.extend(fresh)
            originals.extend(fresh)
            order = rng.permutation(len(rows))
            with open(os.path.join(d, f"docs-{i:05d}.csv"), "w") as f:
                f.write("doc_id,text\n")
                for k in order:
                    f.write(f"{rows[k][0]},{rows[k][1]}\n")
            g["docs"] += len(rows)
        manifest["groups"][name] = g
    return manifest


def tree_digest(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def write_manifest(out_dir: str, manifest: dict) -> None:
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
