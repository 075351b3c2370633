"""Manifest-pointer parquet layout: many logical partitions, ONE
directory commit per write (guide §6 — "table formats with manifest
metadata avoid directory listing altogether").

Why it exists (round 17): a table laid out as one hive directory per
hash bucket / IVF cell pays the partitioned-write commit protocol PER
DIRECTORY it touches — measured on this box at tens of ms each,
driver-serial (a 90-dir dynamic overwrite of ~200k rows measured
7.4 s where the identical bytes written flat with a manifest swap cost
0.9 s). That cost is constant in data size, so at 100 TB it is pure
driver-side overhead per merge/append — the same class of
data-size-free waste as plan explosion.

Layout::

    {root}/gen=K/part-*.parquet    one new directory per write -> ONE commit
    {root}/_manifest.json          {"keys": {"<int key>": [gen, ...]}}

Readers resolve partition -> file set from the manifest instead of the
directory tree; writers create one new ``gen`` directory and atomically
swap one JSON pointer (``os.replace``). Rows inside each gen are sorted
on the key column at write time, so a pruned read's ``isin`` filter
skips row groups via parquet min/max stats — dir-level pruning becomes
(manifest-level dir selection) × (row-group pruning inside).

Two publish modes:

* ``replace`` — a write OWNS its keys (an SCD2 merge rebuilds whole
  buckets): ``manifest[key] = [new_gen]``.
* ``append`` — a write ADDS rows for its keys (IVF appends, semdedup
  batch ingest): ``manifest[key] += [new_gen]``.

Staleness needs no read-side timestamp logic: a gen that no longer
holds a key's current rows simply is not in ``manifest[key]`` anymore,
and :func:`pruned_read` filters each gen to the keys that still point
at it.

Crash safety: data directories are written BEFORE the manifest swap, so
a crash leaves an orphan ``gen=K`` dir the manifest never references
(ignored by readers, reclaimed by :func:`compact`); the swap itself is
a single ``os.replace`` — readers see the old or the new manifest,
never a torn one. Writer serialization is the caller's job (all three
integrations hold ``medallion._merge_lock`` for the write+publish
span).

Keys are restricted to ints (hash buckets, cells) — the only kind the
three call sites use — which keeps JSON round-tripping trivial.
"""

from __future__ import annotations

import json
import os
import re
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_FILE = "_manifest.json"
_GEN_RE = re.compile(r"^gen=(\d+)$")


def manifest_path(root: str) -> str:
    return os.path.join(root, MANIFEST_FILE)


def gen_dir(root: str, gen: int) -> str:
    return os.path.join(root, f"gen={gen}")


def read_manifest(root: str) -> dict[int, list[int]] | None:
    """``{key: [gen, ...]}`` or None when the table has no manifest."""
    raw = _read_raw(root)
    if raw is None:
        return None
    return {int(k): [int(g) for g in v] for k, v in raw["keys"].items()}


def read_extra(root: str) -> dict:
    """Caller-owned opaque metadata stored inside the manifest (so it
    swaps atomically WITH the pointers — e.g. the streaming semdedup
    batch_id -> gen map, whose staleness relative to the pointers would
    break replay retraction)."""
    raw = _read_raw(root)
    return {} if raw is None else raw.get("extra", {})


def _read_raw(root: str) -> dict | None:
    try:
        with open(manifest_path(root)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def is_manifest_table(root: str) -> bool:
    return os.path.exists(manifest_path(root))


def next_gen(root: str) -> int:
    """1 + the largest gen DIRECTORY on disk (not in the manifest): a
    crashed writer's orphan dir must never be reused for new data —
    readers resolving the old manifest would suddenly see its rows."""
    if not os.path.isdir(root):
        return 0
    gens = [
        int(m.group(1))
        for e in os.listdir(root)
        if (m := _GEN_RE.match(e))
    ]
    return max(gens) + 1 if gens else 0


def write_gen(
    df: DataFrame,
    root: str,
    key_col: str,
    n_files: int | None = None,
) -> int:
    """Write ``df`` as a new generation directory (ONE commit) and
    return its gen number — the caller publishes it when the write is
    known good. Rows are clustered on ``key_col``: ``n_files`` adds a
    hash repartition on the key (tight per-file key sets — use when the
    incoming partitioning is unrelated to the key), otherwise only a
    cheap per-partition sort so min/max stats prune row groups."""
    gen = next_gen(root)
    if n_files:
        df = df.repartition(n_files, F.col(key_col))
    df.sortWithinPartitions(key_col).write.parquet(gen_dir(root, gen))
    return gen


def publish(
    root: str,
    keys: Iterable[int],
    gen: int,
    mode: str = "replace",
    retract: Iterable[int] | None = None,
    extra: dict | None = None,
) -> None:
    """Atomically point ``keys`` at ``gen`` (``os.replace`` swap).
    ``retract`` drops those gens from EVERY key first (replay of an
    at-least-once batch: its previous gen is dereferenced in the same
    swap that publishes the redo). ``extra`` replaces the caller-owned
    metadata blob; None leaves it unchanged."""
    if mode not in ("replace", "append"):
        raise ValueError(f"mode must be replace|append, got {mode!r}")
    raw = _read_raw(root) or {"keys": {}}
    man = {int(k): [int(g) for g in v] for k, v in raw["keys"].items()}
    if retract:
        dead = {int(g) for g in retract}
        man = {
            k: kept
            for k, v in man.items()
            if (kept := [g for g in v if g not in dead])
        }
    for k in keys:
        k = int(k)
        if mode == "replace":
            man[k] = [gen]
        else:
            man.setdefault(k, []).append(gen)
    out = {"keys": {str(k): v for k, v in man.items()}}
    new_extra = raw.get("extra") if extra is None else extra
    if new_extra:
        out["extra"] = new_extra
    tmp = manifest_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, manifest_path(root))


def pruned_read(
    spark: SparkSession,
    root: str,
    key_col: str,
    keys: Iterable[int] | None = None,
) -> DataFrame | None:
    """Current rows for ``keys`` (all manifest keys when None), or None
    when nothing is stored for them. One read per referenced gen,
    filtered to the keys that still point at it — stale rows (keys
    since re-pointed elsewhere) are excluded by construction, and the
    ``isin`` filter prunes row groups inside each gen via the
    write-side key clustering."""
    man = read_manifest(root)
    if not man:
        return None
    wanted = set(man) if keys is None else {int(k) for k in keys} & set(man)
    by_gen: dict[int, list[int]] = {}
    for k in sorted(wanted):
        for g in man[k]:
            by_gen.setdefault(g, []).append(k)
    parts = [
        spark.read.parquet(gen_dir(root, g)).filter(
            F.col(key_col).isin(ks)
        )
        for g, ks in sorted(by_gen.items())
    ]
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compact(
    spark: SparkSession,
    root: str,
    key_col: str,
    n_files: int | None = None,
) -> dict:
    """Fold every live generation into one fresh gen and drop the rest
    (including crash orphans). Readers are safe throughout: the fold is
    written and published before any old dir is removed, and the swap
    is atomic. Caller holds the table's merge lock."""
    import shutil

    from pyspark.sql import Observation

    man = read_manifest(root)
    if not man:
        return {"gens_before": 0, "gens_after": 0, "rows": 0}
    live = sorted({g for gens in man.values() for g in gens})
    current = pruned_read(spark, root, key_col)
    obs = Observation()
    gen = write_gen(
        current.observe(obs, F.count(F.lit(1)).alias("rows")),
        root,
        key_col,
        n_files=n_files,
    )
    # publish BEFORE deleting: a crash between the two leaves extra
    # live dirs (re-compactable), never missing data
    publish(root, man.keys(), gen, mode="replace")
    for e in os.listdir(root):
        m = _GEN_RE.match(e)
        if m and int(m.group(1)) != gen:
            shutil.rmtree(os.path.join(root, e), ignore_errors=True)
    return {
        "gens_before": len(live),
        "gens_after": 1,
        "rows": int(obs.get["rows"]),
    }
