"""Medallion zone catalog + parquet sinks (S2/S3) and the bronze/silver/DQ
jobs — the engine-shaped rebuild of ``spark_jobs/batch_etl.py``,
``write_silver.py`` and ``dq_checks.py``'s write path.

Write posture for 100 TB:
* hive-partition by the derived date column (partition pruning on read —
  the reference's stated goal at ``spark_jobs/batch_etl.py:75-80``);
* ``maxRecordsPerFile`` caps file size instead of a blind global
  ``repartition(n)`` (the reference hardcodes 16/4 output partitions at
  ``batch_etl.py:70`` / ``write_silver.py:39-40`` — wrong at any other
  scale); AQE coalescing right-sizes the write tasks;
* overwrite is dynamic-partition-safe: only partitions present in the
  batch are replaced, so incremental backfills don't truncate the table;
* rebalance by the partition column at the bronze boundary only
  (:func:`run_bronze`): one file per date instead of one per date per
  task, and silver inherits the clustering from its bronze scan. A
  rebalance in every partitioned write was measured and rejected: its
  extra shuffles took a 200k-row silver job from 0.66 to 0.81–0.84 s;
* every parquet write records the frame's data columns beside the data
  (``_schema.json``, see :func:`write_parquet`), so :func:`read_zone`
  plans a read without a footer schema-inference job. The record is a
  ``_``-prefixed non-parquet file: Spark's file listing and a
  ``**/*.parquet`` glob never see it, and the zone stays a plain hive
  layout any engine reads.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from realtime_data_pipeline_spark import dq, etl


@dataclass(frozen=True)
class Zones:
    """Named medallion roots (generalizes the path constants at
    ``spark_jobs/batch_etl.py:8-9``, ``dq_checks.py:7-9``)."""

    root: str

    @property
    def raw(self) -> str:
        return f"{self.root}/raw"

    @property
    def bronze(self) -> str:
        return f"{self.root}/bronze"

    @property
    def silver(self) -> str:
        return f"{self.root}/silver"

    @property
    def quarantine(self) -> str:
        return f"{self.root}/quarantine"

    @property
    def artifacts(self) -> str:
        return f"{self.root}/artifacts"


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
    max_records_per_file: int | None = 1_000_000,
    partition_overwrite: str = "dynamic",
) -> None:
    """S2/S3: parquet sink with selectable save-mode and optional hive
    partitioning (parity: ``spark_jobs/batch_etl.py:76-81``,
    ``write_silver.py:42``).

    Dynamic partition-overwrite is scoped to THIS write via a writer
    option, not a session conf — a session-global would silently turn
    every later partitioned mode('overwrite') in the same session into a
    partial overwrite (round-3 advisory). ``partition_overwrite='static'``
    opts back into the truncate-the-whole-path semantic for writers that
    must CLEAR partitions absent from ``df`` (e.g. the quarantine rewrite
    in :func:`replay_quarantine`, where a partition whose rows all
    promoted must not survive the rewrite).

    The frame's data columns (partition columns left out, all nullable)
    are recorded beside the data as ``_schema.json``. A write that
    defines the whole root (a fresh root, or an overwrite that truncates
    it: static, or unpartitioned) publishes the record after its data
    commit. An append or dynamic overwrite whose columns differ from the
    record deletes it BEFORE writing, so a crash mid-write never leaves
    a record that hides the new columns: reads fall back to footer
    inference. :func:`read_zone` plans from the record; Spark types the
    partition columns from the directory names, as it does without
    one."""
    write_zone(
        df, path, "parquet", mode, partition_by, max_records_per_file,
        partition_overwrite,
    )


_ZONE_FORMATS = ("parquet", "orc", "csv", "json")
ZONE_SCHEMA_FILE = "_schema.json"


def _nullable(node):
    """A schema's JSON form with every field, array element and map
    value nullable — what Spark's file sources report on read."""
    if isinstance(node, list):
        return [_nullable(x) for x in node]
    if not isinstance(node, dict):
        return node
    out = {k: _nullable(v) for k, v in node.items()}
    for k in ("nullable", "containsNull", "valueContainsNull"):
        if k in out:
            out[k] = True
    return out


def _zone_schema(df: DataFrame, partition_cols: list[str]) -> dict:
    """The data columns of ``df``'s write in frame order, all nullable.
    Partition columns stay out: a read types them from the directory
    names, exactly as a read without a record does."""
    parts = {c.lower() for c in partition_cols}
    return _nullable(
        StructType([f for f in df.schema if f.name.lower() not in parts]).jsonValue()
    )


def _read_schema_record(path: str) -> dict | None:
    try:
        with open(os.path.join(path, ZONE_SCHEMA_FILE)) as f:
            return json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return None


def _drop_stale_schema_record(path: str, rec: dict, replaced: bool) -> None:
    """Before a parquet write into an existing root: delete the record
    if the write truncates the root or adds files whose columns differ
    from it. Deleting early is always safe (reads fall back to footer
    inference); deleting after the commit would leave a window, or
    after a crash a permanent stale record, that plans the new files
    with the old columns."""
    if replaced or _read_schema_record(path) not in (None, rec):
        try:
            os.remove(os.path.join(path, ZONE_SCHEMA_FILE))
        except (FileNotFoundError, NotADirectoryError):
            pass


def _publish_schema_record(path: str, rec: dict) -> None:
    """After the data commit of a write that defined the whole root.
    Published through a tmp file + ``os.replace`` (readers see the old
    or the new record, never a torn one), as ``manifest_layout.publish``
    does. Like the merge lock, the record lives on the local filesystem:
    a root that is not a local directory (a URI) gets none."""
    if not os.path.isdir(path):
        return
    target = os.path.join(path, ZONE_SCHEMA_FILE)
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, target)


def write_zone(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
    max_records_per_file: int | None = 1_000_000,
    partition_overwrite: str = "dynamic",
    **options: str,
) -> None:
    """Format-generic zone sink: parquet (default), ORC, CSV, JSON — the
    same save-mode / hive-partition / file-size /
    ``partition_overwrite`` posture and parquet schema record as
    :func:`write_parquet` for every format Spark ships a native writer
    for. CSV writes a header by default (the reference's simulator emits
    headered CSV, ``scripts/simulate_stream.py:32``)."""
    if fmt not in _ZONE_FORMATS:
        raise ValueError(f"fmt must be one of {_ZONE_FORMATS}, got {fmt!r}")
    if partition_overwrite not in ("dynamic", "static"):
        raise ValueError(
            f"partition_overwrite must be dynamic|static, got {partition_overwrite!r}"
        )
    # per-write option, not session conf — see write_parquet
    writer = (
        df.write.mode(mode)
        .format(fmt)
        .option("partitionOverwriteMode", partition_overwrite)
    )
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    for k, v in options.items():
        writer = writer.option(k, v)
    cols = [partition_by] if isinstance(partition_by, str) else partition_by or []
    if cols:
        writer = writer.partitionBy(*cols)
    fresh = not os.path.exists(path)
    # an existing root only takes files under append or overwrite; Spark
    # truncates it on an overwrite that is static, or dynamic without
    # partition columns
    m = mode.lower()
    rec = replaced = None
    if fmt == "parquet" and (fresh or m in ("append", "overwrite")):
        rec = _zone_schema(df, cols)
        replaced = fresh or (
            m == "overwrite" and (partition_overwrite == "static" or not cols)
        )
        if not fresh:
            _drop_stale_schema_record(path, rec, replaced)
    writer.save(path)
    if replaced:
        _publish_schema_record(path, rec)


def read_zone(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    merge_schema: bool = False,
    tolerate_corrupt: bool = False,
    **options: str,
) -> DataFrame:
    """Format-generic zone source. Parquet/ORC carry their own schema;
    CSV/JSON take an explicit ``schema`` (preferred — inference is an
    extra full scan) or fall back to inference with ``inferSchema``.

    A parquet zone whose writer recorded its schema (``_schema.json``,
    see :func:`write_parquet`) is read with that record when the caller
    passes neither ``schema`` nor ``merge_schema`` nor reader options
    (which can change the files and partition columns a read sees):
    Spark then plans the read without its footer schema-inference job,
    and still types the partition columns from the directory names, so
    the read reports what a read without the record reports. With the
    session's driver-side partition listing
    (:func:`session.get_spark`), a filtered aggregate over the zone runs
    only its own Spark jobs. On 4 vCPU a one-day read of a 37-partition
    zone went from 0.186 s (listing job + inference job) to 0.048 s; a
    reused file index, the most a file-list manifest could give, reads
    it in 0.039 s. Without a record the read infers from a footer, as
    before.

    Two operational flags a long-lived 100 TB zone eventually needs:

    * ``merge_schema`` — reconcile the union of all footer schemas
      instead of trusting one random file. A zone written over months
      accretes columns (schema evolution); the default single-footer
      read silently DROPS columns absent from the sampled file. Costs a
      footer read per file at planning time — turn it on for evolved
      zones, not everywhere.
    * ``tolerate_corrupt`` — skip unreadable files (logged by Spark)
      instead of failing the job. Among millions of files a truncated
      upload or torn write is a when, not an if; a nightly job over a
      bad file should quarantine-and-continue, not lose the run. Off by
      default: correctness jobs should NOTICE corruption; enable it for
      best-effort analytics/backfill reads.
    """
    if fmt not in _ZONE_FORMATS:
        raise ValueError(f"fmt must be one of {_ZONE_FORMATS}, got {fmt!r}")
    reader = spark.read.format(fmt)
    if merge_schema:
        if fmt not in ("parquet", "orc"):
            raise ValueError("merge_schema applies to parquet/orc zones only")
        reader = reader.option("mergeSchema", "true")
    if tolerate_corrupt:
        # per-read option (Spark 3.2+): scoped to this scan, unlike the
        # session-wide spark.sql.files.ignoreCorruptFiles conf
        reader = reader.option("ignoreCorruptFiles", "true")
    if schema is None and fmt == "parquet" and not (merge_schema or options):
        rec = _read_schema_record(path)
        schema = None if rec is None else StructType.fromJson(rec)
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in ("csv", "json"):
        reader = reader.option("inferSchema", "true")
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    num_buckets: int,
    bucket_by: str | list[str],
    sort_by: str | list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed table: pre-shuffles ONCE at write time so every
    later equi-join / aggregation on the bucket key is exchange-free.

    At 100 TB this is the co-located-join strategy: fact tables bucketed
    on the join key by the ingest job make every downstream join a
    zipped per-bucket merge with NO shuffle of either side (CI-asserted
    in tests/test_bucketing.py). ``sort_by`` additionally pre-sorts each
    bucket file so sort-merge join skips its sort. Bucket metadata lives
    in the catalog, not the files — hence ``saveAsTable``, not ``save``
    (path-based writes silently drop bucketing). ``path`` makes it an
    external table rooted there (the data outlives DROP TABLE)."""
    bcols = [bucket_by] if isinstance(bucket_by, str) else bucket_by
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bcols)
    )
    if path:
        writer = writer.option("path", path)
    if sort_by:
        scols = [sort_by] if isinstance(sort_by, str) else sort_by
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    num_files: int,
    mode: str = "overwrite",
) -> None:
    """Range-partition + sort-within-partition parquet write: each output
    file covers a disjoint range of ``sort_col``, so parquet row-group
    min/max statistics prune most files for any selective range filter —
    the poor man's clustering index / Z-order (single-column case).

    At 100 TB: a time-ordered fact table written this way answers
    ``WHERE ts BETWEEN ...`` by opening only the files whose min/max
    straddle the bound — the footer-stats skip happens before any row is
    decoded. Disjointness is tested from the actual footers in
    tests/test_bucketing.py."""
    (
        df.repartitionByRange(num_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode(mode)
        .parquet(path)
    )


def register_views(
    spark: SparkSession, zones: "Zones", fmt: str = "parquet"
) -> list[str]:
    """Expose each existing zone as a temp view (``bronze``, ``silver``,
    ``quarantine``) so the pure-SQL surface works against the medallion
    layout: ``spark.sql("SELECT ... FROM silver WHERE ...")``. Views are
    lazy plans over the zone paths — partition pruning and pushdown apply
    exactly as through the DataFrame API. Returns the registered names;
    zones with no data yet are skipped."""
    registered = []
    for name in ("bronze", "silver", "quarantine"):
        path = getattr(zones, name)
        if os.path.exists(path):
            read_zone(spark, path, fmt=fmt).createOrReplaceTempView(name)
            registered.append(name)
    return registered


def zorder_frame(
    df: DataFrame,
    cols: list[str],
    num_files: int,
    bits_per_col: int = 8,
) -> DataFrame:
    """The Z-order clustering TRANSFORM, writer-agnostic: returns ``df``
    range-partitioned into ``num_files`` partitions by an interleaved-
    bit Morton code over quantile-bucketed ranks of ``cols`` and sorted
    within partitions, so ANY downstream writer emits files that each
    cover a small hyper-cube of the value space. :func:`write_zordered`
    writes it to a plain parquet path;
    ``versioned.commit_version(zorder_cols=...)`` commits it into a
    versioned zone so the manifest's per-file ``file_stats`` skip on
    every clustered column (the round-9 verdict composition). See
    :func:`write_zordered` for the full scale rationale."""
    from pyspark.sql import functions as F

    n_buckets = 1 << bits_per_col
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # one approxQuantile call handles all columns in a single pass
    boundaries = dict(
        zip(cols, df.stat.approxQuantile(cols, probs, 1.0 / (4 * n_buckets)))
    )

    def bucket(c: str) -> F.Column:
        # rank = how many boundaries the value clears; NULL -> 0
        col = F.col(c)
        b = F.lit(0)
        for edge in boundaries[c]:
            b = b + F.when(col > F.lit(edge), 1).otherwise(0)
        return F.coalesce(b, F.lit(0))

    # stage the bucket ranks as their own projection so the (wide)
    # boundary-comparison chain is evaluated once per column — the
    # interleave below references each rank bits_per_col times, and
    # CollapseProject keeps multiply-referenced non-trivial aliases
    # staged instead of re-inlining them
    staged = df.withColumns({f"__b{j}": bucket(c) for j, c in enumerate(cols)})
    # Morton interleave: bit k of column j lands at position
    # k * n_cols + j — equal weight to every clustered column
    z = F.lit(0)
    for k in range(bits_per_col):
        for j in range(len(cols)):
            bit = F.shiftright(F.col(f"__b{j}"), k).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, k * len(cols) + j))
    return (
        staged.withColumn("__z", z)
        .drop(*[f"__b{j}" for j in range(len(cols))])
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    bits_per_col: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered parquet write: multi-column generalization of
    :func:`write_range_sorted`. Each row gets an interleaved-bit Morton
    code over quantile-bucketed ranks of ``cols``; range-partitioning +
    sorting on that code makes every output file cover a SMALL hyper-cube
    of the value space, so parquet footer min/max stats prune files for
    selective predicates on ANY of the clustered columns — single-column
    range sort gives perfect skipping on one column and none on the
    others; Z-order trades a little of the first for a lot of the rest.

    Scale shape: ranks come from ``approxQuantile`` (one sample-based
    pass, driver gets ``2^bits_per_col`` boundaries per column — a few KB)
    rather than a global rank window (which would sort the table once per
    column through one task). Bucketing + bit-interleave are pure column
    expressions; the only shuffle is the final ``repartitionByRange`` the
    write needs anyway. NULLs rank lowest (bucket 0).

    The parallel to Delta/Databricks ``OPTIMIZE ZORDER BY`` is
    intentional; this is the format-free equivalent over plain parquet.
    """
    zorder_frame(df, cols, num_files, bits_per_col).write.mode(
        mode
    ).parquet(path)


def compact(
    spark: SparkSession,
    path: str,
    partition_by: str | list[str] | None = None,
    target_records_per_file: int = 1_000_000,
) -> dict:
    """Maintenance: rewrite a parquet root into right-sized files.

    Streaming sinks and per-batch-id partitions accrete small files — at
    100 TB the dominant read cost becomes file-open overhead and footer
    reads, not bytes. Rewrites via a temp directory then an atomic-ish
    swap (write temp → remove old → rename), because overwriting a
    directory while reading it is undefined. Partition columns are
    re-derived from the hive layout by the reader, so the written layout
    is preserved. Returns before/after file counts.

    Holds the table's merge lock (:func:`_merge_lock`): a compaction
    racing a locked ``scd2_merge``/``merge_upsert`` could otherwise
    delete the merge's fresh gen dir or swap its partitions back to the
    pre-merge rows. A concurrent merge makes it raise
    :class:`ConcurrentMergeError`."""
    # normpath guards the swap: with a trailing slash the tmp dir would
    # nest INSIDE the source root and the rmtree below would destroy both
    path = os.path.normpath(path)
    from realtime_data_pipeline_spark import versioned as _versioned

    if os.path.isdir(os.path.join(path, _versioned._MANIFESTS)):
        raise ValueError(
            f"{path} is a VERSIONED zone: compacting it as a flat parquet "
            "root would read across commit dirs and destroy the manifest "
            "log — use versioned.compact_snapshot (then vacuum) instead"
        )
    with _merge_lock(path, op="compact"):
        return _compact_locked(
            spark, path, partition_by, target_records_per_file
        )


def _compact_locked(
    spark: SparkSession,
    path: str,
    partition_by: str | list[str] | None,
    target_records_per_file: int,
) -> dict:
    import shutil

    meta_p = os.path.join(path, _SCD2_META_FILE)
    if os.path.isfile(meta_p):
        with open(meta_p) as f:
            if json.load(f).get("layout") == "manifest":
                # manifest-layout SCD2 table: a flat-root rewrite would
                # read stale generations as live rows — fold through
                # the manifest instead (gen pointers resolved, stale
                # rows excluded, orphan gens reclaimed)
                from realtime_data_pipeline_spark import (
                    manifest_layout as _ml,
                )

                before = sum(1 for p in Path(path).rglob("*.parquet"))
                out = _ml.compact(spark, _scd2_data_root(path), "__bucket")
                after = sum(1 for p in Path(path).rglob("*.parquet"))
                return {
                    "files_before": before,
                    "files_after": after,
                    "rows": out["rows"],
                }
    before = sum(1 for p in Path(path).rglob("*.parquet"))
    df = read_zone(spark, path)
    # co-locate each hive partition into one write task (one output file
    # per partition value, re-split only by maxRecordsPerFile); without
    # hive columns, size the task count from the actual bytes on disk
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else partition_by
        df = df.repartition(*cols)
    else:
        total = sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))
        df = df.repartition(max(1, -(-total // (256 << 20))))
    tmp = f"{path}__compact_tmp"
    # row count observed during the rewrite itself — no read-back scan
    # of the temp dataset
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    write_parquet(
        df, tmp, mode="overwrite", partition_by=partition_by,
        max_records_per_file=target_records_per_file,
    )
    rows = int(obs.get["rows"])
    # non-dataset sidecar files at the root (e.g. the SCD2 bucket-count
    # pin `_scd2_meta.json`) must survive the swap — the rewritten dir
    # contains only Spark's output and the schema record its write
    # published
    sidecars = [
        n
        for n in os.listdir(path)
        if os.path.isfile(os.path.join(path, n))
        and not n.endswith((".parquet", ".crc"))
        and n not in ("_SUCCESS", ZONE_SCHEMA_FILE)
    ]
    for n in sidecars:
        shutil.copy2(os.path.join(path, n), os.path.join(tmp, n))
    # swap old aside FIRST (rmtree-then-rename leaves NO dataset at `path`
    # if we crash between the calls): after the aside-rename, the worst
    # crash window is a single rename, recoverable by renaming __old back
    old = f"{path}__compact_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old)
    after = sum(1 for p in Path(path).rglob("*.parquet"))
    return {"files_before": before, "files_after": after, "rows": rows}


def drop_partitions_before(
    path: str, partition_col: str, cutoff: str
) -> dict:
    """Retention/TTL maintenance: delete hive partition directories of
    ``path`` whose ``partition_col`` value sorts strictly below ``cutoff``
    (ISO dates compare correctly as strings — the reason the medallion
    layer partitions on ``yyyy-MM-dd`` strings).

    Pure filesystem operation — no Spark job, no data scan: dropping 300
    expired days from a 100 TB table is 300 directory removals, the same
    O(partitions) cost as Hive's ``DROP PARTITION``. Readers racing the
    delete see either the old or the new listing (parquet directory reads
    list files up front); run it between query windows like any
    compaction. Returns the dropped/kept partition values."""
    import shutil

    root = Path(path)
    prefix = f"{partition_col}="
    dropped, kept = [], []
    for d in sorted(p for p in root.iterdir() if p.is_dir()):
        if not d.name.startswith(prefix):
            continue
        value = d.name[len(prefix):]
        if value < cutoff:
            shutil.rmtree(d)
            dropped.append(value)
        else:
            kept.append(value)
    return {"dropped": dropped, "kept": kept}


def detect_partition_layout(path: str) -> list[str]:
    """Infer the hive partition columns of a written zone from its
    directory layout (``k=v`` subdirectories, walked depth-first). Lets
    callers that didn't produce the zone themselves (the CLI ``replay``
    over a stream-produced ``batch_id=N`` quarantine) rewrite it with the
    SAME layout instead of flattening it — a mixed flat-file/partitioned
    root breaks Spark partition discovery on the next read
    ('conflicting directory structures'). Returns [] for unpartitioned
    or missing paths."""
    cols: list[str] = []
    cur = path
    while os.path.isdir(cur):
        sub = [
            d
            for d in os.listdir(cur)
            if "=" in d and os.path.isdir(os.path.join(cur, d))
        ]
        if not sub:
            break
        cols.append(sub[0].split("=", 1)[0])
        cur = os.path.join(cur, sub[0])
    return cols


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    order_by: list[str],
    partition_col: str,
) -> dict:
    """Keyed MERGE/upsert (SCD1) into a hive-partitioned parquet table —
    the late-arriving-correction write the reference's overwrite-only
    pipeline cannot express. New keys insert, existing keys are replaced
    by the update row winning ``order_by`` (descending, e.g. a version or
    load timestamp; UPDATE rows win ``order_by`` ties — a same-version
    row with different content takes effect, matching ``upsert_stream``'s
    documented semantic. Replays of identical rows are no-ops either way).

    Scale shape — the whole point is what it does NOT touch:
    1. affected partitions = distinct ``partition_col`` values in
       ``updates`` (collected to the driver: late data clusters in a
       handful of dates, so this is a small list, and it is the ONLY
       collect);
    2. the target is read WITH a partition-pruning ``isin`` filter, so at
       100 TB a 3-partition correction batch scans 3 partitions, not the
       table (partition filter visible in the scan plan);
    3. union + keep-first-per-key under ``order_by`` desc — one shuffle
       of affected-partition rows only;
    4. dynamic partition overwrite writes back ONLY the partitions
       present in the merged result — untouched partition directories
       keep their files byte-for-byte (asserted in tests).

    The merged slice is ``localCheckpoint``-ed before the write because
    Spark cannot overwrite a path it is concurrently reading; the
    materialized set is bounded by the affected partitions, not the
    table. (A table format — Delta/Iceberg — does this transactionally;
    this is the format-free equivalent with the same pruning shape.)

    SEMANTIC CONTRACT: the merge identity is ``keys`` WITHIN a partition
    — i.e. effectively ``keys + [partition_col]``. An update that MOVES a
    key to a different partition inserts there and leaves the old row in
    the source partition: partition-pruned reading cannot see partitions
    the updates don't name, and resolving moves only when both partitions
    happen to be co-affected would make semantics depend on batch
    composition (property-tested). Express a cross-partition move as
    delete+insert, or run a full-table merge. For the normal fact-table
    case (partition value is a function of the key, e.g. event date) the
    contract is vacuous.

    If the target does not exist yet, the updates are simply written as
    the initial load. Returns metrics incl. the affected partition list.

    WRITER SERIALIZATION: like :func:`scd2_merge`, the merge holds an
    O_EXCL lock file beside the table — a concurrent merge raises
    :class:`ConcurrentMergeError` instead of the later dynamic
    overwrite silently dropping the earlier writer's rows.
    """
    with _merge_lock(target_path, op="merge_upsert"):
        return _merge_upsert_locked(
            spark, target_path, updates, keys, order_by, partition_col
        )


def _merge_upsert_locked(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    order_by: list[str],
    partition_col: str,
) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not os.path.exists(target_path):
        # one scan: row count + distinct partition set observed during
        # the initial-load write itself (vs write + read-back count +
        # a distinct collect = three passes over the updates)
        from pyspark.sql import Observation

        obs = Observation()
        # NULL partition values still land on disk (Hive default
        # partition), so coalesce them to the same 'None' label the old
        # distinct().collect() path reported — collect_set alone would
        # silently drop them from the metric
        observed = updates.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.collect_set(
                F.coalesce(F.col(partition_col).cast("string"), F.lit("None"))
            ).alias("parts"),
        )
        write_parquet(
            observed, target_path, mode="overwrite", partition_by=partition_col
        )
        m = obs.get
        if int(m["rows"]) == 0:
            # a zero-row initial load would leave a file-less parquet
            # dir: os.path.exists then routes every later merge into
            # the read path, which dies on schema inference — leave the
            # target nonexistent instead (same guard as scd2_merge)
            import shutil

            shutil.rmtree(target_path, ignore_errors=True)
        return {
            "initial_load": True,
            "affected_partitions": sorted(m["parts"]),
            "rows_written": int(m["rows"]),
        }

    parts = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    # Read the affected partitions' DIRECTORIES directly when their
    # hive names are unambiguous (same O(n_partitions)-listing kill as
    # scd2_merge, which always qualifies because bucket ids are ints):
    # spark.read.parquet(table_root) lists EVERY partition dir to build
    # its file index before the isin filter prunes — a 3-date
    # correction against a 100k-partition table pays 100k directory
    # listings for a 3-dir read. Values whose str() form Hive would
    # escape (or NULL, or non-int/str/date types) fall back to the
    # listing path — a wrongly-guessed name would silently read "no
    # history", so only provably-exact names take the fast path.
    dirs = _hive_partition_dirs(target_path, partition_col, parts)
    if dirs is not None:
        part_type = updates.schema[partition_col].dataType
        slices = [
            spark.read.parquet(d).withColumn(
                partition_col, F.lit(v).cast(part_type)
            )
            for v, d in dirs
            if os.path.isdir(d)
        ]
        if slices:
            target_slice = slices[0]
            for s in slices[1:]:
                target_slice = target_slice.unionByName(s)
            cols = target_slice.columns
        else:  # none of the affected partitions exist yet: pure insert
            target_slice = updates.limit(0)
            cols = updates.columns
    else:
        target_slice = spark.read.parquet(target_path).filter(
            F.col(partition_col).isin(parts)
        )
        cols = target_slice.columns
    # updates outrank target on ties: __src desc puts updates (1) first,
    # then order_by desc picks the newest within each source. The window
    # keys INCLUDE the partition column — see the semantic contract above
    w = Window.partitionBy(*keys, partition_col).orderBy(
        *[F.col(c).desc() for c in order_by], F.col("__src").desc()
    )
    merged = (
        target_slice.select(*cols).withColumn("__src", F.lit(0))
        .unionByName(updates.select(*cols).withColumn("__src", F.lit(1)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
        .localCheckpoint(eager=True)
    )
    rows = merged.count()
    write_parquet(
        merged, target_path, mode="overwrite", partition_by=partition_col
    )
    return {
        "initial_load": False,
        "affected_partitions": sorted(str(p) for p in parts),
        "rows_written": rows,
    }


def _hive_partition_dirs(
    target_path: str, partition_col: str, parts: list
) -> list[tuple] | None:
    """``(value, leaf_dir)`` pairs for partition values whose hive
    directory name is PROVABLY ``{col}={str(value)}`` — ints, dates,
    and strings made only of characters Hive never escapes. Returns
    None (caller uses the full-listing path) the moment any value is
    NULL, a float/timestamp/other type, or contains a character Hive's
    escapePathName would transform: a wrongly-guessed name would
    silently read an existing partition as empty history."""
    import datetime
    import re

    out = []
    for v in parts:
        if v is None or isinstance(v, (bool, float, datetime.datetime)):
            return None
        if not isinstance(v, (int, str, datetime.date)):
            return None
        sv = str(v)
        if not re.fullmatch(r"[0-9A-Za-z_.\-]+", sv):
            return None
        out.append(
            (v, os.path.join(target_path, f"{partition_col}={sv}"))
        )
    return out


SCD2_META = ("__bucket", "__valid_from", "__valid_to", "__is_current")
_SCD2_META_FILE = "_scd2_meta.json"


class ConcurrentMergeError(RuntimeError):
    """Another writer holds the SCD2 table's merge lock. Two concurrent
    merges into the same buckets would both read the stored segments,
    rebuild independently, and the second dynamic overwrite would
    silently DROP the first merge's observations — the lock turns that
    silent data loss into a loud, retryable failure."""


import contextlib as _contextlib  # noqa: E402


def _holder_is_dead(holder: str) -> bool:
    """True only when the recorded holder pid PROVABLY no longer exists on
    this host (``os.kill(pid, 0)`` → ``ProcessLookupError``). Unreadable /
    unparsable content, a live pid, or a pid we lack permission to signal
    (alive under another uid) all return False — when liveness can't be
    determined the lock stays and the conflict stays loud."""
    import json

    try:
        pid = int(json.loads(holder)["pid"])
    except (ValueError, KeyError, TypeError):
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        return False  # exists, owned by someone else — alive
    return False


def _reclaim_stale(lock: str, holder: str) -> None:
    """Remove a provably-dead holder's lock file, serialized under a
    persistent ``flock`` sidecar (``<lock>.reclaim``) so the
    validate-then-unlink can never interleave between two waiters.

    Without the guard there is a TOCTOU: waiter B re-reads the dead
    record, waiter A unlinks the stale file and O_EXCL-acquires a fresh
    lock, then B's unlink removes A's LIVE lock — two concurrent merge
    holders, the exact lost-write race the lock exists to prevent. With
    the guard, only one waiter at a time runs the re-read+unlink, and a
    fresh acquirer cannot appear mid-section because O_EXCL acquisition
    requires the stale file to be gone — which only happens inside the
    guarded section. The sidecar is deliberately never unlinked: removing
    a flock file reintroduces the race through inode aliasing (two
    waiters flocking different inodes of the same path). It is a
    zero-byte file beside the lock; harmless.
    """
    import fcntl

    guard = lock + ".reclaim"
    gfd = os.open(guard, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(gfd, fcntl.LOCK_EX)  # blocking: the section is tiny
        try:
            with open(lock) as f:
                if f.read() == holder:
                    os.unlink(lock)
            # content mismatch -> a fresh holder replaced the file after
            # we validated; leave it alone (the caller's retry will see
            # the live pid and raise)
        except FileNotFoundError:
            pass  # another waiter already reclaimed it
    finally:
        os.close(gfd)  # releases the flock; the guard file persists


@_contextlib.contextmanager
def _merge_lock(target_path: str, op: str = "merge"):
    """O_EXCL advisory lock file beside the table (``<table>._merge_lock``
    — beside, not inside, so the initial load can take it before the
    table directory exists and a full-rebuild rmtree can't delete it
    mid-hold). Serializes BOTH merge flavors (`scd2_merge` and
    `merge_upsert` share the read-rebuild-overwrite shape and therefore
    the same silent-lost-write race). Raises
    :class:`ConcurrentMergeError` immediately on conflict (merges are
    short; the caller retries).

    Crashed holders are reclaimed: on conflict the recorded pid is probed
    with ``os.kill(pid, 0)`` and a PROVABLY-dead same-host holder's file
    is removed and the acquire retried once. The removal runs through
    :func:`_reclaim_stale` — a flock-serialized re-read+compare+unlink —
    so two waiters racing over the same stale lock can never interleave
    the check with the unlink and remove each other's fresh acquisition
    (the round-8 TOCTOU). Liveness that can't be determined (unreadable
    file, foreign-uid pid) keeps the old loud behavior: the error carries
    the holder record for a manual decision."""
    import json
    import time

    lock = target_path.rstrip("/") + "._merge_lock"
    os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
    fd = None
    for attempt in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                with open(lock) as f:
                    holder = f.read()
            except OSError:
                holder = "<unreadable>"
            if attempt == 0 and _holder_is_dead(holder):
                _reclaim_stale(lock, holder)
                continue
            raise ConcurrentMergeError(
                f"{op}: {lock} exists — another merge is in flight "
                f"(holder: {holder}). Retry after it finishes; if its "
                "process is dead, remove the lock file."
            ) from None
    try:
        os.write(
            fd,
            json.dumps({"pid": os.getpid(), "ts": time.time()}).encode(),
        )
        os.close(fd)
        yield
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


_SCD2_DATA_DIR = "data"


def _scd2_data_root(target_path: str) -> str:
    return os.path.join(target_path, _SCD2_DATA_DIR)


def _scd2_write_meta(
    target_path: str,
    n_buckets: int,
    tracked: list[str],
    layout: str = "hive",
) -> None:
    import json

    with open(os.path.join(target_path, _SCD2_META_FILE), "w") as f:
        json.dump(
            {"n_buckets": n_buckets, "tracked": tracked, "layout": layout},
            f,
        )


def _scd2_read_meta(target_path: str) -> dict:
    import json

    p = os.path.join(target_path, _SCD2_META_FILE)
    try:
        with open(p) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"{target_path} has no {_SCD2_META_FILE}: not an scd2_merge "
            "table (or created by an older layout) — rebuild it via an "
            "initial load"
        ) from None


def scd2_rebuild(
    observations: DataFrame,
    keys: list[str],
    tracked: list[str],
    effective_col: str,
    n_buckets: int,
) -> DataFrame:
    """Rebuild SCD2 interval chains from an observation frame (rows of
    ``keys + tracked + [effective_col]`` plus an ``__src`` priority column,
    0 = stored segment, 1 = incoming update).

    Every window below shares ONE spec — partition by key, order by
    (effective, __src, tracked) — so the whole rebuild costs a single
    shuffle: the filters between the window passes preserve partitioning
    and sort order, and Catalyst reuses the exchange (plan-gated in
    tests/test_scd2.py)."""
    from pyspark.sql import Window

    # the tracked struct is materialized ONCE as a named column: every
    # window pass then orders by the same column references, so Catalyst
    # proves the sort orders identical and plans one Sort under the one
    # Exchange (anonymous per-pass struct exprs get fresh _w0 aliases and
    # force a re-Sort per window)
    chain = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(effective_col).asc(), F.col("__src").asc(), F.col("__tracked").asc()
    )
    return (
        # a NULL effective time has no place on a timeline: dropped at the
        # scan (fused filter, no extra pass) rather than silently
        # corrupting the chain sort (NULLs order first, so such a row
        # would otherwise swallow the same-timestamp dedup of its
        # successor). NULL KEYS are fine: xxhash64 of all-NULL inputs is
        # the seed (42), a real bucket, so pruning and windowing treat
        # the NULL key as one ordinary group (tested).
        observations.filter(F.col(effective_col).isNotNull())
        .withColumn(
            "__tracked", F.struct(*[F.col(c) for c in tracked])
        )
        # same (key, effective) twice: the sort puts the winner LAST
        # (updates after stored segments, then the largest tracked
        # struct for a deterministic, partition-order-free pick), so any
        # row FOLLOWED by another observation at the same effective time
        # is a loser
        .withColumn("__next_eff", F.lead(effective_col).over(chain))
        .filter(
            F.col("__next_eff").isNull()
            | (F.col("__next_eff") != F.col(effective_col))
        )
        # drop observations that repeat the previous observation's values
        .withColumn("__prev", F.lag("__tracked").over(chain))
        .filter(
            F.col("__prev").isNull()
            | ~F.col("__prev").eqNullSafe(F.col("__tracked"))
        )
        .withColumn("__valid_from", F.col(effective_col))
        .withColumn("__valid_to", F.lead("__valid_from").over(chain))
        .withColumn("__is_current", F.col("__valid_to").isNull())
        .withColumn(
            "__bucket",
            F.pmod(
                F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)
            ).cast("int"),
        )
        .select(*keys, *tracked, *SCD2_META)
    )


def scd2_merge(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    effective_col: str,
    tracked: list[str] | None = None,
    n_buckets: int = 256,
    layout: str = "manifest",
) -> dict:
    """Type-2 slowly-changing-dimension MERGE: keep the full value history
    of each key as closed intervals (``__valid_from``/``__valid_to``,
    ``__is_current``) instead of :func:`merge_upsert`'s keep-latest (SCD1).

    Model: every incoming row is an OBSERVATION "key had these tracked
    values as of ``effective_col``", and every stored segment's
    ``__valid_from`` is the observation that created it. A merge therefore
    REBUILDS each affected key's chain from (stored segments ∪ new
    observations): sort per key by effective time, drop observations whose
    tracked values equal the previous observation's (``eqNullSafe`` on the
    tracked struct, so NULLs compare stably), then ``__valid_to`` =
    lead(``__valid_from``) and the open segment is current. Rebuilding
    from scratch — rather than diffing against the current row — makes the
    operator idempotent under replay (same batch twice = same table,
    tested) and splices LATE observations into their correct historical
    position (an effective time older than the current segment inserts
    mid-chain instead of being dropped or mis-closing the head; tested).
    Same-timestamp conflicts resolve update-wins, matching
    :func:`merge_upsert`'s documented tie semantic.

    SEMANTIC CONTRACT: for TIME-MONOTONE arrival (each batch's
    observations no earlier than previous batches' — any
    event-time-ordered feed), the final table is a pure function of the
    observation SET: invariant to where the stream is cut and to
    replaying batches verbatim (property-tested). The boundary of that
    guarantee is COLLAPSE: dropping a repeat observation destroys its
    boundary evidence (harmless for the value-over-time function), so
    anything that later lands BEFORE a collapsed repeat re-attributes up
    to the next SURVIVING boundary — a late out-of-order splice
    (tests/test_scd2.py::test_late_splice_before_collapsed_repeat) or a
    same-timestamp correction
    (tests/test_scd2.py::test_correction_after_collapse_reattributes_history).
    Late splices whose surroundings still exist behave exactly
    (tested). If evidence-exact boundaries under arbitrary disorder
    matter, keep the observation log (e.g. the bronze zone) as the
    source of truth and rebuild; the SCD2 table stores segments, not
    evidence.

    Scale shape — what a merge does NOT touch:
    1. the table is bucketed by ``__bucket`` =
       ``pmod(xxhash64(keys), n_buckets)`` — a deterministic function of
       the key, so a key's entire history lives in one bucket;
    2. affected buckets = distinct buckets of the batch (driver list,
       ≤ ``n_buckets`` ints — the only collect); the target read prunes
       to them, so a merge scans |affected|/``n_buckets`` of the
       history, not the table;
    3. the rebuild is ONE window shuffle of those buckets' rows plus the
       batch — no join, no per-key loop;
    4. ONE write rewrites exactly the affected buckets' chains (single
       write: no close-then-insert crash window between a history
       append and a current overwrite — the failure mode of the
       two-table SCD2 spelling).

    LAYOUT (round 17): new tables default to ``layout='manifest'``
    (:mod:`~realtime_data_pipeline_spark.manifest_layout`): buckets are
    resolved through ``data/_manifest.json`` pointers into ``gen=K``
    directories, so a merge's write commits ONE directory and swaps one
    JSON pointer instead of paying the dynamic-partition-overwrite
    commit protocol per affected bucket directory (driver-serial, tens
    of ms each — a ~90-dir dynamic overwrite measured 7.4 s vs 0.9 s
    for the identical bytes under the manifest shape; the cost is
    constant in data size, i.e. pure per-merge driver overhead at
    100 TB). It also removes the
    pre-write ``localCheckpoint`` (a new gen dir never overwrites what
    the merge reads). ``layout='hive'`` keeps the previous
    dir-per-bucket layout (readable by any engine without the
    manifest); an EXISTING table's layout is pinned in its sidecar and
    always wins over this argument. Read through :func:`scd2_read` /
    :func:`scd2_current` / :func:`scd2_as_of`, which dispatch on the
    pinned layout.

    WRITER SERIALIZATION: a merge holds an O_EXCL lock file beside the
    table for its duration; a second concurrent merge raises
    :class:`ConcurrentMergeError` instead of silently dropping the
    first's observations (two unserialized merges both read the stored
    segments, rebuild independently, and the later dynamic overwrite
    wins — there is no compare-and-swap on a plain hive layout). The
    streaming ``scd2_stream`` path is naturally serial (one foreachBatch
    at a time); the lock covers ad-hoc writers racing it or each other.

    ``tracked`` defaults to every non-key, non-effective column. The
    updates frame must carry ``keys + tracked + [effective_col]``.
    """
    with _merge_lock(target_path, op="scd2_merge"):
        return _scd2_merge_locked(
            spark, target_path, updates, keys, effective_col, tracked,
            n_buckets, layout,
        )


def _scd2_merge_locked(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    effective_col: str,
    tracked: list[str] | None,
    n_buckets: int,
    layout: str,
) -> dict:
    if layout not in ("hive", "manifest"):
        raise ValueError(
            f"layout must be hive|manifest, got {layout!r}"
        )
    meta = (
        _scd2_read_meta(target_path) if os.path.exists(target_path) else None
    )
    if meta is not None:
        # like n_buckets, the layout is part of the table: pinned at
        # initial load, the argument never re-shapes an existing table
        layout = meta.get("layout", "hive")
    if meta is not None:
        # the tracked column set is part of the table schema: deriving
        # it per-batch would let a producer that DROPS a column rewrite
        # only the affected buckets without it — mixed-bucket schemas
        # that read back differently depending on which footer Spark
        # samples. The pinned set always wins; a batch missing a pinned
        # column fails loudly below (select), never silently narrows.
        if tracked is not None and tracked != meta["tracked"]:
            raise ValueError(
                f"scd2_merge: tracked={tracked} differs from the table's "
                f"pinned tracked columns {meta['tracked']} — the tracked "
                "set is fixed at initial load (rebuild to change it)"
            )
        tracked = meta["tracked"]
    else:
        tracked = tracked or [
            c for c in updates.columns if c not in (*keys, effective_col)
        ]
    obs_cols = [*keys, *tracked, effective_col]
    # NULL effective rows never make it into a chain (scd2_rebuild drops
    # them) — exclude them up front so a bucket whose only updates are
    # dirty rows isn't needlessly read and rewritten
    updates = updates.filter(F.col(effective_col).isNotNull())

    exists = os.path.exists(target_path)
    if not exists:
        # initial load: one action (the write) — nothing to cache, and
        # this is the full-dataset case where a persist would be pure
        # overhead. Count rides the write via Observation (no read-back
        # pass), and if NOTHING survived (empty batch / all-NULL
        # effective) the target is left nonexistent instead of a
        # file-less parquet dir that bricks every later merge.
        from pyspark.sql import Observation

        new_obs = updates.select(*obs_cols).withColumn("__src", F.lit(1))
        rebuilt = scd2_rebuild(
            new_obs, keys, tracked, effective_col, n_buckets
        )
        obs = Observation()
        if layout == "manifest":
            from realtime_data_pipeline_spark import manifest_layout as _ml

            # the stored-bucket set rides the write too (collect_set of
            # ≤ n_buckets ints) — the manifest needs it and a separate
            # distinct pass would be a second scan
            gen = _ml.write_gen(
                rebuilt.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    F.collect_set("__bucket").alias("bkts"),
                ),
                _scd2_data_root(target_path),
                "__bucket",
            )
            m = obs.get
            rows = int(m["rows"])
            if rows == 0:
                import shutil

                shutil.rmtree(target_path, ignore_errors=True)
            else:
                _ml.publish(
                    _scd2_data_root(target_path),
                    sorted(m["bkts"]),
                    gen,
                    mode="replace",
                )
                _scd2_write_meta(
                    target_path, n_buckets, tracked, layout="manifest"
                )
        else:
            write_parquet(
                rebuilt.observe(obs, F.count(F.lit(1)).alias("rows")),
                target_path,
                mode="overwrite",
                partition_by="__bucket",
            )
            rows = int(obs.get["rows"])
            if rows == 0:
                import shutil

                shutil.rmtree(target_path, ignore_errors=True)
            else:
                _scd2_write_meta(
                    target_path, n_buckets, tracked, layout="hive"
                )
        return {
            "initial_load": True,
            "affected_buckets": None,
            "rows_written": rows,
        }

    # the bucket function is part of the table layout: a merge run with
    # a different n_buckets would prune against the wrong directories
    # and write chains beside their own history — silent duplication.
    # The count is pinned in a sidecar at initial load and ALWAYS wins
    # over the argument.
    if n_buckets != meta["n_buckets"]:
        n_buckets = meta["n_buckets"]
    bucket = F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)
    ).cast("int")

    if layout == "manifest":
        from pyspark.sql import Observation

        from realtime_data_pipeline_spark import manifest_layout as _ml

        data_root = _scd2_data_root(target_path)
        # the batch is evaluated twice (bucket discovery, then the
        # rebuild union inside the write) — persist, release in finally
        updates = updates.persist()
        try:
            affected = sorted(
                r[0]
                for r in updates.select(bucket.alias("b"))
                .distinct()
                .collect()
            )
            new_obs = updates.select(*obs_cols).withColumn(
                "__src", F.lit(1)
            )
            stored = _ml.pruned_read(
                spark, data_root, "__bucket", affected
            )
            if stored is not None:
                observations = stored.select(
                    *keys,
                    *tracked,
                    F.col("__valid_from").alias(effective_col),
                ).withColumn("__src", F.lit(0)).unionByName(new_obs)
            else:  # first observation of every affected bucket
                observations = new_obs
            rebuilt = scd2_rebuild(
                observations, keys, tracked, effective_col, n_buckets
            )
            # NO pre-write localCheckpoint: the write lands in a NEW
            # gen directory, so the merge never overwrites a path it is
            # reading — the materialization job the hive layout needs
            # for write isolation is simply not paid here
            obs = Observation()
            gen = _ml.write_gen(
                rebuilt.observe(obs, F.count(F.lit(1)).alias("rows")),
                data_root,
                "__bucket",
            )
            _ml.publish(data_root, affected, gen, mode="replace")
        finally:
            updates.unpersist()
        return {
            "initial_load": False,
            "affected_buckets": affected,
            "rows_written": int(obs.get["rows"]),
        }

    # the merge path evaluates the batch twice (bucket discovery, then
    # the rebuild union); persist so an expensive upstream batch plan
    # doesn't re-run per action — bounded by the batch, not the table,
    # and released in finally so a failed merge can't leak the cache
    updates = updates.persist()
    try:
        affected = sorted(
            r[0]
            for r in updates.select(bucket.alias("b")).distinct().collect()
        )
        new_obs = updates.select(*obs_cols).withColumn("__src", F.lit(1))
        # read the affected buckets' DIRECTORIES directly instead of
        # filtering a whole-table scan: spark.read.parquet(table_root)
        # builds a file index by listing every bucket dir before the
        # partition filter prunes — an O(n_buckets) driver-side listing
        # term per merge (measured slope 2.17x at 10x history with 640
        # buckets). Constructing the leaf paths from
        # the batch's bucket set makes the listing O(|affected|); a
        # bucket dir that does not exist simply has no stored history
        # (first observation of those keys) and is skipped.
        existing = [
            p
            for p in (
                os.path.join(target_path, f"__bucket={b}") for b in affected
            )
            if os.path.isdir(p)
        ]
        if existing:
            stored = (
                spark.read.parquet(*existing)
                .select(
                    *keys,
                    *tracked,
                    F.col("__valid_from").alias(effective_col),
                )
                .withColumn("__src", F.lit(0))
            )
            observations = stored.unionByName(new_obs)
        else:
            observations = new_obs
        rebuilt = scd2_rebuild(
            observations, keys, tracked, effective_col, n_buckets
        )
        # Spark cannot overwrite partitions it is reading: materialize
        # the rebuilt slice (bounded by the affected buckets) pre-write
        rebuilt = rebuilt.localCheckpoint(eager=True)
    finally:
        updates.unpersist()
    # rows_written rides the write via Observation (the initial-load
    # path's existing discipline) — one fewer action per merge than the
    # old separate count() pass over the checkpointed slice
    from pyspark.sql import Observation

    obs = Observation()
    write_parquet(
        rebuilt.observe(obs, F.count(F.lit(1)).alias("rows")),
        target_path,
        mode="overwrite",
        partition_by="__bucket",
    )
    return {
        "initial_load": False,
        "affected_buckets": affected,
        "rows_written": int(obs.get["rows"]),
    }


def scd2_temporal_join(
    facts: DataFrame,
    dim: DataFrame,
    keys: list[str],
    ts_col: str,
    how: str = "left",
) -> DataFrame:
    """Point-in-time enrichment: attribute each fact row the dimension
    values that were in force AT ITS OWN timestamp — the lookup an SCD2
    table exists to answer (a plain join against ``scd2_current`` would
    leak today's attributes onto yesterday's facts).

    Plan shape: an equi hash join on the key with the half-open interval
    membership ``__valid_from <= ts < __valid_to`` as a join-side
    residual — never a theta-only join (which would plan a nested-loop
    over facts × history). Segments of one key are disjoint by
    construction, so the residual matches AT MOST one dimension row per
    fact: the join cannot fan out. Facts older than the key's first
    segment (or unknown keys) get NULL attributes under ``how='left'``.
    At 100 TB this is one shuffle of each side on the key — and the
    dimension side is usually broadcastable after bucket pruning.

    Keys compare null-safely (``<=>``, still an equi hash join key for
    Spark): a NULL key is one ordinary group in :func:`scd2_merge`, so
    its facts must find that group's history here too — a plain ``=``
    would silently NULL-attribute them."""
    cond = F.lit(True)
    for k in keys:
        cond = cond & facts[k].eqNullSafe(dim[k])
    cond = (
        cond
        & (dim["__valid_from"] <= facts[ts_col])
        & (dim["__valid_to"].isNull() | (dim["__valid_to"] > facts[ts_col]))
    )
    attr_names = [c for c in dim.columns if c not in (*keys, *SCD2_META)]
    clash = sorted(set(attr_names) & set(facts.columns))
    if clash:
        raise ValueError(
            f"scd2_temporal_join: fact columns {clash} collide with "
            "dimension attributes — the joined frame would carry "
            "duplicate column names (ambiguous downstream); rename or "
            "drop them on one side first"
        )
    return facts.join(dim, cond, how).select(
        *[facts[c] for c in facts.columns],
        *[dim[c] for c in attr_names],
    )


def scd2_read(
    spark: SparkSession,
    target_path: str,
    buckets: list[int] | None = None,
) -> DataFrame:
    """All stored segments of an SCD2 table, layout-dispatched
    (``buckets`` prunes to a key-hash subset — the per-batch enrichment
    read). Manifest tables resolve bucket -> gen-dir pointers through
    the sidecar manifest (an empty frame with the table's schema when
    none of the requested buckets hold history); hive tables read the
    partition tree with an ``isin`` partition filter, exactly as before.
    A path without an scd2 sidecar falls through to a plain parquet
    read, so the views below keep working on any parquet directory."""
    try:
        meta = _scd2_read_meta(target_path)
    except ValueError:
        meta = None
    if meta is not None and meta.get("layout", "hive") == "manifest":
        from realtime_data_pipeline_spark import manifest_layout as _ml

        root = _scd2_data_root(target_path)
        df = _ml.pruned_read(spark, root, "__bucket", buckets)
        if df is None:
            df = _ml.pruned_read(spark, root, "__bucket").limit(0)
        return df
    df = spark.read.parquet(target_path)
    if buckets is not None:
        df = df.filter(F.col("__bucket").isin(list(buckets)))
    return df


def scd2_current(spark: SparkSession, target_path: str) -> DataFrame:
    """The SCD1 view of an SCD2 table: one open segment per key."""
    return scd2_read(spark, target_path).filter(F.col("__is_current"))


def scd2_as_of(
    spark: SparkSession, target_path: str, ts
) -> DataFrame:
    """Dimension state as of ``ts``: the segment whose half-open interval
    [__valid_from, __valid_to) covers it. One filter, no window — interval
    membership is what the closed segments exist to make cheap."""
    t = F.lit(ts).cast("timestamp")
    return scd2_read(spark, target_path).filter(
        (F.col("__valid_from") <= t)
        & (F.col("__valid_to").isNull() | (F.col("__valid_to") > t))
    )


def replay_quarantine(
    spark: SparkSession,
    quarantine_path: str,
    silver_path: str,
    rules: list[dq.Rule],
    partition_by: str | list[str] | None = None,
) -> dict:
    """Re-adjudicate quarantined rows under the CURRENT rule set and
    promote the now-passing ones to silver — the second half of the DQ
    gate's contract. Quarantine exists so data survives a too-strict or
    buggy rule; once the rule is fixed, this replays the jail instead of
    re-ingesting the source (at 100 TB the quarantine is orders of
    magnitude smaller than the table — that asymmetry is the whole win).

    Promoted rows APPEND to silver (exactly-once per replay: a second
    replay finds them gone from quarantine); still-bad rows are rewritten
    in place via ``localCheckpoint`` (Spark cannot overwrite a path it is
    reading — the materialized set is the shrunken quarantine, bounded by
    construction). The rewrite is a STATIC full-path overwrite: under
    dynamic partition-overwrite a partition whose rows ALL promoted would
    be absent from ``still_bad``, its directory would survive untouched,
    and the next replay would re-promote it — appending duplicates to
    silver. Static overwrite truncates the quarantine root, so emptied
    partitions actually disappear (regression-tested with a fully
    promoting partition). Returns promoted/remaining counts."""
    # a fully-promoted quarantine leaves a data-file-free directory behind
    # (static overwrite of an empty frame) — a second replay is a no-op,
    # not a schema-inference crash
    has_data = any(
        f.endswith(".parquet")
        for _, _, files in os.walk(quarantine_path)
        for f in files
    )
    if not has_data:
        return {"promoted": 0, "remaining": 0}
    q = spark.read.parquet(quarantine_path)
    clean, still_bad = dq.split_clean_violations(q, rules)
    clean = clean.localCheckpoint(eager=True)
    still_bad = still_bad.localCheckpoint(eager=True)
    promoted, remaining = clean.count(), still_bad.count()
    if promoted:
        write_parquet(
            clean, silver_path, mode="append", partition_by=partition_by
        )
        write_parquet(
            still_bad,
            quarantine_path,
            mode="overwrite",
            partition_by=partition_by,
            partition_overwrite="static",
        )
    return {"promoted": promoted, "remaining": remaining}


def run_bronze(
    spark: SparkSession,
    raw_path: str,
    bronze_path: str,
    ts_col: str,
    keep_cols: list[str],
    date_col: str = "event_date",
    mode: str = "overwrite",
) -> dict:
    """raw → bronze job (rebuild of ``spark_jobs/batch_etl.py`` main).
    Returns run metrics; the row count is an ``Observation`` collected
    DURING the write's own scan — zero extra actions, where the
    reference counts the input and then writes it (two full scans;
    ``batch_etl.py:66,76``) and a read-back count would be a second scan
    of the written zone.

    The write is clustered by ``date_col`` with a ``rebalance`` hint:
    one file per date (37 for a taxi month, where every write task
    writing every date made 148), and every later scan of bronze
    (:func:`run_silver`) inherits the clustering. Unlike
    ``repartition(date_col)``, AQE splits a skewed day across tasks. On
    a 200k-row month (4 vCPU) this job went from 0.76 to 0.51 s; the
    silver job after it went from 1.41 to 0.78 s, a figure that also
    counts the two metadata jobs :func:`run_silver` no longer runs."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    raw = spark.read.parquet(raw_path)
    obs = Observation()
    bronze = etl.bronze_transform(raw, ts_col, keep_cols, date_col).observe(
        obs, F.count(F.lit(1)).alias("rows")
    )
    # full-rebuild semantics: overwrite means THE TABLE, so partitions
    # absent from this run's raw must not survive from the last run
    # (dynamic overwrite would keep them — same staleness class as the
    # quarantine-replay bug); append keeps dynamic for backfills
    write_parquet(
        bronze.hint("rebalance", date_col),
        bronze_path,
        mode=mode,
        partition_by=date_col,
        partition_overwrite="static" if mode == "overwrite" else "dynamic",
    )
    return {
        "rows": int(obs.get["rows"]),
        "columns": bronze.columns,
        "partition_col": date_col,
    }


def run_silver(
    spark: SparkSession,
    bronze_path: str,
    silver_path: str,
    quarantine_path: str,
    rules: list[dq.Rule],
    artifacts_dir: str | None = None,
    warn_only: bool = False,
    mode: str = "overwrite",
    partition_by: str | list[str] | None = None,
) -> dq.DQReport:
    """bronze → DQ gate → silver + quarantine (rebuild of
    ``spark_jobs/dq_checks.py:102-120`` + ``write_silver.py``).

    TWO source scans total: the rule metrics (single-pass conditional
    agg) ride the silver write's own scan as a ``DataFrame.observe``
    side effect — no dedicated evaluation action — and the quarantine
    write is the second scan. (The reference spends N+1 scans: one
    ``count()`` per rule plus the cleaned write,
    ``spark_jobs/dq_checks.py:56-59,104-113``.) Rows violating ANY rule
    are quarantined, clean rows get the silver transforms. Gate
    semantics: raises ``DQCheckFailed`` (exit code 2) AFTER writing +
    reporting, unless ``warn_only``.

    Bronze is read through :func:`read_zone`, so with a schema record
    and driver-side listing the job runs exactly its two write jobs.
    Both writes keep bronze's date clustering (:func:`run_bronze`).
    Persisting bronze to make the two scans one was measured and
    rejected: 0.67–0.74 s vs 0.66 s per 200k-row job on 4 vCPU, no
    gain, and a cached bronze at 100 TB is a memory hazard."""
    from pyspark.sql import Observation

    bronze = read_zone(spark, bronze_path)
    obs = Observation()
    bad_pred = dq.any_violation(rules)
    # observe on the PRE-filter plan so the metrics see every bronze row;
    # only the clean branch carries the observation node — attaching it
    # to both writes would fire it twice
    clean = bronze.observe(obs, *dq.metrics_exprs(rules)).filter(~bad_pred)
    bad = bronze.filter(bad_pred)
    # overwrite = full rebuild of BOTH zones: a partition whose rows all
    # turned violating this run must vanish from silver (and vice versa
    # for the quarantine) — dynamic overwrite would leave the previous
    # run's copy in the zone it no longer belongs to
    pmode = "static" if mode == "overwrite" else "dynamic"
    write_parquet(
        etl.silver_transform(clean),
        silver_path,
        mode=mode,
        partition_by=partition_by,
        partition_overwrite=pmode,
    )
    # the silver write has completed, so Observation.get returns
    # immediately with the metrics its scan computed
    report = dq.report_from_metrics(obs.get, rules, warn_only=warn_only)
    write_parquet(
        bad,
        quarantine_path,
        mode=mode,
        partition_by=partition_by,
        partition_overwrite=pmode,
    )
    if artifacts_dir:
        report.write_json(Path(artifacts_dir))
    if not report.passed and not warn_only:
        raise dq.DQCheckFailed(
            [n for n, r in report.results.items() if not r["passed"]]
        )
    return report
