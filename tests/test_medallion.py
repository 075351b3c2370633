"""Golden medallion test — parity with the reference's only test
(``/root/reference/tests/test_batch_etl.py:7-11``: output exists, hive
partition dirs present) plus round-trip and DQ-gate assertions it lacked."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from realtime_data_pipeline_spark import dq, medallion
from realtime_data_pipeline_spark.etl import (
    bronze_transform,
    normalize_columns,
    trim_strings,
)
from tests.test_plans import plan_str


@pytest.fixture(scope="module")
def raw_path(spark, tmp_path_factory):
    """Messy raw data: unnormalized column names, whitespace in strings, a
    scratch column, three distinct dates, two bad rows."""
    path = str(tmp_path_factory.mktemp("medallion") / "raw")
    rows = [
        ("2024-01-01 08:00:00", 10.0, 1, "  ok  ", "x"),
        ("2024-01-01 09:30:00", 12.5, 2, " fine", "x"),
        ("2024-01-02 10:00:00", -3.0, 1, "neg fare ", "x"),
        ("2024-01-02 11:00:00", 8.0, None, "null vendor", "x"),
        ("2024-01-03 12:00:00", 20.0, 2, "ok", "x"),
        ("2024-01-03 13:00:00", 15.0, 1, " ok", "x"),
    ]
    df = spark.createDataFrame(
        rows,
        "`Pickup Datetime` string, `Fare Amount` double, `Vendor ID` int, "
        "note string, `_tmp_scratch` string",
    ).withColumn("Pickup Datetime", F.to_timestamp("Pickup Datetime"))
    df.write.mode("overwrite").parquet(path)
    return path


def rules():
    return [
        dq.Rule("neg_fare", (F.col("fare_amount") < 0)),
        dq.Rule("null_vendor", F.col("vendor_id").isNull()),
    ]


def test_normalize_columns_single_pass(spark):
    df = spark.createDataFrame([(1, 2)], "` A B ` int, `c D` int")
    assert normalize_columns(df).columns == ["a_b", "c_d"]


def test_bronze_job_partitions_and_schema(spark, raw_path, tmp_path):
    bronze_path = str(tmp_path / "bronze")
    metrics = medallion.run_bronze(
        spark,
        raw_path,
        bronze_path,
        ts_col="pickup_datetime",
        keep_cols=["pickup_datetime", "fare_amount", "vendor_id", "note"],
        date_col="pickup_date",
    )
    assert metrics["rows"] == 6
    # hive partition layout, like the reference's year=/month= assert
    dirs = sorted(d for d in os.listdir(bronze_path) if d.startswith("pickup_date="))
    assert dirs == [
        "pickup_date=2024-01-01",
        "pickup_date=2024-01-02",
        "pickup_date=2024-01-03",
    ]
    out = spark.read.parquet(bronze_path)
    assert set(out.columns) == {
        "pickup_datetime", "fare_amount", "vendor_id", "note", "pickup_date",
    }
    assert "_tmp_scratch" not in out.columns  # projected away at bronze


def test_bronze_round_trip_exceptall(spark, raw_path, tmp_path):
    bronze_path = str(tmp_path / "bronze_rt")
    medallion.run_bronze(
        spark, raw_path, bronze_path,
        ts_col="pickup_datetime",
        keep_cols=["pickup_datetime", "fare_amount", "vendor_id", "note"],
        date_col="pickup_date",
    )
    expected = bronze_transform(
        spark.read.parquet(raw_path),
        "pickup_datetime",
        ["pickup_datetime", "fare_amount", "vendor_id", "note"],
        "pickup_date",
    )
    actual = spark.read.parquet(bronze_path).select(*expected.columns)
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0


def test_silver_job_gate_and_quarantine(spark, raw_path, tmp_path):
    bronze_path = str(tmp_path / "bronze2")
    medallion.run_bronze(
        spark, raw_path, bronze_path,
        ts_col="pickup_datetime",
        keep_cols=["pickup_datetime", "fare_amount", "vendor_id", "note"],
        date_col="pickup_date",
    )
    with pytest.raises(dq.DQCheckFailed) as exc:
        medallion.run_silver(
            spark, bronze_path,
            str(tmp_path / "silver"), str(tmp_path / "quarantine"),
            rules(), artifacts_dir=str(tmp_path / "artifacts"),
        )
    assert exc.value.code == 2
    silver = spark.read.parquet(str(tmp_path / "silver"))
    bad = spark.read.parquet(str(tmp_path / "quarantine"))
    assert silver.count() == 4 and bad.count() == 2
    assert "silver_loaded_at" in silver.columns
    # trim applied at the silver boundary
    notes = {r.note for r in silver.select("note").collect()}
    assert notes == {"ok", "fine"}
    # report artifact written
    arts = os.listdir(tmp_path / "artifacts")
    assert any(a.startswith("dq_summary_") for a in arts)


def test_silver_warn_only_passes_gate(spark, raw_path, tmp_path):
    bronze_path = str(tmp_path / "bronze3")
    medallion.run_bronze(
        spark, raw_path, bronze_path,
        ts_col="pickup_datetime",
        keep_cols=["pickup_datetime", "fare_amount", "vendor_id", "note"],
        date_col="pickup_date",
    )
    report = medallion.run_silver(
        spark, bronze_path,
        str(tmp_path / "silver_w"), str(tmp_path / "quarantine_w"),
        rules(), warn_only=True,
    )
    assert not report.passed  # violations still reported


def test_save_mode_append_vs_overwrite(spark, raw_path, tmp_path):
    out = str(tmp_path / "modes")
    df = trim_strings(spark.read.parquet(raw_path))
    medallion.write_parquet(df, out, mode="overwrite")
    medallion.write_parquet(df, out, mode="append")
    assert spark.read.parquet(out).count() == 12
    medallion.write_parquet(df, out, mode="overwrite")
    assert spark.read.parquet(out).count() == 6


def test_compact_shrinks_file_count(spark, sf_dir, tmp_path):
    """Maintenance compaction: many small files -> few right-sized ones,
    same rows, hive partition layout preserved. A sprawl written by plain
    Spark (no schema record, as a streaming sink leaves it) comes out
    with a record; a recorded sprawl keeps its record unchanged."""
    import pathlib

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "status", F.col("o_orderstatus")
    )
    for writer in ("spark", "write_parquet"):
        path = str(tmp_path / f"sprawl_{writer}")
        # simulate streaming sprawl: 20 files per partition
        if writer == "spark":
            orders.repartition(20).write.partitionBy("status").parquet(path)
        else:
            medallion.write_parquet(
                orders.repartition(20), path, partition_by="status"
            )
        record = os.path.join(path, medallion.ZONE_SCHEMA_FILE)
        schema_before = medallion._read_schema_record(path)
        assert (schema_before is None) == (writer == "spark"), writer
        n_before = sum(1 for p in pathlib.Path(path).rglob("*.parquet"))
        assert n_before >= 30
        parts_before = sorted(d for d in os.listdir(path) if "=" in d)
        plain_before = spark.read.parquet(path)
        rows_before = sorted(map(str, plain_before.collect()))

        metrics = medallion.compact(spark, path, partition_by="status")
        assert metrics["files_before"] == n_before
        assert metrics["files_after"] < n_before / 3
        out = spark.read.parquet(path)
        assert metrics["rows"] == orders.count()
        # hive layout, schema and rows preserved
        assert sorted(d for d in os.listdir(path) if "=" in d) == parts_before
        assert out.schema == plain_before.schema
        assert sorted(map(str, out.collect())) == rows_before
        # the rewrite's record describes the zone: the old one unchanged,
        # or a fresh one for a sprawl that had none
        assert os.path.isfile(record), writer
        if schema_before is not None:
            assert medallion._read_schema_record(path) == schema_before
        assert medallion.read_zone(spark, path).schema == out.schema


def test_compact_refuses_while_a_merge_holds_the_lock(spark, tmp_path):
    """compact takes the table's merge lock: racing a locked merge it
    raises instead of swapping the merge's fresh files away."""
    path = str(tmp_path / "locked")
    medallion.write_parquet(spark.range(10), path)
    with medallion._merge_lock(path):
        with pytest.raises(medallion.ConcurrentMergeError):
            medallion.compact(spark, path)
    assert medallion.compact(spark, path)["rows"] == 10


def _part_files(root, part):
    import pathlib

    return sorted(
        (p.name, p.stat().st_mtime_ns, p.stat().st_size)
        for p in pathlib.Path(root, part).glob("*.parquet")
    )


def test_merge_upsert_partition_scoped(spark, tmp_path):
    """Keyed SCD1 merge: updates replace matching keys, inserts append,
    and — the scale contract — partitions with no updates keep their
    files byte-for-byte (only affected partitions are rewritten)."""
    from pyspark.sql import functions as F

    from realtime_data_pipeline_spark import medallion

    tgt = str(tmp_path / "fact")
    base = spark.createDataFrame(
        [
            (1, "2024-01-01", 10.0, 1),
            (2, "2024-01-01", 20.0, 1),
            (3, "2024-01-02", 30.0, 1),
            (4, "2024-01-03", 40.0, 1),
        ],
        "id long, d string, v double, ver long",
    )
    out = medallion.merge_upsert(
        spark, tgt, base, keys=["id"], order_by=["ver"], partition_col="d"
    )
    assert out["initial_load"] and out["rows_written"] == 4

    untouched_before = _part_files(tgt, "d=2024-01-03")
    updates = spark.createDataFrame(
        [
            (2, "2024-01-01", 99.0, 2),   # correction: higher version wins
            (5, "2024-01-02", 50.0, 1),   # new key in existing partition
            (6, "2024-01-04", 60.0, 1),   # new partition entirely
        ],
        "id long, d string, v double, ver long",
    )
    out2 = medallion.merge_upsert(
        spark, tgt, updates, keys=["id"], order_by=["ver"], partition_col="d"
    )
    assert out2["affected_partitions"] == ["2024-01-01", "2024-01-02", "2024-01-04"]
    got = {
        r.id: (r.v, r.ver)
        for r in spark.read.parquet(tgt).collect()
    }
    assert got == {
        1: (10.0, 1), 2: (99.0, 2), 3: (30.0, 1),
        4: (40.0, 1), 5: (50.0, 1), 6: (60.0, 1),
    }
    # the untouched partition was not rewritten: identical file set
    assert _part_files(tgt, "d=2024-01-03") == untouched_before


def test_merge_upsert_replay_idempotent(spark, tmp_path):
    """Applying the same update batch twice is a no-op: target rows win
    order_by ties, so a replay changes nothing (exactly-once-by-merge)."""
    from realtime_data_pipeline_spark import medallion

    tgt = str(tmp_path / "fact2")
    base = spark.createDataFrame(
        [(1, "2024-01-01", 10.0, 1), (2, "2024-01-02", 20.0, 1)],
        "id long, d string, v double, ver long",
    )
    medallion.merge_upsert(
        spark, tgt, base, keys=["id"], order_by=["ver"], partition_col="d"
    )
    updates = spark.createDataFrame(
        [(1, "2024-01-01", 11.0, 2)], "id long, d string, v double, ver long"
    )
    for _ in range(2):
        medallion.merge_upsert(
            spark, tgt, updates, keys=["id"], order_by=["ver"], partition_col="d"
        )
        rows = sorted(
            (r.id, r.v, r.ver) for r in spark.read.parquet(tgt).collect()
        )
        assert rows == [(1, 11.0, 2), (2, 20.0, 1)]


def test_merge_upsert_prunes_target_scan(spark, tmp_path):
    """The target read must carry a partition filter on the affected
    values — at 100 TB the merge scans the touched partitions, not the
    table. Asserted from the physical plan of the same pruned read the
    operator builds."""
    from pyspark.sql import functions as F

    from realtime_data_pipeline_spark import medallion

    tgt = str(tmp_path / "fact3")
    base = spark.createDataFrame(
        [(i, f"2024-01-{d:02d}", float(i), 1) for d in (1, 2, 3) for i in range(d, 10, 3)],
        "id long, d string, v double, ver long",
    )
    medallion.merge_upsert(
        spark, tgt, base, keys=["id"], order_by=["ver"], partition_col="d"
    )
    pruned = spark.read.parquet(tgt).filter(F.col("d").isin(["2024-01-02"]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-02" in plan


def test_replay_quarantine_promotes_after_rule_relaxed(spark, tmp_path):
    """DQ loop closure: rows jailed by a too-strict rule are promoted to
    silver when replayed under the fixed rule; still-bad rows stay; a
    second replay is a no-op (no double-append)."""
    from pyspark.sql import functions as F

    from realtime_data_pipeline_spark import dq, medallion

    silver = str(tmp_path / "silver")
    quarantine = str(tmp_path / "quarantine")
    spark.createDataFrame(
        [(1, 10.0)], "event_id long, value double"
    ).write.parquet(silver)
    # jailed under the buggy rule `value < 5` (meant to be `value < 0`)
    spark.createDataFrame(
        [(2, 3.0), (3, 1.0), (4, -7.0)], "event_id long, value double"
    ).write.parquet(quarantine)

    fixed_rules = [dq.Rule("neg_value", F.col("value") < 0)]
    out = medallion.replay_quarantine(spark, quarantine, silver, fixed_rules)
    assert out == {"promoted": 2, "remaining": 1}
    assert {r.event_id for r in spark.read.parquet(silver).collect()} == {1, 2, 3}
    assert {r.event_id for r in spark.read.parquet(quarantine).collect()} == {4}

    out2 = medallion.replay_quarantine(spark, quarantine, silver, fixed_rules)
    assert out2 == {"promoted": 0, "remaining": 1}
    assert spark.read.parquet(silver).count() == 3


def test_replay_quarantine_can_empty_the_jail(spark, tmp_path):
    """Promoting every row must leave a quarantine that is still readable
    (schema-bearing empty dataset), so later replays/monitoring don't
    crash on an empty directory."""
    from pyspark.sql import functions as F

    from realtime_data_pipeline_spark import dq, medallion

    silver = str(tmp_path / "silver2")
    quarantine = str(tmp_path / "quarantine2")
    spark.createDataFrame(
        [(1, 10.0)], "event_id long, value double"
    ).write.parquet(silver)
    spark.createDataFrame(
        [(2, 3.0)], "event_id long, value double"
    ).write.parquet(quarantine)
    rules = [dq.Rule("neg_value", F.col("value") < 0)]
    out = medallion.replay_quarantine(spark, quarantine, silver, rules)
    assert out == {"promoted": 1, "remaining": 0}
    assert spark.read.parquet(quarantine).count() == 0
    assert medallion.replay_quarantine(spark, quarantine, silver, rules) == {
        "promoted": 0,
        "remaining": 0,
    }


def test_replay_quarantine_partitioned_fully_promoted_partition(spark, tmp_path):
    """Regression (round-4 advisory, high): with a hive-partitioned
    quarantine, a partition whose rows ALL pass the fixed rules must be
    REMOVED by the rewrite. Under dynamic partition-overwrite the emptied
    partition is absent from still_bad, its directory survives, and the
    next replay re-promotes it — silently appending duplicates to silver.
    The static full-path rewrite clears it; a second replay is a no-op."""
    import os

    from pyspark.sql import functions as F

    from realtime_data_pipeline_spark import dq, medallion

    silver = str(tmp_path / "silver3")
    quarantine = str(tmp_path / "quarantine3")
    # batch 1: all rows pass the fixed rule (fully-promoting partition)
    # batch 2: one passes, one stays jailed
    spark.createDataFrame(
        [(1, 3.0, 1), (2, 4.0, 1), (3, 2.0, 2), (4, -7.0, 2)],
        "event_id long, value double, batch_id int",
    ).write.partitionBy("batch_id").parquet(quarantine)
    spark.createDataFrame(
        [(0, 10.0, 0)], "event_id long, value double, batch_id int"
    ).write.partitionBy("batch_id").parquet(silver)

    rules = [dq.Rule("neg_value", F.col("value") < 0)]
    out = medallion.replay_quarantine(
        spark, quarantine, silver, rules, partition_by="batch_id"
    )
    assert out == {"promoted": 3, "remaining": 1}
    # the fully-promoted batch_id=1 directory must be gone from quarantine
    assert not os.path.exists(os.path.join(quarantine, "batch_id=1"))
    assert {r.event_id for r in spark.read.parquet(quarantine).collect()} == {4}
    # silver keeps its partition layout: promoted rows land under batch_id=N
    assert os.path.isdir(os.path.join(silver, "batch_id=1"))
    assert spark.read.parquet(silver).count() == 4

    # second replay must be a no-op — no duplicate re-promotion
    out2 = medallion.replay_quarantine(
        spark, quarantine, silver, rules, partition_by="batch_id"
    )
    assert out2 == {"promoted": 0, "remaining": 1}
    assert spark.read.parquet(silver).count() == 4


def test_overwrite_rebuild_drops_stale_partitions(spark, tmp_path):
    """Full-rebuild semantics: run_silver with mode='overwrite' must not
    leave a previous run's partition in a zone it no longer belongs to.
    A date whose rows ALL turn violating between runs would survive in
    silver under dynamic partition-overwrite (absent from the new clean
    set, its directory is never touched) — same staleness class as the
    quarantine-replay advisory."""
    import os

    from pyspark.sql import functions as F

    from realtime_data_pipeline_spark import dq, medallion

    bronze = str(tmp_path / "ob")
    silver = str(tmp_path / "os")
    quarantine = str(tmp_path / "oq")
    rules = [dq.Rule("neg_value", F.col("value") < 0)]
    # run 1: both dates clean
    spark.createDataFrame(
        [(1, 1.0, "2024-01-01"), (2, 2.0, "2024-01-02")],
        "event_id long, value double, event_date string",
    ).write.mode("overwrite").partitionBy("event_date").parquet(bronze)
    medallion.run_silver(
        spark, bronze, silver, quarantine, rules,
        warn_only=True, partition_by="event_date",
    )
    assert os.path.isdir(os.path.join(silver, "event_date=2024-01-02"))

    # run 2: the 01-02 rows are now all violations -> must LEAVE silver
    spark.createDataFrame(
        [(1, 1.0, "2024-01-01"), (2, -2.0, "2024-01-02")],
        "event_id long, value double, event_date string",
    ).write.mode("overwrite").partitionBy("event_date").parquet(bronze)
    medallion.run_silver(
        spark, bronze, silver, quarantine, rules,
        warn_only=True, partition_by="event_date",
    )
    assert not os.path.exists(os.path.join(silver, "event_date=2024-01-02"))
    assert {r.event_id for r in spark.read.parquet(silver).collect()} == {1}
    assert {r.event_id for r in spark.read.parquet(quarantine).collect()} == {2}


def test_detect_partition_layout(spark, tmp_path):
    """Layout sniffer: nested k=v dirs map to the partition column list;
    flat and missing paths map to []."""
    from realtime_data_pipeline_spark import medallion

    nested = str(tmp_path / "nested")
    spark.createDataFrame(
        [(1, "a", 1, 2.0)], "id long, k string, batch_id int, v double"
    ).write.partitionBy("k", "batch_id").parquet(nested)
    assert medallion.detect_partition_layout(nested) == ["k", "batch_id"]

    flat = str(tmp_path / "flat")
    spark.createDataFrame([(1,)], "id long").write.parquet(flat)
    assert medallion.detect_partition_layout(flat) == []
    assert medallion.detect_partition_layout(str(tmp_path / "missing")) == []


def test_drop_partitions_before_retention(spark, tmp_path):
    """TTL: partitions below the cutoff are removed at the filesystem
    level (no scan); the table stays readable with the survivors."""
    from realtime_data_pipeline_spark import medallion

    tgt = str(tmp_path / "retained")
    df = spark.createDataFrame(
        [(i, f"2024-01-{d:02d}") for d in (1, 2, 3, 4) for i in range(d)],
        "id long, d string",
    )
    medallion.write_parquet(df, tgt, partition_by="d")
    out = medallion.drop_partitions_before(tgt, "d", "2024-01-03")
    assert out["dropped"] == ["2024-01-01", "2024-01-02"]
    assert out["kept"] == ["2024-01-03", "2024-01-04"]
    remaining = spark.read.parquet(tgt)
    assert remaining.count() == 3 + 4
    assert {str(r.d) for r in remaining.select("d").distinct().collect()} == {
        "2024-01-03",
        "2024-01-04",
    }
    # idempotent
    assert medallion.drop_partitions_before(tgt, "d", "2024-01-03")["dropped"] == []


def test_register_views_sql_over_zones(spark, tmp_path):
    """SQL-first surface: zones register as temp views and plain
    spark.sql works over them; absent zones are skipped."""
    from realtime_data_pipeline_spark import medallion

    zones = medallion.Zones(str(tmp_path / "zv"))
    spark.createDataFrame(
        [(1, 5.0), (2, -1.0)], "event_id long, value double"
    ).write.parquet(zones.silver)
    registered = medallion.register_views(spark, zones)
    assert registered == ["silver"]
    assert spark.sql("SELECT COUNT(*) AS n FROM silver").first().n == 2
    assert (
        spark.sql("SELECT event_id FROM silver WHERE value < 0").first().event_id
        == 2
    )


def test_silver_observed_metrics_match_standalone_evaluate(
    spark, raw_path, tmp_path
):
    """run_silver's DQ report is an Observation collected during the
    silver write's own scan; it must equal a standalone single-pass
    evaluate over the same bronze (the refactor's regression guard)."""
    bronze_path = str(tmp_path / "bronze_obs")
    medallion.run_bronze(
        spark, raw_path, bronze_path,
        ts_col="pickup_datetime",
        keep_cols=["pickup_datetime", "fare_amount", "vendor_id", "note"],
        date_col="pickup_date",
    )
    report = medallion.run_silver(
        spark, bronze_path,
        str(tmp_path / "silver_obs"), str(tmp_path / "quarantine_obs"),
        rules(), warn_only=True,
    )
    standalone = dq.evaluate(
        spark.read.parquet(bronze_path), rules(), warn_only=True
    )
    assert report.total_rows == standalone.total_rows
    assert {n: r["violations"] for n, r in report.results.items()} == {
        n: r["violations"] for n, r in standalone.results.items()
    }


def test_merge_upsert_initial_load_reports_null_partition(spark, tmp_path):
    """NULL partition values land in the Hive default partition on disk;
    the observed affected_partitions metric must still report them (as
    'None', matching the old distinct().collect() spelling) instead of
    silently dropping them from the list."""
    target = str(tmp_path / "upsert_nullpart")
    updates = spark.createDataFrame(
        [(1, 1, "a", "2024-01-01"), (2, 1, "b", None)],
        "k long, v long, payload string, d string",
    )
    m = medallion.merge_upsert(
        spark, target, updates, keys=["k"], order_by=["v"], partition_col="d"
    )
    assert m["rows_written"] == 2
    assert sorted(m["affected_partitions"]) == ["2024-01-01", "None"]
    assert spark.read.parquet(target).count() == 2


def test_merge_upsert_escaped_partition_values_use_safe_fallback(
    spark, tmp_path
):
    """Partition values Hive would escape (here: spaces) must take the
    full-listing path — _hive_partition_dirs refuses to guess their
    directory names — and the merge still resolves correctly."""
    from pyspark.sql import functions as F

    from realtime_data_pipeline_spark import medallion

    assert medallion._hive_partition_dirs("/t", "p", ["a b"]) is None
    assert medallion._hive_partition_dirs("/t", "p", [None]) is None
    assert medallion._hive_partition_dirs("/t", "p", [1.5]) is None
    ok = medallion._hive_partition_dirs("/t", "p", [7, "2024-01-01"])
    assert [d for _, d in ok] == ["/t/p=7", "/t/p=2024-01-01"]

    tgt = str(tmp_path / "esc")
    init = spark.createDataFrame(
        [(1, "v1-old", "region a"), (2, "v1-keep", "region b")],
        "id long, v string, p string",
    )
    medallion.merge_upsert(
        spark, tgt, init, keys=["id"], order_by=["v"], partition_col="p"
    )
    upd = spark.createDataFrame(  # v2 > v1: the update wins order_by desc
        [(1, "v2-new", "region a")], "id long, v string, p string"
    )
    medallion.merge_upsert(
        spark, tgt, upd, keys=["id"], order_by=["v"], partition_col="p"
    )
    got = {
        (r.id, r.v, r.p) for r in spark.read.parquet(tgt).collect()
    }
    assert got == {(1, "v2-new", "region a"), (2, "v1-keep", "region b")}


def test_merge_upsert_pure_insert_into_new_partition_dirs(spark, tmp_path):
    """A batch whose affected partitions don't exist yet (all direct
    dirs missing) inserts cleanly without touching stored partitions."""
    from realtime_data_pipeline_spark import medallion

    tgt = str(tmp_path / "pin")
    init = spark.createDataFrame(
        [(1, "a", "2024-01-01")], "id long, v string, d string"
    )
    medallion.merge_upsert(
        spark, tgt, init, keys=["id"], order_by=["v"], partition_col="d"
    )
    upd = spark.createDataFrame(
        [(9, "z", "2024-02-02")], "id long, v string, d string"
    )
    m = medallion.merge_upsert(
        spark, tgt, upd, keys=["id"], order_by=["v"], partition_col="d"
    )
    assert m["affected_partitions"] == ["2024-02-02"]
    # str(): Spark's partition-column type inference reads the date-like
    # directory names back as DATE regardless of merge path
    got = {(r.id, r.v, str(r.d)) for r in spark.read.parquet(tgt).collect()}
    assert got == {(1, "a", "2024-01-01"), (9, "z", "2024-02-02")}


def _spark_jobs(spark, fn) -> int:
    """Spark jobs started by ``fn``, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


N_DATES = 40  # past Spark's 32-path parallel-listing threshold


@pytest.fixture(scope="module")
def date_zones(spark, tmp_path_factory):
    """raw -> bronze -> silver over N_DATES date partitions, and the
    number of Spark jobs run_silver ran."""
    import datetime as dt

    root = str(tmp_path_factory.mktemp("date_zones"))
    rows = [
        (dt.datetime(2024, 1, 1, h) + dt.timedelta(days=d), 10.0 + h,
         None if (d, h) == (3, 2) else 1, f" n{d} ", "x")
        for d in range(N_DATES)
        for h in range(3)
    ]
    spark.createDataFrame(
        rows,
        "`Pickup Datetime` timestamp, `Fare Amount` double, `Vendor ID` int, "
        "note string, `_tmp_scratch` string",
    ).repartition(4).write.parquet(f"{root}/raw")
    z = medallion.Zones(root)
    medallion.run_bronze(
        spark, z.raw, z.bronze, "pickup_datetime",
        ["fare_amount", "vendor_id", "note", "_tmp_scratch"],
        date_col="pickup_date",
    )
    silver_jobs = _spark_jobs(spark, lambda: medallion.run_silver(
        spark, z.bronze, z.silver, z.quarantine, rules(), warn_only=True,
        partition_by="pickup_date",
    ))
    return z, silver_jobs


def test_zone_jobs_run_no_listing_or_inference_job(spark, date_zones):
    """Driver-side listing plus the schema record leave only the query's
    own jobs: run_silver runs its two writes, a filtered aggregate through
    read_zone its own (at most two) jobs, and the rebalanced bronze write
    makes one file per date."""
    z, silver_jobs = date_zones
    assert silver_jobs <= 2
    day = F.lit("2024-01-05").cast("date")
    read_jobs = _spark_jobs(spark, lambda: medallion.read_zone(spark, z.silver)
                            .filter(F.col("pickup_date") == day)
                            .agg(F.count(F.lit(1)), F.sum("fare_amount"))
                            .collect())
    assert read_jobs <= 2
    dates = [d for d in os.listdir(z.bronze) if d.startswith("pickup_date=")]
    assert len(dates) == N_DATES
    for d in dates:
        files = os.listdir(os.path.join(z.bronze, d))
        assert sum(f.endswith(".parquet") for f in files) == 1, d


def test_zone_schema_record_matches_plain_reads(spark, date_zones, tmp_path):
    """read_zone with the record returns what a footer-inferring read
    returns (names, types, order, rows), prunes partitions, and neither
    a plain Spark read nor a DuckDB parquet glob sees the record. That
    holds for partition columns whose frame type differs from the type
    Spark infers from the directory names: a 'yyyy-MM-dd' string, a
    long holding small values, a numeric-looking string."""
    import duckdb

    z, _ = date_zones
    frame = spark.createDataFrame(
        [(i, f"2024-01-0{i % 3 + 1}", i % 2, f"00{i % 3}") for i in range(6)],
        "v int, day string, n long, code string",
    )
    typed = []
    for col in ("day", "n", "code"):
        typed.append(str(tmp_path / col))
        medallion.write_parquet(frame, typed[-1], partition_by=col)
    for path in (z.bronze, z.silver, z.quarantine, *typed):
        assert os.path.isfile(os.path.join(path, medallion.ZONE_SCHEMA_FILE))
        got, plain = medallion.read_zone(spark, path), spark.read.parquet(path)
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in plain.schema
        ]
        assert sorted(map(str, got.collect())) == sorted(map(str, plain.collect()))
        assert not any(f.endswith(".json") for f in plain.inputFiles())
        glob = os.path.join(path, "**", "*.parquet")
        files = duckdb.sql(f"SELECT file FROM glob('{glob}')").fetchall()
        assert files and not any(f.endswith(".json") for (f,) in files)
        n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()[0]
        assert n == plain.count()
    pruned = medallion.read_zone(spark, z.silver).filter(
        F.col("pickup_date") == F.lit("2024-01-05").cast("date")
    )
    pf = next(s for s in plan_str(pruned).splitlines() if "PartitionFilters" in s)
    assert "pickup_date" in pf


def test_zone_schema_and_merge_schema_win_over_the_record(spark, tmp_path):
    """An explicit schema= or merge_schema=True overrides the record, e.g.
    when a writer that keeps no record appended an evolved file."""
    from pyspark.sql.types import StringType, StructField, StructType

    path = str(tmp_path / "zone")
    medallion.write_parquet(spark.range(4), path)
    spark.range(4, 6).withColumn("extra", F.lit("e")).write.mode(
        "append"
    ).parquet(path)  # plain Spark: the record is left as it was
    assert medallion.read_zone(spark, path).columns == ["id"]
    merged = medallion.read_zone(spark, path, merge_schema=True)
    assert merged.columns == ["id", "extra"]
    assert merged.filter(F.col("extra").isNotNull()).count() == 2
    only = StructType([StructField("extra", StringType())])
    assert medallion.read_zone(spark, path, schema=only).columns == ["extra"]
