"""SCD2 historization (`medallion.scd2_merge`): interval-chain
correctness, replay idempotence, late-observation splicing, bucket-pruned
merges, and the single-shuffle rebuild plan."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from realtime_data_pipeline_spark import medallion
from tests.test_plans import plan_str
import pytest


def ts(day: int, month: int = 1) -> dt.datetime:
    return dt.datetime(2024, month, day)


def obs_df(spark, rows):
    return spark.createDataFrame(
        rows, "cust_id string, tier string, city string, seen_at timestamp"
    )


def chain_of(spark, path, key):
    return [
        (r["tier"], r["city"], r["__valid_from"], r["__valid_to"], r["__is_current"])
        for r in medallion.scd2_read(spark, path)
        .filter(F.col("cust_id") == key)
        .orderBy("__valid_from")
        .collect()
    ]


def snapshot(spark, path):
    return sorted(
        map(str, medallion.scd2_read(spark, path).drop("__bucket").collect())
    )


def test_initial_load_builds_chains_and_collapses_repeats(spark, tmp_path):
    tgt = str(tmp_path / "dim")
    m = medallion.scd2_merge(
        spark,
        tgt,
        obs_df(
            spark,
            [
                ("c1", "bronze", "lyon", ts(1)),
                ("c1", "bronze", "lyon", ts(2)),  # repeat -> collapsed
                ("c1", "gold", "lyon", ts(5)),
                ("c2", "silver", "nice", ts(3)),
            ],
        ),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    assert m["initial_load"] and m["rows_written"] == 3
    assert chain_of(spark, tgt, "c1") == [
        ("bronze", "lyon", ts(1), ts(5), False),
        ("gold", "lyon", ts(5), None, True),
    ]
    assert chain_of(spark, tgt, "c2") == [("silver", "nice", ts(3), None, True)]


def test_merge_closes_current_and_ignores_unchanged(spark, tmp_path):
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "bronze", "lyon", ts(1)), ("c2", "silver", "nice", ts(1))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(
            spark,
            [
                ("c1", "gold", "lyon", ts(9)),  # change -> close + insert
                ("c2", "silver", "nice", ts(9)),  # same values -> no-op
                ("c3", "bronze", "oslo", ts(9)),  # brand new key
            ],
        ),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    assert chain_of(spark, tgt, "c1") == [
        ("bronze", "lyon", ts(1), ts(9), False),
        ("gold", "lyon", ts(9), None, True),
    ]
    assert chain_of(spark, tgt, "c2") == [("silver", "nice", ts(1), None, True)]
    assert chain_of(spark, tgt, "c3") == [("bronze", "oslo", ts(9), None, True)]


def test_merge_replay_is_idempotent(spark, tmp_path):
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "bronze", "lyon", ts(1))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    batch = obs_df(
        spark, [("c1", "gold", "lyon", ts(5)), ("c4", "silver", "rome", ts(5))]
    )
    medallion.scd2_merge(spark, tgt, batch, keys=["cust_id"], effective_col="seen_at")
    once = snapshot(spark, tgt)
    m = medallion.scd2_merge(
        spark, tgt, batch, keys=["cust_id"], effective_col="seen_at"
    )
    assert snapshot(spark, tgt) == once
    assert not m["initial_load"]


def test_late_observation_splices_mid_chain(spark, tmp_path):
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(
            spark,
            [("c1", "bronze", "lyon", ts(1)), ("c1", "gold", "lyon", ts(10))],
        ),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    # late observation lands BETWEEN the two stored segments
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "silver", "lyon", ts(5))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    assert chain_of(spark, tgt, "c1") == [
        ("bronze", "lyon", ts(1), ts(5), False),
        ("silver", "lyon", ts(5), ts(10), False),
        ("gold", "lyon", ts(10), None, True),
    ]
    # a late repeat of the predecessor's values changes nothing
    before = snapshot(spark, tgt)
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "bronze", "lyon", ts(3))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    assert snapshot(spark, tgt) == before


def test_same_timestamp_conflict_update_wins(spark, tmp_path):
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "bronze", "lyon", ts(1))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "gold", "lyon", ts(1))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    assert chain_of(spark, tgt, "c1") == [("gold", "lyon", ts(1), None, True)]


def test_null_tracked_values_compare_stably(spark, tmp_path):
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(
            spark,
            [
                ("c1", "bronze", None, ts(1)),
                ("c1", "bronze", None, ts(2)),  # NULL == NULL -> collapsed
                ("c1", "bronze", "lyon", ts(3)),  # NULL -> value = change
            ],
        ),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    assert chain_of(spark, tgt, "c1") == [
        ("bronze", None, ts(1), ts(3), False),
        ("bronze", "lyon", ts(3), None, True),
    ]


def test_merge_touches_only_affected_buckets(spark, tmp_path):
    """Hive layout: a one-key merge rewrites that key's bucket directory
    and leaves every other bucket's files byte-identical."""
    import os

    tgt = str(tmp_path / "dim")
    rows = [(f"c{i}", "bronze", "lyon", ts(1)) for i in range(40)]
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, rows),
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=8,
        layout="hive",
    )

    def file_stamps():
        out = {}
        for root, _, files in os.walk(tgt):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = file_stamps()
    m = medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c7", "gold", "lyon", ts(5))]),
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=8,
    )
    assert len(m["affected_buckets"]) == 1
    hit = f"__bucket={m['affected_buckets'][0]}"
    after = file_stamps()
    untouched = {p: t for p, t in before.items() if hit not in p}
    assert untouched == {p: t for p, t in after.items() if p in untouched}
    assert chain_of(spark, tgt, "c7")[-1] == ("gold", "lyon", ts(5), None, True)
    assert chain_of(spark, tgt, "c3") == [("bronze", "lyon", ts(1), None, True)]


def test_rebuild_plan_is_single_shuffle(spark):
    """All three window passes (same-timestamp dedup, value dedup,
    interval chaining) share one partitioning and sort — exactly one
    exchange in the rebuild plan."""
    observations = obs_df(
        spark, [("c1", "bronze", "lyon", ts(1))]
    ).withColumn("__src", F.lit(1))
    plan = plan_str(
        medallion.scd2_rebuild(
            observations, ["cust_id"], ["tier", "city"], "seen_at", 16
        ),
        mode="simple",
    )
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    assert plan.count("Sort ") <= 1


def test_current_and_as_of_views(spark, tmp_path):
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(
            spark,
            [
                ("c1", "bronze", "lyon", ts(1)),
                ("c1", "gold", "lyon", ts(10)),
                ("c2", "silver", "nice", ts(4)),
            ],
        ),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    cur = {
        r["cust_id"]: r["tier"]
        for r in medallion.scd2_current(spark, tgt).collect()
    }
    assert cur == {"c1": "gold", "c2": "silver"}
    asof = {
        r["cust_id"]: r["tier"]
        for r in medallion.scd2_as_of(spark, tgt, ts(5)).collect()
    }
    assert asof == {"c1": "bronze", "c2": "silver"}
    # before any history: empty
    assert medallion.scd2_as_of(spark, tgt, dt.datetime(2023, 1, 1)).count() == 0


def test_correction_after_collapse_reattributes_history(spark, tmp_path):
    """The documented correction caveat: a late repeat collapses the
    stored later segment (the VALUE function over time is unchanged),
    after which a same-timestamp correction of that late observation
    re-attributes the whole collapsed span — the boundary evidence was
    physically merged away. This pins the behavior the batch-split
    invariance property excludes via its immutable-stream precondition."""
    tgt = str(tmp_path / "dim")
    merge = lambda rows: medallion.scd2_merge(  # noqa: E731
        spark, tgt, obs_df(spark, rows), keys=["cust_id"], effective_col="seen_at"
    )
    merge([("c1", "gold", "lyon", ts(11))])
    # late repeat: same values earlier -> one segment from ts(1); the
    # ts(11) boundary collapses (value history identical either way)
    merge([("c1", "gold", "lyon", ts(1))])
    assert chain_of(spark, tgt, "c1") == [("gold", "lyon", ts(1), None, True)]
    # correcting the ts(1) observation now rewrites the WHOLE span —
    # the ts(11) evidence no longer exists as a separate segment
    merge([("c1", "bronze", "lyon", ts(1))])
    assert chain_of(spark, tgt, "c1") == [("bronze", "lyon", ts(1), None, True)]


def test_temporal_join_attributes_facts_point_in_time(spark, tmp_path):
    """Each fact row picks up the dimension segment in force at its own
    timestamp: never today's values on yesterday's facts, NULLs before
    the first segment or for unknown keys, and the disjoint-interval
    residual cannot fan a fact out to two rows. Plan stays a hash join
    (equi key + interval residual), not a nested loop."""
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(
            spark,
            [
                ("c1", "bronze", "lyon", ts(2)),
                ("c1", "gold", "lyon", ts(10)),
                ("c2", "silver", "nice", ts(5)),
            ],
        ),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    facts = spark.createDataFrame(
        [
            (1, "c1", ts(3)),   # inside bronze segment
            (2, "c1", ts(10)),  # boundary: new segment starts AT ts -> gold
            (3, "c1", ts(1)),   # before first segment -> NULL
            (4, "c2", ts(20)),  # open current segment
            (5, "c9", ts(5)),   # unknown key -> NULL
        ],
        "order_id long, cust_id string, at timestamp",
    )
    dim = medallion.scd2_read(spark, tgt)
    got = {
        r.order_id: r.tier
        for r in medallion.scd2_temporal_join(
            facts, dim, keys=["cust_id"], ts_col="at"
        ).collect()
    }
    assert got == {1: "bronze", 2: "gold", 3: None, 4: "silver", 5: None}

    from tests.test_plans import plan_str

    plan = plan_str(
        medallion.scd2_temporal_join(facts, dim, ["cust_id"], "at"),
        mode="simple",
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_null_key_and_null_effective_handling(spark, tmp_path):
    """A NULL key is one ordinary group (xxhash64 of NULL = seed -> a
    real bucket, so pruned merges still find its history); rows with a
    NULL effective time are dropped at the scan instead of corrupting
    the chain sort."""
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(
            spark,
            [
                (None, "bronze", "lyon", ts(1)),
                ("c1", "gold", "nice", ts(1)),
                ("c1", "gold", "nice", None),  # NULL effective -> dropped
            ],
        ),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    rows = {
        (r["cust_id"], r["tier"], r["__is_current"])
        for r in medallion.scd2_read(spark, tgt).collect()
    }
    assert rows == {(None, "bronze", True), ("c1", "gold", True)}
    # merging a change for the NULL key closes its open segment
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [(None, "silver", "lyon", ts(5))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    null_chain = [
        (r["tier"], r["__valid_from"], r["__valid_to"], r["__is_current"])
        for r in medallion.scd2_read(spark, tgt)
        .filter(F.col("cust_id").isNull())
        .orderBy("__valid_from")
        .collect()
    ]
    assert null_chain == [
        ("bronze", ts(1), ts(5), False),
        ("silver", ts(5), None, True),
    ]


def test_bucket_count_is_pinned_by_the_table(spark, tmp_path):
    """n_buckets is part of the on-disk layout: a merge called with a
    DIFFERENT value must use the table's pinned count (sidecar metadata)
    — otherwise pruning reads the wrong directories and chains get
    written beside their own history."""
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "bronze", "lyon", ts(1))]),
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=4,
    )
    # deliberately wrong bucket count on the merge call
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "gold", "lyon", ts(9))]),
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=256,
    )
    assert chain_of(spark, tgt, "c1") == [
        ("bronze", "lyon", ts(1), ts(9), False),
        ("gold", "lyon", ts(9), None, True),
    ]
    # exactly one current row — no duplicate chain in a second bucket
    assert medallion.scd2_current(spark, tgt).count() == 1


def test_empty_initial_load_leaves_target_absent(spark, tmp_path):
    """An initial batch with zero surviving observations (all-NULL
    effective) must NOT create a file-less parquet dir that bricks every
    later merge."""
    import os

    tgt = str(tmp_path / "dim")
    m = medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "bronze", "lyon", None)]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    assert m["rows_written"] == 0
    assert not os.path.exists(tgt)
    # the next batch is a clean initial load
    m2 = medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "gold", "lyon", ts(1))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    assert m2["initial_load"] and m2["rows_written"] == 1


def test_temporal_join_finds_null_key_history(spark, tmp_path):
    """Facts with a NULL key must pick up the NULL-key group's in-force
    segment (null-safe key equality), matching scd2_merge's treatment of
    NULL as one ordinary group."""
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [(None, "bronze", "lyon", ts(1))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    facts = spark.createDataFrame(
        [(1, None, ts(5))], "order_id long, cust_id string, at timestamp"
    )
    got = medallion.scd2_temporal_join(
        facts, medallion.scd2_read(spark, tgt), ["cust_id"], "at"
    ).collect()
    assert got[0].tier == "bronze"


def test_compaction_preserves_scd2_table(spark, tmp_path):
    """Small-file compaction on an SCD2 dimension keeps the chains
    byte-identical AND carries the bucket-count sidecar across the
    directory swap — a follow-up merge still prunes correctly."""
    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [(f"c{i}", "bronze", "lyon", ts(1)) for i in range(20)]),
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=4,
    )
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c3", "gold", "lyon", ts(5))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    before = snapshot(spark, tgt)
    out = medallion.compact(spark, tgt, partition_by="__bucket")
    assert out["files_after"] <= out["files_before"]
    assert snapshot(spark, tgt) == before
    # the sidecar survived: a further merge uses the pinned bucket count
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c3", "silver", "lyon", ts(9))]),
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=256,  # wrong on purpose; the pin must win
    )
    assert chain_of(spark, tgt, "c3") == [
        ("bronze", "lyon", ts(1), ts(5), False),
        ("gold", "lyon", ts(5), ts(9), False),
        ("silver", "lyon", ts(9), None, True),
    ]
    assert medallion.scd2_current(spark, tgt).count() == 20


def test_late_splice_before_collapsed_repeat(spark, tmp_path):
    """The second half of the collapse caveat: a batch whose repeats
    collapsed (days 3/6/7 merged into the day-1 segment) cannot lend
    boundary evidence to a LATER late splice — the late v1@4 closes at
    the next SURVIVING boundary (day 8), not at the merged-away day-6
    observation. The batch-split invariance property therefore holds for
    time-monotone arrival only; this pins what out-of-order arrival does
    instead (value history stays plausible — v0 before 4, v1 in [4, 8),
    v0 after — but the re-attribution extends across collapsed spans)."""
    tgt = str(tmp_path / "dim")
    merge = lambda rows: medallion.scd2_merge(  # noqa: E731
        spark, tgt, obs_df(spark, rows), keys=["cust_id"], effective_col="seen_at"
    )
    merge([
        ("c1", "bronze", "lyon", ts(1)),
        ("c1", "bronze", "lyon", ts(3)),  # collapsed
        ("c1", "bronze", "lyon", ts(6)),  # collapsed — evidence lost
        ("c1", "bronze", "lyon", ts(7)),  # collapsed
    ])
    merge([
        ("c1", "gold", "lyon", ts(4)),    # late: splices before the repeats
        ("c1", "bronze", "lyon", ts(8)),
    ])
    assert chain_of(spark, tgt, "c1") == [
        ("bronze", "lyon", ts(1), ts(4), False),
        ("gold", "lyon", ts(4), ts(8), False),  # extends past lost day 6
        ("bronze", "lyon", ts(8), None, True),
    ]


@pytest.mark.slow
def test_cdc_chain_zone_to_scd2_dimension(spark, tmp_path):
    """Full CDC chain: observation batches COMMIT into a versioned zone,
    a stream TAILS the zone via zone_changes, and scd2_stream folds each
    micro-batch into the historized dimension — the closed loop from
    table-format commits to queryable history, exactly once."""
    from realtime_data_pipeline_spark import pysource, streaming, versioned

    pysource.register(spark)
    root = str(tmp_path / "obs_zone")
    obs = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "cust_id string, tier string, seen_at timestamp"
    )
    versioned.commit_version(obs([("c1", "bronze", ts(1))]), root)
    versioned.commit_version(
        obs([("c1", "gold", ts(9)), ("c2", "silver", ts(9))]),
        root,
        mode="append",
    )

    dim = str(tmp_path / "dim")
    q = streaming.scd2_stream(
        spark.readStream.format("zone_changes")
        .option("root", root)
        .load()
        .drop("_commit_version"),
        dim,
        keys=["cust_id"],
        effective_col="seen_at",
        checkpoint=str(tmp_path / "ck"),
        n_buckets=4,
    )
    q.awaitTermination(120)
    assert chain_of2(spark, dim, "c1") == [
        ("bronze", ts(1), ts(9), False),
        ("gold", ts(9), None, True),
    ]
    # a third commit lands; re-running the stream folds exactly it
    versioned.commit_version(
        obs([("c1", "platinum", ts(20))]), root, mode="append"
    )
    q2 = streaming.scd2_stream(
        spark.readStream.format("zone_changes")
        .option("root", root)
        .load()
        .drop("_commit_version"),
        dim,
        keys=["cust_id"],
        effective_col="seen_at",
        checkpoint=str(tmp_path / "ck"),
        n_buckets=4,
    )
    q2.awaitTermination(120)
    assert chain_of2(spark, dim, "c1") == [
        ("bronze", ts(1), ts(9), False),
        ("gold", ts(9), ts(20), False),
        ("platinum", ts(20), None, True),
    ]
    assert medallion.scd2_current(spark, dim).count() == 2


def chain_of2(spark, path, key):
    return [
        (r["tier"], r["__valid_from"], r["__valid_to"], r["__is_current"])
        for r in medallion.scd2_read(spark, path)
        .filter(F.col("cust_id") == key)
        .orderBy("__valid_from")
        .collect()
    ]


def test_concurrent_merge_refused_then_succeeds_with_no_loss(spark, tmp_path):
    """Two-writer race, made deterministic by holding the merge lock:
    the second merge is REFUSED loudly (never silently dropped by the
    later dynamic overwrite), and retried after release it lands — the
    final table carries BOTH writers' observations."""
    import pytest

    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark, tgt,
        obs_df(spark, [("c1", "bronze", "paris", ts(1))]),
        keys=["cust_id"], effective_col="seen_at",
    )
    b_batch = obs_df(spark, [("c1", "gold", "paris", ts(5))])
    with medallion._merge_lock(tgt):  # writer A mid-merge
        with pytest.raises(medallion.ConcurrentMergeError, match="in flight"):
            medallion.scd2_merge(
                spark, tgt, b_batch, keys=["cust_id"],
                effective_col="seen_at",
            )
    # writer A released -> B's retry succeeds; both observations present
    medallion.scd2_merge(
        spark, tgt, b_batch, keys=["cust_id"], effective_col="seen_at"
    )
    assert chain_of(spark, tgt, "c1") == [
        ("bronze", "paris", ts(1), ts(5), False),
        ("gold", "paris", ts(5), None, True),
    ]
    # a failed/finished merge never leaks the lock file
    import os

    assert not os.path.exists(tgt + "._merge_lock")

    # merge_upsert shares the same guard (same read-rebuild-overwrite race)
    up_tgt = str(tmp_path / "scd1")
    up = spark.createDataFrame(
        [(1, "a", "2024-01-01")], "id long, v string, d string"
    )
    medallion.merge_upsert(
        spark, up_tgt, up, keys=["id"], order_by=["d"], partition_col="d"
    )
    with medallion._merge_lock(up_tgt):
        with pytest.raises(medallion.ConcurrentMergeError, match="in flight"):
            medallion.merge_upsert(
                spark, up_tgt, up, keys=["id"], order_by=["d"],
                partition_col="d",
            )


def test_crashed_holder_lock_is_reclaimed(spark, tmp_path):
    """A merge lock left behind by a CRASHED process (its recorded pid no
    longer exists on this host) is reclaimed automatically: the next merge
    probes the pid with os.kill(pid, 0), removes the dead holder's file and
    proceeds — no operator intervention. A live holder (this very process)
    still refuses loudly, and an unparsable holder record is never
    reclaimed (liveness unknown -> stay loud)."""
    import json
    import os

    import pytest

    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark, tgt,
        obs_df(spark, [("c1", "bronze", "paris", ts(1))]),
        keys=["cust_id"], effective_col="seen_at",
    )
    lock = tgt + "._merge_lock"

    # forge a crashed holder: a pid that provably cannot exist. Linux pids
    # are capped by /proc/sys/kernel/pid_max (<= 2^22 by default; the file
    # gives this host's real cap), so cap+1 is never a live process.
    with open("/proc/sys/kernel/pid_max") as f:
        dead_pid = int(f.read().strip()) + 1
    with open(lock, "w") as f:
        json.dump({"pid": dead_pid, "ts": 0.0}, f)
    medallion.scd2_merge(
        spark, tgt,
        obs_df(spark, [("c1", "gold", "paris", ts(5))]),
        keys=["cust_id"], effective_col="seen_at",
    )  # reclaimed + merged, no ConcurrentMergeError
    assert chain_of(spark, tgt, "c1") == [
        ("bronze", "paris", ts(1), ts(5), False),
        ("gold", "paris", ts(5), None, True),
    ]
    assert not os.path.exists(lock)  # reclaim never leaks the lock

    # live holder (our own pid) -> still refused
    with open(lock, "w") as f:
        json.dump({"pid": os.getpid(), "ts": 0.0}, f)
    with pytest.raises(medallion.ConcurrentMergeError, match="in flight"):
        medallion.scd2_merge(
            spark, tgt,
            obs_df(spark, [("c1", "plat", "paris", ts(9))]),
            keys=["cust_id"], effective_col="seen_at",
        )
    os.unlink(lock)

    # unparsable holder -> liveness unknown -> refused, file kept
    with open(lock, "w") as f:
        f.write("not json")
    with pytest.raises(medallion.ConcurrentMergeError, match="in flight"):
        medallion.scd2_merge(
            spark, tgt,
            obs_df(spark, [("c1", "plat", "paris", ts(9))]),
            keys=["cust_id"], effective_col="seen_at",
        )
    assert os.path.exists(lock)
    os.unlink(lock)


def test_reclaim_never_unlinks_a_fresh_live_lock(tmp_path):
    """The round-8 TOCTOU regression: a waiter that validated a DEAD
    holder must not unlink the lock if a fresh holder replaced the file
    between the validation and the reclaim (the old check-then-unlink
    let the stale re-read and the unlink interleave with a concurrent
    reclaim + reacquire). _reclaim_stale re-checks content inside a
    flock-serialized section and leaves a mismatching (live) record
    untouched; concurrent reclaimers of the SAME stale record remove it
    exactly once and never touch a successor."""
    import json
    import os
    import threading

    lock = str(tmp_path / "tbl") + "._merge_lock"
    stale = json.dumps({"pid": 99999999, "ts": 0.0})
    fresh = json.dumps({"pid": os.getpid(), "ts": 1.0})

    # fresh holder replaced the file after validation -> must survive
    with open(lock, "w") as f:
        f.write(fresh)
    medallion._reclaim_stale(lock, stale)
    with open(lock) as f:
        assert f.read() == fresh

    # already reclaimed by someone else -> no error
    os.unlink(lock)
    medallion._reclaim_stale(lock, stale)
    assert not os.path.exists(lock)

    # N concurrent reclaimers of the same stale record: the file is
    # removed exactly once; a successor written by the "winner" (the
    # interleaving the old code corrupted) is never unlinked
    with open(lock, "w") as f:
        f.write(stale)
    barrier = threading.Barrier(8)
    reacquired = threading.Event()

    def reclaim_then_acquire():
        barrier.wait()
        medallion._reclaim_stale(lock, stale)
        # first thread to notice the gap plays the fresh acquirer
        if not reacquired.is_set() and not os.path.exists(lock):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return
            os.write(fd, fresh.encode())
            os.close(fd)
            reacquired.set()

    threads = [
        threading.Thread(target=reclaim_then_acquire) for _ in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if reacquired.is_set():  # the fresh lock must have survived the pack
        with open(lock) as f:
            assert f.read() == fresh


def test_manifest_merge_commits_one_directory(spark, tmp_path):
    """Manifest layout (the round-17 default): a merge writes exactly ONE
    new gen directory — previous generations are immutable (byte-stamped)
    — and the manifest repoints only the affected buckets."""
    import os

    from realtime_data_pipeline_spark import manifest_layout as ml

    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [(f"c{i}", "bronze", "lyon", ts(1)) for i in range(40)]),
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=8,
    )
    data = os.path.join(tgt, "data")
    assert sorted(e for e in os.listdir(data) if e.startswith("gen=")) == [
        "gen=0"
    ]
    man0 = ml.read_manifest(data)

    def stamps(root):
        out = {}
        for r, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    out[p] = os.path.getmtime(p)
        return out

    before = stamps(os.path.join(data, "gen=0"))
    m = medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c7", "gold", "lyon", ts(5))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    assert len(m["affected_buckets"]) == 1
    # one new gen, gen=0 untouched byte-for-byte
    assert sorted(e for e in os.listdir(data) if e.startswith("gen=")) == [
        "gen=0",
        "gen=1",
    ]
    assert stamps(os.path.join(data, "gen=0")) == before
    man1 = ml.read_manifest(data)
    hit = m["affected_buckets"][0]
    assert man1[hit] == [1]
    assert {k: v for k, v in man1.items() if k != hit} == {
        k: v for k, v in man0.items() if k != hit
    }
    # stale exclusion: the API read sees exactly one open segment per key
    assert medallion.scd2_current(spark, tgt).count() == 40
    assert chain_of(spark, tgt, "c7")[-1] == ("gold", "lyon", ts(5), None, True)


def test_manifest_orphan_generation_is_invisible(spark, tmp_path):
    """A crashed writer's un-published gen dir is ignored by readers and
    never reused for new data."""
    import os

    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "bronze", "lyon", ts(1))]),
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=4,
    )
    data = os.path.join(tgt, "data")
    # simulate a crash: a fully-written but never-published generation
    orphan = obs_df(spark, [("c1", "zzz", "mars", ts(9))])
    medallion.scd2_merge(  # build rows via a throwaway table
        spark,
        str(tmp_path / "scratch"),
        orphan,
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=4,
    )
    import shutil

    shutil.copytree(
        os.path.join(str(tmp_path / "scratch"), "data", "gen=0"),
        os.path.join(data, "gen=5"),
    )
    # the orphan's rows are invisible
    rows = {r["tier"] for r in medallion.scd2_read(spark, tgt).collect()}
    assert rows == {"bronze"}
    # buckets with no stored history read as an empty frame, not None
    from realtime_data_pipeline_spark import manifest_layout as ml

    empty = [b for b in range(4) if b not in ml.read_manifest(data)]
    assert empty
    none_stored = medallion.scd2_read(spark, tgt, buckets=empty)
    assert none_stored.count() == 0
    assert none_stored.schema == medallion.scd2_read(spark, tgt).schema
    # and the next merge does not reuse gen=5
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "gold", "lyon", ts(3))]),
        keys=["cust_id"],
        effective_col="seen_at",
    )
    assert os.path.isdir(os.path.join(data, "gen=6"))
    assert {r["tier"] for r in medallion.scd2_read(spark, tgt).collect()} == {
        "bronze",
        "gold",
    }


def test_manifest_layout_is_pinned_by_the_table(spark, tmp_path):
    """The sidecar layout pin wins over the argument — a hive-requested
    merge into a manifest table stays manifest (and vice versa)."""
    import os

    tgt = str(tmp_path / "dim")
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "bronze", "lyon", ts(1))]),
        keys=["cust_id"],
        effective_col="seen_at",
        n_buckets=4,
    )
    medallion.scd2_merge(
        spark,
        tgt,
        obs_df(spark, [("c1", "gold", "lyon", ts(5))]),
        keys=["cust_id"],
        effective_col="seen_at",
        layout="hive",  # ignored: the table is pinned manifest
    )
    assert not any(e.startswith("__bucket=") for e in os.listdir(tgt))
    assert os.path.isdir(os.path.join(tgt, "data", "gen=1"))
    assert chain_of(spark, tgt, "c1") == [
        ("bronze", "lyon", ts(1), ts(5), False),
        ("gold", "lyon", ts(5), None, True),
    ]
