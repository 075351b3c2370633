"""Physical-plan assertions: the properties SCALE.md claims must show up
in ``explain`` output, so a regression that silently de-optimizes a plan
(losing pushdown, un-broadcasting a dim, dropping partial top-k, or
introducing a row-at-a-time Python UDF) fails the suite instead of only
showing up as a bench slowdown.

These parse the *initial* (pre-AQE) formatted plan via the public
``DataFrame.explain`` API — stable text anchors only.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from realtime_data_pipeline_spark import queries as q


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def qfn(name: str):
    """Tier-agnostic query lookup: a plan property holds for the query
    itself, not for which side of the 50-row driver budget it currently
    sits on — queries rotate between declared and shelved each round."""
    return q.QUERIES.get(name) or q.SHELVED_QUERIES[name]


def test_pricing_summary_pushes_date_filter_into_scan(spark, sf_dir):
    df = qfn("pricing_summary_q1")(spark, sf_dir)
    plan = plan_str(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # single-stage agg: exactly one shuffle (partial -> final hash agg)
    simple = plan_str(df, mode="simple")
    assert simple.count("Exchange") - simple.count("BroadcastExchange") == 1


def test_pricing_summary_prunes_columns(spark, sf_dir):
    plan = plan_str(qfn("pricing_summary_q1")(spark, sf_dir))
    scan = next(s for s in plan.splitlines() if "ReadSchema" in s)
    # 7 needed columns, not the 16-column table
    assert "l_comment" not in scan and "l_partkey" not in scan


def test_revenue_per_nation_broadcasts_dims(spark, sf_dir):
    plan = plan_str(qfn("revenue_per_nation")(spark, sf_dir))
    # customer and nation are hint-broadcast: never a shuffle join for dims
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_global_topk_is_take_ordered(spark, sf_dir):
    plan = plan_str(qfn("top_orders_by_price")(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort (" not in plan  # never a full global sort


@pytest.mark.parametrize(
    "name", ["top_orders_per_segment", "events_keep_latest_per_user"]
)
def test_per_group_topk_has_partial_window_group_limit(spark, sf_dir, name):
    plan = plan_str(qfn(name)(spark, sf_dir), mode="simple")
    # WindowGroupLimit both below (partial, pre-shuffle) and above the
    # Exchange: the shuffle carries <= k rows per group per map partition
    assert plan.count("WindowGroupLimit") == 2


@pytest.mark.slow
def test_no_row_at_a_time_python_udfs_anywhere(spark, sf_dir):
    """Suite-wide ban: every declared query must stay JVM-side or use
    Arrow-batched evaluation (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas). BatchEvalPython = pickled row-at-a-time UDF,
    the 10-100x slow path."""
    offenders = []
    for name, fn in {**q.QUERIES, **q.SHELVED_QUERIES}.items():
        plan = plan_str(fn(spark, sf_dir), mode="simple")
        if "BatchEvalPython" in plan:
            offenders.append(name)
    assert not offenders, f"row-UDF in: {offenders}"


@pytest.mark.slow
def test_partitioned_layout_prunes_partitions(spark, sf_dir, tmp_path):
    """The medallion hive layout must turn date predicates into
    PartitionFilters (pruned directory listing), not data filters — the
    mechanism that makes 100 TB backfill reads touch one day, not all."""
    from realtime_data_pipeline_spark import etl, medallion

    raw = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bronze = etl.bronze_transform(
        raw, "o_orderdate", ["o_orderkey", "o_totalprice"], date_col="order_date"
    )
    path = str(tmp_path / "bronze_orders")
    medallion.write_parquet(bronze, path, partition_by="order_date")

    some_date = bronze.select("order_date").first()[0]
    read = spark.read.parquet(path).filter(F.col("order_date") == F.lit(some_date))
    plan = plan_str(read)
    assert "PartitionFilters" in plan
    pf_line = next(s for s in plan.splitlines() if "PartitionFilters" in s)
    assert "order_date" in pf_line and "isnotnull" in pf_line


def test_q6_pushes_every_predicate(spark, sf_dir):
    plan = plan_str(qfn("forecast_revenue_q6")(spark, sf_dir))
    pushed = next(s for s in plan.splitlines() if "PushedFilters" in s)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed: {pushed}"


def test_salted_join_partitions_on_salt(spark, sf_dir):
    """Skew mitigation must be visible in the plan: the shuffle feeding the
    join has to hash-partition on (key, __salt) — that is what spreads a
    hot key's rows over salt_buckets tasks instead of one straggler. Guards
    the bench's skewed_join_salted leg."""
    from realtime_data_pipeline_spark import ops

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    left = li.select(
        F.when(F.pmod("l_orderkey", F.lit(10)) < 8, F.lit(0))
        .otherwise(F.pmod("l_orderkey", F.lit(1000)))
        .cast("long")
        .alias("k"),
        "l_extendedprice",
    )
    dim = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 0.01).alias("weight")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ops.salted_join(left, dim, "k", salt_buckets=32)
        plan = plan_str(joined, mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    exchange_lines = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
    assert any(
        "__salt" in ln and "k#" in ln for ln in exchange_lines
    ), f"join shuffle not salted:\n{plan}"
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_fires_on_partitioned_fact(
    spark, sf_dir, tmp_path
):
    """The partition-layout twin of the bloom gate: joining a
    hive-partitioned fact against a dim whose filter selects a subset of
    partition values must produce a dynamicpruningexpression in the
    fact scan's PartitionFilters — at 100 TB the fact side lists and
    reads only the partitions the filtered dim can still join, decided
    at runtime from the dim's rows, not statically. A layout or join
    refactor that silently broke DPP (partition column transformed
    before the join, pruning-hostile expression) turns every such query
    into a full-table scan; this pins the shape."""
    assert (
        spark.conf.get(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled"
        )
        == "true"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    fact_path = str(tmp_path / "fact_by_month")
    orders.write.partitionBy("order_month").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = (
        orders.select("order_month")
        .distinct()
        .withColumn(
            "half", F.when(F.col("order_month") < "1995", 1).otherwise(2)
        )
        .filter(F.col("half") == 1)
    )
    j = (
        fact.join(dim, "order_month")
        .groupBy("half")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    plan = plan_str(j)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("dynamicpruning" in ln for ln in pf), plan


def test_runtime_bloom_filter_injects_on_fact_fact_shuffle_join(
    spark, sf_dir
):
    """100 TB scan-reduction: Spark's runtime bloom filter builds a
    filter from the selective (dim-filtered) side of a shuffle join and
    pushes might_contain() into the fact side's scan stage — rows that
    can't join are dropped before the shuffle. The session leaves the
    feature ON with stock thresholds; those thresholds are sized for
    cluster scale (application side >= 10 GB), so this test lowers them
    to fixture scale and pins that OUR join shape stays bloom-ELIGIBLE:
    a fact-fact shuffle join whose application side itself contains a
    shuffle, creation side carrying a selective non-join predicate. A
    refactor that broke eligibility (e.g. filter hidden behind a
    Python UDF, join rewritten to nested-loop) would fail here long
    before a 100 TB run noticed the missing pruning."""
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_app = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    try:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        part = spark.read.parquet(f"{sf_dir}/part.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        app = li.join(part, li.l_partkey == part.p_partkey)
        j = (
            app.join(orders, app.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_extendedprice").alias("rev"))
        )
        plan = plan_str(j, mode="extended")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            prev_app,
        )
    assert "bloom_filter_agg" in plan, "bloom filter not built"
    assert "might_contain" in plan, "bloom filter not applied"


def test_bronze_transform_is_single_projection(spark, sf_dir):
    """P1-P6 must compose into O(1) plan nodes (one Project over the scan),
    not one node per column like the reference's withColumn loops."""
    from realtime_data_pipeline_spark import etl

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bronze = etl.bronze_transform(
        df, "l_shipdate", ["l_orderkey", "l_quantity", "l_shipdate"]
    )
    plan = plan_str(bronze, mode="simple")
    assert plan.count("Project") <= 2


def test_repetition_profile_is_shuffle_free(spark, sf_dir):
    """docs_repetition_profile claims per-doc top-frequency stats WITHOUT
    the explode + groupBy word shuffle — the plan must hold zero exchanges
    (ops.spread's small-input repartition is the allowed exception)."""
    df = qfn("docs_repetition_profile")(spark, sf_dir)
    simple = plan_str(df, mode="simple")
    # the only Exchange permitted is spread()'s RoundRobin/hash repartition
    exchanges = [
        ln for ln in simple.splitlines() if "Exchange" in ln
    ]
    assert all("REPARTITION" in ln for ln in exchanges), simple


def test_multimodal_meta_profile_never_materializes_payload(spark, sf_dir):
    """X5 scale contract: a metadata-only query over a media column must
    not compute (or, on a stored table, read) the binary payload. The
    payload expression here is the sha2-derived fake bytes — its survival
    in the optimized plan would mean every meta query pays for the media
    bytes. multimodal.media_meta's two-step projection is what lets
    CollapseProject + SimplifyExtractValueOps eliminate it."""
    df = qfn("docs_multimodal_meta_profile")(spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "sha2" not in optimized.lower(), optimized
    physical = plan_str(df, mode="simple")
    assert "sha2" not in physical.lower(), physical


def test_multimodal_meta_only_scan_prunes_nested_payload(spark, sf_dir, tmp_path):
    """Same contract on a STORED media table: reading only media.meta from
    parquet must schema-prune the nested binary — ReadSchema lists meta
    fields, never media.data."""
    from realtime_data_pipeline_spark import multimodal

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    path = str(tmp_path / "media_tbl")
    multimodal.attach_fake_media(docs, "doc_id").select(
        "doc_id", "media"
    ).write.parquet(path)
    meta_only = multimodal.media_meta(spark.read.parquet(path))
    plan = plan_str(meta_only)
    scan = next(s for s in plan.splitlines() if "ReadSchema" in s)
    assert "meta" in scan and "data" not in scan, scan


def test_pii_redaction_is_narrow_projection(spark, sf_dir):
    """Redaction + counts must stay one projection over the scan: no
    aggregates, no joins, no Python UDFs."""
    df = qfn("docs_pii_redaction")(spark, sf_dir)
    simple = plan_str(df, mode="simple")
    for op in ("Join", "HashAggregate", "BatchEvalPython", "ArrowEvalPython"):
        assert op not in simple, simple


def test_surprisal_broadcasts_frequency_table(spark, sf_dir):
    """The unigram LM scoring join must broadcast the Zipf-small
    frequency table — a shuffled scoring join would move every corpus
    token twice."""
    plan = plan_str(qfn("docs_unigram_surprisal")(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_hot_user_share_broadcasts_total(spark, sf_dir):
    """The exact heavy-hitter profile attaches the 1-row total via a
    broadcast nested-loop cross join — never a global window (single-task
    funnel) nor a shuffled join."""
    plan = plan_str(qfn("events_hot_user_share")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_chunk_text_is_shuffle_free(spark, sf_dir):
    """RAG chunking must stay narrow — split/sequence/slice/explode fuse
    over the scan with no Exchange (at 100 TB an accidental shuffle here
    moves the whole tokenized corpus)."""
    from realtime_data_pipeline_spark import packing

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_str(
        packing.chunk_text(docs, "doc_id", "text", 64, 16), mode="simple"
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_mixture_sample_broadcasts_rates(spark, sf_dir):
    """The per-source rates table must come back as a BroadcastHashJoin —
    the corpus side streams map-side; only the tiny per-source aggregate
    shuffles."""
    from realtime_data_pipeline_spark import packing
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.length("text").cast("long").alias("w")
    )
    plan = plan_str(
        packing.mixture_sample(docs, "doc_id", "source", "w", 1000.0),
        mode="simple",
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q19_disjunction_is_one_join_no_union(spark, sf_dir):
    """The OR-of-ANDs must be a residual filter on ONE broadcast hash
    join — a union-of-three-joins rewrite would scan lineitem 3x."""
    plan = plan_str(
        qfn("disjunctive_revenue_q19")(spark, sf_dir),
        mode="simple",
    )
    assert plan.count("Join") == 1
    assert "BroadcastHashJoin" in plan
    assert "Union" not in plan


def test_q4_exists_is_semi_join_carrying_correlation(spark, sf_dir):
    """EXISTS with a non-equi correlated term must run as ONE hash semi
    join with the extra predicate on the join (never a per-row subquery
    or a post-join dedup)."""
    plan = plan_str(
        qfn("order_priority_check_q4")(spark, sf_dir),
        mode="simple",
    )
    semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert len(semi) == 1
    assert "l_shipdate" in semi[0]  # correlation rides the join itself


def test_q17_window_decorrelation_single_shuffle(spark, sf_dir):
    """The correlated scalar AVG decorrelates to a window over the part
    key: exactly one data shuffle (the window) before the 1-row agg, and
    the brand filter reaches lineitem via broadcast."""
    plan = plan_str(
        qfn("small_quantity_revenue_q17")(spark, sf_dir),
        mode="simple",
    )
    assert "BroadcastHashJoin" in plan
    # shuffles: window partitionBy + the single-row final agg only
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 2


def test_q22_scalar_subquery_broadcasts_and_anti_joins(spark, sf_dir):
    """The global average is a 1-row broadcast (nested-loop) join and the
    NOT EXISTS is a hash anti join — no shuffle of the customer table for
    the scalar comparison."""
    plan = plan_str(
        qfn("idle_rich_customers_q22")(spark, sf_dir),
        mode="simple",
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan


def test_pivot_conditional_agg_single_shuffle(spark, sf_dir):
    """The pivot is conditional aggregation: one shuffle on the group key
    (partial -> final) — not DataFrame.pivot's two-shuffle pivotfirst
    plan, and no distinct-values discovery pass over the fact table."""
    plan = plan_str(
        qfn("orders_pivot_status_by_year")(spark, sf_dir),
        mode="simple",
    )
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1


def test_unpivot_is_expand_after_the_agg(spark, sf_dir):
    """Melt runs as an Expand projection over the aggregated result — the
    only shuffle is the grouped aggregation's."""
    plan = plan_str(
        qfn("lineitem_unpivot_measures")(spark, sf_dir),
        mode="simple",
    )
    assert "Expand" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1


def test_tfidf_topk_window_is_shuffle_free(spark, sf_dir):
    """Per-doc top-3 has a WindowGroupLimit, and the window adds NO
    exchange of its own: the tf aggregation inherits the upfront doc_id
    partitioning, so the same data movement serves the agg and the top-k.
    The idf table joins back by broadcast — never a sort-merge join of
    tokens against tokens."""
    plan = plan_str(
        qfn("docs_tfidf_top_terms")(spark, sf_dir),
        mode="simple",
    )
    assert "WindowGroupLimit" in plan
    # no Exchange between the WindowGroupLimit and the scoring join below
    # it — the window consumes the aggregation's partitioning directly
    limit_to_join = plan[
        plan.index("WindowGroupLimit") : plan.index("BroadcastHashJoin")
    ]
    assert "Exchange" not in limit_to_join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bm25_topk_is_take_ordered(spark, sf_dir):
    """Global top-10 is TakeOrderedAndProject — never a full sort of the
    scored corpus."""
    plan = plan_str(
        qfn("docs_bm25_search")(spark, sf_dir), mode="simple"
    )
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    ("name", "min_bhj"),
    [
        ("local_supplier_volume_q5", 3),
        ("volume_shipping_q7", 3),
        ("market_share_q8", 4),
    ],
)
def test_tpch_multiway_joins_broadcast_every_dim(spark, sf_dir, name, min_bhj):
    """Q5/Q7/Q8: every dimension (supplier, nation x2, region, part
    slice) rides a hint-driven BroadcastHashJoin — adding the 5th/6th
    table costs no extra shuffle, and nothing degenerates to a cartesian
    product."""
    plan = plan_str(qfn(name)(spark, sf_dir), mode="simple")
    assert plan.count("BroadcastHashJoin") >= min_bhj
    assert "CartesianProduct" not in plan


def test_q10_topk_is_take_ordered_single_agg_shuffle(spark, sf_dir):
    """Q10: top-20 customers is TakeOrderedAndProject (never a global
    sort), the nation dim broadcasts, and the customer-grain aggregation
    is the plan's one guaranteed shuffle."""
    plan = plan_str(
        qfn("returned_item_losses_q10")(spark, sf_dir),
        mode="simple",
    )
    assert "TakeOrderedAndProject" in plan
    assert "Sort (" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_q15_scalar_max_is_broadcast_back(spark, sf_dir):
    """Q15: the MAX(revenue) scalar subquery joins back by broadcast
    (1-row build side) — the per-supplier revenue aggregate is never
    re-sorted or re-shuffled to find its max."""
    plan = plan_str(
        qfn("top_supplier_q15")(spark, sf_dir), mode="simple"
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q21_exists_pair_is_semi_plus_anti(spark, sf_dir):
    """Q21 (adapted): EXISTS(other supplier) / NOT EXISTS(other late
    supplier) plan as a left-semi and left-anti hash join on the order
    key — no per-row subquery, no cartesian expansion — and the final
    top-20 is TakeOrderedAndProject."""
    plan = plan_str(
        qfn("waiting_suppliers_q21")(spark, sf_dir),
        mode="simple",
    )
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q12_is_one_join_one_agg_pass(spark, sf_dir):
    """Q12 (adapted): exactly two scans (lineitem, orders) feed one join,
    and both priority counters come from a single aggregation pass — no
    union of per-bucket scans."""
    plan = plan_str(
        qfn("late_shipment_priority_q12")(spark, sf_dir),
        mode="simple",
    )
    assert plan.count("Scan parquet") == 2
    assert "Union" not in plan


def test_zscore_moments_broadcast_back_not_windowed(spark, sf_dir):
    """Grouped anomaly scoring: the 5-row moments aggregate broadcasts
    back over the facts — the fact table itself never shuffles. A window
    spelling (moments OVER (PARTITION BY group)) would hash the whole
    table into |groups| partitions; with low-cardinality groups at scale
    that is a handful of executors holding everything."""
    plan = plan_str(
        qfn("orders_price_anomalies_zscore")(spark, sf_dir),
        mode="simple",
    )
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_customer_spend_zscore_broadcasts_moments_not_windowed(spark, sf_dir):
    """The segment-spend variant keeps the same discipline: the 5-row
    moments table broadcasts back over the per-customer spend rows, and
    no window spelling sneaks in (which would hash everything into
    |segments| partitions)."""
    plan = plan_str(
        qfn("customer_spend_anomalies_zscore")(spark, sf_dir),
        mode="simple",
    )
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_customer_spend_zscore_reuses_fact_exchange(spark, sf_dir):
    """The spend subtree feeds both the moments aggregate and the probe
    side; the static plan duplicates it, and AQE's exchange reuse must
    dedupe the identical custkey shuffle at RUNTIME — the executed plan
    carries ReusedExchange, so the fact table pays its shuffle once.
    (Executed-plan check: reuse is an AQE-time decision, invisible in
    the pre-execution explain.)"""
    df = qfn("customer_spend_anomalies_zscore")(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final, final


def test_rolling_range_window_is_one_pass(spark, sf_dir):
    """The trailing-hour RANGE frame evaluates in one pass over each
    key's sorted run — one window shuffle plus the presentation sort,
    never a banded self-join (no Join operator at all)."""
    plan = plan_str(
        qfn("events_rolling_1h_stats")(spark, sf_dir),
        mode="simple",
    )
    assert "Join" not in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 2


def test_gap_fill_grid_is_generated_distributed(spark, sf_dir):
    """The resample grid comes from sequence()+explode per key (Generate
    under the per-key aggregate) — no cartesian against a calendar table,
    and the forward-fill join stays a hash join on (key, hour)."""
    plan = plan_str(
        qfn("events_hourly_ffill")(spark, sf_dir),
        mode="simple",
    )
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_domain_cap_caps_below_the_exchange(spark, sf_dir):
    """docs_domain_cap claims the per-domain rank cap is applied
    map-side: a partial WindowGroupLimit below the exchange means each
    map task forwards at most CAP rows per domain it sees, so the
    shuffle volume is bounded by domains x CAP, not the corpus."""
    plan = plan_str(qfn("docs_domain_cap")(spark, sf_dir), mode="simple")
    assert plan.count("WindowGroupLimit") == 2, plan


def test_strip_boilerplate_exchanges_never_carry_text(spark, sf_dir):
    """docs_strip_boilerplate claims surviving text never shuffles: only
    gram hashes (8-byte longs) and flagged start positions cross
    exchanges; the document text stays partition-local until the final
    per-row HOF rewrite. Gate: no Exchange's hashpartitioning key or
    carried schema includes the text column."""
    plan = plan_str(
        qfn("docs_strip_boilerplate")(spark, sf_dir), mode="formatted"
    )
    # formatted mode lists each Exchange with its input schema in the
    # node detail section; find Exchange blocks and assert 'text' is
    # absent from every REAL shuffle (spread()'s REPARTITION of the
    # tiny fixture input is the allowed exception, as in
    # test_repetition_profile_is_shuffle_free)
    blocks = []
    for para in plan.split("\n\n"):
        head = para.strip().splitlines()[0] if para.strip() else ""
        if head.startswith("(") and "Exchange" in head:
            blocks.append(para)
    real = [b for b in blocks if "REPARTITION" not in b]
    assert real, plan  # the gram groupBy shuffle must exist
    offenders = [b for b in real if "text#" in b]
    assert not offenders, offenders


def test_shipments_in_order_windows_bands_not_nested_loop(spark, sf_dir):
    """The banded interval join's plan promise at the query level: the
    point-in-interval join runs as an EQUI join on the band key (hash
    join; broadcast is fine — it is the small side, not a nested loop),
    never BroadcastNestedLoopJoin or CartesianProduct."""
    plan = plan_str(qfn("shipments_in_order_windows")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_copurchase_pairs_equi_join_and_bounded_topk(spark, sf_dir):
    """Market-basket pairs: the within-order pair explosion must be an
    EQUI self-join on the order key (the triangle cut rides the join
    condition, never a cartesian/nested-loop), and the top-20 must be
    the distributed TakeOrderedAndProject, not a global sort."""
    plan = plan_str(qfn("parts_copurchase_pairs")(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rfm_segments_no_global_ranking_window(spark, sf_dir):
    """RFM scoring must have NO Window operator at all: quartile scores
    come from a broadcast 1-row percentile aggregate + per-row
    comparisons — an ntile/rank spelling would funnel the whole
    customer dimension through one task."""
    plan = plan_str(qfn("customer_rfm_segments")(spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan  # 1-row joins broadcast fine


def test_copurchase_triangles_equi_joins_and_bounded_topk(spark, sf_dir):
    """Triangle listing must stay equi-join shaped end to end: the
    degree orientation, wedge self-join, and closing-edge probe are all
    hash joins (never cartesian/nested-loop — the classic naive
    triangle query degenerates into one), and the top-20 is the
    distributed TakeOrderedAndProject, not a global sort."""
    plan = plan_str(qfn("copurchase_triangles")(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    # the 3-rows-per-triangle explode is a Generate, not a Python UDF
    assert "Generate" in plan and "explode(array" in plan
    assert "BatchEvalPython" not in plan


def test_events_type_transitions_bounded_normalizer_window(spark, sf_dir):
    """The lead() window shuffles events once on user_id; the
    row-normalizing sum window must run on the bounded n_types² count
    table AFTER the aggregate — i.e. the plan's second Window sits
    above a HashAggregate, and nothing nested-loops."""
    df = qfn("events_type_transitions")(spark, sf_dir)
    plan = plan_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    simple = plan_str(df, mode="simple")
    # exactly two Window operators: per-user lead, per-from_type sum
    assert simple.count("Window") == 2
    # the normalizer window reads the aggregate's output, not events:
    # a HashAggregate appears between the two windows in the tree
    lead_pos = simple.rfind("Window")
    agg_pos = simple.rfind("HashAggregate", 0, lead_pos)
    norm_pos = simple.find("Window")
    assert norm_pos < agg_pos < lead_pos


def test_dau_wau_no_window_constant_explode(spark, sf_dir):
    """The sliding 7-day distinct must be the contribute-forward
    explode spelling: NO Window operator anywhere (a per-day RANGE
    rescan is the quadratic trap), the constant-factor sequence()
    explode as a Generate node, and plain shuffled aggregates."""
    df = qfn("events_dau_wau")(spark, sf_dir)
    plan = plan_str(df)
    assert "Window" not in plan
    # the constant sequence(0,6) folds to a literal array at planning —
    # what must remain is the Generate explode, not a Python path
    assert "Generate" in plan and "explode(" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_yoy_growth_window_on_bounded_aggregate(spark, sf_dir):
    """The lag() window must run on the years × priorities aggregate,
    not raw orders: exactly one Window, with a HashAggregate strictly
    below it in the tree."""
    df = qfn("orders_yoy_growth")(spark, sf_dir)
    simple = plan_str(df, mode="simple")
    assert simple.count("Window") == 1
    w_pos = simple.find("Window")
    assert "HashAggregate" in simple[w_pos:]
    assert "CartesianProduct" not in simple


def test_pareto_frontier_banded_no_quadratic_join(spark, sf_dir):
    """The skyline must run as the banded decomposition: a broadcast of
    the tiny band prefix-max table, per-band windows, and NEVER the
    quadratic self-join the oracle uses — no cartesian/BNLJ anywhere,
    and every non-broadcast exchange hashes on the band key."""
    df = qfn("parts_pareto_frontier")(spark, sf_dir)
    plan = plan_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" in plan  # the prev_max table broadcasts
    assert "Window" in plan  # in-band dominance windows


def test_pps_sample_single_scalar_broadcast(spark, sf_dir):
    """PPS sampling is one tiny total aggregate broadcast back over the
    scan: the gate and HT weight are projections — no Window, no
    row-at-a-time Python, no fact-side shuffle beyond the 1-row total's
    partial aggregation."""
    df = qfn("docs_pps_sample")(spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastExchange" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mad_anomalies_broadcasts_median_tables(spark, sf_dir):
    """Both bounded aggregates (segment median, segment MAD) must come
    back as broadcasts over the facts — the window spelling would hash
    every fact row into |segments| partitions."""
    df = qfn("customer_spend_anomalies_mad")(spark, sf_dir)
    plan = plan_str(df)
    assert plan.count("BroadcastExchange") >= 2
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_entities_no_cross_product(spark, sf_dir):
    """Entity resolution must keep the blocked shape end-to-end: the
    oracle's Levenshtein cross join may never leak into the Spark plan —
    candidate pairing stays an equi-join on deletion-variant hashes and
    components join on node ids."""
    df = qfn("suppliers_fuzzy_entities")(spark, sf_dir)
    plan = plan_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_equidepth_histogram_broadcast_boundaries_no_ntile(spark, sf_dir):
    """Equi-depth bucketing must come from the broadcast decile table —
    never a global ntile/rank window funneling the fact table through
    one task."""
    df = qfn("orders_price_histogram_equidepth")(spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastExchange" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_winsorized_broadcast_percentiles_no_window(spark, sf_dir):
    """The p01/p99 clip boundaries broadcast back over the scan; the
    stats stay one hash aggregation."""
    df = qfn("orders_price_winsorized")(spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastExchange" in plan
    assert "Window" not in plan


def test_woe_iv_pruned_scan_bounded_window_python_free(spark, sf_dir):
    """WOE/IV (r16): one data-sized exchange (the <= n_bins groupBy);
    the totals window runs over the K-row aggregate AFTER it —
    bounded by construction, the chi2-face stance — and the scan is
    ReadSchema-pruned to the two input columns (the fact table's other
    14 columns never read). Pure JVM arithmetic."""
    df = qfn("lineitem_quantity_return_woe")(spark, sf_dir)
    plan = plan_str(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",")
    ) == {"l_quantity", "l_returnflag"}


def test_kll_build_is_arrow_batched_and_quantile_window_is_sketch_sized(
    spark, sf_dir
):
    """The KLL face (r16, shelved rows-only): partials are Arrow-batched
    mapInPandas (never row-at-a-time BatchEvalPython), and the quantile
    query's window sorts only sketch rows — the orders scan is pruned
    to the single sketched column."""
    from realtime_data_pipeline_spark.queries import analytics

    df = analytics.orders_price_quantiles_kll(spark, sf_dir)
    plan = plan_str(df)
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1).split(":")[0] == "o_totalprice"


def test_budget_selection_no_global_row_window(spark, sf_dir):
    """budget_select's banded decomposition: the doc-carrying window must
    partition BY band (never a global ORDER BY window funneling the
    corpus through one task) — any SinglePartition exchange in the plan
    may only feed the <= n_bands+1-row band-totals aggregate, which
    shows as a HashAggregate directly beneath it."""
    df = qfn("docs_budget_selection")(spark, sf_dir)
    simple = plan_str(df, mode="simple")
    lines = simple.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            below = "\n".join(lines[i + 1 : i + 4])
            assert "HashAggregate" in below, simple
    # the per-doc window partitions by the band key
    assert "Window" in simple
    win_lines = [ln for ln in lines if "Window" in ln]
    assert any("__band" in ln for ln in win_lines), simple


def test_temperature_mixture_broadcast_rates_no_window(spark, sf_dir):
    """Temperature mixing is two tiny aggregates broadcast back over the
    scan — no window, no row-at-a-time Python, gate is a projection."""
    df = qfn("docs_temperature_mixture")(spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastExchange" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_pickled_local_relation_writes_in_package_source():
    """Source lint against the round-12 regression class: a
    ``createDataFrame([...tuples...])`` local relation is a pickled
    Python RDD, and WRITING it runs a Python worker stage costing ~5s
    per write on a warm local[32] session (the r11 ivf_index_rebuild
    2x regression was exactly one such 1-row write). Driver-side
    constants must lift through pandas/Arrow (`similarity._write_local`)
    or JVM-native range/lit. Allowed
    spellings: empty-frame schema stubs (no rows to pickle) and the BFS
    seed (one row, materialized once into a localCheckpoint, never
    re-evaluated per iteration)."""
    import os
    import re

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "realtime_data_pipeline_spark",
    )
    allowed = {
        ("graph.py", "createDataFrame([(source, 0)]"),
        ("pysource.py", "createDataFrame([], schema)"),
        ("versioned.py", "createDataFrame([], StructType.fromDDL(ddl))"),
    }
    offenders = []
    for root, _, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            for i, line in enumerate(open(path), 1):
                if re.search(r"createDataFrame\(\[", line):
                    if any(
                        fn == f and frag in line for f, frag in allowed
                    ):
                        continue
                    offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, (
        "tuple-list local relations in package source (lift through "
        "pandas/Arrow — see similarity._write_local):\n"
        + "\n".join(offenders)
    )


def test_residual_outliers_topk_and_broadcast_fit(spark, sf_dir):
    """The regression-residual face must broadcast the tiny per-group
    fit table back onto the scan (6 groups — never a fact-fact
    shuffle), take its top-15 as TakeOrderedAndProject (never a global
    sort), and stay Python-free."""
    df = qfn("lineitem_price_residual_outliers")(spark, sf_dir)
    plan = plan_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ridge_price_curve_python_free_scoring(spark, sf_dir):
    """The ridge λ=0 face scores the quantity grid with pure column
    arithmetic — the literal-coefficient projection core, no Python in
    the plan."""
    df = qfn("lineitem_ridge_price_curve")(spark, sf_dir)
    plan = plan_str(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_token_lang_chi2_pruned_scan_and_broadcast_classes(spark, sf_dir):
    """χ² feature selection reads only (text, lang) from documents
    (ReadSchema-pruned), broadcasts the K-row class counts, and ranks
    via TakeOrderedAndProject — never a global sort of the token
    table."""
    df = qfn("docs_token_lang_chi2")(spark, sf_dir)
    plan = plan_str(df)
    scans = [s for s in plan.splitlines() if "ReadSchema" in s]
    assert scans and all("n_chars" not in s for s in scans)
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_label_anova_f_bounded_aggs_python_free(spark, sf_dir):
    """The per-dim ANOVA F runs as two bounded grouped aggs over one
    posexplode scan — no Python, no window, no join of exploded rows."""
    df = qfn("embeddings_label_anova_f")(spark, sf_dir)
    plan = plan_str(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Generate" in plan  # the posexplode
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_prediction_bands_broadcast_fit_python_free(spark, sf_dir):
    """The bands face joins the 6-row fit table back by BROADCAST and
    stays Python-free; the only shuffles hash on the group keys."""
    df = qfn("lineitem_price_prediction_bands")(spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ols2_single_agg_no_join_python_free(spark, sf_dir):
    """The two-regressor OLS face is ONE grouped aggregation over the
    scan — no join, no window, no Python; the shuffle hashes on the
    group keys only."""
    df = qfn("lineitem_price_ols2")(spark, sf_dir)
    plan = plan_str(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for node in ("Join", "Window", "CartesianProduct"):
        assert node not in plan, node
    scans = [s for s in plan.splitlines() if "ReadSchema" in s]
    assert scans and all("l_shipdate" not in s for s in scans)


def test_partial_corr_single_agg_no_join_python_free(spark, sf_dir):
    """The partial-correlation face is one grouped aggregation of three
    Welford corr states — no join, no window, no Python."""
    df = qfn("lineitem_partial_corr")(spark, sf_dir)
    plan = plan_str(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    for node in ("Join", "Window", "CartesianProduct"):
        assert node not in plan, node


def test_drift_ks_window_over_distinct_values_python_free(spark, sf_dir):
    """The KS face's running-CDF window sorts DISTINCT (dim, value)
    rows (the groupBy collapses ties before the window), stays
    Python-free, and never crosses a cartesian."""
    df = qfn("embeddings_dim_drift_ks")(spark, sf_dir)
    plan = plan_str(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    # the aggregate that collapses ties must sit BELOW the window
    assert plan.index("Window") < plan.rindex("HashAggregate")


def test_gini_single_group_exchange_python_free(spark, sf_dir):
    """The Gini face's rank window and final agg share the nation key:
    after the per-customer pre-agg, ONE exchange brings each nation
    together and both the row_number and the grouped agg run on it —
    no second data-sized shuffle, dims broadcast, no Python."""
    df = qfn("customer_revenue_gini")(spark, sf_dir)
    plan = plan_str(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # customer + nation dims
    assert "CartesianProduct" not in plan
    scans = [s for s in plan.splitlines() if "ReadSchema" in s]
    assert scans and all("o_orderdate" not in s for s in scans)


def test_cramers_v_bounded_aggs_python_free(spark, sf_dir):
    """Cramér's V is grouped aggs of the observed contingency cells
    plus broadcast marginal joins — no Python, no cartesian blowup
    beyond the deliberate 1-row totals join."""
    df = qfn("events_type_hour_cramers_v")(spark, sf_dir)
    plan = plan_str(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan
    scans = [s for s in plan.splitlines() if "ReadSchema" in s]
    assert scans and all("props" not in s for s in scans)


def test_entropy_bounded_aggs_python_free(spark, sf_dir):
    """Per-source language entropy is two geometry-bounded aggs over a
    (text-free) pruned scan — no Python, no window, no cartesian."""
    df = qfn("docs_source_lang_entropy")(spark, sf_dir)
    plan = plan_str(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Window" not in plan and "CartesianProduct" not in plan
    scans = [s for s in plan.splitlines() if "ReadSchema" in s]
    assert scans and all("text" not in s.split("ReadSchema")[1] for s in scans)


def test_conformal_bands_broadcast_fit_python_free(spark, sf_dir):
    """The split-conformal sibling keeps the same plan shape as the
    audit-spelling face: tiny fit table broadcast back onto the
    held-out half, Python-free, no cartesian — the md5 split is a
    scan-side filter, never a shuffle key."""
    df = qfn("lineitem_price_conformal_bands")(spark, sf_dir)
    plan = plan_str(df)
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_label_mi_bounded_aggs_python_free(spark, sf_dir):
    """Binned MI runs as bounded grouped aggs + joins of
    geometry-sized marginal tables over one posexplode scan — no
    Python, no cartesian, no sort-merge join of exploded data."""
    df = qfn("embeddings_label_mi")(spark, sf_dir)
    plan = plan_str(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
