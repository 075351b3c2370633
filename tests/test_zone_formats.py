"""Format-generic zone IO: every format Spark ships natively (parquet,
ORC, CSV, JSON) must round-trip through the medallion layer with schema
and values intact — the reference reads parquet and writes CSV micro-
batches (``scripts/simulate_stream.py:32``); the rebuild treats formats
as a zone property, not separate code paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_data_pipeline_spark import medallion


@pytest.fixture(scope="module")
def sample(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )


@pytest.mark.parametrize("fmt", ["parquet", "orc", "csv", "json"])
def test_zone_roundtrip(spark, sample, tmp_path, fmt):
    out = str(tmp_path / f"zone_{fmt}")
    medallion.write_zone(sample, out, fmt=fmt)
    back = medallion.read_zone(spark, out, fmt=fmt, schema=sample.schema)
    assert back.count() == sample.count()
    a = {tuple(r) for r in sample.collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_zone_csv_infers_without_schema(spark, sample, tmp_path):
    out = str(tmp_path / "zone_csv_infer")
    medallion.write_zone(sample, out, fmt="csv")
    back = medallion.read_zone(spark, out, fmt="csv")
    assert back.count() == sample.count()
    assert set(back.columns) == set(sample.columns)


def test_zone_partitioned_write(spark, sample, tmp_path):
    out = str(tmp_path / "zone_part")
    medallion.write_zone(sample, out, fmt="orc", partition_by="n_regionkey")
    import os
    assert any(d.startswith("n_regionkey=") for d in os.listdir(out))
    back = medallion.read_zone(spark, out, fmt="orc")
    assert back.count() == sample.count()


def test_zone_rejects_unknown_format(spark, sample, tmp_path):
    with pytest.raises(ValueError, match="fmt must be one of"):
        medallion.write_zone(sample, str(tmp_path / "x"), fmt="avro")


def test_zone_merge_schema_reads_evolved_columns(spark, sample, tmp_path):
    """A zone written over time accretes columns; merge_schema must
    surface the union of footer schemas (new column NULL for old files)
    where the default single-footer read may silently drop it."""
    import os

    out = str(tmp_path / "zone_evolved")
    record = os.path.join(out, medallion.ZONE_SCHEMA_FILE)
    medallion.write_zone(sample, out, fmt="parquet", mode="overwrite")
    assert os.path.isfile(record)
    # record_seen: whether the record still existed while the append's
    # data job ran
    seen = F.udf(lambda _: os.path.exists(record), "boolean")
    evolved = sample.withColumn("quality_score", F.lit(0.5)).withColumn(
        "record_seen", seen("n_nationkey")
    )
    medallion.write_zone(evolved, out, fmt="parquet", mode="append")
    # the append changed the schema: its record is gone, so a read
    # without merge_schema falls back to footer inference. It went
    # before the new files were written, so no reader (or crash) ever
    # pairs the new files with the old record
    assert not os.path.exists(record)

    back = medallion.read_zone(spark, out, merge_schema=True)
    assert "quality_score" in back.columns
    assert back.count() == 2 * sample.count()
    # old files carry NULL for the new column, new files the value
    assert back.filter(F.col("quality_score").isNull()).count() == sample.count()
    assert back.filter(F.col("record_seen")).count() == 0


def test_zone_merge_schema_rejects_schemaless_formats(spark, tmp_path):
    with pytest.raises(ValueError, match="parquet/orc"):
        medallion.read_zone(spark, str(tmp_path), fmt="csv", merge_schema=True)


def test_zone_tolerate_corrupt_skips_bad_file(spark, sample, tmp_path):
    """One torn write among millions of files must not lose the nightly
    job: tolerate_corrupt=True skips the unreadable file; the default
    read fails loudly (correctness jobs should notice corruption)."""
    out = str(tmp_path / "zone_corrupt")
    medallion.write_zone(sample, out, fmt="parquet", mode="overwrite")
    bad = tmp_path / "zone_corrupt" / "part-99999-torn-upload.snappy.parquet"
    bad.write_bytes(b"PAR1 this is not a parquet file")

    tolerant = medallion.read_zone(spark, out, tolerate_corrupt=True)
    assert tolerant.count() == sample.count()

    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        medallion.read_zone(spark, out).count()
