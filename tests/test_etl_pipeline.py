"""End-to-end ETL orchestration (SURVEY.md §5 item 4): simulator ->
bronze -> incremental silver -> gold snapshots, through the same
entry points the CLI exposes; re-running the incremental stage must be
a no-op (exactly-once)."""

from __future__ import annotations

import os
import tempfile

from big_data_for_smart_houses_spark.plans import (
    run_bronze_to_silver_incremental,
    run_silver_to_gold,
)
from big_data_for_smart_houses_spark.sources.parquet import write_partitioned

from pyspark.sql import functions as F


def _cached_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _rows_on_disk(path: str) -> int:
    """Row count of every parquet part file under ``path``, read from
    the footers, so no session cache can answer it."""
    import glob

    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(f"{path}/**/part-*.parquet", recursive=True)
    )


def test_end_to_end_etl(spark, telemetry_fixture, catalog_fixture):
    # the session is shared: other tests' caches and local checkpoints
    # may still be held, so assert that gold adds none
    held = _cached_rdds(spark)
    tmp = tempfile.mkdtemp()
    bronze_path = f"{tmp}/bronze"
    silver_path = f"{tmp}/silver"
    gold_root = f"{tmp}/gold"
    catalog_path = f"{tmp}/catalog.csv"
    catalog_fixture.toPandas().to_csv(catalog_path, index=False)

    def land(bronze):
        # stage bronze exactly as the streaming sink writes it, then
        # run the incremental silver stage over it
        write_partitioned(
            bronze.withColumn("event_date", F.to_date(F.col("timestamp"))),
            bronze_path,
            partition_col="event_date",
        )
        run_bronze_to_silver_incremental(
            spark, bronze_path, silver_path, f"{tmp}/ckpt", catalog_path
        )

    def gold_readings():
        gold = run_silver_to_gold(spark, silver_path, gold_root)
        assert set(gold) == {
            "daily_energy_consumption",
            "device_health_metrics",
            "daily_business_summary",
        }
        # the gold path caches nothing
        assert _cached_rdds(spark) <= held
        daily = spark.read.parquet(f"{gold_root}/daily_energy_consumption")
        return daily.agg(F.sum("total_readings")).first()[0]

    land(telemetry_fixture)
    silver = spark.read.parquet(silver_path)
    # fixture: 10 rows -> 1 dup dropped, 2 out-of-range dropped,
    # 1 null-critical dropped => 6 silver rows
    assert silver.count() == 6
    assert "temp_1h_avg" in silver.columns and "is_late_event" in silver.columns
    # catalog enrichment ran (intended P14 semantics)
    aged = silver.filter(F.col("device_age_days").isNotNull()).count()
    assert aged >= 5  # all cataloged devices; device_099 stays null

    # exactly-once: a second incremental run adds nothing
    run_bronze_to_silver_incremental(
        spark, bronze_path, silver_path, f"{tmp}/ckpt", catalog_path
    )
    assert spark.read.parquet(silver_path).count() == 6

    assert gold_readings() == _rows_on_disk(silver_path) == 6
    daily = spark.read.parquet(f"{gold_root}/daily_energy_consumption")
    health = spark.read.parquet(f"{gold_root}/device_health_metrics")
    summary = spark.read.parquet(f"{gold_root}/daily_business_summary")
    assert daily.count() > 0 and health.count() > 0 and summary.count() == 1
    s = summary.collect()[0]
    assert s.active_devices == 4  # 001, 002, 003, 099
    assert s.total_data_points == 6

    # a long-lived session (the scheduled hourly pipeline) reruns gold
    # after each incremental silver batch: the same readings a day
    # later land as batch_id=1, and gold must read the silver now on disk
    next_day = telemetry_fixture.withColumns(
        {
            c: F.regexp_replace(c, "^2025-07-20", "2025-07-21")
            for c in ("timestamp", "ingestion_time")
        }
    )
    land(next_day)
    assert sorted(os.listdir(silver_path)) == ["batch_id=0", "batch_id=1"]
    assert gold_readings() == _rows_on_disk(silver_path) == 12


def test_cli_parser_smoke():
    """The CLI must at minimum parse its documented subcommands."""
    import pytest

    from big_data_for_smart_houses_spark.cli import main

    with pytest.raises(SystemExit):
        main([])  # missing subcommand
    with pytest.raises(SystemExit):
        main(["silver"])  # missing required args
