"""diagnostics.task_shuffle_skew on the shared test session (UI off):
per-task shuffle-read records come from the driver's status store."""

from __future__ import annotations

from pyspark.sql import functions as F

from beis_orp_data_service_spark.diagnostics import task_shuffle_skew


def test_task_shuffle_skew_reads_the_status_store_with_ui_off(spark):
    assert spark.sparkContext.uiWebUrl is None
    # 4 map tasks of 250 contiguous ids each hold all 10 residues, so
    # the partial aggregate ships 4 x 10 records to the reducers
    counts = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 10).alias("k")).count()
    got = task_shuffle_skew(spark, counts.collect)
    assert got["total_records"] == 40
    assert got["n_shuffle_tasks"] >= 1
    assert got["max_records"] >= got["median_records"] > 0
