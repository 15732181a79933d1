"""Filesystem helpers: partition discovery from directory names."""

from __future__ import annotations

from flink_invoice_processor_spark.functions.fsops import list_partition_values


def test_list_partition_values_skips_non_integer_dirs(spark, tmp_path):
    store = tmp_path / "store"
    for name in ("batch=3", "batch=0", "batch=__HIVE_DEFAULT_PARTITION__",
                 "batch=0.tmp", "other=7"):
        (store / "bucket=1" / name).mkdir(parents=True)
    (store / "bucket=2" / "batch=3").mkdir(parents=True)

    assert list_partition_values(
        spark, f"{store}/bucket=*/batch=*", "batch"
    ) == [0, 3]
    assert list_partition_values(spark, f"{store}/bucket=*/*", "batch") == [0, 3]
