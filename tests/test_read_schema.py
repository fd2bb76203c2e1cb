"""Source reads without a schema-inference job: ``pit_join._read_table``
remembers the schema Spark inferred for a local parquet path while the
path's files are unchanged, and ``ParquetWarehouse`` keeps its table's
columns next to the data so an insert's autoExpand opens no footer."""

from __future__ import annotations

import os

from zipline_chronon_spark.catalog import ParquetWarehouse
from zipline_chronon_spark.operators.pit_join import _read_table


def test_second_read_of_unchanged_dir_starts_no_job(spark, tmp_path, count_jobs):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(path)
    first, _ = count_jobs(lambda: _read_table(spark, path))
    second, jobs = count_jobs(lambda: _read_table(spark, path))
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_with_extra_column_is_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1).write.parquet(path)
    assert _read_table(spark, path).columns == ["id", "v"]
    (spark.createDataFrame([(2, "b", 0.5)], "id long, v string, extra double")
     .coalesce(1).write.mode("overwrite").parquet(path))
    df = _read_table(spark, path)
    assert df.columns == ["id", "v", "extra"]
    assert [tuple(r) for r in df.collect()] == [(2, "b", 0.5)]


def test_second_insert_starts_only_its_write_jobs(spark, tmp_path, count_jobs):
    wh = ParquetWarehouse(spark)
    rows = [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")]
    df = spark.createDataFrame(rows, "id long, v string, ds string")
    _, fresh = count_jobs(lambda: wh.insert_partitions(df, str(tmp_path / "fresh")))
    t = str(tmp_path / "t")
    wh.insert_partitions(df, t)
    _, again = count_jobs(lambda: wh.insert_partitions(df, t))
    assert again == fresh
    assert os.path.exists(os.path.join(t, "_schema.json"))
