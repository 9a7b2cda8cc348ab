"""The table writer's own bookkeeping: the emptiness probe and the write
share one evaluation of the frame, and nothing the writer caches (the
probe's persist, a migration's localCheckpoint pin) outlives the call."""

import datetime as dt

from pyspark.sql import functions as F

from carbon_clickhouse_spark.operators import layout as layout_mod
from carbon_clickhouse_spark.operators.layout import append_table, table_layout

D = dt.date(2021, 7, 5)


def _cached_rdds(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_dateless_append_evaluates_frame_once(spark, tmp_path):
    # a date-less (legacy tree-shaped) table is never memoized, so every
    # append runs the head(1) probe: it must not evaluate the frame twice
    path = str(tmp_path / "tree")
    log = tmp_path / "evaluated.txt"
    before = _cached_rdds(spark)
    for batch in range(2):
        log.write_text("")

        # every row the frame's plan evaluates leaves one line (an
        # accumulator misses the rows a limit job stops early on)
        @F.udf("string")
        def counted(p):
            with open(log, "a") as f:
                f.write(p + "\n")
            return p

        df = (
            spark.createDataFrame(
                [(f"s{batch}.{i}", 2) for i in range(20)], "path string, level int"
            )
            .repartition(4)
            .withColumn("path", counted("path"))
        )
        append_table(df, path, ("path",))
        assert len(log.read_text().splitlines()) == 20
        assert not df.is_cached
    assert table_layout(spark, path) == "flat"
    assert spark.read.parquet(path).count() == 40
    assert _cached_rdds(spark) == before


def test_migration_pin_released_after_write(spark, tmp_path):
    path = str(tmp_path / "index")
    spark.createDataFrame(
        [(D, 2, "old.a"), (D, 2, "old.b")], "date date, level int, path string"
    ).write.parquet(path)
    with layout_mod._KNOWN_LOCK:
        layout_mod._KNOWN_PARTITIONED.clear()
        layout_mod._KNOWN_FLAT.clear()
    before = _cached_rdds(spark)
    new = spark.createDataFrame([(D, 2, "new.c")], "date date, level int, path string")
    append_table(new, path, ("path",))
    assert table_layout(spark, path) == "partitioned"
    assert {r.path for r in spark.read.parquet(path).collect()} == {
        "old.a",
        "old.b",
        "new.c",
    }
    assert _cached_rdds(spark) == before
