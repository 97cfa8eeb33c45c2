"""TableIO contract: the parquet seam must honor the same write semantics
the Iceberg branch documents (append accumulates snapshots, partition
overwrite is surgical), and the backend choice is explicit — the
`iceberg:` prefix, never inferred from path shape."""

import pytest
from pyspark.sql import Row

from weblog_pipeline.tableio import TableIO, _iceberg_available


def _df(spark, rows):
    return spark.createDataFrame([Row(k=i, sink=s) for i, s in rows])


def test_append_accumulates_like_iceberg_append(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    io.append(_df(spark, [(1, "a"), (2, "b")]), "t")
    io.append(_df(spark, [(3, "a")]), "t")
    got = sorted(r["k"] for r in io.read("t").collect())
    assert got == [1, 2, 3]


def test_exists(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    assert not io.exists("t")
    io.append(_df(spark, [(1, "a")]), "t")
    assert io.exists("t")


def test_backend_is_explicit_not_inferred(spark):
    # a relative location, dotted or bare, stays parquet unless the caller
    # opts in with the iceberg: prefix
    for location in ("some/relative/dir", "warehouse.ns", "pages"):
        io = TableIO(spark, location)
        assert not io.use_iceberg and io.target("t") == f"{location}/t"


def test_iceberg_request_fails_loudly_without_runtime(spark):
    if _iceberg_available(spark):
        pytest.skip("Iceberg runtime present; the loud-failure branch is moot")
    with pytest.raises(ValueError, match="iceberg backend requested"):
        TableIO(spark, "iceberg:warehouse.ns")


def test_iceberg_prefix_strips_scheme(spark):
    if _iceberg_available(spark):
        io = TableIO(spark, "iceberg:warehouse.ns")
        assert io.use_iceberg and io.location == "warehouse.ns"


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Co-located join: both sides bucketed by the join key into the same
    bucket count -> the SortMergeJoin runs with NO Exchange on either side
    (the 100 TB reason to bucket fact tables)."""
    from pyspark.sql import functions as F

    from weblog_pipeline.tableio import write_bucketed

    df_a = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("va")
    )
    df_b = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 11).alias("vb")
    )
    try:
        write_bucketed(df_a, "bkt_a", str(tmp_path / "a"), 4, "doc_id", "doc_id")
        write_bucketed(df_b, "bkt_b", str(tmp_path / "b"), 4, "doc_id", "doc_id")
        # merge hint: small test tables would otherwise broadcast, hiding
        # the bucketing effect (at real fact-table sizes SMJ is the default)
        joined = spark.table("bkt_a").hint("merge").join(
            spark.table("bkt_b"), "doc_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == 1000
        # a plain (unbucketed) side needs its shuffle back
        plan2 = (
            spark.table("bkt_a").hint("merge").join(df_b, "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange hashpartitioning" in plan2
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_compact_reduces_file_count_preserving_rows(spark, tmp_path):
    from weblog_pipeline.tableio import compact

    path = str(tmp_path / "many")
    spark.range(10_000).selectExpr("id", "id * 2 AS v").repartition(64).write.parquet(path)
    import glob

    assert len(glob.glob(path + "/*.parquet")) >= 32
    n_files = compact(spark, path, target_file_bytes=10**9)
    assert n_files == 1
    assert len(glob.glob(path + "/*.parquet")) == 1
    back = spark.read.parquet(path)
    assert back.count() == 10_000
    assert back.selectExpr("sum(v)").collect()[0][0] == 9999 * 10_000
    assert not glob.glob(path + "._compact_*")  # tmp dirs cleaned up


def test_overwrite_partitions_is_surgical(spark, tmp_path):
    from weblog_pipeline.tableio import TableIO

    mode = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(mode)
    io = TableIO(spark, str(tmp_path))
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, sink string")
    io.overwrite_partitions(d1, "t", ["sink"])
    # backfill ONLY sink=a with new content; sink=b must survive
    d2 = spark.createDataFrame([(9, "a")], "id int, sink string")
    io.overwrite_partitions(d2, "t", ["sink"])
    rows = {(r["id"], r["sink"]) for r in io.read("t").collect()}
    assert rows == {(9, "a"), (2, "b")}
    # and the session conf is untouched
    assert spark.conf.get(mode) == before


def test_compact_self_heals_after_crash_between_renames(spark, tmp_path):
    import os
    import shutil

    from weblog_pipeline.tableio import compact

    path = str(tmp_path / "t")
    spark.range(100).repartition(8).write.parquet(path)
    # simulate a crash after rename(path, old) but before rename(tmp, path)
    os.rename(path, path + "._compact_old")
    n = compact(spark, path, target_file_bytes=10**9)
    assert n == 1
    back = spark.read.parquet(path)
    assert back.count() == 100
    assert not os.path.exists(path + "._compact_old")
