"""Source/sink round-trips and the row-id contract."""

from pyspark.sql import functions as F

from warp_pipes_spark.io import (
    load_table,
    read_csv,
    read_json,
    with_row_id,
    write_csv,
    write_json,
    write_parquet,
)

SF = "/root/testdata/sf0.001"


def test_parquet_round_trip(spark, tmp_path):
    src = load_table(spark, SF, "nation")
    path = str(tmp_path / "nation_pq")
    write_parquet(src, path)
    back = spark.read.parquet(path)
    assert back.exceptAll(src).isEmpty() and src.exceptAll(back).isEmpty()


def test_csv_round_trip(spark, tmp_path):
    src = load_table(spark, SF, "region")
    path = str(tmp_path / "region_csv")
    write_csv(src, path)
    back = read_csv(spark, path, schema="r_regionkey int, r_name string")
    assert back.exceptAll(src).isEmpty() and src.exceptAll(back).isEmpty()


def test_json_round_trip(spark, tmp_path):
    src = load_table(spark, SF, "nation")
    path = str(tmp_path / "nation_json")
    write_json(src, path)
    back = read_json(
        spark, path, schema="n_nationkey int, n_name string, n_regionkey int"
    ).select(*src.columns)
    assert back.exceptAll(src).isEmpty() and src.exceptAll(back).isEmpty()


def test_row_id_natural_key(spark):
    df = load_table(spark, SF, "customer", row_id=True)
    assert "row_id" in df.columns
    assert df.filter(F.col("row_id") != F.col("c_custkey")).count() == 0


def test_row_id_assigned_unique(spark):
    df = with_row_id(spark.range(1000).select(F.col("id").alias("x")))
    assert df.select("row_id").distinct().count() == 1000


def test_bucketed_join_has_no_shuffle(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    join without an Exchange (shuffle) on either side."""
    import io as _io
    from contextlib import redirect_stdout

    from warp_pipes_spark.io import write_bucketed

    orders = load_table(spark, SF, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, SF, "customer").select("c_custkey", "c_acctbal")
    write_bucketed(orders, "wps_orders_b", "o_custkey", n_buckets=8)
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"), "wps_cust_b",
        "o_custkey", n_buckets=8,
    )
    o = spark.table("wps_orders_b")
    c = spark.table("wps_cust_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = o.join(c, on="o_custkey")
        buf = _io.StringIO()
        with redirect_stdout(buf):
            joined.explain(mode="formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        # and it actually computes the right thing
        expected = orders.join(
            cust.withColumnRenamed("c_custkey", "o_custkey"), on="o_custkey"
        ).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS wps_orders_b")
        spark.sql("DROP TABLE IF EXISTS wps_cust_b")


def test_orc_round_trip(spark, tmp_path):
    from warp_pipes_spark.io import read_orc, write_orc

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    path = str(tmp_path / "orc")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_text_source_lines_and_whole(spark, tmp_path):
    from warp_pipes_spark.io import read_text

    p = tmp_path / "corpus"
    p.mkdir()
    (p / "shard0.txt").write_text("line one\nline two\n")
    lines = read_text(spark, str(p))
    assert lines.count() == 2 and lines.columns == ["value"]
    whole = read_text(spark, str(p), whole_text=True)
    assert whole.count() == 1
    assert "line one" in whole.collect()[0]["value"]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-style partitioned layout + a partition-key filter must show up
    as PartitionFilters on the scan (whole directories skipped), not as a
    row filter — the difference between reading 1/25th and all of 100 TB."""
    from warp_pipes_spark.io import load_table, write_parquet

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_by_lang")
    write_parquet(docs, path, partition_by=["lang"])
    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().sparkPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[-1].splitlines()[0]
    assert "lang" in pf, plan
    assert back.count() == docs.filter(F.col("lang") == "en").count()


def test_catalog_table_loader_pins_utc_on_every_call(spark, sf_dir):
    """``queries.T`` sets the session timezone to UTC on every call, so a
    timezone changed after an earlier call cannot desync the DuckDB
    timestamp comparisons."""
    from warp_pipes_spark.queries import T

    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    try:
        T(spark, sf_dir, "region")
        spark.conf.set(key, "America/Los_Angeles")
        T(spark, sf_dir, "region")
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, before)
