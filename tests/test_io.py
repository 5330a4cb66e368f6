"""edges_from_sql projection + write_results sink (SURVEY.md §2.3)."""

import pytest
from pyspark.sql import functions as F

from linkgraph import connected_components, edges_from_sql, write_results


def test_edges_from_sql_projection(spark):
    raw = spark.createDataFrame(
        [(1, 2, None), (2, 3, 5.0)], "a long, b long, w double"
    )
    e = edges_from_sql(
        spark,
        "SELECT a AS src, b AS dst, w AS weight FROM raw_edges",
        tables={"raw_edges": raw},
    )
    rows = {(r["src"], r["dst"], r["weight"]) for r in e.collect()}
    assert rows == {(1, 2, 1.0), (2, 3, 5.0)}  # NULL weight -> default
    res = connected_components(e)
    assert res.set_count == 1


def test_edges_from_sql_missing_columns(spark):
    spark.range(3).createOrReplaceTempView("not_edges")
    with pytest.raises(ValueError, match="src and dst"):
        edges_from_sql(spark, "SELECT id FROM not_edges")


def test_write_results_round_trip(spark, tmp_path):
    df = spark.range(100).select("id", (F.col("id") * 2.0).alias("score"))
    stats = write_results(df, str(tmp_path / "scores"))
    assert stats["rows"] == 100
    assert stats["files"] >= 1 and stats["bytes"] > 0
    assert stats["write_millis"] >= 0
    back = spark.read.parquet(str(tmp_path / "scores"))
    assert back.count() == 100
    assert {r["score"] for r in back.collect()} == {float(i * 2) for i in range(100)}


def test_write_results_rows_are_rows_written(spark, tmp_path):
    """``rows`` counts what THIS call wrote: appending the same frame
    twice reports len(frame) both times, while the path holds both."""
    df = spark.range(37).select("id", (F.col("id") + 0.5).alias("score"))
    path = str(tmp_path / "appended")
    first = write_results(df, path, mode="append")
    second = write_results(df, path, mode="append")
    assert first["rows"] == 37
    assert second["rows"] == 37
    assert spark.read.parquet(path).count() == 74


def test_read_table_parquet_and_iceberg_boundary(spark):
    """read_table reads Iceberg-layout parquet paths natively; the
    iceberg: catalog form is gated behind a runtime probe with a clear
    wiring error in environments (like this one) without the jar."""
    import pytest

    from linkgraph.io import iceberg_available, read_table, write_results

    df = read_table(spark, "/root/testdata/sf0.01/nation.parquet")
    assert df.count() == 25

    assert iceberg_available(spark) is False  # sandbox has no Iceberg jar
    with pytest.raises(RuntimeError, match="[Ii]ceberg runtime"):
        read_table(spark, "iceberg:main.db.nodes")
    with pytest.raises(RuntimeError, match="[Ii]ceberg runtime"):
        write_results(df, "/tmp/_ice_out", format="iceberg")


def test_iceberg_catalog_end_to_end(spark, tmp_path):
    """End-to-end Iceberg DSv2 contract — ACTIVATES the moment the
    iceberg-spark-runtime jar is on the classpath (skipped in this
    sandbox, which ships without it): a hadoop catalog is configured at
    runtime, a table is created and populated through SQL, read back
    through read_table's ``iceberg:`` form, and written through
    write_results(format='iceberg'). Freezes the boundary contract so
    a jar upgrade can't silently change it."""
    import pytest
    from linkgraph.io import iceberg_available, read_table, write_results

    if not iceberg_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on the classpath")

    warehouse = str(tmp_path / "ice_warehouse")
    spark.conf.set(
        "spark.sql.catalog.lg_test", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.lg_test.type", "hadoop")
    spark.conf.set("spark.sql.catalog.lg_test.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS lg_test.db")
    spark.sql(
        "CREATE TABLE lg_test.db.edges (src BIGINT, dst BIGINT, weight DOUBLE) "
        "USING iceberg"
    )
    spark.sql(
        "INSERT INTO lg_test.db.edges VALUES (1, 2, 1.0), (2, 3, 2.0), (3, 1, 0.5)"
    )
    # catalog read through the engine's scan entry point
    got = read_table(spark, "iceberg:lg_test.db.edges")
    assert got.count() == 3
    assert {c for c in got.columns} == {"src", "dst", "weight"}
    # sink contract: write-back through the DSv2 writer. The table is
    # pre-seeded so the stats must report rows WRITTEN (snapshot
    # added-records), not the post-write table total.
    spark.sql(
        "CREATE TABLE lg_test.db.scores (id BIGINT, score DOUBLE) USING iceberg"
    )
    spark.sql("INSERT INTO lg_test.db.scores VALUES (99, 0.0)")
    res = got.selectExpr("src AS id", "weight AS score")
    stats = write_results(res, "lg_test.db.scores", format="iceberg", mode="append")
    assert stats["rows"] == 3
    back = read_table(spark, "iceberg:lg_test.db.scores")
    assert back.count() == 4


# ------------------------------------------------- named-graph catalog

def test_graph_catalog_contract(spark):
    import pytest as _pt

    from linkgraph import GraphCatalog, pagerank

    cat = GraphCatalog()
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)], "src long, dst long, weight double"
    )
    info = cat.load("tri", e)
    assert info == {"name": "tri", "nodes": 3, "relationships": 3}
    # loaded twice without replace -> error; with replace -> ok
    with _pt.raises(ValueError, match="already loaded"):
        cat.load("tri", e)
    assert cat.load("tri", e, replace=True)["relationships"] == 3
    # a procedure runs against the catalog frame
    from linkgraph.checkpoint import release_caches

    res = pagerank(cat.get("tri"), max_iter=3)
    assert res.scores.count() == 3
    release_caches(res.scores)
    # list/info/remove
    cat.load("other", e.limit(1))
    assert [g["name"] for g in cat.list()] == ["other", "tri"]
    assert cat.info("other")["relationships"] == 1
    assert cat.remove("other") is True
    assert cat.remove("other") is False
    with _pt.raises(KeyError):
        cat.get("other")
    assert cat.get("tri").storageLevel.useMemory  # still persisted
    assert cat.remove("tri")
    with _pt.raises(ValueError, match="non-empty"):
        cat.load("", e)


def test_graph_catalog_shared_plan_remove(spark):
    from linkgraph import GraphCatalog

    cat = GraphCatalog()
    e = spark.createDataFrame([(1, 2, 1.0)], "src long, dst long, weight double")
    cat.load("a", e)
    cat.load("b", e)
    assert cat.remove("a") is True
    # the surviving alias keeps its cache (plan-shared unpersist skipped)
    assert cat.get("b").storageLevel.useMemory
    assert cat.remove("b") is True
