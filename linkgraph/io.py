"""Graph projection from SQL and result write-back.

Re-creates the two remaining GraphLoader/sink surfaces (SURVEY.md
§2.3/§2.5):

  * ``edges_from_sql`` — the reference's ``graph:'cypher'`` projection
    (pub:core/.../CypherGraphFactory lineage): the edge set is DEFINED
    by a user query instead of a fixed label/type scan. On Spark the
    query is ANSI SQL planned by Catalyst, so projection pushdown /
    partition pruning apply to whatever scans the query touches.
  * ``write_results`` — the write-mode sink (every reference
    ``*Proc`` write path reports writeMillis/nodes): writes a results
    DataFrame to a table path and returns the reference-shaped stats
    dict instead of mutating a store.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the session classpath
    (iceberg-spark-runtime jar). This sandbox ships without it, so the
    probe gates every ``format='iceberg'`` branch behind a clear error
    instead of an opaque ClassNotFoundException mid-plan."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, source: str, format: str = "auto") -> DataFrame:
    """Scan entry point for the BASELINE "Iceberg catalog" boundary.

    Accepted forms:

      * ``iceberg:catalog.db.table`` (or ``format='iceberg'``) — an
        Iceberg CATALOG TABLE read via the DataSource-V2 path
        (snapshot isolation, partition evolution, hidden-partition
        pruning all come from the Iceberg runtime). Requires the
        iceberg-spark-runtime jar + a configured catalog; when absent
        (this sandbox) raises RuntimeError with the wiring
        instructions instead of failing mid-plan.
      * a filesystem path (``format`` auto/parquet) — an
        Iceberg-LAYOUT parquet directory read through the native
        parquet source. This is the tested path here: all driver
        correctness/bench tables are parquet directories, and every
        engine operator consumes the DataFrame regardless of which
        scan produced it.
    """
    ident = source
    if format == "auto":
        format = "iceberg" if source.startswith("iceberg:") else "parquet"
    if format == "iceberg":
        ident = source.removeprefix("iceberg:")
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath: add the "
                "iceberg-spark-runtime jar and a spark.sql.catalog.<name> "
                "config to read Iceberg catalog tables; Iceberg-layout "
                f"parquet paths read natively (read_table(spark, {ident!r}, "
                "format='parquet'))"
            )
        return spark.read.table(ident)
    return spark.read.format(format).load(source)


def edges_from_sql(
    spark: SparkSession,
    sql: str,
    tables: dict[str, DataFrame] | None = None,
    weight_default: float = 1.0,
) -> DataFrame:
    """Edge table from a SQL projection (Cypher-projection analog).

    The query must produce ``src`` and ``dst`` columns (node ids) and
    may produce ``weight``; a missing weight column or NULL weights
    coalesce to ``weight_default`` (GraphLoader
    withRelationshipWeightsFromProperty default semantics).

    tables: optional {name: DataFrame} registered as temp views before
    the query runs — lets callers project edges out of DataFrames they
    built programmatically, not just catalog tables.
    """
    if tables:
        for name, df in tables.items():
            df.createOrReplaceTempView(name)
    e = spark.sql(sql)
    cols = set(e.columns)
    missing = {"src", "dst"} - cols
    if missing:
        raise ValueError(f"edge SQL must yield src and dst columns; missing {sorted(missing)}")
    w = (
        F.coalesce(F.col("weight").cast("double"), F.lit(float(weight_default)))
        if "weight" in cols
        else F.lit(float(weight_default))
    )
    return e.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        w.alias("weight"),
    )


def write_results(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    format: str = "parquet",
    partition_by: list[str] | None = None,
) -> dict:
    """Write a results DataFrame to ``path`` and return write stats.

    Returns {path, format, mode, rows, files, bytes, write_millis} —
    the engine analog of the reference's YIELD writeMillis/nodes row.
    ``rows`` is the number of rows THIS call wrote (under
    ``mode='append'`` not the rows already at ``path``), counted by an
    Observation on the written frame as the write job runs: no second
    job, no re-read of the files.

    ``format='iceberg'`` routes through the DataSource-V2 writer when
    the Iceberg runtime is present (probed), with a clear error here
    where it is not — the sink contract mirrors read_table's boundary.
    """
    if format == "iceberg" and not iceberg_available(df.sparkSession):
        raise RuntimeError(
            "Iceberg runtime not on the classpath; write_results supports "
            "format='iceberg' only with the iceberg-spark-runtime jar + a "
            "configured catalog (parquet is the tested sink here)"
        )
    t0 = time.time()
    spark = df.sparkSession
    if format != "iceberg":
        # counted as the write job runs (the Iceberg branch reads its
        # commit summary instead)
        written = Observation()
        df = df.observe(written, F.count(F.lit(1)).alias("rows"))
    writer = df.write.mode(mode).format(format)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if format == "iceberg":
        # path is a CATALOG TABLE identifier for Iceberg — the DSv2
        # writer goes through the table API, not a filesystem save
        writer.saveAsTable(path)
        write_millis = int((time.time() - t0) * 1000)
        try:
            # rows WRITTEN (not total table rows — they differ under
            # mode='append'): the committed snapshot's summary carries
            # added-records; metadata-only, no table scan
            snap = spark.sql(
                f"SELECT summary FROM {path}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1"
            ).first()
            rows = int(snap["summary"]["added-records"])
        except Exception:
            rows = spark.read.table(path).count()
        return {
            "path": path, "format": format, "mode": mode, "rows": rows,
            "files": None, "bytes": None, "write_millis": write_millis,
        }
    writer.save(path)
    write_millis = int((time.time() - t0) * 1000)

    rows = written.get["rows"]
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    summary = fs.getContentSummary(jvm_path)
    return {
        "path": path,
        "format": format,
        "mode": mode,
        "rows": rows,
        "files": int(summary.getFileCount()),
        "bytes": int(summary.getLength()),
        "write_millis": write_millis,
    }
