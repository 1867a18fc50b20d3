"""Output-sink seam: catalog tables (Iceberg-shaped V2 `writeTo`) or
bucket-partitioned parquet paths behind one interface.

The north rule targets a partitioned **Iceberg** output table; this
sandbox has no Iceberg jars, so every write/read in the lineage layer
routes through this module and picks its backend per run:

* ``SPARK_GRAFT_ICEBERG_NS`` unset (default) — the parquet layout
  BENCH/COVERAGE document (`<root>/<name>/bucket=<b>/...`), dynamic
  partition overwrite.
* ``SPARK_GRAFT_ICEBERG_NS="catalog.namespace"`` — DataFrameWriterV2:
  ``df.writeTo(ns + "." + table).overwritePartitions()`` / ``.append()``
  and ``spark.table(...)`` reads. With
  ``SPARK_GRAFT_ICEBERG_NS=spark_catalog.default`` this runs end-to-end
  against Spark's session catalog TODAY (test_sink.py drives the whole
  lineage machinery through it) — on a cluster with an Iceberg catalog
  configured, the SAME code path lands on Iceberg tables; no engine
  code changes, only the catalog name.

Each output ``root`` (a filesystem path in parquet mode, a logical job
root in catalog mode) maps to its own table set: table name =
``<name>_<md5(root)[:8]>``, so concurrent jobs/tests with different
roots never collide in one namespace.
"""

from __future__ import annotations

import hashlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def catalog_ns() -> str | None:
    return os.environ.get("SPARK_GRAFT_ICEBERG_NS") or None


def table_ident(root: str, name: str) -> str:
    # In catalog mode ``root`` is a LOGICAL job root: hash a pure-string
    # normalization (normpath never consults the CWD), so a resume started
    # from a different working directory maps to the same tables. abspath
    # here would silently fork table identity per CWD (ADVICE r04).
    tag = hashlib.md5(os.path.normpath(root).encode()).hexdigest()[:8]
    return f"{catalog_ns()}.{name}_{tag}"


def _resolve(spark: SparkSession, root: str, name: str) -> str:
    """The table a catalog-mode operation on ``root`` uses. Older code
    hashed abspath(root): when the normpath table is absent and that
    legacy table exists, keep using it, so a resume from a relative root
    finds its completed buckets instead of starting empty tables."""
    ident = table_ident(root, name)
    legacy = table_ident(os.path.abspath(root), name)  # abspath is normalized
    exists = spark.catalog.tableExists
    if legacy != ident and not exists(ident) and exists(legacy):
        return legacy
    return ident


def _path(root: str, name: str) -> str:
    return os.path.join(root, name)


def exists(spark: SparkSession, root: str, name: str) -> bool:
    ns = catalog_ns()
    if ns:
        return spark.catalog.tableExists(_resolve(spark, root, name))
    return os.path.exists(_path(root, name))


def read(spark: SparkSession, root: str, name: str, schema: str | None = None) -> DataFrame:
    ns = catalog_ns()
    if ns:
        return spark.table(_resolve(spark, root, name))
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(_path(root, name))


def write_partitioned(df: DataFrame, root: str, name: str, partition_col: str) -> None:
    """Dynamic partition overwrite: only the partitions present in ``df``
    are replaced (the exactly-once bucket-rewrite contract). V2
    ``overwritePartitions`` IS dynamic by definition; the parquet path
    sets partitionOverwriteMode=dynamic on the write itself and the
    session-catalog path in a separate session, leaving the caller's
    session conf untouched. Rows are clustered by ``partition_col``
    first, so each partition value is written by one task into one file
    (a deployment sizes its buckets to the file size it wants)."""
    df = df.repartition(partition_col)
    ns = catalog_ns()
    if ns:
        spark = df.sparkSession
        ident = _resolve(spark, root, name)
        if not spark.catalog.tableExists(ident):
            from pyspark.sql import functions as F

            df.writeTo(ident).partitionedBy(F.col(partition_col)).create()
        elif _is_session_catalog(ident):
            _insert_overwrite_dynamic(_aligned_to_table(df, ident), ident)
        else:
            # Iceberg (or any V2) catalog: dynamic by definition.
            df.writeTo(ident).overwritePartitions()
        return
    (
        df.write.option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .mode("overwrite")
        .parquet(_path(root, name))
    )


def _is_session_catalog(ident: str) -> bool:
    return ident.startswith("spark_catalog.")


def _insert_overwrite_dynamic(df: DataFrame, ident: str) -> None:
    """The session catalog exposes V1 tables, which V2
    ``overwritePartitions`` refuses; emulate its dynamic semantics with
    INSERT OVERWRITE under partitionOverwriteMode=dynamic, so the test
    suite can drive this whole code path without Iceberg jars. The mode is
    set only in a new session over the same context (its conf starts from
    the context's, not this session's runtime settings), which reads the
    frame through a uniquely named global temp view: the caller's session
    conf never changes, so no concurrent query on it sees dynamic mode."""
    spark = df.sparkSession
    view = f"sink_{uuid.uuid4().hex}"
    db = spark.conf.get("spark.sql.globalTempDatabase")
    df.createGlobalTempView(view)
    try:
        writer = spark.newSession()
        writer.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # No PARTITION clause: every partition column of the table is
        # dynamic, as with insertInto, so an evolved spec still resolves.
        writer.sql(f"INSERT OVERWRITE TABLE {ident} SELECT * FROM {db}.{view}")
    finally:
        spark.catalog.dropGlobalTempView(view)
    # Each session caches the table's file listing; drop this session's.
    spark.catalog.refreshTable(ident)


def _aligned_to_table(df: DataFrame, ident: str) -> DataFrame:
    """V1 ``insertInto`` matches columns POSITIONALLY (partition columns
    stored last), so a caller whose select order drifts from the table's
    would silently write values into the wrong columns. Reorder to the
    target schema and fail loudly on any name mismatch (ADVICE r04)."""
    target = df.sparkSession.table(ident).columns
    if sorted(target) != sorted(df.columns):
        raise ValueError(
            f"schema mismatch writing {ident}: table has {target}, "
            f"dataframe has {df.columns}"
        )
    return df.select(*target)


def append(df: DataFrame, root: str, name: str) -> None:
    ns = catalog_ns()
    if ns:
        ident = _resolve(df.sparkSession, root, name)
        if not df.sparkSession.catalog.tableExists(ident):
            df.writeTo(ident).create()
        elif _is_session_catalog(ident):
            _aligned_to_table(df, ident).write.insertInto(ident, overwrite=False)
        else:
            df.writeTo(ident).append()
        return
    df.write.mode("append").parquet(_path(root, name))
