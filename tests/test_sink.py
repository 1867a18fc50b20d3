"""Output-sink seam (pdf_parser_spark.sink): the lineage machinery must
run unchanged against catalog tables (the Iceberg deployment shape, north
rule) — driven end-to-end here through Spark's session catalog, which
exercises the identical sink code path with a V1 dynamic-overwrite
emulation where the session catalog refuses V2 writes; the V2
(Iceberg) branch is pinned by a recorder double."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark import corpus, lineage, sink

N_DOCS = 60
N_BUCKETS = 4


@pytest.fixture(scope="module")
def docs_df(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus_sink") / "docs.parquet")
    corpus.write_corpus_parquet(path, N_DOCS)
    return spark.read.parquet(path)


@pytest.fixture
def catalog_mode(spark, monkeypatch, tmp_path):
    """Route the sink at the session catalog for one test; drop the
    run's tables afterwards (table names are root-hashed, so only this
    test's tables match)."""
    root = str(tmp_path / "job")
    monkeypatch.setenv("SPARK_GRAFT_ICEBERG_NS", "spark_catalog.default")
    yield root
    monkeypatch.setenv("SPARK_GRAFT_ICEBERG_NS", "spark_catalog.default")
    for name in ("doc_meta", "extracted_spans", "extracted", "doc_stats", "lineage"):
        spark.sql(f"DROP TABLE IF EXISTS {sink.table_ident(root, name)}")


def _rows(spark, root, name):
    return sorted(map(tuple, lineage.read_output(spark, root, name).collect()))


def test_lineage_runs_end_to_end_on_catalog_tables(
    spark, docs_df, tmp_path, catalog_mode, monkeypatch
):
    """Full run + noop resume + crash resume against CATALOG tables, and
    byte-equality of every output vs the parquet-path run of the same
    corpus — proof that switching backends is a config change, not an
    engine change."""
    cat_root = catalog_mode
    s1 = lineage.run_with_lineage(spark, docs_df, cat_root, "jc1", N_BUCKETS)
    assert s1["buckets_run"] == N_BUCKETS
    s2 = lineage.run_with_lineage(spark, docs_df, cat_root, "jc2", N_BUCKETS)
    assert s2["buckets_run"] == 0 and s2["buckets_skipped"] == N_BUCKETS
    cat_out = {
        name: _rows(spark, cat_root, name)
        for name in ("extracted_spans", "extracted", "doc_stats", "master_log")
    }
    assert len(cat_out["extracted_spans"]) > 0

    monkeypatch.delenv("SPARK_GRAFT_ICEBERG_NS", raising=False)
    pq_root = str(tmp_path / "pq")
    lineage.run_with_lineage(spark, docs_df, pq_root, "jp1", N_BUCKETS)
    for name, rows in cat_out.items():
        assert rows == _rows(spark, pq_root, name), f"{name} differs"


def test_v2_branch_uses_overwrite_partitions(spark, monkeypatch, tmp_path):
    """For a non-session catalog (real Iceberg), the sink must issue V2
    overwritePartitions / append — pinned with a recorder standing in
    for the catalog."""
    calls = []

    class _W:
        def __init__(self, ident):
            self.ident = ident

        def partitionedBy(self, col):
            return self

        def create(self):
            calls.append(("create", self.ident))

        def overwritePartitions(self):
            calls.append(("overwritePartitions", self.ident))

        def append(self):
            calls.append(("append", self.ident))

    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setenv("SPARK_GRAFT_ICEBERG_NS", "iceberg.prod")
    monkeypatch.setattr(DataFrame, "writeTo", lambda self, ident: _W(ident))
    monkeypatch.setattr(
        spark.catalog, "tableExists", lambda ident: "exists" in ident
    )
    df = spark.range(3).select(F.col("id"), F.lit(0).alias("bucket"))

    sink.write_partitioned(df, "/r", "exists_t", "bucket")
    sink.write_partitioned(df, "/r", "new_t", "bucket")
    sink.append(df, "/r", "exists_t")
    kinds = [k for k, _ in calls]
    assert kinds == ["overwritePartitions", "create", "append"]
    assert all(i.startswith("iceberg.prod.") for _, i in calls)


@pytest.fixture
def simple_catalog(spark, monkeypatch, tmp_path):
    """Catalog mode with cleanup for ad-hoc table names used by the
    schema/partition-spec probes."""
    root = str(tmp_path / "job")
    monkeypatch.setenv("SPARK_GRAFT_ICEBERG_NS", "spark_catalog.default")
    yield root
    for name in ("evo_t", "evo_t2", "evo_t3", "conf_t"):
        spark.sql(f"DROP TABLE IF EXISTS {sink.table_ident(root, name)}")


def test_session_catalog_insert_aligns_reordered_columns(spark, simple_catalog):
    """V1 insertInto matches positionally (partition columns last), so a
    caller whose select order drifts from the table's must be realigned
    by NAME before the write — values must land in the right columns
    (ADVICE r04: silent column-swap hazard)."""
    root = simple_catalog
    df = spark.createDataFrame(
        [("a", 10, 0), ("b", 20, 1)], "doc_id string, n long, bucket int"
    )
    sink.write_partitioned(df, root, "evo_t", "bucket")
    # same logical rows, reordered select (bucket first, metric before id)
    df2 = spark.createDataFrame(
        [(2, 30, "c")], "bucket int, n long, doc_id string"
    )
    sink.append(df2, root, "evo_t")
    got = {
        r["doc_id"]: (r["n"], r["bucket"])
        for r in sink.read(spark, root, "evo_t").collect()
    }
    assert got == {"a": (10, 0), "b": (20, 1), "c": (30, 2)}
    # dynamic overwrite with reordered columns must also land correctly
    df3 = spark.createDataFrame(
        [(0, 99, "a2")], "bucket int, n long, doc_id string"
    )
    sink.write_partitioned(df3, root, "evo_t", "bucket")
    got = {
        r["doc_id"]: (r["n"], r["bucket"])
        for r in sink.read(spark, root, "evo_t").collect()
    }
    assert got == {"a2": (99, 0), "b": (20, 1), "c": (30, 2)}


def test_session_catalog_insert_schema_mismatch_raises(spark, simple_catalog):
    """A renamed column (schema drift between job versions) must fail
    loudly, never write values under the wrong name positionally."""
    root = simple_catalog
    df = spark.createDataFrame([("a", 1, 0)], "doc_id string, n long, bucket int")
    sink.write_partitioned(df, root, "evo_t2", "bucket")
    renamed = spark.createDataFrame(
        [("b", 2, 1)], "doc_id string, n_rows long, bucket int"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        sink.append(renamed, root, "evo_t2")
    with pytest.raises(ValueError, match="schema mismatch"):
        sink.write_partitioned(renamed, root, "evo_t2", "bucket")


def test_session_catalog_overwrite_leaves_session_conf_untouched(
    spark, simple_catalog, monkeypatch
):
    """No session-global side effects in catalog mode either: the dynamic
    overwrite of an existing session-catalog table sets and unsets no conf
    on the caller's session, which stays STATIC throughout, and the bucket
    the second write does not carry survives it."""
    root = simple_catalog
    calls = []
    real_set, real_unset = spark.conf.set, spark.conf.unset

    def spy_set(key, value):
        calls.append(("set", key))
        return real_set(key, value)

    def spy_unset(key):
        calls.append(("unset", key))
        return real_unset(key)

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    try:
        monkeypatch.setattr(spark.conf, "set", spy_set)
        monkeypatch.setattr(spark.conf, "unset", spy_unset)
        for doc_id, bucket in (("a", 0), ("b", 1)):
            df = spark.createDataFrame([(doc_id, bucket)], "doc_id string, bucket int")
            sink.write_partitioned(df, root, "conf_t", "bucket")
        assert calls == []
        assert spark.conf.get(key) == "STATIC"
        rows = sink.read(spark, root, "conf_t").collect()
        assert sorted((r["doc_id"], r["bucket"]) for r in rows) == [("a", 0), ("b", 1)]
    finally:
        real_unset(key)


def test_partition_spec_evolution_is_detected(spark, simple_catalog):
    """Partition-spec evolution probe (r04 verdict task 6): if the target
    table's spec evolved (an added partition column the writer does not
    produce), the seam must detect the divergence and refuse — the
    weakest assumption of the V2 branch (stable partition spec) fails
    LOUDLY on the session catalog rather than silently writing into a
    stale spec. A writer that also evolved (supplies the new column)
    writes cleanly."""
    root = simple_catalog
    ident = sink.table_ident(root, "evo_t3")
    spark.sql(
        f"CREATE TABLE {ident} (doc_id string, n long) "
        "USING parquet PARTITIONED BY (bucket int, shard int)"
    )
    old_writer = spark.createDataFrame(
        [("a", 1, 0)], "doc_id string, n long, bucket int"
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        sink.write_partitioned(old_writer, root, "evo_t3", "bucket")
    evolved = spark.createDataFrame(
        [("a", 1, 0, 7)], "doc_id string, n long, bucket int, shard int"
    )
    sink.write_partitioned(evolved, root, "evo_t3", "bucket")
    rows = sink.read(spark, root, "evo_t3").collect()
    assert [(r["doc_id"], r["n"], r["bucket"], r["shard"]) for r in rows] == [
        ("a", 1, 0, 7)
    ]


def test_relative_root_keeps_legacy_abspath_tables(spark, monkeypatch, tmp_path):
    """Older code named a root's tables by md5(abspath(root)). Through a
    relative root whose normpath table is absent, the legacy table is
    still found, read and appended to, so a resume does not start empty
    tables and redo every bucket."""
    monkeypatch.setenv("SPARK_GRAFT_ICEBERG_NS", "spark_catalog.default")
    monkeypatch.chdir(tmp_path)
    root = "legacy_job"
    legacy = sink.table_ident(os.path.abspath(root), "lineage")
    assert legacy != sink.table_ident(root, "lineage")
    try:
        spark.createDataFrame([("j1", 3)], "job_id string, bucket int").writeTo(legacy).create()
        assert sink.exists(spark, root, "lineage")
        sink.append(spark.createDataFrame([("j2", 5)], "job_id string, bucket int"), root, "lineage")
        assert sorted(r["bucket"] for r in sink.read(spark, root, "lineage").collect()) == [3, 5]
        assert not spark.catalog.tableExists(sink.table_ident(root, "lineage"))
    finally:
        for ident in (legacy, sink.table_ident(root, "lineage")):
            spark.sql(f"DROP TABLE IF EXISTS {ident}")
